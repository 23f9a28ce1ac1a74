"""Winnowing fingerprints (operators/winnow.py) + Gopher quality rules.

Pins the paper's guarantee (any shared span >= k + w - 1 words produces a
shared fingerprint), the density bound direction, the budget/df-cap guards,
and the Gopher rule arithmetic on hand-computable documents.
"""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from finiextestingide_spark.operators import winnow as wn
from finiextestingide_spark.operators import text as tx

K, W = 3, 4
GUARANTEE = K + W - 1  # = 6 words


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shared_span_guarantees_shared_fingerprint(spark):
    # Docs share an 8-word span (> guarantee) embedded in different contexts.
    span = "alpha beta gamma delta epsilon zeta eta theta"
    docs = _docs(
        spark,
        [
            (1, f"one two three {span} four five six seven eight nine"),
            (2, f"red green blue {span} yellow purple orange pink brown"),
        ],
    )
    fps = wn.winnow_fingerprints(docs, K, W).collect()
    a = {r.fp for r in fps if r.doc_id == 1}
    b = {r.fp for r in fps if r.doc_id == 2}
    assert a & b, "shared span >= k+w-1 words must share a fingerprint"


def test_disjoint_docs_share_nothing(spark):
    docs = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "one two three four five six seven eight nine ten"),
        ],
    )
    fps = wn.winnow_fingerprints(docs, K, W).collect()
    a = {r.fp for r in fps if r.doc_id == 1}
    b = {r.fp for r in fps if r.doc_id == 2}
    assert a and b and not (a & b)


def test_short_doc_yields_no_fingerprints(spark):
    # k + w - 1 words is the minimum; one fewer -> no full window of grams.
    docs = _docs(spark, [(1, "a b c d e"), (2, "a b c d e f")])
    out = {r.doc_id for r in wn.winnow_fingerprints(docs, K, W).collect()}
    assert out == {2}


def test_fingerprints_subset_of_gram_hashes_and_dense_enough(spark):
    text = " ".join(f"w{i % 7}x{i % 3}" for i in range(40))
    docs = _docs(spark, [(1, text)])
    fps = {r.fp for r in wn.winnow_fingerprints(docs, K, W).collect()}
    import hashlib

    words = text.split(" ")
    grams = [
        " ".join(words[i : i + K]) for i in range(len(words) - K + 1)
    ]
    hashes = [hashlib.md5(g.encode()).hexdigest() for g in grams]
    # reference winnow: distinct set of per-window minima
    expect = {
        min(hashes[t : t + W]) for t in range(len(hashes) - W + 1)
    }
    assert fps == expect


def test_pairs_containment_and_budget(spark):
    span = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = _docs(
        spark,
        [
            (1, span),  # wholly contained in 2
            (2, f"one two three {span} four five six seven"),
            (3, "red green blue cyan magenta white black grey pink tan"),
        ],
    )
    fps = wn.winnow_fingerprints(docs, K, W)
    pairs = wn.winnow_candidate_pairs(fps, 1).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
    (p,) = pairs
    # doc 1's fingerprints all come from the shared span -> containment 1.0
    assert p.containment == pytest.approx(1.0)
    # planning-time pairs budget fails loud before the join
    with pytest.raises(ValueError, match="max_pairs"):
        wn.winnow_candidate_pairs(fps, 1, max_pairs=0)


def test_pairs_df_cap_drops_boilerplate(spark):
    # A span shared by ALL docs is boilerplate; df cap removes its
    # fingerprints from the whole computation, so no pairs remain.
    span = "alpha beta gamma delta epsilon zeta eta theta"
    docs = _docs(
        spark,
        [(i, f"u{i} v{i} w{i} {span} x{i} y{i} z{i}") for i in range(1, 5)],
    )
    fps = wn.winnow_fingerprints(docs, K, W)
    uncapped = wn.winnow_candidate_pairs(fps, 1).count()
    assert uncapped > 0
    # cap=1 drops every fingerprint shared by >= 2 docs -> no pairs at all
    assert wn.winnow_candidate_pairs(fps, 1, max_doc_freq=1).count() == 0
    # intermediate caps are monotone: dropping hot fingerprints never adds pairs
    assert wn.winnow_candidate_pairs(fps, 1, max_doc_freq=3).count() <= uncapped


def test_gopher_quality_rules(spark):
    good = " ".join(
        ["the quick brown fox jumps over lazy dogs with vigor and style"] * 5
    )  # 60 words, mean len ~4, has 'the'/'and'/'with'
    short = "the and with tiny"  # < 50 words
    digits = " ".join(str(i) for i in range(60)) + " the and"  # alpha frac low
    docs = _docs(spark, [(1, good), (2, short), (3, digits)])
    g = tx.gopher_quality_flags(F.col("text"))
    rows = {
        r.doc_id: r
        for r in docs.select(
            "doc_id",
            g["n_words"].alias("n_words"),
            g["mean_word_len"].alias("mwl"),
            g["alpha_word_frac"].alias("alpha"),
            g["stop_hits"].alias("stop_hits"),
            g["keep"].alias("keep"),
        ).collect()
    }
    assert rows[1].keep and rows[1].n_words == 60 and rows[1].stop_hits >= 2
    assert not rows[2].keep  # word count rule
    assert not rows[3].keep and rows[3].alpha < 0.8  # alpha-word rule
    # mean word length arithmetic: 60 words, known char count
    text_len = len(" ".join(["the quick brown fox jumps over lazy dogs with vigor and style"] * 5))
    assert rows[1].mwl == pytest.approx((text_len - 59) / 60)


def test_gopher_line_rules(spark):
    bullets = "\n".join(["- item one two three"] * 10)
    dots = "\n".join(["trailing words here..."] * 10)
    docs = _docs(spark, [(1, bullets), (2, dots)])
    g = tx.gopher_quality_flags(F.col("text"))
    rows = {
        r.doc_id: r
        for r in docs.select(
            "doc_id",
            g["bullet_line_frac"].alias("bullet"),
            g["ellipsis_line_frac"].alias("ellipsis"),
        ).collect()
    }
    assert rows[1].bullet == pytest.approx(1.0)
    assert rows[2].ellipsis == pytest.approx(1.0)


def test_containment_dedup_drops_contained_doc(spark):
    span = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = _docs(
        spark,
        [
            (1, span),  # wholly contained in 2
            (2, f"one two three {span} four five six seven eight nine"),
            (3, "red green blue cyan magenta white black grey pink tan"),
        ],
    )
    fps = wn.winnow_fingerprints(docs, K, W)
    pairs = wn.winnow_candidate_pairs(fps, 1)
    out = {r.doc_id: r for r in wn.containment_dedup(fps, pairs, 0.8).collect()}
    assert out[1].is_dropped and out[1].dropped_into == 2
    assert not out[2].is_dropped and out[2].dropped_into is None
    assert not out[3].is_dropped
    assert out[1].n_fps > 0 and out[2].n_fps >= out[1].n_fps


def test_containment_dedup_chain_keeps_maximal(spark):
    # 1 ⊂ 2 ⊂ 3: greedy drops 1 and 2, keeps the maximal 3 (coverage held)
    s1 = "alpha beta gamma delta epsilon zeta eta theta"
    s2 = f"pre1 pre2 pre3 {s1} mid1 mid2 mid3"
    s3 = f"top1 top2 top3 {s2} end1 end2 end3"
    docs = _docs(spark, [(1, s1), (2, s2), (3, s3)])
    fps = wn.winnow_fingerprints(docs, K, W)
    pairs = wn.winnow_candidate_pairs(fps, 1)
    out = {r.doc_id: r for r in wn.containment_dedup(fps, pairs, 0.8).collect()}
    assert out[1].is_dropped and out[2].is_dropped and not out[3].is_dropped
    assert out[2].dropped_into == 3


def test_containment_dedup_string_doc_ids(spark):
    # winnow_fingerprints supports string doc ids; the keep-policy's
    # biggest-target tiebreak must too (r12: the old max_by negated the id
    # to break ties, which raises AnalysisException on strings).
    span = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            ("doc-a", span),
            ("doc-b", f"one two three {span} four five six seven eight nine"),
            ("doc-c", "red green blue cyan magenta white black grey pink tan"),
        ],
        "doc_id string, text string",
    )
    fps = wn.winnow_fingerprints(docs, K, W)
    pairs = wn.winnow_candidate_pairs(fps, 1)
    out = {r.doc_id: r for r in wn.containment_dedup(fps, pairs, 0.8).collect()}
    assert out["doc-a"].is_dropped and out["doc-a"].dropped_into == "doc-b"
    assert not out["doc-b"].is_dropped and not out["doc-c"].is_dropped


def test_containment_dedup_equal_size_tie_to_smaller_id(spark):
    # equal fingerprint counts: the SMALLER id survives, the larger drops
    # into it — pins the (big_n desc, big_id asc) tiebreak the min_by
    # struct encodes.
    fps = spark.createDataFrame(
        [(1, "h1"), (1, "h2"), (2, "h1"), (2, "h2")],
        "doc_id long, fp string",
    ).select("doc_id", F.col("fp"), F.lit(0).alias("pos"))
    pairs = spark.createDataFrame(
        [(1, 2, 2, 2, 2, 1.0)],
        "id_a long, id_b long, shared long, n_a long, n_b long, containment double",
    )
    out = {r.doc_id: r for r in wn.containment_dedup(fps, pairs, 0.8).collect()}
    assert not out[1].is_dropped
    assert out[2].is_dropped and out[2].dropped_into == 1


def test_source_quality_rollup(spark):
    from finiextestingide_spark.operators.curation import source_quality_rollup

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again", "a"),
        (2, "the quick brown fox jumps over the lazy dog again", "b"),  # dup of 1
        (3, "completely different words entirely here now folks", "b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.source: r for r in source_quality_rollup(docs, min_words=5, min_stop_hits=1).collect()}
    assert out["a"].n_docs == 1 and out["a"].dup_rate == 0.0
    assert out["b"].n_docs == 2 and out["b"].dup_rate == 0.5  # doc 2 is the non-canonical copy
    assert out["a"].n_tokens == 10
    assert out["a"].gopher_keep_rate == 1.0


def test_unigram_logprob_scores(spark):
    import math

    # corpus: 'a' x3, 'b' x2, 'c' x1 -> N=6
    docs = _docs(spark, [(1, "a a b"), (2, "a b c")])
    out = {r.doc_id: r for r in tx.unigram_logprob_scores(docs).collect()}
    lp = {w: round(math.log(c / 6), 6) for w, c in {"a": 3, "b": 2, "c": 1}.items()}
    exp1 = round((2 * lp["a"] + lp["b"]) / 3, 6)
    exp2 = round((lp["a"] + lp["b"] + lp["c"]) / 3, 6)
    assert out[1].n_words == 3 and out[1].avg_logprob == pytest.approx(exp1)
    assert out[2].n_words == 3 and out[2].avg_logprob == pytest.approx(exp2)
    # rare words -> lower logprob -> higher pseudo perplexity
    assert out[2].avg_logprob < out[1].avg_logprob
    assert out[2].pseudo_ppl > out[1].pseudo_ppl


def test_bigram_logprob_scores(spark):
    # hand-computed on a 2-doc corpus: doc 1 = "a b a b", doc 2 = "a".
    # unigrams: a:3, b:2, N=5; bigrams: (a,b):2, (b,a):1; prefix: a:2, b:1
    # p(a->b) = .3*(2/5) + .7*1 = .82 ; p(b->a) = .3*(3/5) + .7*1 = .88
    # doc 1 transitions: (a,b),(b,a),(a,b) ->
    #   avg = (2*round(ln .82, 6) + round(ln .88, 6)) / 3, floor-6 form
    import math

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a"), (3, "")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in tx.bigram_logprob_scores(docs, 0.3).collect()}
    lp_ab = round(math.log(0.3 * (2 / 5) + (1.0 - 0.3) * 1.0), 6)
    lp_ba = round(math.log(0.3 * (3 / 5) + (1.0 - 0.3) * 1.0), 6)
    want = math.floor((2 * lp_ab + lp_ba) / 3 * 1e6 + 0.5) / 1e6
    assert out[1].n_transitions == 3
    assert out[1].avg_logprob == want
    assert out[1].pseudo_ppl == math.floor(math.exp(-want) * 1e6 + 0.5) / 1e6
    # a one-token or empty doc has no transitions and null scores
    for d in (2, 3):
        assert out[d].n_transitions == 0
        assert out[d].avg_logprob is None and out[d].pseudo_ppl is None


def test_kneser_ney_logprob_scores(spark):
    # hand-computed on doc 1 = "a b a b", doc 2 = "a", D = 0.75:
    # bigrams (a,b):2, (b,a):1; types=2; left a:(c1=2,n1f=1) b:(1,1);
    # right b:n1b=1, a:n1b=1
    # p(a->b) = (2-.75)/2 + (.75*1/2)*(1/2) = 0.8125
    # p(b->a) = (1-.75)/1 + (.75*1/1)*(1/2) = 0.625
    import math

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in tx.kneser_ney_logprob_scores(docs, 0.75).collect()}
    lp_ab = round(math.log(0.8125), 6)
    lp_ba = round(math.log(0.625), 6)
    want = math.floor((2 * lp_ab + lp_ba) / 3 * 1e6 + 0.5) / 1e6
    assert out[1].n_transitions == 3 and out[1].avg_logprob == want
    assert out[2].n_transitions == 0 and out[2].avg_logprob is None


def test_kneser_ney_continuation_weight(spark):
    # KN's point: a word frequent in ONE context gets a small continuation
    # probability. Corpus: "x f" repeated 5 times in one doc (f always
    # follows x) vs "a b", "c b", "d b" (b follows three distinct words).
    # p_cont(f) = 1/types, p_cont(b) = 3/types -> for a novel-ish context
    # the continuation term favors b 3:1.
    docs = spark.createDataFrame(
        [(1, "x f x f x f x f x f"), (2, "a b"), (3, "c b"), (4, "d b")],
        "doc_id long, text string",
    )
    # extract the model arithmetic through the score of the single-pair docs:
    # doc 2 ("a b"): c12=1, c1=1, n1f=1, n1b(b)=3,
    # types = 5 (xf, fx, ab, cb, db — doc 1 also yields (f,x) transitions)
    import math

    out = {r.doc_id: r for r in tx.kneser_ney_logprob_scores(docs, 0.75).collect()}
    p_ab = (1 - 0.75) / 1 + (0.75 * 1 / 1) * (3 / 5)
    want = math.floor(round(math.log(p_ab), 6) * 1e6 + 0.5) / 1e6
    assert out[2].avg_logprob == want


def test_modified_kneser_ney_three_discounts(spark):
    # Corpus engineered so the count-of-counts are n1=n2=n3=n4=1 and each
    # discount class scores exactly one transition. Single-transition docs
    # keep every hand computation one line:
    #   bi: (p,q):1 (r,s):2 (t,u):3 (v,w):4; nt=4; pcont = 1/4 each.
    #   Y = 1/3; D1 = 1 - 2Y = 1/3; D2 = 2 - 3Y = 1; D3+ = 3 - 4Y = 5/3.
    import math

    rows = (
        [(1, "p q")]
        + [(i, "r s") for i in (2, 3)]
        + [(i, "t u") for i in (4, 5, 6)]
        + [(i, "v w") for i in (7, 8, 9, 10)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in tx.ngram_mkn_logprob_scores(docs, order=2).collect()
    }
    y = 1.0 / (1.0 + 2.0 * 1.0)
    d1 = 1.0 - ((2.0 * y) * 1.0) / 1.0
    d2 = 2.0 - ((3.0 * y) * 1.0) / 1.0
    d3 = 3.0 - ((4.0 * y) * 1.0) / 1.0
    pc = 1.0 / 4.0

    def lp(c12, c1, nn, p_):
        return math.floor(round(math.log(p_), 6) * 1e6 + 0.5) / 1e6

    p_pq = (1.0 - d1) / 1.0 + ((d1 * 1 + d2 * 0 + d3 * 0) / 1.0) * pc
    p_rs = (2.0 - d2) / 2.0 + ((d1 * 0 + d2 * 1 + d3 * 0) / 2.0) * pc
    p_tu = (3.0 - d3) / 3.0 + ((d1 * 0 + d2 * 0 + d3 * 1) / 3.0) * pc
    p_vw = (4.0 - d3) / 4.0 + ((d1 * 0 + d2 * 0 + d3 * 1) / 4.0) * pc
    assert abs(p_pq - 3 / 4) < 1e-12 and abs(p_rs - 5 / 8) < 1e-12
    assert abs(p_tu - 7 / 12) < 1e-12 and abs(p_vw - 11 / 16) < 1e-12
    assert out[1].avg_logprob == lp(1, 1, 1, p_pq)
    assert out[2].avg_logprob == lp(2, 2, 1, p_rs)
    assert out[4].avg_logprob == lp(3, 3, 1, p_tu)
    assert out[7].avg_logprob == lp(4, 4, 1, p_vw)
    # the discounted mass is fully redistributed: each context's total
    # probability over its observed followers + gamma*unseen stays a
    # proper distribution; spot-check context v: p(v->w) + gamma_v * (3/4
    # remaining continuation mass) == 1
    gamma_v = (d3 * 1) / 4.0
    assert abs(p_vw + gamma_v * (3 * pc) - 1.0) < 1e-12


def test_modified_kneser_ney_degenerate_counts(spark):
    # n3 = 0 with a 4-count bigram present: the textbook D3+ estimator is
    # undefined; the operator's documented fallback D3+ = 0 leaves those
    # transitions undiscounted (p = c/c1 + 0) instead of crashing.
    import math

    rows = (
        [(1, "p q")]
        + [(i, "r s") for i in (2, 3)]
        + [(i, "v w") for i in (7, 8, 9, 10)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in tx.ngram_mkn_logprob_scores(docs, order=2).collect()
    }
    # n1=1, n2=1, n3=0, n4=1, nt=3; Y=1/3; D1=1/3; D2 = 2 - 3Y*0/1 = 2; D3=0
    # p(v->w) = (4-0)/4 + 0 = 1 -> ln = 0
    assert out[7].avg_logprob == 0.0 and out[7].pseudo_ppl == 1.0
    # p(r->s) = (2-2)/2 + ((d2*1)/2)*(1/3) = 1/3
    want = math.floor(round(math.log(1 / 3), 6) * 1e6 + 0.5) / 1e6
    assert out[2].avg_logprob == want


def test_trigram_mkn_continuation_backoff(spark):
    # Corpus engineered so BOTH layers' count-of-counts are hand-checkable:
    # four single-trigram docs with trigram counts 1,2,3,4 (n1..n4 = 1 at
    # the trigram layer) and every (w2,w3) preceded by exactly one w1
    # (continuation counts all 1 -> backoff layer n1=4, D1_b=1, so the
    # backoff collapses to gamma2 * p1c = 1/4 for every event).
    import math

    rows = (
        [(1, "a b c")]
        + [(i, "d e f") for i in (2, 3)]
        + [(i, "g h i") for i in (4, 5, 6)]
        + [(i, "j k l") for i in (7, 8, 9, 10)]
        + [(11, "a b")]          # 2 tokens: no trigram, null score
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in tx.ngram_mkn_logprob_scores(docs, order=3).collect()
    }
    # trigram-layer discounts (same arithmetic as the bigram MKN test)
    y = 1.0 / (1.0 + 2.0 * 1.0)
    a1 = 1.0 - ((2.0 * y) * 1.0) / 1.0
    a2 = 2.0 - ((3.0 * y) * 1.0) / 1.0
    a3 = 3.0 - ((4.0 * y) * 1.0) / 1.0
    # backoff layer: all continuation counts are 1 -> D1_b = 1, so
    # p2c = 0 + gamma2 * p1c = (1*1/1) * (1/4) = 1/4 for every event
    p2c = (1.0 - 1.0) / 1.0 + ((1.0 * 1 + 0.0 * 0 + 0.0 * 0) / 1.0) * (1.0 / 4.0)
    assert p2c == 0.25

    def lp(p_):
        return math.floor(round(math.log(p_), 6) * 1e6 + 0.5) / 1e6

    p_abc = (1.0 - a1) / 1.0 + ((a1 * 1 + a2 * 0 + a3 * 0) / 1.0) * p2c
    p_def = (2.0 - a2) / 2.0 + ((a1 * 0 + a2 * 1 + a3 * 0) / 2.0) * p2c
    p_ghi = (3.0 - a3) / 3.0 + ((a1 * 0 + a2 * 0 + a3 * 1) / 3.0) * p2c
    p_jkl = (4.0 - a3) / 4.0 + ((a1 * 0 + a2 * 0 + a3 * 1) / 4.0) * p2c
    assert abs(p_abc - 3 / 4) < 1e-12 and abs(p_def - 5 / 8) < 1e-12
    assert abs(p_ghi - 7 / 12) < 1e-12 and abs(p_jkl - 11 / 16) < 1e-12
    assert out[1].avg_logprob == lp(p_abc)
    assert out[1].n_transitions == 1
    assert out[2].avg_logprob == lp(p_def)
    assert out[4].avg_logprob == lp(p_ghi)
    assert out[7].avg_logprob == lp(p_jkl)
    # a 2-token doc has no trigram transitions
    assert out[11].n_transitions == 0 and out[11].avg_logprob is None
    # per-context proper distribution at the top layer: context (j,k) has
    # one observed follower; discounted mass gamma3 covers the rest of the
    # continuation space (total continuation mass = 1)
    gamma3 = (a3 * 1) / 4.0
    assert abs(p_jkl + gamma3 * (3 * 0.25) - 1.0) < 1e-12


def test_modified_kneser_ney_clamps_negative_discounts(spark):
    # Count-of-counts that FAIL to decay (n4 >> n3) push the raw
    # Chen-Goodman D3+ negative (here 3 - (4/3)*10 ≈ -10.3), which would
    # flip gamma's sign and drive p below zero (ln undefined — observed
    # live at the trigram layer on sf0.1). The clamp keeps D3+ = 0: the
    # count-3 and count-4 transitions take no discount, gamma for their
    # contexts is 0, and p = c/c1 = 1 exactly (lp = 0).
    rows = (
        [(1, "p q")]
        + [(i, "r s") for i in (2, 3)]
        + [(i, "t u") for i in (4, 5, 6)]
    )
    nxt = 7
    for b in range(10):  # ten distinct count-4 bigrams -> n4 = 10
        for _ in range(4):
            rows.append((nxt, f"x{b} y{b}"))
            nxt += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in tx.ngram_mkn_logprob_scores(docs, order=2).collect()
    }
    assert out[4].avg_logprob == 0.0 and out[4].pseudo_ppl == 1.0
    assert out[7].avg_logprob == 0.0
    # the decaying classes still carry their textbook discounts
    assert out[1].avg_logprob is not None and out[1].avg_logprob < 0.0
