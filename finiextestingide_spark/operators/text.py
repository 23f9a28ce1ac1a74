"""Text-analysis operators for large-scale training-data pipelines.

All pure Column expressions (regexp_count / split / md5) — JVM-side,
codegen-friendly, linear scans with full predicate pushdown. These extend the
reference's signal-data path to the LLM-data-pipeline surface required at
100 TB (language ID, quality scoring, token counting, fingerprinting).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# BPE-ish tokenizer regex: letter runs, digit runs, single non-space symbols.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is")

# Tiny deterministic marker lexicons for heuristic language ID.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "is", "of"),
    "de": ("der", "und", "die", "das"),
    "fr": ("le", "la", "et", "les"),
    "es": ("el", "los", "y", "una"),
}


def normalized_text(text: Column) -> Column:
    """lower + collapse non-alnum runs to single spaces + trim."""
    return F.trim(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "))


def whitespace_token_count(text: Column) -> Column:
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_ish_token_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN))


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    return F.when(n > 0, F.regexp_count(text, F.lit(r"[^A-Za-z0-9\s]")) / n).otherwise(F.lit(0.0))


def stopword_count(text: Column, stopwords=STOPWORDS) -> Column:
    pat = r"\b(" + "|".join(stopwords) + r")\b"
    return F.regexp_count(F.lower(text), F.lit(pat))


def marker_count(text: Column, markers: tuple[str, ...]) -> Column:
    pat = r"\b(" + "|".join(markers) + r")\b"
    return F.regexp_count(F.lower(text), F.lit(pat))


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic: token-count saturation x
    (1 - punctuation ratio) x non-stopword share."""
    n_tok = whitespace_token_count(text).cast("double")
    sat = F.least(n_tok / 100.0, F.lit(1.0))
    stop_share = F.when(n_tok > 0, stopword_count(text) / n_tok).otherwise(F.lit(0.0))
    return sat * (1.0 - punct_ratio(text)) * (1.0 - F.least(stop_share, F.lit(1.0)))


def predict_lang(text: Column) -> Column:
    """Marker-lexicon argmax with fixed precedence en > de > fr > es;
    all-zero -> 'und' (undetermined)."""
    c = {lang: marker_count(text, m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*c.values())
    expr = F.when(best == 0, F.lit("und"))
    for lang in ("en", "de", "fr", "es"):  # precedence order on ties
        expr = expr.when(c[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def fingerprint(text: Column) -> Column:
    """md5 of the normalized text — exact-dup document fingerprint."""
    return F.md5(normalized_text(text))


def tfidf_topterms(
    docs: DataFrame, k: int = 3, *, id_col: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Top-k TF-IDF terms per document: tfidf = tf * ln(N / df).

    Shuffle profile at scale: one groupBy (doc, term) with map-side combine
    for tf, one groupBy term for df (term rows only, never text), a
    broadcast join of the (tiny) df table back — the corpus size N is a
    scalar aggregate cross-joined as a broadcast, not a collect. Ranking is
    on the 6-decimal-rounded score with term as tiebreak, so top-k sets are
    reproducible across engines."""
    from pyspark.sql import Window

    words = docs.select(
        F.col(id_col),
        F.explode(F.split(normalized_text(F.col(text)), " ")).alias("term"),
    ).where(F.col("term") != "")
    tf = words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.select(F.countDistinct(id_col).alias("__n"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("__n") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .where(F.col("term_rank") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", "term_rank")
    )


def with_text_stats(docs: DataFrame, text: str = "text") -> DataFrame:
    t = F.col(text)
    return docs.select(
        "*",
        whitespace_token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
        F.length(t).alias("n_chars_measured"),
        punct_ratio(t).alias("punct_ratio"),
        stopword_count(t).alias("n_stopwords"),
        quality_score(t).alias("quality"),
        predict_lang(t).alias("pred_lang"),
        fingerprint(t).alias("fingerprint"),
    )


def ngram_contamination(
    train_shingles: DataFrame,
    eval_shingles: DataFrame,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination check — the train/test n-gram overlap audit a
    training-data pipeline runs before any eval claim: for each EVAL document,
    the fraction of its distinct n-grams that appear anywhere in the TRAIN
    corpus.

    Inputs are distinct (doc, shingle) streams (operators.dedup.word_shingles
    output). Scale shape: the train side collapses to its DISTINCT shingle
    set once (map-side combine), the overlap is one shuffle join keyed on the
    shingle string, and shuffled rows carry (short shingle, eval doc id) —
    never document bodies. At 100 TB train / small eval the join naturally
    prunes to the eval side's shingles; with a small benchmark the optimizer
    broadcast path applies.

    Output: (doc_id, n_shingles, n_contaminated, contamination) per eval doc,
    with contamination = n_contaminated / n_shingles.
    """
    train_set = train_shingles.select("shingle").distinct()
    ev = eval_shingles.select(F.col(id_col), F.col("shingle"))
    hits = (
        ev.join(train_set, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    sizes = ev.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    return (
        sizes.join(hits, id_col, "left")
        .withColumn("n_contaminated", F.coalesce("n_contaminated", F.lit(0)))
        .withColumn(
            "contamination", F.col("n_contaminated") / F.col("n_shingles")
        )
        .select(id_col, "n_shingles", "n_contaminated", "contamination")
    )


# PII patterns shared with the DuckDB oracle (POSIX-compatible, no
# lookarounds): email, international-ish phone (7+ digits with optional
# separators, anchored on word edges), dotted-quad IPv4. Order matters —
# emails are redacted before phones so a numeric local-part is not
# half-eaten by the phone pattern.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d\s().-]{5,}\d\b", "<PHONE>"),
)


def redact_pii(text: Column) -> Column:
    """Training-data PII scrubbing: replace emails, IPv4s, and phone-like
    digit runs with typed placeholder tokens. Pure regexp_replace chain —
    JVM-side, linear, mirrors 1:1 into any POSIX regex engine so the
    redaction is engine-reproducible (the property a compliance pipeline
    audits for)."""
    out = text
    for pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-class match counts BEFORE redaction (the audit trail a scrub
    job ships next to the scrubbed corpus)."""
    email = F.regexp_count(text, F.lit(PII_PATTERNS[0][0]))
    ip = F.regexp_count(text, F.lit(PII_PATTERNS[1][0]))
    # phones counted on the email+ip-redacted form, matching the chain
    # order in redact_pii (an email's digits must not count as a phone)
    after = F.regexp_replace(
        F.regexp_replace(text, PII_PATTERNS[0][0], PII_PATTERNS[0][1]),
        PII_PATTERNS[1][0],
        PII_PATTERNS[1][1],
    )
    phone = F.regexp_count(after, F.lit(PII_PATTERNS[2][0]))
    return {"n_emails": email, "n_ips": ip, "n_phones": phone}


def repetition_stats(text: Column) -> dict[str, Column]:
    """Within-document repetition signals (boilerplate/spam detector):
    duplicate-word fraction (1 - distinct/total over normalized words) and
    duplicate-line fraction over newline-split lines. Array built-ins only
    (split/array_distinct/size) — codegen-side, no shuffle."""
    words = F.split(normalized_text(text), " ")
    n_words = F.when(normalized_text(text) == "", F.lit(0)).otherwise(F.size(words))
    dup_word_frac = F.when(
        n_words > 0,
        1.0 - F.size(F.array_distinct(words)).cast("double") / n_words,
    ).otherwise(F.lit(0.0))
    lines = F.filter(F.split(text, r"\n"), lambda x: F.trim(x) != "")
    n_lines = F.size(lines)
    dup_line_frac = F.when(
        n_lines > 0,
        1.0 - F.size(F.array_distinct(lines)).cast("double") / n_lines,
    ).otherwise(F.lit(0.0))
    return {
        "n_words": n_words.cast("long"),
        "dup_word_frac": dup_word_frac,
        "n_lines": n_lines.cast("long"),
        "dup_line_frac": dup_line_frac,
    }


def unigram_logprob_scores(
    docs: DataFrame, *, id_col: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Corpus-trained unigram language-model score per document — the
    perplexity-style quality signal of the CCNet/KenLM filtering recipe,
    reduced to the unigram model so it trains from the corpus itself in one
    aggregation (no external model artifact): a document of globally-rare
    words scores low (boilerplate of common words scores high), and
    pipelines keep the middle quantiles.

    avg_logprob = mean over token OCCURRENCES of ln(count(word)/N), with N
    the corpus token count; pseudo_ppl = exp(-avg_logprob).

    Cross-engine determinism: each per-word ln is rounded to 6 decimals and
    summed as DECIMAL(28,6) (exact, order-independent — a raw double sum
    differs in the last ulp between engines' summation orders), then the
    mean divides as double and rounds. Scale shape: one word-keyed groupBy
    (map-side combined) for the model, then the model joins back onto the
    exploded stream WITHOUT a broadcast hint — vocabulary grows with the
    corpus (Heaps' law: URLs, hashes, typos), so forcing a web-scale vocab
    into a broadcast is a driver/executor memory wall. Unhinted, the join
    keys on ``w`` — the exact partitioning the groupBy that built the model
    just produced, so the model side's exchange is reused — and AQE still
    broadcasts it at runtime when it measures small. One doc-keyed
    aggregate closes; bodies never shuffle."""
    words = docs.select(
        F.col(id_col),
        F.explode(F.split(normalized_text(F.col(text)), " ")).alias("w"),
    ).where(F.col("w") != "")
    model = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    n_total = words.select(F.count(F.lit(1)).alias("__n"))
    scored = (
        words.join(model, "w")
        .crossJoin(F.broadcast(n_total))
        .select(
            F.col(id_col),
            F.round(F.log(F.col("cnt") / F.col("__n")), 6)
            .cast("decimal(28,6)")
            .alias("__lp"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("__lp").alias("__lpsum"),
        )
        .select(
            id_col,
            "n_words",
            F.round(F.col("__lpsum").cast("double") / F.col("n_words"), 6).alias(
                "avg_logprob"
            ),
            F.round(
                F.exp(
                    -F.round(F.col("__lpsum").cast("double") / F.col("n_words"), 6)
                ),
                6,
            ).alias("pseudo_ppl"),
        )
    )


def _floor6(col: Column) -> Column:
    """Round to 6 decimals with the floor form ``floor(x*1e6 + 0.5)/1e6``:
    bit-identical in Spark and DuckDB given identical input doubles, where
    ``round()`` disagrees at half boundaries (see `bigram_logprob_scores`)."""
    return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def bigram_logprob_scores(
    docs: DataFrame,
    interp_uni: float = 0.3,
    *,
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Corpus-trained INTERPOLATED unigram/bigram language-model score per
    document — the next step from `unigram_logprob_scores` toward the
    CCNet/KenLM 5-gram filtering recipe, still trained from the corpus
    itself in one pass (no external model artifact):

        p(w_i | w_{i-1}) = interp_uni * count(w_i)/N
                         + (1 - interp_uni) * count(w_{i-1} w_i)/prefix(w_{i-1})

    with ``prefix(w)`` = occurrences of w as a bigram LEFT element (so the
    bigram term is a proper conditional over observed transitions), and
    avg_logprob = mean over a document's TRANSITIONS of ln(p). The unigram
    interpolation is what makes the model useful as a filter: a rare
    continuation after a common word scores low, but never -inf. Documents
    with fewer than two tokens have no transitions: n_transitions = 0 and
    null scores.

    Remaining delta to true KenLM (documented, deliberate): order 2 vs 5,
    fixed-weight interpolation vs modified-Kneser-Ney discounting, and no
    out-of-corpus vocabulary — closing those requires an external trained
    artifact, which this engine's oracle-verified posture excludes.

    Determinism: each transition's ln(p) is computed from exact count
    ratios in a fixed expression order (IEEE-deterministic cross-engine),
    rounded to 6 decimals and summed as DECIMAL(28,6) — order-independent;
    the only residual cross-engine risk is the documented libm ln()
    last-ulp flip at a rounding boundary (same class as the unigram gate's
    disclosed sf1 tolerance). The FINAL per-doc mean uses the floor form
    ``floor(x*1e6 + 0.5)/1e6``, not round(): a decimal-exact sum divided
    by an integer can land exactly on a half boundary (observed at sf0.01:
    sum -141.918063 over 42 transitions = exactly -3.3790015), where
    Spark's HALF_UP-on-BigDecimal and DuckDB's float-math round() disagree
    — the floor form is bit-deterministic on both engines given identical
    input doubles.

    Scale shape: transitions are formed NARROW (adjacent-pair zip inside
    each row's token array — no window, no shuffle); the three model
    aggregations (unigram, bigram, prefix) are map-side combined; the
    model joins back onto the transition stream carry NO broadcast hint
    (vocabulary and bigram tables grow with the corpus — Heaps' law; AQE
    broadcasts them only while they measure small, and the sort-merge
    fallback keys match the aggregations' own partitioning); one doc-keyed
    aggregate closes. Bodies never shuffle."""
    ws = F.filter(
        F.split(normalized_text(F.col(text)), " "), lambda x: x != ""
    )
    toks = docs.select(F.col(id_col), ws.alias("__ws"))
    words = toks.select(F.explode("__ws").alias("w"))
    uni = words.groupBy("w").agg(F.count(F.lit(1)).alias("__cw"))
    n_total = words.select(F.count(F.lit(1)).alias("__n"))

    pairs = toks.where(F.size("__ws") >= 2).select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                F.expr("slice(__ws, 1, size(__ws) - 1)"),
                F.expr("slice(__ws, 2, size(__ws) - 1)"),
            )
        ).alias("__p"),
    ).select(
        id_col, F.col("__p.0").alias("w1"), F.col("__p.1").alias("w2")
    )
    bi = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__c12"))
    prefix = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("__c1"))

    lam = float(interp_uni)
    p = F.lit(lam) * F.col("__cw") / F.col("__n") + F.lit(1.0 - lam) * F.col(
        "__c12"
    ) / F.col("__c1")
    scored = (
        pairs.join(bi, ["w1", "w2"])
        .join(prefix, ["w1"])
        .join(uni.withColumnRenamed("w", "w2"), ["w2"])
        .crossJoin(F.broadcast(n_total))
        .select(
            F.col(id_col),
            F.round(F.log(p), 6).cast("decimal(28,6)").alias("__lp"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions"),
        F.sum("__lp").alias("__lpsum"),
    )
    avg = _floor6(F.col("__lpsum").cast("double") / F.col("n_transitions"))
    return (
        docs.select(F.col(id_col))
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_transitions"), F.lit(0)).cast("long").alias(
                "n_transitions"
            ),
            avg.alias("avg_logprob"),
            _floor6(F.exp(-avg)).alias("pseudo_ppl"),
        )
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    text: Column,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_stop_hits: int = 2,
) -> dict[str, Column]:
    """The published MassiveText/Gopher quality rule set (Rae et al. 2021,
    appendix A) as pure Column expressions — the standard pre-training
    corpus filter, computable JVM-side in one linear scan:

    - min_words <= word count <= max_words (published: 50..100,000)
    - 3 <= mean word length <= 10
    - symbol-to-word ratio ('#' or ellipsis) <= 0.1
    - < 90% of lines start with a bullet
    - < 30% of lines end with an ellipsis
    - >= 80% of words contain an alphabetic character
    - contains >= min_stop_hits of the 8 Gopher stop words (published: 2)

    The defaults are the paper's thresholds; the three knobs every real
    pipeline tunes per corpus (short-form data, non-English mixes) are
    parameters. Every expression mirrors 1:1 into RE2 (no lookarounds, no
    backrefs), so the DuckDB oracle runs the SAME regexes. Mean word length
    is computed arithmetically on the normalized form (single-space
    separated): (len - (n_words - 1)) / n_words — no higher-order array
    functions (those run interpreted, the ~50x lesson of
    `dedup.shingle_stream`)."""
    norm = normalized_text(text)
    n_words = F.when(norm == "", F.lit(0)).otherwise(F.size(F.split(norm, " "))).cast("long")
    mean_word_len = F.when(
        n_words > 0,
        (F.length(norm) - (n_words - 1)).cast("double") / n_words,
    ).otherwise(F.lit(0.0))
    n_symbols = F.regexp_count(text, F.lit(r"#|\.\.\.|…"))
    symbol_word_ratio = F.when(n_words > 0, n_symbols / n_words).otherwise(F.lit(0.0))
    n_lines = F.size(F.split(text, r"\n")).cast("long")
    bullet_lines = F.regexp_count(text, F.lit(r"(?m)^\s*[-*•]"))
    ellipsis_lines = F.regexp_count(text, F.lit(r"(?m)(\.\.\.|…)\s*$"))
    bullet_line_frac = F.when(n_lines > 0, bullet_lines / n_lines).otherwise(F.lit(0.0))
    ellipsis_line_frac = F.when(n_lines > 0, ellipsis_lines / n_lines).otherwise(F.lit(0.0))
    # words in the normalized form are [a-z0-9]+ tokens; the non-alphabetic
    # ones are exactly the pure-digit tokens (\b is RE2-safe).
    digit_words = F.regexp_count(norm, F.lit(r"\b[0-9]+\b"))
    alpha_word_frac = F.when(
        n_words > 0, (n_words - digit_words) / n_words
    ).otherwise(F.lit(0.0))
    stop_hits = sum(
        F.when(F.regexp_count(norm, F.lit(r"\b" + w + r"\b")) > 0, 1).otherwise(0)
        for w in GOPHER_STOPWORDS
    ).cast("long")
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_word_len >= 3.0)
        & (mean_word_len <= 10.0)
        & (symbol_word_ratio <= 0.1)
        & (bullet_line_frac < 0.9)
        & (ellipsis_line_frac < 0.3)
        & (alpha_word_frac >= 0.8)
        & (stop_hits >= min_stop_hits)
    )
    return {
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "symbol_word_ratio": symbol_word_ratio,
        "bullet_line_frac": bullet_line_frac,
        "ellipsis_line_frac": ellipsis_line_frac,
        "alpha_word_frac": alpha_word_frac,
        "stop_hits": stop_hits,
        "keep": keep,
    }


def decontaminate(
    train_shingles: DataFrame,
    eval_shingles: DataFrame,
    max_contamination: float = 0.1,
    *,
    id_col: str = "doc_id",
    train_ids: DataFrame | None = None,
) -> DataFrame:
    """The enforcement side of ngram_contamination: flag TRAIN documents
    whose n-gram overlap with the EVAL corpus exceeds ``max_contamination``
    so they can be dropped before training — the decontamination step that
    turns the audit into a clean train set.

    Same scale shape, reversed: the eval side collapses to its DISTINCT
    shingle set (a benchmark — small, broadcastable); each train doc joins
    against it once; shuffled rows carry (shingle, train doc id) only.
    Output: (doc_id, n_shingles, n_contaminated, contamination, keep) for
    every train doc WITH at least one shingle (zero-overlap docs included,
    keep = true). A doc too short to shingle produces no shingle rows and
    would be silently absent — pass ``train_ids`` (the full train doc-id
    universe) to also emit those as (0 shingles, 0 contamination, keep)."""
    eval_set = eval_shingles.select("shingle").distinct()
    tr = train_shingles.select(F.col(id_col), F.col("shingle"))
    hits = (
        tr.join(F.broadcast(eval_set), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    sizes = tr.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    if train_ids is not None:
        sizes = (
            train_ids.select(id_col)
            .distinct()
            .join(sizes, id_col, "left")
            .select(id_col, F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"))
        )
    contamination = F.when(
        F.col("n_shingles") > 0,
        F.coalesce(F.col("n_contaminated"), F.lit(0)) / F.col("n_shingles"),
    ).otherwise(F.lit(0.0))
    return (
        sizes.join(hits, id_col, "left")
        .select(
            id_col,
            "n_shingles",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            contamination.alias("contamination"),
            (contamination <= max_contamination).alias("keep"),
        )
    )


def kneser_ney_logprob_scores(
    docs: DataFrame,
    discount: float = 0.75,
    *,
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Corpus-trained interpolated KNESER-NEY bigram score per document —
    the published smoothing the CCNet/KenLM recipe actually uses (KenLM
    trains modified-KN models), at bigram order so it still trains from
    the corpus itself in one pass. Completes the LM-quality ladder:
    `unigram_logprob_scores` (r12) -> fixed-weight interpolation
    (`bigram_logprob_scores`) -> absolute-discount KN (this):

        p_KN(w2 | w1) = (c(w1 w2) - D) / c(w1·)
                      + (D * N1+(w1 ·) / c(w1·)) * p_cont(w2)
        p_cont(w2)    = N1+(· w2) / |distinct bigram types|

    with D = ``discount`` (0 < D < 1; observed transitions have
    c(w1 w2) >= 1 > D, so the max(…, 0) of the textbook form is never
    active on the scored stream). The continuation probability is KN's
    point: a word's unigram evidence is how many DISTINCT contexts it
    follows, not how often it occurs — "Francisco" is frequent but
    follows only "San", so its continuation weight is tiny. avg_logprob =
    mean over transitions of ln(p_KN); docs with < 2 tokens have no
    transitions and null scores. Remaining delta to true KenLM: order 2
    vs 5 and the single-discount (not modified three-discount) form.

    Determinism: every quantity is an integer count; p_KN is evaluated in
    a FIXED parenthesization of IEEE ops identical in both engines, each
    transition's ln rounds to 6 decimals into an exact DECIMAL(28,6) sum,
    and the final mean uses the floor form (the half-boundary lesson on
    `bigram_logprob_scores`). Scale shape: transitions form NARROW
    (adjacent-pair zip); the model is ONE bigram-keyed aggregate plus two
    roll-ups of that (w1-keyed, w2-keyed) — all map-side combined; model
    joins are unhinted (vocabulary grows with the corpus; AQE picks the
    build side); one doc-keyed aggregate closes."""
    ws = F.filter(
        F.split(normalized_text(F.col(text)), " "), lambda x: x != ""
    )
    toks = docs.select(F.col(id_col), ws.alias("__ws"))
    pairs = toks.where(F.size("__ws") >= 2).select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                F.expr("slice(__ws, 1, size(__ws) - 1)"),
                F.expr("slice(__ws, 2, size(__ws) - 1)"),
            )
        ).alias("__p"),
    ).select(
        id_col, F.col("__p.0").alias("w1"), F.col("__p.1").alias("w2")
    )
    bi = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__c12"))
    left = bi.groupBy("w1").agg(
        F.sum("__c12").alias("__c1"), F.count(F.lit(1)).alias("__n1f")
    )
    right = bi.groupBy("w2").agg(F.count(F.lit(1)).alias("__n1b"))
    ntypes = bi.select(F.count(F.lit(1)).alias("__nt"))

    d = float(discount)
    p = (F.col("__c12") - F.lit(d)) / F.col("__c1") + (
        F.lit(d) * F.col("__n1f") / F.col("__c1")
    ) * (F.col("__n1b") / F.col("__nt"))
    scored = (
        pairs.join(bi, ["w1", "w2"])
        .join(left, ["w1"])
        .join(right, ["w2"])
        .crossJoin(F.broadcast(ntypes))
        .select(
            F.col(id_col),
            F.round(F.log(p), 6).cast("decimal(28,6)").alias("__lp"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions"),
        F.sum("__lp").alias("__lpsum"),
    )

    avg = _floor6(F.col("__lpsum").cast("double") / F.col("n_transitions"))
    return (
        docs.select(F.col(id_col))
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_transitions"), F.lit(0)).cast("long").alias(
                "n_transitions"
            ),
            avg.alias("avg_logprob"),
            _floor6(F.exp(-avg)).alias("pseudo_ppl"),
        )
    )


def ngram_mkn_logprob_scores(
    docs: DataFrame,
    *,
    order: int = 5,
    min_word_count: int | None = None,
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Corpus-trained order-N MODIFIED Kneser-Ney score per document — the
    KenLM recurrence (Chen & Goodman 1998) at arbitrary ``order``, the top
    of the LM ladder (unigram -> interpolated bigram -> KN -> this).
    Reference parity target: the CCNet-recipe 5-gram KenLM perplexity
    filter; FiniexTestingIDE has no LM surface, so this extends the
    engine's quality-signal family. The bigram and trigram gates are
    ``order=2`` and ``order=3``.

        p_k(w|ctx_k) = (a_k(ctx_k w) - D_k(a_k)) / t_k(ctx_k)
                       + gamma_k(ctx_k) * p_{k-1}(w|ctx_{k-1})
        gamma_k(ctx) = (D_k1*N_1(ctx .) + D_k2*N_2(ctx .) + D_k3*N_3+(ctx .))
                       / t_k(ctx)
        p_1(w)       = N_{1+}(. w) / |distinct level-2 types|

    where a_N = raw N-gram counts and each lower level's a_k is the
    CONTINUATION count (distinct left-extensions of the level-(k+1)
    support: lower orders are only consulted after the higher order
    backed off, so they count distinct preceding contexts, not
    occurrences). t_k(ctx) sums a_k over the context's followers and
    N_j(ctx .) counts followers with a_k = j (or >= 3). Each level's three
    discounts come from ITS count-of-counts n_j = |{types with a_k = j}|:

        Y = n1 / (n1 + 2*n2)
        D_k1 = 1 - 2*Y*n2/n1,  D_k2 = 2 - 3*Y*n3/n2,  D_k3 = 3 - 4*Y*n4/n3

    each clamped at 0, and 0 when its denominator count is 0 (see
    ``_discounts``). gamma redistributes exactly the mass its level
    discounted, so every context stays a proper distribution. Docs with
    < ``order`` tokens have no transitions and null scores.

    ``min_word_count`` (opt-in) adds count-threshold VOCABULARY PRUNING —
    the preprocessing step real KenLM pipelines run before estimation:
    words with corpus frequency < ``min_word_count`` collapse to a single
    ``<unk>`` type BEFORE n-gram extraction (the normalizer strips
    angle brackets from real text, so the sentinel cannot collide).
    Estimation then proceeds over the mapped stream unchanged, exactly
    as if the corpus had been written with <unk> in place.

    Determinism: every model value derives from integer counts; the
    discounts and the recurrence are evaluated in ONE fixed
    parenthesization of IEEE double ops that the DuckDB oracles mirror
    textually; each transition's ln rounds to 6 decimals into an exact
    DECIMAL(28,6) sum; the per-doc mean uses the floor form (`_floor6`).

    Scale shape: without pruning, ONE N-gram-keyed aggregate over the
    narrow zipped transition stream is the only corpus-proportional
    pass; every model table is a roll-up OF that aggregate (each level's
    continuation table folds the level above — map-side combined), the
    N-1 count-of-counts frames are four broadcast doubles each, and
    model joins are unhinted (AQE picks build sides). Pruning adds the
    vocabulary count (word-keyed, map-side combined, narrow output) plus
    a metadata-weight remap: distinct (doc, word) pairs meet the rare
    set, matched pairs fold to a per-doc rare list, and token arrays are
    rewritten in place — the occurrence stream itself never crosses an
    exchange (the rare set is Zipf-heavy and NOT broadcastable at corpus
    scale, so the occurrence stream must not be the join side).

    Materialization cost: the (remapped) token frame, the level-N count
    table and each lower level's fold are eager ``localCheckpoint()``s,
    because the model-table branches of one plan would otherwise each
    re-derive that shared upstream (Spark collapses identical exchanges,
    not identical aggregates). So this call runs those ``order`` eager
    checkpoints as Spark jobs before it returns, and their blocks stay in
    executor storage until the returned frame is dropped (the
    ContextCleaner frees them; nothing is plan-matched across separately
    built queries, so each call recomputes from its inputs). Checkpoints
    store the computed counts unchanged, so the scores are those of the
    lazy plan.
    """
    if order < 2:
        raise ValueError("ngram_mkn_logprob_scores: order must be >= 2")
    ws = F.filter(
        F.split(normalized_text(F.col(text)), " "), lambda x: x != ""
    )
    toks = docs.select(F.col(id_col), ws.alias("__ws"))
    if min_word_count is not None and min_word_count > 1:
        # only per-doc DISTINCT (doc, word) pairs meet the rare set, and
        # token arrays are rewritten in place with a row-local transform:
        # the occurrence stream never shuffles, array order is kept, and
        # docs with no rare word skip the transform (null branch)
        rare = (
            toks.select(F.explode("__ws").alias("__w"))
            .groupBy("__w")
            .agg(F.count(F.lit(1)).alias("__wc"))
            .where(F.col("__wc") < F.lit(min_word_count))
            .select("__w")
        )
        doc_rare = (
            toks.select(F.col(id_col), F.explode(F.array_distinct("__ws")).alias("__w"))
            .join(rare, "__w")
            .groupBy(id_col)
            .agg(F.collect_set("__w").alias("__rares"))
        )
        toks = toks.join(doc_rare, id_col, "left").select(
            F.col(id_col),
            F.when(F.col("__rares").isNull(), F.col("__ws"))
            .otherwise(
                F.transform(
                    "__ws",
                    lambda w: F.when(
                        F.array_contains("__rares", w), F.lit("<unk>")
                    ).otherwise(w),
                )
            )
            .alias("__ws"),
        )
    # eager, not a lazy persist: the model-table branches run as concurrent
    # stages of one job, and each would compute a not-yet-cached partition
    # itself
    toks = toks.localCheckpoint()
    wcols = [f"w{j + 1}" for j in range(order)]
    grams = (
        toks.where(F.size("__ws") >= order)
        .select(
            F.col(id_col),
            F.explode(
                F.arrays_zip(
                    *[
                        F.expr(f"slice(__ws, {j + 1}, size(__ws) - {order - 1})")
                        for j in range(order)
                    ]
                )
            ).alias("__g"),
        )
        .select(
            id_col, *[F.col(f"__g.{j}").alias(wcols[j]) for j in range(order)]
        )
    )
    # level-N raw counts: THE corpus-proportional aggregate; every level
    # below is a distinct-left-extension fold of the level above (rows of
    # lvl[k+1] are distinct (k+1)-gram types, so count(*) per k-suffix IS
    # the continuation count)
    top = (
        grams.groupBy(*wcols)
        .agg(F.count(F.lit(1)).alias(f"__c{order}"))
        .localCheckpoint()
    )
    lvl: dict[int, DataFrame] = {order: top}
    for k in range(order - 1, 1, -1):
        # each level has four consumers (its context roll-up, discount
        # frame, model step and the next fold down); checkpointing keeps
        # the fold chain from re-running once per consumer
        lvl[k] = (
            lvl[k + 1]
            .groupBy(*wcols[order - k:])
            .agg(F.count(F.lit(1)).alias(f"__c{k}"))
            .localCheckpoint()
        )
    ctx1 = lvl[2].groupBy(wcols[-1]).agg(F.count(F.lit(1)).alias("__c1b"))
    # per-context totals + N_k columns, one roll-up per level
    ctxs: dict[int, DataFrame] = {}
    for k in range(2, order + 1):
        ck = f"__c{k}"
        ctxs[k] = (
            lvl[k]
            .groupBy(*wcols[order - k:-1])
            .agg(
                F.sum(ck).alias(f"__t{k}"),
                F.sum(F.when(F.col(ck) == 1, 1).otherwise(0)).alias(
                    f"__m{k}n1"
                ),
                F.sum(F.when(F.col(ck) == 2, 1).otherwise(0)).alias(
                    f"__m{k}n2"
                ),
                F.sum(F.when(F.col(ck) >= 3, 1).otherwise(0)).alias(
                    f"__m{k}n3p"
                ),
            )
        )

    def _discounts(counts: DataFrame, cnt_col: str, prefix: str) -> DataFrame:
        cc = counts.agg(
            F.sum(F.when(F.col(cnt_col) == 1, 1).otherwise(0))
            .cast("double").alias("__n1"),
            F.sum(F.when(F.col(cnt_col) == 2, 1).otherwise(0))
            .cast("double").alias("__n2"),
            F.sum(F.when(F.col(cnt_col) == 3, 1).otherwise(0))
            .cast("double").alias("__n3"),
            F.sum(F.when(F.col(cnt_col) == 4, 1).otherwise(0))
            .cast("double").alias("__n4"),
            F.count(F.lit(1)).cast("double").alias("__nt"),
        )
        n1, n2 = F.col("__n1"), F.col("__n2")
        n3, n4 = F.col("__n3"), F.col("__n4")
        y = F.when(
            n1 + F.lit(2.0) * n2 > 0, n1 / (n1 + F.lit(2.0) * n2)
        ).otherwise(F.lit(0.0))
        cc = cc.withColumn("__y", y)
        yc = F.col("__y")
        # greatest(..., 0): Chen-Goodman assumes the count-of-counts decay
        # (n1 > n2 > n3 ...); where they do not, a raw D can go negative,
        # flip gamma's sign and push p below zero (ln undefined — seen at
        # the trigram level on sf0.1). KenLM refuses such corpora without
        # --discount_fallback; a quality score clamps instead, keeping
        # 0 <= D_j <= j. A D whose denominator count is 0 is 0: for n1/n2
        # its class is empty, and for n3 = 0 with 4+-count types present
        # the estimator is undefined, so those types take no discount.
        return cc.select(
            F.col("__nt").alias(f"{prefix}nt"),
            F.when(n1 > 0, F.greatest(
                F.lit(1.0) - ((F.lit(2.0) * yc) * n2) / n1, F.lit(0.0)
            )).otherwise(F.lit(0.0)).alias(f"{prefix}d1"),
            F.when(n2 > 0, F.greatest(
                F.lit(2.0) - ((F.lit(3.0) * yc) * n3) / n2, F.lit(0.0)
            )).otherwise(F.lit(0.0)).alias(f"{prefix}d2"),
            F.when(n3 > 0, F.greatest(
                F.lit(3.0) - ((F.lit(4.0) * yc) * n4) / n3, F.lit(0.0)
            )).otherwise(F.lit(0.0)).alias(f"{prefix}d3"),
        )

    discs = {
        k: _discounts(lvl[k], f"__c{k}", f"__p{k}") for k in range(2, order + 1)
    }

    joined = grams.join(lvl[order], wcols).join(ctxs[order], wcols[:-1])
    for k in range(order - 1, 1, -1):
        joined = joined.join(lvl[k], wcols[order - k:]).join(
            ctxs[k], wcols[order - k:-1]
        )
    joined = joined.join(ctx1, wcols[-1])
    for k in range(order, 1, -1):
        joined = joined.crossJoin(F.broadcast(discs[k]))

    # the recurrence, built bottom-up — ONE fixed parenthesization the
    # oracles mirror textually
    p = F.col("__c1b") / F.col("__p2nt")
    for k in range(2, order + 1):
        ck = F.col(f"__c{k}").cast("double")
        d_of = (
            F.when(F.col(f"__c{k}") == 1, F.col(f"__p{k}d1"))
            .when(F.col(f"__c{k}") == 2, F.col(f"__p{k}d2"))
            .otherwise(F.col(f"__p{k}d3"))
        )
        tk = F.col(f"__t{k}").cast("double")
        gk = (
            (F.col(f"__p{k}d1") * F.col(f"__m{k}n1"))
            + (F.col(f"__p{k}d2") * F.col(f"__m{k}n2"))
            + (F.col(f"__p{k}d3") * F.col(f"__m{k}n3p"))
        ) / tk
        p = (ck - d_of) / tk + gk * p

    scored = joined.select(
        F.col(id_col),
        F.round(F.log(p), 6).cast("decimal(28,6)").alias("__lp"),
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions"),
        F.sum("__lp").alias("__lpsum"),
    )

    avg = _floor6(F.col("__lpsum").cast("double") / F.col("n_transitions"))
    return (
        docs.select(F.col(id_col))
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_transitions"), F.lit(0)).cast("long").alias(
                "n_transitions"
            ),
            avg.alias("avg_logprob"),
            _floor6(F.exp(-avg)).alias("pseudo_ppl"),
        )
    )
