"""The drain's stop rule (``bars_stream.stream_drained``) over hand-built
progress records: no Spark session, so every default run checks when
``run_to_memory`` may stop a stream that never terminates by itself."""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

from finiextestingide_spark.streaming.bars_stream import stream_drained

T0 = datetime(2026, 1, 5, tzinfo=timezone.utc)


def _batch(batch_id: int, start_ms: int, trigger_ms: int, *, moved: bool) -> dict:
    """One progress record shaped like ``StreamingQuery.recentProgress``'s:
    a file source whose offset moves only in a data batch."""
    start = T0 + timedelta(milliseconds=start_ms)
    end = f'{{"logOffset":{batch_id}}}'
    prev = "None" if batch_id == 0 else f'{{"logOffset":{batch_id - 1}}}'
    return {
        "batchId": batch_id,
        "timestamp": start.isoformat(timespec="milliseconds").replace("+00:00", "Z"),
        "durationMs": {"triggerExecution": trigger_ms},
        "numInputRows": 5 if moved else 0,
        "sources": [{"startOffset": prev if moved else end, "endOffset": end}],
    }


def test_nothing_completed_is_not_drained():
    assert not stream_drained([])
    assert not stream_drained([], timeout_ms=1_000)


def test_data_batch_only_is_not_drained():
    progress = [_batch(0, 0, 800, moved=True)]
    assert not stream_drained(progress)
    assert not stream_drained(progress, timeout_ms=1_000)


def test_idle_batch_before_deadline():
    # data batch 0 ran 0..800 ms: its timers expire by 800 + 1000 ms
    progress = [_batch(0, 0, 800, moved=True), _batch(1, 900, 50, moved=False)]
    assert stream_drained(progress)  # no timeout: input is consumed
    assert not stream_drained(progress, timeout_ms=1_000)


def test_idle_batch_after_deadline():
    progress = [
        _batch(0, 0, 800, moved=True),
        _batch(1, 900, 50, moved=False),
        _batch(2, 1_800, 50, moved=False),  # starts AT the deadline
    ]
    assert not stream_drained(progress, timeout_ms=1_000)
    progress.append(_batch(3, 1_801, 50, moved=False))
    assert stream_drained(progress, timeout_ms=1_000)


def test_two_data_batches_wait_for_the_later_deadline():
    # batch 0's keys expire by 0 + 500 + 1000; batch 1's by 600 + 2000 + 1000
    progress = [
        _batch(0, 0, 500, moved=True),
        _batch(1, 600, 2_000, moved=True),
        _batch(2, 2_700, 50, moved=False),  # past batch 0's deadline only
    ]
    assert stream_drained(progress)
    assert not stream_drained(progress, timeout_ms=1_000)
    progress.append(_batch(3, 3_650, 50, moved=False))
    assert stream_drained(progress, timeout_ms=1_000)


def test_idle_batch_must_follow_the_last_data_batch():
    # an idle batch between two data batches says nothing about the second
    progress = [
        _batch(0, 0, 500, moved=True),
        _batch(1, 600, 50, moved=False),
        _batch(2, 700, 500, moved=True),
    ]
    assert not stream_drained(progress)
    assert not stream_drained(progress, timeout_ms=100)


def test_record_order_does_not_matter():
    progress = [
        _batch(0, 0, 800, moved=True),
        _batch(1, 900, 50, moved=False),
        _batch(2, 1_900, 50, moved=False),
    ]
    random.Random(7).shuffle(progress)
    assert stream_drained(progress, timeout_ms=1_000)
