"""Watermarked windowed aggregation over the streaming extraction: late
windows emit once the watermark passes them (append mode)."""

import datetime as dt

import pytest
from streams import drain_to_memory

from calendar_event_entity_extraction_spark.operators.extract import extract_events
from calendar_event_entity_extraction_spark.schemas import TRANSCRIPT_SCHEMA
from calendar_event_entity_extraction_spark.streaming.extract_stream import (
    streaming_dedup_events,
    streaming_extract,
    windowed_event_counts,
)


def _req(conv, turn, ts):
    return (conv, turn, "user", "Team sync on 10/05/2024 at 4pm.", None, ts)


def test_watermarked_window_counts(spark, tmp_path):
    base = str(tmp_path / "wm_in")
    h0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    # batch 1: three events inside hour 0, one in hour 1
    b1 = [
        _req("a", 0, h0 + dt.timedelta(minutes=5)),
        _req("b", 0, h0 + dt.timedelta(minutes=25)),
        _req("c", 0, h0 + dt.timedelta(minutes=45)),
        _req("d", 0, h0 + dt.timedelta(hours=1, minutes=10)),
    ]
    # batch 2: event far in the future — advances the watermark past hour 1
    b2 = [_req("e", 0, h0 + dt.timedelta(hours=9))]
    spark.createDataFrame(b1, TRANSCRIPT_SCHEMA).coalesce(1).write.parquet(base)
    spark.createDataFrame(b2, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(base)

    ev = streaming_extract(spark, base)
    agg = windowed_event_counts(ev, window="1 hour", watermark="2 hours")
    rows = {
        r["window_start"]: r["n_events"]
        for r in drain_to_memory(agg, "wm_out").collect()
    }
    # hour-0 and hour-1 windows closed by the advanced watermark
    assert rows.get(h0) == 3
    assert rows.get(h0 + dt.timedelta(hours=1)) == 1
    # the hour-9 window is still open (watermark hasn't passed it) → absent
    assert h0 + dt.timedelta(hours=9) not in rows


H0 = dt.datetime(2024, 3, 1, 0, 0, 0)
BUDGET = "Budget review on 11/05/2024 at 9:00 am."

# input files, one micro-batch each → the (conv_id, turn_idx) that survive
DEDUP_INPUTS = {
    # the echo (a, 1) arrives in the same micro-batch as (a, 0)
    "same_batch": (
        [[
            _req("a", 0, H0),
            _req("a", 1, H0 + dt.timedelta(minutes=1)),
            _req("b", 0, H0 + dt.timedelta(minutes=2)),
        ]],
        [("a", 0), ("b", 0)],
    ),
    # c1's late echo at turn 3 arrives in the second micro-batch
    "across_batches": (
        [
            [_req("c1", 0, H0), ("c2", 0, "user", BUDGET, None, H0)],
            [_req("c1", 3, H0), ("c3", 1, "user", BUDGET, None, H0)],
        ],
        [("c1", 0), ("c2", 0), ("c3", 1)],
    ),
}


@pytest.mark.parametrize("case", sorted(DEDUP_INPUTS))
def test_streaming_dedup_within_watermark(spark, tmp_path, case):
    """An echo of an event (same conv_id, action, date, time) is dropped
    whether it arrives in the same micro-batch or a later one; the first
    arrival wins."""
    files, expected = DEDUP_INPUTS[case]
    base = str(tmp_path / "dedup_in")
    for rows in files:
        spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(base)
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    dd = streaming_dedup_events(extract_events(stream).drop("attendees"))
    out = drain_to_memory(dd, f"dedup_{case}").collect()
    got = sorted((r["conv_id"], r["turn_idx"]) for r in out)
    assert got == expected, got


def test_streaming_curate_gates_and_dedup(spark, tmp_path):
    """The curation gates run unchanged under readStream (stateless maps),
    and exact dedup holds across micro-batches with bounded state: the
    duplicate text in batch 2 is dropped, the short/degenerate docs never
    pass the gates."""
    import datetime as dt

    from calendar_event_entity_extraction_spark.streaming.extract_stream import (
        streaming_curate,
    )

    base = str(tmp_path / "curate_in")
    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    good = "a perfectly ordinary document with more than ten whitespace tokens inside"
    other = "another reasonable document body that easily clears every quality gate here"
    schema = "doc_id long, text string, ts timestamp"
    b1 = [
        (1, good, t0),
        (2, "too short", t0),                      # fails min_tokens
        (3, "x " * 40 + "x", t0),                  # fails repetition gates
    ]
    b2 = [
        (4, good, t0 + dt.timedelta(minutes=10)),  # duplicate of doc 1
        (5, other, t0 + dt.timedelta(minutes=20)),
    ]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(base)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(base)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(base)
    )
    out = drain_to_memory(streaming_curate(stream), "curate_out")
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 5], kept
