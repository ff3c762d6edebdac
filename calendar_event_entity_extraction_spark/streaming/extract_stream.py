"""Structured-Streaming face of the engine.

The reference is batch-only; the engine's extraction stage is stateless
per-row, so the exact same Column expressions run unchanged under
``readStream`` — one definition, two execution modes. Late transcript turns
are handled with an event-time watermark; windowed per-conversation rollups
use append-mode watermarked aggregation. The streaming canonicalizer is
``streaming_dedup_events``: Spark's built-in ``dropDuplicatesWithinWatermark``
keeps the first arrival of an event key, also when its echo arrives in a
later micro-batch, and drops the key's state once the watermark passes.

(The `north_rule`'s resume requirement is batch-with-manifests — see
plans/pipeline.py; streaming here is the continuous-ingest variant.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_events
from ..schemas import TRANSCRIPT_SCHEMA


def streaming_extract(spark: SparkSession, input_dir: str) -> DataFrame:
    """readStream over a transcripts directory → streaming events frame.
    Extraction is narrow, so it's a stateless streaming map."""
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    return extract_events(stream)


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window event counts (late rows beyond the
    watermark are dropped deterministically)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def streaming_dedup_events(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup: drop co-referent re-detections of the same
    event, within a micro-batch or across micro-batches.
    ``dropDuplicatesWithinWatermark`` keys state on the merge key
    (conv_id, action, date, time) and EVICTS it once the watermark passes —
    bounded state at any stream length, unlike a plain dropDuplicates or a
    per-key Python state function whose state grows forever. The batch
    analog is canonicalize_events (first-wins); within a watermark window
    the first arrival wins here too."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "action", "date", "time"]
    )


def streaming_curate(
    docs: DataFrame,
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Continuous-ingest curation: the SAME narrow gates as
    ``plans/curate.curate_full`` (``quality_ok_col`` + Gopher repetition — pure
    stateless streaming maps, one definition for both modes), then
    bounded-state exact dedup on the normalized text fingerprint via
    ``dropDuplicatesWithinWatermark`` — state for a fingerprint is dropped
    once the watermark passes it, so dedup memory is bounded by the
    watermark horizon instead of the stream's lifetime.

    Semantics difference vs the batch path, by design: batch first-wins
    keeps the MIN doc_id; a stream keeps the FIRST ARRIVAL (there is no
    global order in an unbounded stream). Both are deterministic for their
    execution mode."""
    from ..functions.text import (
        fingerprint_col,
        quality_ok_col,
        repetition_keep_udf,
    )

    text = F.col("text")
    return (
        # same Arrow-kernel gate as the batch composite (repetition_keep_udf
        # docstring) — pandas UDFs run unchanged under readStream
        docs.filter(quality_ok_col(text) & repetition_keep_udf()(text))
        .withColumn("_fp", fingerprint_col(text))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_fp"])
        .drop("_fp")
    )
