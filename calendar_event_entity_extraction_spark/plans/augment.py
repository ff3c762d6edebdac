"""EP1 — the reference's data-augmentation pipeline, Spark-first.

Mirrors ``augmentation/main.py:103-194`` (``process``): canonicalize →
normalize date/time → build entity pools → per-row augment (entity swap OR
template re-render, deterministic choice) → dedup → seeded shuffle →
sanitize → hash split → leakage anti-join. The reference is eager
single-threaded Python lists; here it is one lazy DataFrame DAG with two
wide stages (pool aggregate, dedup) and one global sort (the seeded
shuffle, which the reference needs for split assignment — our hash split
doesn't, so the sort exists only to reproduce the reference's ordered
output contract when materializing JSONL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.datetime_norm import date_norm_col, time_norm_col
from ..operators.augment import (
    deterministic_shuffle,
    render_template_col,
    swap_entities_with_pools,
)
from ..operators.dedup import canonical_json_signature, dedup_first_wins
from ..operators.entity_link import build_entity_pools
from ..operators.schema_enforce import enforce_event_schema, event_struct_col
from ..operators.splits import assign_split, drop_split_leakage


def augment_pipeline(events: DataFrame, seed: int = 42) -> DataFrame:
    """events (text + 8 gold fields + conv_id/turn_idx) → augmented rows
    with split labels. Returns the post-leakage-drop dataset."""
    ev = enforce_event_schema(events)

    # P3/P4: force-normalize gold date/time (the augmentation regime —
    # unlike the live-splits regime, even ISO/24-h forms are normalized)
    ev = ev.withColumn(
        "date", F.coalesce(date_norm_col(F.col("date")), F.col("date"))
    ).withColumn("time", F.coalesce(time_norm_col(F.col("time")), F.col("time")))

    # A1: entity pools (top-k by frequency), collected + broadcast — both
    # halves of the reference's swap_entities_with_pools (augmentors.py:16-39)
    mentions = ev.filter(F.col("location").isNotNull()).select(
        F.lit("location").alias("pred"), F.col("location").alias("obj")
    ).unionByName(
        ev.select(F.lit("attendee").alias("pred"), F.explode("attendees").alias("obj"))
    )
    ranked = sorted(
        build_entity_pools(mentions).collect(), key=lambda r: (-r["cnt"], r["name"])
    )
    loc_pool = [r["name"] for r in ranked if r["pred"] == "location"] or ["Zoom"]
    att_pool = [r["name"] for r in ranked if r["pred"] == "attendee"] or ["Alex"]

    # per-row augment: candidate A (entity swap) vs B (template re-render),
    # chosen by seeded hash of the row key (reference: random.choice)
    key = F.concat_ws("|", F.col("conv_id"), F.col("turn_idx").cast("string"))
    choice = F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(2))

    cand_a = swap_entities_with_pools(ev, att_pool, loc_pool)
    rendered = render_template_col(key, seed + 1)
    aug = cand_a.withColumn(
        "text", F.when(choice == 1, rendered).otherwise(F.col("text"))
    )

    # J5: dedup on (text, sorted-keys JSON) signature, first-wins
    aug = aug.withColumn(
        "_sig",
        F.concat_ws("", F.col("text"), canonical_json_signature(event_struct_col())),
    )
    aug = dedup_first_wins(aug, ["_sig"], "conv_id").drop("_sig")

    # O2 + sanitize + O3 split + J4 leakage
    aug = deterministic_shuffle(aug, ["conv_id", "turn_idx"], seed + 2)
    aug = enforce_event_schema(aug)
    aug = assign_split(
        aug.withColumn("_k", F.xxhash64("conv_id", "turn_idx")), "_k"
    ).drop("_k")
    return drop_split_leakage(aug)
