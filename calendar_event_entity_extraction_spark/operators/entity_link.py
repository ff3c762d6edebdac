"""Entity pooling + linking + skew-safe aggregation.

Re-expresses the reference's entity machinery Spark-first:

* ``build_entity_pools`` (``augmentation/entity_pools.py:7-20``): a Counter
  over all attendees/locations, top-500 by frequency → here ONE
  (pred, name) hash aggregate over both predicates (map-side partial
  combine absorbs hot names like "Zoom" before the exchange) and a per-pred
  top-k window over the counts.
* entity linking (the reference's implicit name matching, SURVEY.md J2):
  a broadcast map-side join of extracted entity mentions against the pool —
  never a shuffle join, the dictionary is tiny by construction.
* salted two-phase aggregation for skewed hot keys (`north_rule`): hot
  keys concentrate a groupBy key; we pre-aggregate on (key, salt) then
  re-aggregate on key, turning one skewed reduce task into SALT_BUCKETS
  balanced ones.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.tables import driver_table

DEFAULT_TOP_K = 500
DEFAULT_SALT_BUCKETS = 16


def salted_count(
    df: DataFrame,
    key: str,
    buckets: int = DEFAULT_SALT_BUCKETS,
    salt_cols: list[str] | None = None,
    seed: int = 7,
) -> DataFrame:
    """groupBy(key).count() as a salted two-phase aggregate.

    Phase 1 groups on (key, salt) where salt = pmod(xxhash64(salt_cols,
    seed), buckets) — map-side partial aggregation already balances most of
    it, the explicit salt guarantees no single reducer owns a hot key's
    entire stream. Phase 2 sums the per-salt partials.

    The salt derives from deterministic ROW CONTENT (salt_cols, default: all
    columns), never ``monotonically_increasing_id`` — that id changes under
    repartitioning/task retry, which could re-salt rows between the partial
    and final aggregates (CLAUDE.md invariant #3). Pass distinguishing key
    columns (e.g. ``(conv_id, turn_idx)``) so a hot key's rows actually
    spread across buckets; salting on the key column alone degenerates to
    one bucket per key value.
    """
    cols = salt_cols or df.columns
    salted = df.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in cols], F.lit(seed)), F.lit(buckets)),
    )
    partial = salted.groupBy(key, "_salt").agg(F.count("*").alias("_pc"))
    return partial.groupBy(key).agg(F.sum("_pc").alias("cnt"))


def build_entity_pools(
    triples: DataFrame, top_k: int | None = DEFAULT_TOP_K
) -> DataFrame:
    """Frequency-ranked attendee and location pools: (name, cnt, pred).

    One (pred, name) count over both predicates' triples — a single scan
    and aggregate, not one per predicate — then a per-pred ``row_number``
    window over the COUNTS (a few hundred distinct names per pred, bounded
    by vocabulary, never by corpus) keeps the ``top_k`` most frequent names
    per pred, ties broken by ascending name. ``top_k=None`` keeps every
    name (the whole Counter, no window)."""
    counts = (
        triples.filter(F.col("pred").isin("attendee", "location"))
        .groupBy("pred", F.col("obj").alias("name"))
        .agg(F.count("*").alias("cnt"))
    )
    if top_k is not None:
        w = Window.partitionBy("pred").orderBy(F.desc("cnt"), F.asc("name"))
        counts = counts.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= top_k
        )
    return counts.select("name", "cnt", "pred")


def link_entities(triples: DataFrame, pool: DataFrame, pred: str) -> DataFrame:
    """Attach a stable entity_rank id to triples of ``pred`` via a broadcast
    join against the pool; unlinked mentions keep entity_rank = null.

    The pool side is forced broadcast — at 100 TB the triples side never
    shuffles for this join. The pool is ≤ top_k rows by construction
    (post-limit), so it is ranked on the DRIVER (one collect of a tiny
    frame) instead of an unpartitioned window — a global window over even a
    tiny input single-partitions that stage and (a foldable constant
    partition key gets optimized away, bringing the WindowExec
    single-partition warning right back).

    The rank table is handed to Spark as JVM-side data
    (``sources.tables.driver_table``): a PythonRDD would start a Python
    worker per core in the broadcast job just to read ≤ top_k rows. An
    empty pool gives an empty table the optimizer folds the join away on.
    """
    spark = triples.sparkSession
    ranked = sorted(pool.collect(), key=lambda r: (-r["cnt"], r["name"]))
    names = [r["name"] for r in ranked]
    w_rank = driver_table(
        spark,
        pd.DataFrame({"name": names, "entity_rank": range(len(names))}),
        "name string, entity_rank int",
    )
    return triples.join(
        F.broadcast(w_rank),
        (F.col("pred") == pred) & (F.col("obj") == F.col("name")),
        "left",
    ).drop("name")
