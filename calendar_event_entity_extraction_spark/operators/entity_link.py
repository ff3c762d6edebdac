"""Entity pooling + linking + skew-safe aggregation.

Re-expresses the reference's entity machinery Spark-first:

* ``build_entity_pools`` (``augmentation/entity_pools.py:7-20``): a Counter
  over all attendees/locations, top-500 by frequency → here a hash aggregate
  + top-k, returned both as a DataFrame and as a small broadcast dictionary.
* entity linking (the reference's implicit name matching, SURVEY.md J2):
  a broadcast map-side join of extracted entity mentions against the pool —
  never a shuffle join, the dictionary is tiny by construction.
* salted two-phase aggregation for skewed hot keys (`north_rule`): hot
  entities ("Zoom" is ~28% of reference locations) concentrate a groupBy key;
  we pre-aggregate on (key, salt) then re-aggregate on key, turning one
  skewed reduce task into SALT_BUCKETS balanced ones.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    buckets: int = DEFAULT_SALT_BUCKETS,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join when the small side is too big to broadcast and
    the big side's key distribution is hot: the big side gets a random-ish
    (but deterministic) salt, the small side is replicated across all salt
    buckets, and the join runs on (key, salt) — a hot key's rows spread over
    ``buckets`` reducers instead of one. (AQE's skew-join split handles most
    cases; this is the explicit form for when it can't, e.g. aggregations
    downstream of the join keyed the same way.)"""
    salted_big = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(buckets))
    )
    replicated = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    ).withColumn("_salt", F.col("_salt").cast("long"))
    return salted_big.join(replicated, [key, "_salt"], how).drop("_salt")


def build_entity_pools(
    triples: DataFrame, pred: str, top_k: int = DEFAULT_TOP_K
) -> DataFrame:
    """Frequency-ranked top-k pool for one predicate (attendee / location).

    orderBy(desc(cnt), name) + limit = distributed top-k (Spark runs this as
    a per-partition TakeOrdered + driver merge, not a global sort).
    """
    mentions = triples.filter(F.col("pred") == pred).select(
        "event_id", "obj_idx", F.col("obj").alias("name")
    )
    counts = salted_count(
        mentions, "name", salt_cols=["event_id", "obj_idx", "name"]
    )
    return counts.orderBy(F.desc("cnt"), F.asc("name")).limit(top_k)


def pool_as_dict(pool: DataFrame) -> dict[str, int]:
    """Collect the (tiny) pool to a driver dict for broadcast."""
    return {r["name"]: i for i, r in enumerate(pool.collect())}


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

    The rank table is handed to Spark as a pandas frame with an explicit
    schema: with Arrow enabled the JVM builds it from Arrow batches, while
    a list of tuples becomes a PythonRDD whose broadcast job starts a
    Python worker per core just to read ≤ top_k rows.
    """
    spark = triples.sparkSession
    ranked = sorted(pool.collect(), key=lambda r: (-r["cnt"], r["name"]))
    names = [r["name"] for r in ranked]
    w_rank = spark.createDataFrame(
        pd.DataFrame({"name": names, "entity_rank": range(len(names))}),
        "name string, entity_rank int",
    )
    return triples.join(
        F.broadcast(w_rank),
        (F.col("pred") == pred) & (F.col("obj") == F.col("name")),
        "left",
    ).drop("name")
