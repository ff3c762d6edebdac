"""Schema-enforced table readers.

The reference reads row-oriented JSONL with inference and in-memory lists
(``augmentation/utils.py:11-18``); here every scan is a lazy, schema-pinned
columnar read — predicate pushdown and column pruning come free from
Catalyst. Every table is a Parquet directory.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TRANSCRIPT_SCHEMA


def read_table(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Read the Parquet table at ``path``, with ``schema`` pinned when
    given (no inference pass)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    return read_table(spark, path, TRANSCRIPT_SCHEMA)


# a source above this size is either multi-row-group (splits fine on its
# own) or too big for a casual extra exchange
SPREAD_MAX_BYTES = 64 << 20


def spread_scan(df: DataFrame, source_path: str) -> DataFrame:
    """Input-skew fix (spark_optimization_guide §2.5 "one huge unsplittable
    file"): a single-row-group parquet file is unsplittable no matter what
    ``maxPartitionBytes`` says, so a scan of it yields ONE task and every
    narrow stage above the first exchange — Arrow kernels, explodes, regex
    projections, interpreted folds — runs on one core of the executor
    (measured round 6: the MinHash signature kernel spent 2.4 s single-core
    over a 0.6 MB documents file on a 32-core session). Round-robin
    repartition to the default parallelism immediately after the read when
    the source cannot fan out to the session's cores.

    The decision is a pure driver-side ``os.stat`` of ``source_path`` (a
    file or a parquet directory) — never a ``df.rdd`` probe, which would
    pay a full physical-planning pass inside the timed query build. Spread
    only when BOTH (a) the source has fewer files than cores (fewer files
    than cores can still split byte-wise, but a small single file is the
    single-row-group case) and (b) total bytes ≤ ``SPREAD_MAX_BYTES``.
    Production-sized multi-file tables are therefore always a no-op.
    Round-robin keeps retry-determinism via Spark's sort-before-repartition
    (SPARK-23207, on by default); row set and values are unchanged, so
    every oracle comparison is unaffected."""
    import glob
    import os

    dp = df.sparkSession.sparkContext.defaultParallelism
    if os.path.isdir(source_path):
        files = glob.glob(os.path.join(source_path, "*.parquet"))
    else:
        files = [source_path]
    try:
        total = sum(os.path.getsize(f) for f in files)
    except OSError:
        return df
    # spread only SEVERELY under-parallel sources: at least 4 cores
    # per existing scan split. An sf1-shaped 16-file/32-core docs scan
    # measured WORSE with the extra exchange (dup_spans 8.1 -> 17.5 s,
    # minhash 4.5 -> 7.0 s), while the 4-file embeddings scan kept its
    # order-of-magnitude win (brute ANN 83.7 -> 12.0 s at sf1) — the
    # crossover is parallelism deficit, not bytes alone.
    if len(files) * 4 > dp or total > SPREAD_MAX_BYTES:
        return df
    return df.repartition(dp)


def materialize(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """Compute ``df`` once and truncate its lineage — the one policy for a
    lineage that is read more than once downstream, so its upstream work
    does not re-execute per consumer.

    With ``checkpoint_dir`` the checkpoint is DURABLE (written under that
    directory via ``setCheckpointDir``): it survives executor loss and task
    retries on a real cluster. Without it, ``localCheckpoint`` keeps the
    blocks on the executors — cheaper in a single JVM, but lost with the
    executor that holds them."""
    if checkpoint_dir is None:
        return df.localCheckpoint()
    df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    return df.checkpoint()


def driver_table(spark: SparkSession, pdf: pd.DataFrame, ddl: str) -> DataFrame:
    """A small driver-side table as JVM-side data, with schema ``ddl``.

    A pandas frame goes to the JVM as Arrow batches, while a list of tuples
    becomes a PythonRDD whose first job starts a Python worker per core
    (CLAUDE.md lesson 21b). pyspark skips Arrow for a zero-row frame, so an
    empty table is built from ``spark.range(0)`` instead, which the
    optimizer also knows to be empty."""
    if len(pdf):
        return spark.createDataFrame(pdf, ddl)
    schema = T.StructType.fromDDL(ddl)
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema]
    )


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Reference S1 (read_jsonl): PERMISSIVE schema-pinned JSON scan; blank
    lines are dropped by the reader."""
    return spark.read.schema(schema).json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Reference S2 (write_jsonl) — for edge-compatibility only; internal
    tables are always columnar."""
    df.write.mode(mode).json(path)
