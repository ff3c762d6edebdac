"""Per-stage lineage manifests + checkpoint-based resume.

The `north_rule` requires batch-with-resume: each pipeline stage writes its
output table plus a ``_lineage.json`` manifest recording the input
fingerprint, row count, per-partition row counts, and read schema — the
analog of the reference's HF ``checkpoint-*`` dirs
(``simple_output/checkpoint-277``), but content-addressed instead of
step-numbered.

One resume contract, kept by one writer: stage data is written only
through ``write_stage``. A stage is complete with the caller's
fingerprint, and may be skipped and re-read (``stage_is_complete`` +
``read_stage``), or it is cleared and rewritten; the manifest is removed
first and written last, so a kill anywhere in between leaves a stage
that the next run rebuilds. Like a ``checkpoint-*`` dir, a stage appears
whole or not at all. Whether a previous run is trusted at all is the
caller's choice (``run_pipeline(resume=False)`` trusts nothing).

Per-partition metrics come from the parquet footers, or from a
``spark_partition_id()`` grouping — an executor-side aggregation, not a
driver loop — when the stage wrote many files.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST_NAME = "_lineage.json"
# The manifest is a stage's completion marker, so the committer's _SUCCESS
# file is redundant; on a local file system without Hadoop's native library
# each file the committer creates costs a forked `chmod` (~13 ms on a
# 4-core VM), and its .crc sidecar a second one.
_NO_SUCCESS_MARKER = ("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")


def partition_metrics(df: DataFrame) -> list[dict]:
    rows = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count("*").alias("rows"))
        .collect()
    )
    return [{"partition": r["pid"], "rows": r["rows"]} for r in rows]


# footer-walk cutoff: below this many files the driver reads parquet
# footers directly (~1 ms each); above it the distributed aggregation wins
_FOOTER_WALK_MAX_FILES = 256


def written_partition_metrics(spark: SparkSession, path: str) -> list[dict]:
    """Per-partition row counts of a JUST-WRITTEN stage (round-6): for the
    common small-output case, read the parquet FOOTERS driver-side (row
    counts are manifest metadata — no Spark job, no data scan) with one
    entry per file, which is exactly the read-partition granularity at
    these sizes. Falls back to the executor-side
    ``spark_partition_id``-grouped aggregation when the stage wrote more
    than ``_FOOTER_WALK_MAX_FILES`` files — at cluster scale a driver loop
    over every file is the anti-pattern the original design avoided, and
    the distributed count reads only footer-backed metadata columns
    anyway. Contract unchanged: ≥1 entries whose rows sum to the stage
    total (pinned by tests/test_pipeline_resume.py)."""
    import glob

    files = sorted(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    if files and len(files) <= _FOOTER_WALK_MAX_FILES:
        try:
            import pyarrow.parquet as pq

            return [
                {"partition": i, "rows": pq.ParquetFile(f).metadata.num_rows}
                for i, f in enumerate(files)
            ]
        except Exception:
            pass
    return partition_metrics(spark.read.parquet(path))


def _written_schema(df: DataFrame, partition_by: list[str]) -> str:
    """The schema ``spark.read.parquet`` reports for what ``df`` writes
    partitioned by ``partition_by``: the data columns in order, then the
    partition columns in ``partitionBy`` order. Taken from ``df`` itself,
    so recording it costs no read-back; ``simpleString`` drops nullability,
    which matches the reader, as a parquet read is nullable throughout."""
    fields = [f for f in df.schema.fields if f.name not in partition_by]
    fields += [df.schema[c] for c in partition_by]
    return StructType(fields).simpleString()


def write_stage(
    df: DataFrame,
    out_dir: str,
    stage: str,
    input_fingerprint: str,
    partition_by: list[str] | None = None,
) -> dict:
    """Write a stage output (Parquet, optionally partitioned) + manifest;
    the one function that writes stage data.

    The stage is cleared, then rewritten by ONE plain overwrite job (all
    partitions in parallel, never a per-value driver loop). The manifest
    is removed first and written last: a kill at any point before the
    last step leaves a stage with no manifest, which a resume rebuilds,
    and never a complete manifest over partial data. Clearing removes the
    killed jobs' ``_temporary`` and ``.spark-staging-*`` leftovers too.
    ``_lineage.json`` starts with ``_`` so partition discovery ignores it.

    The manifest's ``schema`` comes from ``df`` (``_written_schema``) and,
    for small outputs, its row counts from the parquet footers, so the
    manifest costs no Spark job; ``read_stage`` then reads the stage back
    with that schema instead of inferring it."""
    path = os.path.join(out_dir, stage)
    partition_by = partition_by or []
    try:
        os.remove(os.path.join(path, MANIFEST_NAME))
    except FileNotFoundError:
        pass
    shutil.rmtree(path, ignore_errors=True)

    if partition_by:
        # hash-distribute by the partition columns before a partitioned
        # write (guide §6, the write.distribution-mode=hash analog): an
        # unshuffled write emits up to tasks × values files — measured 96
        # tiny files for the 8-pred edges stage at sf0.1 — while one
        # exchange makes it one file per partition value. The known trade
        # (a single giant partition value serializes into one task) is the
        # standard one; callers with that shape pass partition_by=None and
        # lay out the data themselves.
        df = df.repartition(*[F.col(c) for c in partition_by])
    df.write.mode("overwrite").option(*_NO_SUCCESS_MARKER).partitionBy(
        *partition_by
    ).parquet(path)

    # footer-backed metrics: no post-write Spark job for small outputs
    parts = written_partition_metrics(df.sparkSession, path)
    m = {
        "stage": stage,
        "input_fingerprint": input_fingerprint,
        "partition_by": partition_by,
        "complete": True,
        "rows": sum(p["rows"] for p in parts),
        "partitions": parts,
        "written_at": datetime.now(timezone.utc).isoformat(),
        "schema": _written_schema(df, partition_by),
    }
    write_manifest(out_dir, stage, m)
    return m


def read_manifest(out_dir: str, stage: str) -> dict | None:
    p = os.path.join(out_dir, stage, MANIFEST_NAME)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def stage_is_complete(out_dir: str, stage: str, input_fingerprint: str) -> bool:
    m = read_manifest(out_dir, stage)
    return (
        m is not None
        and m.get("input_fingerprint") == input_fingerprint
        and m.get("complete", True)
    )


def read_stage(spark: SparkSession, out_dir: str, stage: str) -> DataFrame:
    """Read a stage with the schema its manifest recorded. Without a schema
    the reader merges the parquet footers in a one-task Spark job (60-80 ms
    against ~10 ms); a manifest that has no ``schema`` still reads, by
    inference."""
    m = read_manifest(out_dir, stage)
    reader = spark.read
    if m and m.get("schema"):
        reader = reader.schema(StructType.fromDDL(m["schema"]))
    return reader.parquet(os.path.join(out_dir, stage))


def write_stage_partitioned_resumable(
    df: DataFrame,
    out_dir: str,
    stage: str,
    input_fingerprint: str,
    partition_col: str,
) -> dict:
    """``write_stage`` partitioned by one column. Kept for the benchmark
    ladder, which calls it by this name; it goes once that ladder reads the
    package's own layer ledger instead of replaying the pipeline
    (ROADMAP.md item 1)."""
    return write_stage(df, out_dir, stage, input_fingerprint, [partition_col])


def write_manifest(out_dir: str, stage: str, manifest: dict) -> None:
    """Write the manifest atomically: dump to a temporary sibling, then
    ``os.replace`` it into place. A kill mid-dump leaves only the
    temporary file (its ``_`` prefix keeps Spark from reading it), so a
    stage never carries a truncated manifest that a resume cannot parse;
    with no manifest the stage is rebuilt."""
    path = os.path.join(out_dir, stage, MANIFEST_NAME)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2)
    os.replace(tmp, path)
