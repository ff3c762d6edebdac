"""Per-stage lineage manifests + checkpoint-based resume.

The `north_rule` requires batch-with-resume: each pipeline stage writes its
output table plus a ``_lineage.json`` manifest recording the input
fingerprint, row count, per-partition row counts, and read schema — the
analog of the reference's HF ``checkpoint-*`` dirs
(``simple_output/checkpoint-277``), but content-addressed instead of
step-numbered.

One resume contract, kept by one writer: stage data is written only
through ``write_stage``. A stage whose manifest is complete and carries
the caller's fingerprint may be skipped and re-read (``stage_is_complete``
+ ``read_stage``); a partitioned stage killed mid-write resumes by writing
only its missing partitions; any other write starts from an empty stage
directory. Whether a previous run is trusted at all is the caller's
choice (``run_pipeline(resume=False)`` trusts nothing).

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

    A partitioned stage resumes per partition: when its manifest carries
    the same fingerprint and ``partition_by`` but says ``complete: false``
    (a write was killed partway), the values of the first partition column
    listed in ``partitions_done`` are kept and only the rest is written.
    Any other manifest, or none, means the stage directory is cleared and
    everything is written. Either way ONE Spark job writes all pending
    partitions in parallel (never a per-value driver loop) with dynamic
    partition overwrite, which replaces only the partitions present in the
    pending data, so kept hive directories are untouched. That job's
    commit renames each finished partition directory into place, so the
    committed directory listing is what ``partitions_done`` records.
    Partition values must be path-safe (hive dir names are the resume key);
    ``_lineage.json`` starts with ``_`` so partition discovery ignores it.

    The manifest's ``schema`` comes from ``df`` (``_written_schema``) and,
    for small outputs, its row counts from the parquet footers, so the
    manifest costs no Spark job; ``read_stage`` then reads the stage back
    with that schema instead of inferring it."""
    path = os.path.join(out_dir, stage)
    partition_by = partition_by or []
    m = read_manifest(out_dir, stage)
    if not (
        partition_by
        and m
        and not m.get("complete", True)
        and m.get("input_fingerprint") == input_fingerprint
        and m.get("partition_by") == partition_by
    ):
        shutil.rmtree(path, ignore_errors=True)
        m = {
            "stage": stage,
            "input_fingerprint": input_fingerprint,
            "partition_by": partition_by,
            "partitions_done": [],
            "complete": False,
        }
        if partition_by:
            write_manifest(out_dir, stage, m)

    pending = df
    if m["partitions_done"]:
        # a null value (hive's default partition) is never kept: rewritten
        done = F.col(partition_by[0]).cast("string").isin(m["partitions_done"])
        pending = df.filter(~F.coalesce(done, F.lit(False)))
    if partition_by:
        # hash-distribute by the partition columns before a partitioned
        # write (guide §6, the write.distribution-mode=hash analog): an
        # unshuffled write emits up to tasks × values files — measured 96
        # tiny files for the 8-pred edges stage at sf0.1 — while one
        # exchange makes it one file per partition value. The known trade
        # (a single giant partition value serializes into one task) is the
        # standard one; callers with that shape pass partition_by=None and
        # lay out the data themselves.
        pending = pending.repartition(*[F.col(c) for c in partition_by])
    pending.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).option(*_NO_SUCCESS_MARKER).partitionBy(*partition_by).parquet(path)

    if partition_by:
        prefix = f"{partition_by[0]}="
        m["partitions_done"] = sorted(
            d[len(prefix):] for d in os.listdir(path) if d.startswith(prefix)
        )
    # footer-backed metrics: no post-write Spark job for small outputs
    parts = written_partition_metrics(df.sparkSession, path)
    m.update(
        {
            "complete": True,
            "rows": sum(p["rows"] for p in parts),
            "partitions": parts,
            "written_at": datetime.now(timezone.utc).isoformat(),
            "schema": _written_schema(df, partition_by),
        }
    )
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
