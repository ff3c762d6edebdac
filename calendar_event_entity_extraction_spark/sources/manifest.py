"""Per-stage lineage manifests + checkpoint-based resume.

The `north_rule` requires batch-with-resume: each pipeline stage writes its
output table plus a ``_lineage.json`` manifest recording the input
fingerprint, row count, per-file row counts, and read schema — the
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

The manifest records what the write committed: per-file row counts read
from the footers of the parquet files on disk (no Spark job), and the
schema the stage is read back with.
"""

from __future__ import annotations

import glob
import json
import os
import re
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

    The manifest's ``schema`` comes from ``df`` (``_written_schema``) and
    its row counts, one entry per committed file, from the footers of the
    parquet files on disk (~1 ms a file; ``glob``'s ``**`` skips the
    ``.spark-staging-*`` directories). A write of no rows may commit no
    file: then ``rows`` is 0 and ``partitions`` is empty. Neither costs a
    Spark job, and ``read_stage`` reads the stage back with that schema."""
    import pyarrow.parquet as pq

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
        # exchange makes it one file per partition value, at the standard
        # cost that a single giant partition value serializes into one task
        df = df.repartition(*[F.col(c) for c in partition_by])
    df.write.mode("overwrite").option(*_NO_SUCCESS_MARKER).partitionBy(
        *partition_by
    ).parquet(path)

    pattern = os.path.join(glob.escape(path), "**", "*.parquet")
    files = sorted(glob.glob(pattern, recursive=True))
    parts = [
        {"partition": i, "rows": pq.ParquetFile(f).metadata.num_rows}
        for i, f in enumerate(files)
    ]
    m = {
        "stage": stage,
        "input_fingerprint": input_fingerprint,
        "partition_by": partition_by,
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
    """True when the stage's manifest is present and holds this
    fingerprint: ``write_stage`` writes the manifest last, so its presence
    means the write committed."""
    m = read_manifest(out_dir, stage)
    return m is not None and m["input_fingerprint"] == input_fingerprint


def read_stage(spark: SparkSession, out_dir: str, stage: str) -> DataFrame:
    """Read a stage with the schema its manifest recorded: no footer-merge
    job (60-80 ms against ~10 ms), and a stage that committed no file
    reads as empty instead of failing schema inference. Spark globs every
    path it reads, so the stage path's Hadoop glob characters are escaped:
    an ``out_dir`` such as ``out[1]`` names itself, not a pattern."""
    schema = StructType.fromDDL(read_manifest(out_dir, stage)["schema"])
    path = re.sub(r"([\\*?\[\]{}])", r"\\\1", os.path.join(out_dir, stage))
    return spark.read.schema(schema).parquet(path)


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
