"""Partition-level checkpoint resume: a partitioned stage killed mid-write
restarts by writing ONLY the missing partitions (north_rule per-partition
lineage), through the one stage writer ``write_stage``."""

import os

from pyspark.sql import functions as F

from calendar_event_entity_extraction_spark.sources import manifest as mf


def _df(spark):
    return spark.createDataFrame(
        [(i, ["a", "b", "c", "d"][i % 4], i * 10) for i in range(400)],
        "id long, pred string, val long",
    )


def _kill_after(out, stage, done):
    """Leave ``stage`` as a write killed after committing ``done``: the
    manifest of an unfinished write, listing those partitions."""
    partial = mf.read_manifest(out, stage)
    partial["partitions_done"] = done
    partial["complete"] = False
    mf.write_manifest(out, stage, partial)


def test_partition_level_resume(spark, tmp_path):
    out = str(tmp_path)
    df = _df(spark)
    fp = "fp-1"

    # simulate a kill after two partitions: the two written partition dirs
    # plus the manifest of an unfinished write
    mf.write_stage(
        df.filter(F.col("pred").isin("a", "b")), out, "edges", fp,
        partition_by=["pred"],
    )
    _kill_after(out, "edges", ["a", "b"])
    a_mtime = os.path.getmtime(os.path.join(out, "edges", "pred=a"))

    # resume with the full input: only c and d get written
    m2 = mf.write_stage(df, out, "edges", fp, partition_by=["pred"])
    assert m2["complete"] and sorted(m2["partitions_done"]) == ["a", "b", "c", "d"]
    assert os.path.getmtime(os.path.join(out, "edges", "pred=a")) == a_mtime
    back = spark.read.parquet(os.path.join(out, "edges"))
    assert back.count() == 400
    assert back.select("pred").distinct().count() == 4

    # changed input fingerprint → full rebuild
    m3 = mf.write_stage(df, out, "edges", "fp-2", partition_by=["pred"])
    assert m3["input_fingerprint"] == "fp-2" and m3["complete"]
    assert spark.read.parquet(os.path.join(out, "edges")).count() == 400


def test_killed_nodes_write_resumes_missing_kinds(spark, tmp_path):
    """The nodes stage (partitioned by ``kind``) resumes through the same
    writer: a killed write keeps its committed kinds and writes the rest.
    A null kind lands in hive's default partition; it is rewritten on
    resume, never dropped."""
    out = str(tmp_path)
    nodes = spark.createDataFrame(
        [(i, f"n{i}", ["attendee", "location", "event"][i % 3]) for i in range(299)]
        + [(299, "n299", None)],
        "node_id long, name string, kind string",
    )
    mf.write_stage(
        nodes.filter(F.col("kind") == "event"), out, "nodes", "fp",
        partition_by=["kind"],
    )
    _kill_after(out, "nodes", ["event"])
    event_dir = os.path.join(out, "nodes", "kind=event")
    event_mtime = os.path.getmtime(event_dir)

    m = mf.write_stage(nodes, out, "nodes", "fp", partition_by=["kind"])
    assert m["complete"] and m["partitions_done"] == [
        "__HIVE_DEFAULT_PARTITION__", "attendee", "event", "location"
    ]
    assert os.path.getmtime(event_dir) == event_mtime
    back = mf.read_stage(spark, out, "nodes")
    assert back.count() == m["rows"] == 300
    assert back.filter(F.col("kind").isNull()).count() == 1


def test_complete_manifest_rewrites_every_partition(spark, tmp_path):
    """Only an unfinished write is resumed: a complete manifest with the
    same fingerprint is rewritten in full, never skipped partition-wise."""
    out = str(tmp_path)
    df = _df(spark)
    mf.write_stage(df, out, "edges", "fp", partition_by=["pred"])
    changed = df.withColumn("val", F.lit(-1).cast("long"))
    m = mf.write_stage(changed, out, "edges", "fp", partition_by=["pred"])
    assert m["complete"] and m["rows"] == 400
    vals = mf.read_stage(spark, out, "edges").select("val").distinct().collect()
    assert [r[0] for r in vals] == [-1]


def test_manifest_partition_metrics_sum_to_rows(spark, tmp_path):
    out = str(tmp_path)
    m = mf.write_stage(_df(spark), out, "s", "fp", partition_by=["pred"])
    assert sum(p["rows"] for p in m["partitions"]) == m["rows"] == 400
