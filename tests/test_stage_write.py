"""The one stage writer, ``write_stage``: a stage is complete with the
caller's fingerprint, or it is cleared and rewritten whole. The manifest is
removed first and written last, so a kill at any point leaves a stage the
next run rebuilds; the kill test SIGKILLs a real writer mid-job."""

import os
import shutil
import signal
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from calendar_event_entity_extraction_spark.sources import manifest as mf

TESTS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TESTS)
LEFTOVER_PREFIXES = (".spark-staging-", "_temporary")


def _df(spark):
    return spark.createDataFrame(
        [(i, ["a", "b", "c", "d"][i % 4], i * 10) for i in range(400)],
        "id long, pred string, val long",
    )


def _digest(df):
    cols = sorted(df.columns)
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def test_complete_manifest_rewrites_every_partition(spark, tmp_path):
    """A complete manifest with the same fingerprint is no reason to keep
    data: ``write_stage`` always rewrites the stage in full."""
    out = str(tmp_path)
    df = _df(spark)
    mf.write_stage(df, out, "edges", "fp", partition_by=["pred"])
    changed = df.withColumn("val", F.lit(-1).cast("long"))
    m = mf.write_stage(changed, out, "edges", "fp", partition_by=["pred"])
    assert m["rows"] == 400
    vals = mf.read_stage(spark, out, "edges").select("val").distinct().collect()
    assert [r[0] for r in vals] == [-1]


@pytest.mark.parametrize("n", [400, 0])
def test_manifest_partition_metrics_sum_to_rows(spark, tmp_path, n):
    """The per-file counts sum to the rows written; a partitioned write of
    no rows commits no file, records none, and reads back empty."""
    out = str(tmp_path)
    df = _df(spark).filter(F.col("id") < n)
    m = mf.write_stage(df, out, "s", "fp", partition_by=["pred"])
    assert sum(p["rows"] for p in m["partitions"]) == m["rows"] == n
    assert len(m["partitions"]) == min(n, 4)
    back = mf.read_stage(spark, out, "s")
    assert back.count() == n
    assert back.columns == ["id", "val", "pred"]


def test_null_partition_value_round_trips(spark, tmp_path):
    """A null ``kind`` lands in hive's default partition and reads back as
    null, never dropped."""
    out = str(tmp_path)
    nodes = spark.createDataFrame(
        [(i, f"n{i}", ["attendee", "location", "event"][i % 3]) for i in range(299)]
        + [(299, "n299", None)],
        "node_id long, name string, kind string",
    )
    m = mf.write_stage(nodes, out, "nodes", "fp", partition_by=["kind"])
    back = mf.read_stage(spark, out, "nodes")
    assert back.count() == m["rows"] == 300
    assert back.filter(F.col("kind").isNull()).count() == 1


def test_new_fingerprint_rebuilds(spark, tmp_path):
    """A stage written under another fingerprint is not complete for this
    one, and its rewrite keeps none of the old partitions."""
    out = str(tmp_path)
    df = _df(spark)
    mf.write_stage(df, out, "edges", "fp-1", partition_by=["pred"])
    assert not mf.stage_is_complete(out, "edges", "fp-2")
    m = mf.write_stage(
        df.filter(F.col("pred") != "d"), out, "edges", "fp-2", partition_by=["pred"]
    )
    assert mf.stage_is_complete(out, "edges", "fp-2")
    assert not mf.stage_is_complete(out, "edges", "fp-1")
    assert m["rows"] == 300
    assert not os.path.exists(os.path.join(out, "edges", "pred=d"))


def test_kill_while_clearing_leaves_no_complete_manifest(spark, tmp_path, monkeypatch):
    """Clearing removes the manifest before any data file: a kill partway
    through the clear must not leave a complete, same-fingerprint manifest
    over a half-deleted stage, which a resume would skip and read."""
    out = str(tmp_path)
    df = _df(spark)
    mf.write_stage(df, out, "edges", "fp", partition_by=["pred"])
    real_rmtree = shutil.rmtree

    def killed_rmtree(path, *args, **kwargs):
        real_rmtree(os.path.join(path, "pred=a"))
        raise RuntimeError("killed mid-clear")

    monkeypatch.setattr(mf.shutil, "rmtree", killed_rmtree)
    with pytest.raises(RuntimeError, match="killed mid-clear"):
        mf.write_stage(df, out, "edges", "fp", partition_by=["pred"])
    monkeypatch.undo()
    assert not mf.stage_is_complete(out, "edges", "fp")


KILL_ROWS = 2_000_000
KILL_BUDGET_S = 60


def kill_rows(spark):
    """8 ``pred`` values with a 64-char pad: a write that runs for seconds,
    long enough to be killed while its tasks write."""
    return spark.range(KILL_ROWS).select(
        "id",
        (F.col("id") % 8).cast("string").alias("pred"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
    )


# argv: repo dir, tests dir, output dir
_KILLED_WRITER = """
import sys
sys.path[:0] = sys.argv[1:3]
from calendar_event_entity_extraction_spark.session import get_spark
from calendar_event_entity_extraction_spark.sources import manifest as mf
from test_stage_write import kill_rows
spark = get_spark(app_name="killed-write", cores=2)
mf.write_stage(kill_rows(spark), sys.argv[3], "edges", "fp", ["pred"])
"""


def _leftovers(stage_dir):
    """Paths of uncommitted job output under ``stage_dir``."""
    return [
        os.path.join(root, d)
        for root, dirs, _ in os.walk(stage_dir)
        for d in dirs
        if d.startswith(LEFTOVER_PREFIXES)
    ]


def _task_file_written(stage_dir):
    """True once a task has opened a parquet file under the job's staging
    or ``_temporary`` directory. ``os.walk``, not a glob: ``**`` skips the
    dot-prefixed ``.spark-staging-*`` directory."""
    for root, _, files in os.walk(stage_dir):
        rel = os.path.relpath(root, stage_dir)
        if rel.startswith(LEFTOVER_PREFIXES) and any(
            f.endswith(".parquet") for f in files
        ):
            return True
    return False


def _kill_group(child, deadline):
    """SIGKILL the child's process group (Python driver, JVM, Python
    workers), then wait until no process of the group is left."""
    try:
        os.killpg(child.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    child.wait()
    while True:
        try:
            os.killpg(child.pid, 0)
        except ProcessLookupError:
            return
        assert time.monotonic() < deadline, "killed writer's processes still run"
        time.sleep(0.05)


def test_killed_write_rebuilds_whole_and_leaves_no_leftovers(spark, tmp_path):
    out = str(tmp_path / "killed")
    stage_dir = os.path.join(out, "edges")
    log = tmp_path / "child.log"
    deadline = time.monotonic() + KILL_BUDGET_S
    with open(log, "w") as err:
        child = subprocess.Popen(
            [sys.executable, "-c", _KILLED_WRITER, REPO, TESTS, out],
            stdout=subprocess.DEVNULL,
            stderr=err,
            env={**os.environ, "SPARK_DRIVER_MEM": "1g"},
            start_new_session=True,
        )
    try:
        while not _task_file_written(stage_dir):
            if child.poll() is not None:
                pytest.fail(
                    f"writer exited ({child.returncode}) before a task file "
                    f"was seen:\n{log.read_text()[-2000:]}"
                )
            if time.monotonic() > deadline:
                pytest.fail(f"no task file within {KILL_BUDGET_S} s")
            time.sleep(0.05)
    finally:
        _kill_group(child, deadline + 30)

    assert not mf.stage_is_complete(out, "edges", "fp")
    resumed = mf.write_stage(kill_rows(spark), out, "edges", "fp", ["pred"])
    fresh_out = str(tmp_path / "fresh")
    fresh = mf.write_stage(kill_rows(spark), fresh_out, "edges", "fp", ["pred"])
    assert resumed["rows"] == fresh["rows"] == KILL_ROWS
    assert _digest(mf.read_stage(spark, out, "edges")) == _digest(
        mf.read_stage(spark, fresh_out, "edges")
    )
    assert _leftovers(stage_dir) == []
