"""End-to-end pipeline + checkpoint/resume idempotence (SURVEY.md §7.2 #9)."""

import os
import shutil
import subprocess
import sys
import threading
import uuid
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.util import InheritableThread
from specs import HOSTILE_TEXTS

from calendar_event_entity_extraction_spark.operators.triples import events_to_triples
from calendar_event_entity_extraction_spark.plans.pipeline import (
    STAGES,
    input_fingerprint,
    run_pipeline,
)
from calendar_event_entity_extraction_spark.schemas import TRANSCRIPT_SCHEMA
from calendar_event_entity_extraction_spark.sources import manifest as mf
from calendar_event_entity_extraction_spark.sources.tables import read_transcripts
from calendar_event_entity_extraction_spark.synth import keys_df, transcripts_from_keys

N = 800


@pytest.fixture(scope="module")
def out_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("kg_out"))




def _n_events(n):
    from calendar_event_entity_extraction_spark.synth.grammar import has_second_event

    return n + sum(1 for k in range(n) if has_second_event(k))


def test_pipeline_runs_and_materializes_graph(spark, out_dir):
    tr = transcripts_from_keys(keys_df(spark, N))
    m = run_pipeline(spark, tr, out_dir)
    assert list(m) == ["events", "entity_pools", "edges", "nodes"]
    assert m["events"]["rows"] == _n_events(N)
    edges = spark.read.parquet(f"{out_dir}/edges")
    nodes = spark.read.parquet(f"{out_dir}/nodes")
    # edge table partitioned by pred on disk
    assert edges.select("pred").distinct().count() >= 7
    # linked attendee edges got an entity_rank from the broadcast pool
    linked = edges.filter(
        (F.col("pred") == "attendee") & F.col("entity_rank").isNotNull()
    )
    assert linked.count() == edges.filter(F.col("pred") == "attendee").count()
    assert nodes.filter(F.col("kind") == "event").count() == _n_events(N)
    # per-partition lineage metrics present
    assert len(m["edges"]["partitions"]) >= 1
    assert sum(p["rows"] for p in m["edges"]["partitions"]) == m["edges"]["rows"]


def test_resume_skips_completed_stages(spark, out_dir):
    tr = transcripts_from_keys(keys_df(spark, N))
    m2 = run_pipeline(spark, tr, out_dir, resume=True)
    assert all(man.get("resumed") for man in m2.values()), {
        k: v.get("resumed") for k, v in m2.items()
    }


def test_resume_recomputes_on_input_change(spark, out_dir):
    tr2 = transcripts_from_keys(keys_df(spark, N + 50))
    m3 = run_pipeline(spark, tr2, out_dir, resume=True)
    assert not any(man.get("resumed") for man in m3.values())
    assert m3["events"]["rows"] == _n_events(N + 50)


def test_edge_table_partition_pruning(spark, out_dir):
    """A ``pred``-filtered read of the pipeline's edge table must scan ONLY
    that partition's files (round-4 verdict #5: the provable half of the
    Iceberg-catalog story without catalog jars). Proven physically via the
    scan's executed metrics — ``numPartitions`` = 1 of the ≥7 on disk and
    ``numFiles`` = exactly the files under ``pred=attendee/`` — not just by
    the PartitionFilters string."""
    import glob
    import os

    edges_path = f"{out_dir}/edges"
    q = spark.read.parquet(edges_path).filter(F.col("pred") == "attendee").select(
        "event_id", "obj"
    )
    q.collect()
    plan_str = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan_str and "attendee" in plan_str

    def leaves(node):
        n = node.children().size()
        return (
            [node]
            if n == 0
            else [x for i in range(n) for x in leaves(node.children().apply(i))]
        )

    scans = [
        leaf
        for leaf in leaves(q._jdf.queryExecution().executedPlan())
        if "Scan" in leaf.nodeName()
    ]
    assert len(scans) == 1
    metrics = {}
    it = scans[0].metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[kv._1()] = kv._2().value()
    n_partitions_on_disk = len(glob.glob(os.path.join(edges_path, "pred=*")))
    attendee_files = glob.glob(
        os.path.join(edges_path, "pred=attendee", "*.parquet")
    )
    assert n_partitions_on_disk >= 7
    assert metrics["numPartitions"] == 1
    assert metrics["numFiles"] == len(attendee_files) > 0


# Spark jobs of a fresh run_pipeline at this size. Recording a stage's
# manifest and reading the stage back launch no job (they once ran two
# one-task footer-merge reads per stage).
FRESH_BUILD_JOBS = 14


def _count_jobs(spark, fn):
    """(result of ``fn()``, number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    # the status store is fed by the listener bus, which may lag the action
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def fresh_build(spark, tmp_path_factory):
    """A fresh build into its own directory, with its Spark job count."""
    out = str(tmp_path_factory.mktemp("kg_fresh"))
    tr = transcripts_from_keys(keys_df(spark, N))
    _, n_jobs = _count_jobs(
        spark, lambda: run_pipeline(spark, tr, out, resume=False)
    )
    return out, n_jobs


@pytest.fixture
def fresh_copy(fresh_build, tmp_path):
    """A private copy of ``fresh_build``'s output, for tests that change it."""
    out = str(tmp_path / "kg")
    shutil.copytree(fresh_build[0], out)
    return out


def test_fresh_build_job_budget(fresh_build):
    _, n_jobs = fresh_build
    assert n_jobs <= FRESH_BUILD_JOBS, n_jobs


def test_full_resume_runs_only_fingerprint_jobs(spark, fresh_build):
    out, _ = fresh_build
    tr = transcripts_from_keys(keys_df(spark, N))
    _, fp_jobs = _count_jobs(spark, lambda: input_fingerprint(tr))
    m, resume_jobs = _count_jobs(spark, lambda: run_pipeline(spark, tr, out))
    assert all(man.get("resumed") for man in m.values())
    assert resume_jobs == fp_jobs, (resume_jobs, fp_jobs)


def test_read_stage_schema_matches_inference(spark, fresh_build):
    """The schema a manifest records is the one inference would find:
    names, types, order and nullability, partitioned stages included."""
    out, _ = fresh_build
    for stage in STAGES:
        assert mf.read_manifest(out, stage)["schema"]
        pinned = mf.read_stage(spark, out, stage).schema
        inferred = spark.read.parquet(os.path.join(out, stage)).schema
        assert pinned == inferred, (stage, pinned, inferred)


def test_stage_writes_skip_success_marker(fresh_build):
    """The manifest marks a stage complete, so no stage writes the
    committer's _SUCCESS file (each costs a forked chmod, plus one for its
    .crc sidecar, on a local file system)."""
    out, _ = fresh_build
    for stage in STAGES:
        names = os.listdir(os.path.join(out, stage))
        assert mf.MANIFEST_NAME in names, stage
        assert not [n for n in names if "_SUCCESS" in n], (stage, names)


def test_interrupted_manifest_write_rebuilds_on_resume(
    spark, fresh_build, tmp_path, monkeypatch
):
    """A kill while a stage's manifest is being written must not leave a
    truncated manifest behind: the resume rebuilds that stage (instead of
    failing to parse it) and the output matches a clean build."""
    out = str(tmp_path / "kg")
    tr = transcripts_from_keys(keys_df(spark, N))
    real_dump = mf.json.dump

    def dump_killed_mid_pools(obj, f, **kw):
        if obj.get("stage") == "entity_pools":
            f.write('{"stage": "ent')
            raise RuntimeError("killed mid-dump")
        return real_dump(obj, f, **kw)

    monkeypatch.setattr(mf.json, "dump", dump_killed_mid_pools)
    with pytest.raises(RuntimeError, match="killed mid-dump"):
        run_pipeline(spark, tr, out, resume=False)
    monkeypatch.undo()

    m = run_pipeline(spark, tr, out)
    assert m["events"].get("resumed") and not m["entity_pools"].get("resumed")
    clean = fresh_build[0]
    assert {s: _digest(mf.read_stage(spark, out, s)) for s in STAGES} == {
        s: _digest(mf.read_stage(spark, clean, s)) for s in STAGES
    }


def test_killed_partition_resume_leftovers_rebuild(spark, fresh_build, fresh_copy):
    """What a write killed mid-job leaves behind: a cleared stage with no
    manifest and the killed job's ``.spark-staging-*`` directory. The
    resume rebuilds the stage whole and clears the leftover."""
    out = fresh_copy
    fingerprint = mf.read_manifest(out, "edges")["input_fingerprint"]
    shutil.rmtree(os.path.join(out, "edges"))
    staging = os.path.join(out, "edges", ".spark-staging-x")
    os.makedirs(staging)
    open(os.path.join(staging, "part-0.parquet"), "wb").close()
    assert not mf.stage_is_complete(out, "edges", fingerprint)

    tr = transcripts_from_keys(keys_df(spark, N))
    run = run_pipeline(spark, tr, out)
    assert not run["edges"].get("resumed")
    assert _digest(mf.read_stage(spark, out, "edges")) == _digest(
        mf.read_stage(spark, fresh_build[0], "edges")
    )
    names = os.listdir(os.path.join(out, "edges"))
    assert not [n for n in names if n.startswith(".spark-staging")], names


def test_hostile_text_builds_and_resumes_an_empty_graph(spark, tmp_path):
    """No hostile text is a calendar request, so the partitioned ``edges``
    and ``nodes`` stages commit no parquet file: the build still writes
    all four manifests, and a second call resumes all four."""
    ts = datetime(2025, 6, 15)
    rows = [(f"h{i}", 0, "user", t, None, ts) for i, t in enumerate(HOSTILE_TEXTS)]
    tr = spark.createDataFrame([r for r in rows if r[3] is not None], TRANSCRIPT_SCHEMA)
    out = str(tmp_path / "kg")
    m = run_pipeline(spark, tr, out)
    assert all(mf.read_manifest(out, s) for s in STAGES)
    assert m["edges"]["rows"] == m["nodes"]["rows"] == 0
    assert mf.read_stage(spark, out, "edges").count() == 0
    assert _resumed(run_pipeline(spark, tr, out)) == {s: True for s in STAGES}


def test_glob_characters_in_out_dir_build_and_resume(spark, fresh_build, tmp_path):
    """Spark globs every path it reads, so an ``out_dir`` named like a
    pattern (``out[1]``) must still read back its own stages: the build
    writes all four, equal to a build elsewhere, and a second call resumes
    all four."""
    out = str(tmp_path / "out[1]")
    tr = transcripts_from_keys(keys_df(spark, N))
    assert _resumed(run_pipeline(spark, tr, out)) == {s: False for s in STAGES}
    assert {s: _digest(mf.read_stage(spark, out, s)) for s in STAGES} == {
        s: _digest(mf.read_stage(spark, fresh_build[0], s)) for s in STAGES
    }
    assert _resumed(run_pipeline(spark, tr, out)) == {s: True for s in STAGES}


def test_resume_false_rebuilds_every_stage(spark, fresh_copy, monkeypatch):
    """resume=False trusts nothing from a previous run: over an existing
    output with the same input, every stage is rebuilt with the code as it
    is now (here a patched triple builder and linker), and no manifest
    reports a resume. The patched attendee names reach both graph stages,
    ``edges`` through the pools and ``nodes`` straight from the triples."""
    from calendar_event_entity_extraction_spark.plans import pipeline

    out = fresh_copy
    real_triples = pipeline.events_to_triples
    real_link = pipeline.link_entities
    att = F.col("pred") == "attendee"

    def patched_triples(events):
        obj = F.when(att, F.concat("obj", F.lit("*"))).otherwise(F.col("obj"))
        return real_triples(events).withColumn("obj", obj)

    def patched_link(*args):
        rank = F.when(att, F.lit(-1)).otherwise(F.col("entity_rank"))
        return real_link(*args).withColumn("entity_rank", rank)

    monkeypatch.setattr(pipeline, "events_to_triples", patched_triples)
    monkeypatch.setattr(pipeline, "link_entities", patched_link)
    tr = transcripts_from_keys(keys_df(spark, N))
    m = run_pipeline(spark, tr, out, resume=False)
    assert not any(man.get("resumed") for man in m.values())

    att_edges = mf.read_stage(spark, out, "edges").filter(att)
    assert [r[0] for r in att_edges.select("entity_rank").distinct().collect()] == [-1]
    assert att_edges.count() > 0
    assert att_edges.filter(~F.col("obj").endswith("*")).count() == 0
    att_nodes = mf.read_stage(spark, out, "nodes").filter(F.col("kind") == "attendee")
    assert att_nodes.count() > 0
    assert att_nodes.filter(~F.col("name").endswith("*")).count() == 0


def _with_one_text_edited(tr):
    """``tr`` with the first user turn's text changed, keys kept."""
    first = tr.filter(F.col("role") == "user").orderBy("conv_id", "turn_idx").first()
    edited = (F.col("conv_id") == first["conv_id"]) & (
        F.col("turn_idx") == first["turn_idx"]
    )
    text = F.when(edited, F.concat("text", F.lit(" Thanks!"))).otherwise(F.col("text"))
    return tr.withColumn("text", text)


def _resumed(m):
    return {s: bool(man.get("resumed")) for s, man in m.items()}


def test_text_edit_with_same_keys_rebuilds_every_stage(spark, fresh_copy):
    """The fingerprint covers every input column: rewriting one turn's text
    while keeping its (conv_id, turn_idx) must not resume a stale stage."""
    out = fresh_copy
    edited = _with_one_text_edited(transcripts_from_keys(keys_df(spark, N)))
    m = run_pipeline(spark, edited, out)
    assert _resumed(m) == {s: False for s in STAGES}


def _digest(df):
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


# ------------------------------------------------ code hash and the graph DAG


def test_code_change_rebuilds_every_stage(spark, fresh_copy, monkeypatch):
    """The fingerprint carries a hash of the package sources: with the
    code changed (here its hash patched), a resume rebuilds all four
    stages, and then resumes them under the new code."""
    from calendar_event_entity_extraction_spark.plans import pipeline

    out = fresh_copy
    tr = transcripts_from_keys(keys_df(spark, N))
    monkeypatch.setattr(pipeline, "code_hash", lambda: "edited")
    assert _resumed(run_pipeline(spark, tr, out)) == {s: False for s in STAGES}
    assert _resumed(run_pipeline(spark, tr, out)) == {s: True for s in STAGES}


def test_every_job_carries_the_callers_job_group(spark, tmp_path):
    """The nodes branch runs on its own thread; every job the call
    launches, on either thread, carries the caller's job group: the
    group holds as many jobs as the scheduler started during the call."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    first = scheduler.nextJobId()
    tr = transcripts_from_keys(keys_df(spark, N))
    _, in_group = _count_jobs(
        spark, lambda: run_pipeline(spark, tr, str(tmp_path / "kg"))
    )
    assert in_group == scheduler.nextJobId() - first > 0


def test_failed_nodes_branch_raises_after_join(
    spark, fresh_build, fresh_copy, monkeypatch
):
    """A nodes build that fails makes run_pipeline raise once both branches
    have stopped: edges is complete, nodes has no manifest, no branch
    thread is left, and a resume rebuilds only nodes, to the clean
    build's output."""
    from calendar_event_entity_extraction_spark.plans import pipeline

    out = fresh_copy
    real_nodes = pipeline.graph_nodes

    def failing_nodes(*args):
        boom = F.raise_error(F.lit("nodes build failed")).cast("string")
        return real_nodes(*args).withColumn("name", boom)

    monkeypatch.setattr(pipeline, "graph_nodes", failing_nodes)
    tr = transcripts_from_keys(keys_df(spark, N))
    with pytest.raises(Exception, match="nodes build failed"):
        run_pipeline(spark, tr, out, resume=False)
    monkeypatch.undo()
    assert not [t for t in threading.enumerate() if isinstance(t, InheritableThread)]
    assert mf.read_manifest(out, "nodes") is None
    edges = mf.read_manifest(out, "edges")
    assert mf.stage_is_complete(out, "edges", edges["input_fingerprint"])

    m = run_pipeline(spark, tr, out)
    assert _resumed(m) == {s: s != "nodes" for s in STAGES}
    clean = fresh_build[0]
    assert {s: _digest(mf.read_stage(spark, out, s)) for s in STAGES} == {
        s: _digest(mf.read_stage(spark, clean, s)) for s in STAGES
    }


def test_node_entities_are_the_edge_entities(spark, fresh_build):
    """nodes is built from the triples, not the edges; its attendee and
    location nodes are still exactly the distinct (obj, pred) of the
    edges."""
    out, _ = fresh_build
    nodes = mf.read_stage(spark, out, "nodes").filter(F.col("kind") != "event")
    edges = mf.read_stage(spark, out, "edges").filter(
        F.col("pred").isin("attendee", "location")
    )
    got = [tuple(r) for r in nodes.select("name", "kind").collect()]
    want = {tuple(r) for r in edges.select("obj", "pred").distinct().collect()}
    assert len(got) == len(set(got)) and set(got) == want
    assert {k for _, k in want} == {"attendee", "location"}


def test_edges_stage_is_the_triple_table(spark, fresh_build):
    """A build writes the four stage directories and no ``triples`` one:
    ``edges`` without ``entity_rank`` holds exactly the triples of the
    ``events`` stage."""
    out, _ = fresh_build
    assert sorted(os.listdir(out)) == sorted(STAGES)
    edges = mf.read_stage(spark, out, "edges").drop("entity_rank")
    triples = events_to_triples(mf.read_stage(spark, out, "events"))
    triples = triples.select(*edges.columns)
    assert edges.count() > 0
    assert edges.exceptAll(triples).count() == 0
    assert triples.exceptAll(edges).count() == 0


# ------------------------------------------------------ file-backed input


@pytest.fixture(scope="module")
def file_input(spark, tmp_path_factory):
    """The transcripts of ``fresh_build`` written to parquet."""
    path = str(tmp_path_factory.mktemp("tr_file") / "transcripts")
    transcripts_from_keys(keys_df(spark, N)).write.parquet(path)
    return path


@pytest.fixture(scope="module")
def file_build(spark, file_input, tmp_path_factory):
    """A fresh build from ``file_input``, with its Spark job count."""
    out = str(tmp_path_factory.mktemp("kg_file"))
    _, n_jobs = _count_jobs(
        spark,
        lambda: run_pipeline(
            spark, read_transcripts(spark, file_input), out, resume=False
        ),
    )
    return out, n_jobs


def test_file_backed_build_skips_the_fingerprint_scan(fresh_build, file_build, spark):
    """A file-backed input is fingerprinted by its files, not scanned: the
    build runs the in-memory build's jobs minus the scan's two, and writes
    the same stages."""
    assert file_build[1] == fresh_build[1] - 2, (file_build[1], fresh_build[1])
    assert {s: _digest(mf.read_stage(spark, file_build[0], s)) for s in STAGES} == {
        s: _digest(mf.read_stage(spark, fresh_build[0], s)) for s in STAGES
    }


def test_file_backed_full_resume_runs_no_job(spark, file_input, file_build):
    m, n_jobs = _count_jobs(
        spark,
        lambda: run_pipeline(spark, read_transcripts(spark, file_input), file_build[0]),
    )
    assert all(_resumed(m).values())
    assert n_jobs == 0


def test_file_backed_text_edit_rebuilds_every_stage(spark, file_input, tmp_path):
    """Rewriting the input files with one turn's text edited, keys kept,
    rebuilds all four stages."""
    path, out = str(tmp_path / "transcripts"), str(tmp_path / "kg")
    shutil.copytree(file_input, path)
    run_pipeline(spark, read_transcripts(spark, path), out)
    assert all(_resumed(run_pipeline(spark, read_transcripts(spark, path), out)).values())

    edited = _with_one_text_edited(transcripts_from_keys(keys_df(spark, N)))
    edited.write.mode("overwrite").parquet(path)
    m = run_pipeline(spark, read_transcripts(spark, path), out)
    assert _resumed(m) == {s: False for s in STAGES}


def test_added_filter_changes_file_fingerprint(spark, file_input):
    """The file form hashes the plan too: another read of the same files
    gives the same fingerprint, an added filter another one, and neither
    runs a Spark job."""
    fps, n_jobs = _count_jobs(
        spark,
        lambda: [
            input_fingerprint(read_transcripts(spark, file_input)),
            input_fingerprint(read_transcripts(spark, file_input)),
            input_fingerprint(
                read_transcripts(spark, file_input).filter(F.col("turn_idx") > 0)
            ),
        ],
    )
    assert n_jobs == 0
    assert all(fp.startswith("files=") for fp in fps)
    assert fps[0] == fps[1] != fps[2]


_FINGERPRINT_CHILD = """
import sys
sys.path.insert(0, sys.argv[1])
from calendar_event_entity_extraction_spark.plans.pipeline import input_fingerprint
from calendar_event_entity_extraction_spark.session import get_spark
from calendar_event_entity_extraction_spark.sources.tables import read_transcripts
spark = get_spark(app_name="fingerprint-child", cores=1)
print("FP", input_fingerprint(read_transcripts(spark, sys.argv[2])))
"""


def test_file_fingerprint_is_the_same_in_a_new_process(spark, file_input):
    """A fresh process fingerprints the same files the same way, so a
    restarted run resumes an unchanged input instead of rebuilding it."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    child = subprocess.run(
        [sys.executable, "-c", _FINGERPRINT_CHILD, repo, file_input],
        capture_output=True,
        text=True,
        timeout=120,
        env={**os.environ, "SPARK_DRIVER_MEM": "1g"},
    )
    lines = [line for line in child.stdout.splitlines() if line.startswith("FP ")]
    assert lines, child.stderr[-2000:]
    assert lines[-1] == f"FP {input_fingerprint(read_transcripts(spark, file_input))}"
