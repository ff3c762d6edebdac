"""End-to-end pipeline + checkpoint/resume idempotence (SURVEY.md §7.2 #9)."""

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from calendar_event_entity_extraction_spark.plans.pipeline import (
    input_fingerprint,
    run_pipeline,
)
from calendar_event_entity_extraction_spark.sources import manifest as mf
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
    assert set(m) == {"events", "triples", "entity_pools", "edges", "nodes"}
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


STAGES = ("events", "triples", "entity_pools", "edges", "nodes")
# Spark jobs of a fresh run_pipeline at this size. Recording a stage's
# manifest and reading the stage back launch no job; when each of the five
# stages ran two one-task footer-merge reads for that, the build ran 25.
FRESH_BUILD_JOBS = 15


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


def test_manifest_without_schema_reads_and_resumes(spark, fresh_copy):
    """Manifests written before the ``schema`` key was used by the reader
    (or hand-edited ones without it) still read and resume."""
    out = fresh_copy
    before = {s: _digest(mf.read_stage(spark, out, s)) for s in STAGES}
    for stage in ("events", "edges"):
        m = mf.read_manifest(out, stage)
        del m["schema"]
        mf.write_manifest(out, stage, m)
        assert _digest(mf.read_stage(spark, out, stage)) == before[stage]
    tr = transcripts_from_keys(keys_df(spark, N))
    m = run_pipeline(spark, tr, out)
    assert all(man.get("resumed") for man in m.values())
    assert {s: _digest(mf.read_stage(spark, out, s)) for s in STAGES} == before


def test_resume_with_changed_top_k_rebuilds_pool_stages(spark, fresh_copy):
    """top_k shapes entity_pools, edges and nodes but not events/triples:
    a resume under another top_k must rebuild exactly those three."""
    out = fresh_copy
    tr = transcripts_from_keys(keys_df(spark, N))
    m = run_pipeline(spark, tr, out, top_k=3)
    resumed = {s: bool(man.get("resumed")) for s, man in m.items()}
    assert resumed == {
        "events": True,
        "triples": True,
        "entity_pools": False,
        "edges": False,
        "nodes": False,
    }
    assert m["entity_pools"]["rows"] <= 2 * 3
    ranks = mf.read_stage(spark, out, "edges").filter(
        F.col("entity_rank").isNotNull()
    )
    assert ranks.agg(F.max("entity_rank")).collect()[0][0] <= 2
    again = run_pipeline(spark, tr, out, top_k=3)
    assert all(man.get("resumed") for man in again.values())


def test_interrupted_manifest_write_rebuilds_on_resume(
    spark, fresh_build, tmp_path, monkeypatch
):
    """A kill while a stage's manifest is being written must not leave a
    truncated manifest behind: the resume rebuilds that stage (instead of
    failing to parse it) and the output matches a clean build."""
    out = str(tmp_path / "kg")
    tr = transcripts_from_keys(keys_df(spark, N))
    real_dump = mf.json.dump

    def dump_killed_mid_triples(obj, f, **kw):
        if obj.get("stage") == "triples":
            f.write('{"stage": "tri')
            raise RuntimeError("killed mid-dump")
        return real_dump(obj, f, **kw)

    monkeypatch.setattr(mf.json, "dump", dump_killed_mid_triples)
    with pytest.raises(RuntimeError, match="killed mid-dump"):
        run_pipeline(spark, tr, out, resume=False)
    monkeypatch.undo()

    m = run_pipeline(spark, tr, out)
    assert m["events"].get("resumed") and not m["triples"].get("resumed")
    clean = fresh_build[0]
    assert {s: _digest(mf.read_stage(spark, out, s)) for s in STAGES} == {
        s: _digest(mf.read_stage(spark, clean, s)) for s in STAGES
    }


def test_resume_false_rebuilds_every_stage(spark, fresh_copy, monkeypatch):
    """resume=False trusts nothing from a previous run: over an existing
    output with the same input, every stage is rebuilt with the code as it
    is now (here a patched linker), and no manifest reports a resume."""
    from calendar_event_entity_extraction_spark.plans import pipeline

    out = fresh_copy
    real_link = pipeline.link_entities

    def patched_link(*args):
        att = F.col("pred") == "attendee"
        rank = F.when(att, F.lit(-1)).otherwise(F.col("entity_rank"))
        obj = F.when(att, F.concat("obj", F.lit("*"))).otherwise(F.col("obj"))
        return real_link(*args).withColumns({"entity_rank": rank, "obj": obj})

    monkeypatch.setattr(pipeline, "link_entities", patched_link)
    tr = transcripts_from_keys(keys_df(spark, N))
    m = run_pipeline(spark, tr, out, resume=False)
    assert not any(man.get("resumed") for man in m.values())

    att_edges = mf.read_stage(spark, out, "edges").filter(F.col("pred") == "attendee")
    assert [r[0] for r in att_edges.select("entity_rank").distinct().collect()] == [-1]
    att_nodes = mf.read_stage(spark, out, "nodes").filter(F.col("kind") == "attendee")
    assert att_nodes.count() > 0
    assert att_nodes.filter(~F.col("name").endswith("*")).count() == 0


def test_text_edit_with_same_keys_rebuilds_every_stage(spark, fresh_copy):
    """The fingerprint covers every input column: rewriting one turn's text
    while keeping its (conv_id, turn_idx) must not resume a stale stage."""
    out = fresh_copy
    tr = transcripts_from_keys(keys_df(spark, N))
    first = tr.filter(F.col("role") == "user").orderBy("conv_id", "turn_idx").first()
    edited = tr.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == first["conv_id"])
            & (F.col("turn_idx") == first["turn_idx"]),
            F.concat("text", F.lit(" Thanks!")),
        ).otherwise(F.col("text")),
    )
    m = run_pipeline(spark, edited, out)
    assert {s: bool(man.get("resumed")) for s, man in m.items()} == {
        s: False for s in STAGES
    }


def _digest(df):
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]
