"""The end-to-end KG-construction pipeline with checkpoint-based resume.

The four stages form a DAG, not a chain:

    transcripts ─▶ events ─▶ (triples) ─┬▶ entity_pools ─▶ edges
                                        │
                                        └▶ nodes

``triples`` is not a stage: it is one ``events_to_triples(events)`` plan,
built once on the calling thread, that all three graph stages read. The
``edges`` stage holds every triple plus ``entity_rank``, so it is the
triple table. ``nodes`` depends only on ``events``, so it is built on its
own ``InheritableThread`` while the calling thread builds
``entity_pools`` and then ``edges``. The thread inherits the caller's job
group and description, and ``run_pipeline`` joins it before it returns or
raises, so no job outlives the call.

Each stage materializes through ``stage()`` — the one stage path — to a
table + ``_lineage.json`` manifest (sources/manifest.py). A stage is
complete with this run's fingerprint, and a restart skips it, or it is
cleared and rewritten (manifest removed first, written last), so a stage
killed mid-write is rebuilt whole; ``resume=False`` rebuilds every stage.
Only ``events`` and ``entity_pools`` are read back from disk, by the
stages after them; nothing in the call reads ``edges`` or ``nodes``.
Idempotence comes from deterministic event_ids and overwrite-by-stage
semantics.

The fingerprint addresses the input and the code. A plan whose every
leaf is a file scan is addressed by its files (path, length, modification
time) and its canonicalized plan, with no Spark job; any other plan by a
scan of every column. Both forms carry a hash of the package's sources.

Physical design for 10^12 turns (SURVEY.md §4):
* extract is narrow (map-only) — scales linearly, no shuffle;
* canonicalize shuffles once on (conv_id, action, date, time);
* entity pools are one (pred, name) aggregate → tiny per-pred top-k →
  broadcast;
* the edge table is written partitioned by ``pred`` (8 partitions, one
  file each: the writer hash-distributes by ``pred`` first) so
  per-predicate scans prune; the node table is the distinct entity set,
  partitioned by ``kind``.
"""

from __future__ import annotations

import functools
import hashlib
from importlib import resources

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import InheritableThread

from ..operators.canonicalize import canonicalize_events
from ..operators.entity_link import build_entity_pools, link_entities
from ..operators.extract import extract_events
from ..operators.triples import SLIM_EVENT_COLS, events_to_triples
from ..sources import manifest as mf

STAGES = ("events", "entity_pools", "edges", "nodes")


@functools.cache
def code_hash() -> str:
    """sha256 of the package's ``*.py`` sources (relative path + bytes),
    computed once per process. Read through ``importlib.resources``, so a
    package shipped as a zip (``--py-files``) hashes its sources too."""
    h = hashlib.sha256()

    def walk(node, prefix):
        for child in sorted(node.iterdir(), key=lambda c: c.name):
            name = f"{prefix}{child.name}"
            if child.is_dir():
                walk(child, f"{name}/")
            elif name.endswith(".py"):
                h.update(name.encode() + b"\0" + child.read_bytes() + b"\0")

    walk(resources.files(__package__.rsplit(".", 1)[0]), "")
    return h.hexdigest()[:16]


def _file_form(df: DataFrame) -> str | None:
    """A hash of what a file-backed plan reads, or None if some leaf of
    its analyzed plan is not a file scan. It covers the Spark version, the
    canonicalized plan (printed with no field limit), the output schema
    (the canonical form erases names, and prints no types), and the sorted
    ``(path, length, modification time)`` of every input file. The file
    statuses come from Hadoop's ``getFileStatus``, so any scheme works;
    it reads the lengths and times only, as ``FileStatus.toString`` and
    ``getPermission`` fork an ``ls`` on the local file system. No Spark
    job runs."""
    plan = df._jdf.queryExecution().analyzed()
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if (
            leaf.getClass().getSimpleName() != "LogicalRelation"
            or leaf.relation().getClass().getSimpleName() != "HadoopFsRelation"
        ):
            return None
    spark = df.sparkSession
    jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
    parts = [
        spark.version,
        plan.canonicalized().treeString(True, False, 2**31 - 1, False, False),
        df.schema.json(),
    ]
    for name in sorted(df.inputFiles()):
        path = jvm.org.apache.hadoop.fs.Path(name)
        status = path.getFileSystem(conf).getFileStatus(path)
        parts.append(f"{name}\t{status.getLen()}\t{status.getModificationTime()}")
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


def input_fingerprint(transcripts: DataFrame) -> str:
    """Fingerprint of the input and the code that reads it.

    A file-backed plan gets ``files=<hash>`` (``_file_form``, no Spark
    job). Any other plan gets a content fingerprint: row count + the sum
    of ``xxhash64(<every column>) % 1_000_003`` over all rows, one
    executor-side pass, so an edit to any column (``text`` included)
    changes it. Both end in ``code=<hash of the package sources>``, so an
    edited extractor rebuilds every stage.

    The file form trusts size and modification time: a rewrite that keeps
    a file's path, length and millisecond mtime goes unseen."""
    form = _file_form(transcripts)
    if form is None:
        row = transcripts.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64(*transcripts.columns) % 1_000_003).alias("h"),
        ).collect()[0]
        form = f"n={row['n']};h={row['h']}"
    else:
        form = f"files={form}"
    return f"{form};code={code_hash()}"


def graph_nodes(events: DataFrame, triples: DataFrame) -> DataFrame:
    """The node table: one row per distinct attendee/location entity and
    per event. Entities come from the triples; the edges hold the same
    ``(obj, pred)`` pairs, as linking is a left join against a pool with
    unique names that only adds ``entity_rank``. Event nodes come from the
    events stage, where ``event_id`` is one row per event by construction
    (canonicalize keeps exactly one row per event_id), so no shuffle of
    the edge table is needed."""
    ent = (
        triples.filter(F.col("pred").isin("attendee", "location"))
        .select(F.col("obj").alias("name"), F.col("pred").alias("kind"))
        .distinct()
        .withColumn("node_id", F.xxhash64("kind", "name"))
    )
    ev = events.select(
        F.col("event_id").alias("node_id"),
        F.col("conv_id").alias("name"),
        F.lit("event").alias("kind"),
    )
    return ent.select("node_id", "name", "kind").unionByName(ev)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    resume: bool = True,
) -> dict:
    """Run (or resume) the full pipeline; returns the stage manifests.

    Every stage carries the one fingerprint of the input and the code
    (``input_fingerprint``); the pool size is the code constant
    ``entity_link.DEFAULT_TOP_K``, so changing it is a code change, which
    rebuilds every stage. With ``resume=False`` nothing from a previous
    run is trusted: every stage is rebuilt. A stage that is not skipped
    is cleared and rewritten by ``write_stage``, which removes its
    manifest first and writes it last, so a stage an interrupted run left
    half-written is rebuilt.

    ``nodes`` is built on a second thread beside ``entity_pools`` →
    ``edges``; an exception from either branch is raised after both have
    stopped."""
    fp = input_fingerprint(transcripts)
    manifests = {}

    def stage(name: str, build, partition_by=None):
        if resume and mf.stage_is_complete(out_dir, name, fp):
            manifests[name] = {**mf.read_manifest(out_dir, name), "resumed": True}
        else:
            manifests[name] = mf.write_stage(build(), out_dir, name, fp, partition_by)

    # SLIM projection before the canonicalize shuffle AND the write: the KG
    # stages never read text/ts, and min_by's struct blocks Catalyst's own
    # column pruning there — dropping them up front halves both the
    # exchange payload and the stage's parquet volume
    stage(
        "events",
        lambda: canonicalize_events(
            extract_events(transcripts).select(*SLIM_EVENT_COLS)
        ),
    )
    events = mf.read_stage(spark, out_dir, "events")
    triples = events_to_triples(events)

    failed = []

    def nodes_branch():
        try:
            stage("nodes", lambda: graph_nodes(events, triples), ["kind"])
        except BaseException as e:
            failed.append(e)

    branch = InheritableThread(target=nodes_branch)
    branch.start()
    try:
        stage("entity_pools", lambda: build_entity_pools(triples))
        pools = mf.read_stage(spark, out_dir, "entity_pools")
        att_pool = pools.filter(F.col("pred") == "attendee").select("name", "cnt")
        stage(
            "edges",
            lambda: link_entities(triples, att_pool, "attendee"),
            partition_by=["pred"],
        )
    finally:
        branch.join()
    if failed:
        raise failed[0]
    return {name: manifests[name] for name in STAGES}
