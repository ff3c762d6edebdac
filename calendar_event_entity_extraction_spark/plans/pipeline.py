"""The end-to-end KG-construction pipeline with checkpoint-based resume.

    transcripts ─▶ extract ─▶ canonicalize ─▶ triples ─▶ link ─▶ graph
                                                     └▶ entity pools (broadcast)

Each stage materializes to a partitioned table + ``_lineage.json`` manifest
(sources/manifest.py). A restart with the same input fingerprint skips
completed stages — partition-level idempotence comes from deterministic
event_ids and overwrite-by-stage semantics.

Physical design for 10^12 turns (SURVEY.md §4):
* extract is narrow (map-only) — scales linearly, no shuffle;
* canonicalize shuffles once on (conv_id, action, date, time);
* entity pools are one (pred, name) aggregate → tiny per-pred top-k →
  broadcast;
* the edge table is written partitioned by ``pred`` (8 partitions, each
  internally bucketed by event_id hash via repartition) so per-predicate
  scans prune; the node table is the distinct entity set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.canonicalize import canonicalize_events
from ..operators.entity_link import build_entity_pools, link_entities
from ..operators.extract import extract_events
from ..operators.triples import SLIM_EVENT_COLS, events_to_triples
from ..sources import manifest as mf


def input_fingerprint(transcripts: DataFrame) -> str:
    """Cheap content fingerprint: row count + the sum of
    ``xxhash64(conv_id, turn_idx) % 1_000_003`` over all rows. One pass,
    executor-side; it sees the row keys only, not ``text``."""
    row = transcripts.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("conv_id", "turn_idx") % 1_000_003).alias("h"),
    ).collect()[0]
    return f"n={row['n']};h={row['h']}"


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    resume: bool = True,
    top_k: int = 500,
) -> dict:
    """Run (or resume) the full pipeline; returns the stage manifests.

    ``entity_pools``, ``edges`` and ``nodes`` depend on ``top_k`` as well as
    on the input, so their fingerprint carries it: a resume with another
    ``top_k`` rebuilds those three and keeps ``events`` and ``triples``."""
    fp = input_fingerprint(transcripts)
    fp_k = f"{fp};top_k={top_k}"
    manifests = {}

    def stage(name: str, fingerprint: str, build, partition_by=None):
        if resume and mf.stage_is_complete(out_dir, name, fingerprint):
            manifests[name] = mf.read_manifest(out_dir, name)
            manifests[name]["resumed"] = True
            return mf.read_stage(spark, out_dir, name)
        df = build()
        manifests[name] = mf.write_stage(
            df, out_dir, name, fingerprint, partition_by
        )
        return mf.read_stage(spark, out_dir, name)

    # SLIM projection before the canonicalize shuffle AND the write: the KG
    # stages never read text/ts, and min_by's struct blocks Catalyst's own
    # column pruning there — dropping them up front halves both the
    # exchange payload and the stage's parquet volume
    events = stage(
        "events",
        fp,
        lambda: canonicalize_events(
            extract_events(transcripts).select(*SLIM_EVENT_COLS)
        ),
    )
    triples = stage("triples", fp, lambda: events_to_triples(events))

    pools = stage("entity_pools", fp_k, lambda: build_entity_pools(triples, top_k))

    def build_edges():
        att_pool = pools.filter(F.col("pred") == "attendee").select("name", "cnt")
        return link_entities(triples, att_pool, "attendee")

    # edges use PARTITION-level checkpointing: a kill mid-stage resumes by
    # writing only the missing pred partitions (north_rule: per-partition
    # lineage + resume)
    if resume and mf.stage_is_complete(out_dir, "edges", fp_k):
        manifests["edges"] = mf.read_manifest(out_dir, "edges")
        manifests["edges"]["resumed"] = True
    else:
        manifests["edges"] = mf.write_stage_partitioned_resumable(
            build_edges(), out_dir, "edges", fp_k, "pred"
        )
    edges = mf.read_stage(spark, out_dir, "edges")

    def build_nodes():
        ent = (
            edges.filter(F.col("pred").isin("attendee", "location"))
            .select(
                F.col("obj").alias("name"),
                F.col("pred").alias("kind"),
            )
            .distinct()
            .withColumn("node_id", F.xxhash64("kind", "name"))
        )
        # event nodes come from the EVENTS stage, where (event_id, conv_id)
        # is already one row per event by construction (canonicalize keeps
        # exactly one row per event_id) — value-identical to the former
        # distinct over the edge table (every detected event carries
        # non-null date+time triples, so no event is edge-less), minus a
        # full shuffle of the (much larger) edge table (round-6)
        ev = events.select(
            F.col("event_id").alias("node_id"),
            F.col("conv_id").alias("name"),
            F.lit("event").alias("kind"),
        )
        return ent.select("node_id", "name", "kind").unionByName(
            ev.select("node_id", "name", "kind")
        )

    stage("nodes", fp_k, build_nodes, partition_by=["kind"])
    return manifests
