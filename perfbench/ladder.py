"""Traced run: per-layer ladders replayed stage by stage, plus the event-log
parser that turns their Spark jobs into per-layer task metrics.

Each probe runs under its own ``setJobGroup`` in a session whose event log
is on; the parser groups task metrics (executor run time, GC, shuffle
write, spill, failed tasks) and job intervals by job group. A ladder stage
consumes the previous stage's ``localCheckpoint``-ed output, so stage times
add up to roughly the whole operation; the sum divided by the traced whole
operation is the ladder's coverage.

The ladders mirror the stage sequence of ``plans.pipeline.run_pipeline``
and ``plans.curate.curate_full`` with the package's public operators. When
either composition changes, the digest check at the end of each ladder
(``ladder.*_matches``) and the coverage show the drift.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import Window
from pyspark.sql import functions as F

from calendar_event_entity_extraction_spark.docs_queries import (
    MIXTURE_SEED,
    MIXTURE_WEIGHTS,
)
from calendar_event_entity_extraction_spark.functions.datetime_norm import (
    DATE_ANY_RE,
    TIME_ANY_RE,
    date_norm_col,
    duration_norm_col,
    time_norm_col,
)
from calendar_event_entity_extraction_spark.functions.text import (
    punct_count_col,
    repetition_keep_udf,
    token_count_col,
)
from calendar_event_entity_extraction_spark.operators.canonicalize import (
    canonicalize_events,
)
from calendar_event_entity_extraction_spark.operators.dedup import (
    capped_band_pairs,
    dedup_first_wins,
    minhash_bands,
    minhash_near_duplicates,
)
from calendar_event_entity_extraction_spark.operators.entity_link import (
    link_entities,
)
from calendar_event_entity_extraction_spark.operators.extract import (
    action_col,
    attendees_col,
    extract_events,
    location_col,
    notes_col,
    recurrence_col,
)
from calendar_event_entity_extraction_spark.operators.packing import pack_sequences
from calendar_event_entity_extraction_spark.operators.resolve import (
    connected_components,
)
from calendar_event_entity_extraction_spark.operators.sampling import mixture_sample
from calendar_event_entity_extraction_spark.operators.splits import assign_split
from calendar_event_entity_extraction_spark.operators.triples import (
    SLIM_EVENT_COLS,
    events_to_triples,
)
from calendar_event_entity_extraction_spark.plans.pipeline import input_fingerprint
from calendar_event_entity_extraction_spark.sources import manifest as mf
from calendar_event_entity_extraction_spark.sources.tables import read_transcripts

import fixtures
from workloads import BUCKET_CAP, graph_digest, table_digest

UNTIMED = "untimed"

# ladder stages whose times add up to the whole operation
KG_STAGES = [
    "pipeline.fingerprint", "extract", "canonicalize", "manifest.events",
    "triples", "manifest.triples", "pools", "manifest.entity_pools",
    "entity_link", "manifest.edges", "pipeline.nodes", "manifest.nodes",
]
CURATE_STAGES = [
    "text.gates", "dedup.exact", "dedup.bands", "dedup.pairs", "dedup.verify",
    "resolve.cc", "packing",
]
MANIFEST_GROUPS = [s for s in KG_STAGES if s.startswith("manifest.")]

# derived layers: (groups added, groups subtracted). A field extractor is
# timed as detect+field minus detect; verify as the near-dup composite
# minus its bands and pairs stages.
DERIVED = {
    "extract.action": (["extract.action"], ["extract.detect"]),
    "extract.attendees": (["extract.attendees"], ["extract.detect"]),
    "extract.location": (["extract.location"], ["extract.detect"]),
    "extract.recurrence_notes": (["extract.recurrence_notes"], ["extract.detect"]),
    "datetime_norm.date": (["datetime_norm.date"], ["extract.detect"]),
    "datetime_norm.time": (["datetime_norm.time"], ["extract.detect"]),
    "datetime_norm.duration": (["datetime_norm.duration"], ["extract.detect"]),
    "dedup.verify": (["dedup.near"], ["dedup.bands", "dedup.pairs"]),
    "manifest": (MANIFEST_GROUPS, []),
}

TIMED_LAYERS = [
    "tables.scan", "pipeline.fingerprint", "extract.detect", "extract.action",
    "extract.attendees", "extract.location", "extract.recurrence_notes",
    "datetime_norm.date", "datetime_norm.time", "datetime_norm.duration",
    "extract", "canonicalize", "triples", "pools", "entity_link",
    "pipeline.nodes", "manifest", *MANIFEST_GROUPS, *CURATE_STAGES,
]
# layers that also report event-log task metrics
TASK_LAYERS = [
    "tables.scan", "pipeline.fingerprint", "extract", "canonicalize",
    "triples", "pools", "entity_link", "pipeline.nodes", "manifest",
    *CURATE_STAGES, "kg_build", "kg_resume", "curate",
]

# which end-to-end metric, on which workload, each layer should move
MOVES = {
    "tables": "wall_s on kg_resume (large share); small share on kg_build",
    "pipeline.fingerprint": "wall_s on kg_resume (large share); small share on kg_build",
    "extract": "wall_s and input_rows_per_s on kg_build; no change on kg_resume or curate",
    "datetime_norm": "wall_s and input_rows_per_s on kg_build; no change on kg_resume or curate",
    "canonicalize": "wall_s and peak_rss_mb on kg_build",
    "triples": "wall_s on kg_build",
    "pools": "wall_s on kg_build",
    "entity_link": "wall_s on kg_build and kg_resume",
    "pipeline.nodes": "wall_s on kg_build and kg_resume",
    "manifest": "wall_s on kg_build and kg_resume",
    "text": "wall_s on curate",
    "dedup": "wall_s on curate",
    "resolve": "wall_s on curate",
    "packing": "wall_s on curate",
    "curate": "wall_s on curate",
    "kg_build": "wall_s on kg_build",
    "kg_resume": "wall_s on kg_resume",
    "trace": "none: tracing cost, traced wall / untraced wall_s",
    "ladder": "none: 1 when the ladder's output equals the whole operation's",
    "ladder.coverage": "none: ladder stage sum / traced whole operation",
}


def moves(metric: str) -> str:
    """The MOVES entry of the longest layer prefix of ``metric``; GC and
    spill of a layer move memory on the layer's workload instead."""
    best = ""
    for prefix in MOVES:
        if metric[len(prefix):len(prefix) + 1] in (".", "_") and metric.startswith(prefix):
            best = max(best, prefix, key=len)
    if metric.endswith((".gc_s", ".spill_bytes")):
        return f"peak_rss_mb where this layer runs ({MOVES.get(best, '')})"
    return MOVES.get(best, "")


def time_name(layer: str) -> str:
    if layer == "manifest":
        return "manifest.write_s"
    if layer in MANIFEST_GROUPS:
        return f"{layer}_write_s"
    return f"{layer}.s" if "." not in layer else f"{layer}_s"


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    """Runs each probe under its own job group and records its wall time."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.walls: dict[str, float] = {}

    def probe(self, group: str, fn):
        self.sc.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            out = fn()
            self.walls[group] = time.perf_counter() - t0
        finally:
            self.sc.setJobGroup(UNTIMED, UNTIMED)
        return out


# ---------------------------------------------------------------- ladders


def _pools(triples, top_k: int = 500):
    counts = (
        triples.filter(F.col("pred").isin("attendee", "location"))
        .groupBy("pred", F.col("obj").alias("name"))
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("pred").orderBy(F.desc("cnt"), F.asc("name"))
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= top_k)
        .select("name", "cnt", "pred")
    )


def _nodes(edges, events):
    ent = (
        edges.filter(F.col("pred").isin("attendee", "location"))
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


def kg_ladder(t: Tracer, tr_path: str, out: str) -> dict:
    """run_pipeline's stage sequence, one probe per stage, plus the
    per-field extractor probes. Returns the ladder's counters."""
    spark = t.spark
    shutil.rmtree(out, ignore_errors=True)

    def tr():
        return read_transcripts(spark, tr_path)

    text = F.col("text")

    def detect():
        return tr().filter(
            (F.col("role") == "user") & text.rlike(DATE_ANY_RE) & text.rlike(TIME_ANY_RE)
        )

    t.probe("tables.scan", lambda: noop(tr()))
    fp = t.probe("pipeline.fingerprint", lambda: input_fingerprint(tr()))
    t.probe("extract.detect", lambda: noop(detect()))
    fields = {
        "extract.action": [action_col(text)],
        "extract.attendees": [attendees_col(text)],
        "extract.location": [location_col(text)],
        "extract.recurrence_notes": [recurrence_col(text), notes_col(text)],
        "datetime_norm.date": [date_norm_col(text)],
        "datetime_norm.time": [time_norm_col(text)],
        "datetime_norm.duration": [duration_norm_col(text)],
    }
    for group, cols in fields.items():
        t.probe(
            group,
            lambda cols=cols: noop(
                detect().select(*[c.alias(f"f{i}") for i, c in enumerate(cols)])
            ),
        )

    ext = t.probe(
        "extract",
        lambda: extract_events(tr()).select(*SLIM_EVENT_COLS).localCheckpoint(),
    )
    ev = t.probe("canonicalize", lambda: canonicalize_events(ext).localCheckpoint())

    def written(group: str, stage: str, write):
        """Write a stage and read it back, as run_pipeline's stage does."""
        return t.probe(group, lambda: (write(), mf.read_stage(spark, out, stage))[1])

    events = written("manifest.events", "events", lambda: mf.write_stage(ev, out, "events", fp))
    tri = t.probe("triples", lambda: events_to_triples(events).localCheckpoint())
    triples = written(
        "manifest.triples", "triples", lambda: mf.write_stage(tri, out, "triples", fp)
    )
    pools = t.probe("pools", lambda: _pools(triples).localCheckpoint())
    pool_r = written(
        "manifest.entity_pools", "entity_pools",
        lambda: mf.write_stage(pools, out, "entity_pools", fp),
    )
    edges = t.probe(
        "entity_link",
        lambda: link_entities(
            triples,
            pool_r.filter(F.col("pred") == "attendee").select("name", "cnt"),
            "attendee",
        ).localCheckpoint(),
    )
    edges_r = written(
        "manifest.edges", "edges",
        lambda: mf.write_stage_partitioned_resumable(edges, out, "edges", fp, "pred"),
    )
    nodes = t.probe("pipeline.nodes", lambda: _nodes(edges_r, events).localCheckpoint())
    written(
        "manifest.nodes", "nodes",
        lambda: mf.write_stage(nodes, out, "nodes", fp, partition_by=["kind"]),
    )

    att = edges_r.filter(F.col("pred") == "attendee")
    n_att = att.count()
    user_turns = tr().filter(F.col("role") == "user").count()
    return {
        "user_turns": user_turns,
        "detected": detect().count(),
        "canon_in": ext.count(),
        "canon_out": ev.count(),
        "triples": mf.read_manifest(out, "triples")["rows"],
        "pools": mf.read_manifest(out, "entity_pools")["rows"],
        "attendee_triples": n_att,
        "linked": att.filter(F.col("entity_rank").isNotNull()).count(),
        "files": len(fixtures.parquet_files(out)),
        "bytes": fixtures.parquet_bytes(out),
        "input_bytes": fixtures.parquet_bytes(tr_path),
        "digest": graph_digest(spark, out),
    }


def curate_ladder(t: Tracer, docs_path: str) -> dict:
    """curate_full's stage sequence (default thresholds, bucket_cap=64),
    one probe per stage. Returns the ladder's counters."""
    spark = t.spark
    text = F.col("text")

    def gated():
        n_tok = token_count_col(text)
        ok = (
            (n_tok >= 10)
            & (n_tok <= 100_000)
            & (punct_count_col(text) * 100 <= F.length("text") * 10)
        )
        return spark.read.parquet(docs_path).filter(ok & repetition_keep_udf()(text))

    g = t.probe("text.gates", lambda: gated().localCheckpoint())
    deduped = t.probe(
        "dedup.exact", lambda: dedup_first_wins(g, ["text"], "doc_id").localCheckpoint()
    )
    bands = t.probe(
        "dedup.bands",
        lambda: minhash_bands(deduped, "doc_id", "text", 8, 2).localCheckpoint(),
    )
    cand = t.probe(
        "dedup.pairs", lambda: capped_band_pairs(bands, BUCKET_CAP).localCheckpoint()
    )
    pairs = t.probe(
        "dedup.near",
        lambda: minhash_near_duplicates(
            deduped, "doc_id", "text", threshold=0.6, perms=8, rows_per_band=2,
            bucket_cap=BUCKET_CAP,
        ).localCheckpoint(),
    )
    labels = t.probe(
        "resolve.cc",
        lambda: connected_components(pairs, "id_a", "id_b").localCheckpoint(),
    )

    def tail():
        dupes = labels.filter(F.col("node") != F.col("comp")).select(
            F.col("node").alias("doc_id")
        )
        kept = deduped.join(dupes, "doc_id", "left_anti")
        mixed = mixture_sample(kept, "lang", MIXTURE_WEIGHTS, "doc_id", seed=MIXTURE_SEED)
        out = pack_sequences(
            assign_split(mixed, "doc_id"), "doc_id", "text",
            budget=256, shards=8, carry_cols=("lang", "split"),
        ).select("doc_id", "lang", "split", "shard", "n_tokens", "pack_id")
        return table_digest(out)

    digest = t.probe("packing", tail)
    return {
        "docs": spark.read.parquet(docs_path).count(),
        "gated": g.count(),
        "candidate_pairs": cand.count(),
        "verified_pairs": pairs.count(),
        "digest": digest,
    }


# ---------------------------------------------------------------- event log


@dataclass
class GroupStats:
    """Task metrics and job intervals of one job group."""

    jobs: int = 0
    intervals: list[tuple[int, int]] = field(default_factory=list)
    busy_ms: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    failed_tasks: int = 0


def _parse_lines(f, stats: dict[str, GroupStats]) -> None:
    """Event-log lines → per-job-group task metrics and job intervals."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, tuple[str, int]] = {}
    for line in f:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            grp = (ev.get("Properties") or {}).get("spark.jobGroup.id", UNTIMED)
            job_group[ev["Job ID"]] = (grp, ev.get("Submission Time", 0))
            stats.setdefault(grp, GroupStats()).jobs += 1
            for si in ev.get("Stage Infos", []):
                stage_group.setdefault(si["Stage ID"], grp)
        elif e == "SparkListenerJobEnd":
            grp, start = job_group.get(ev["Job ID"], (UNTIMED, 0))
            stats.setdefault(grp, GroupStats()).intervals.append(
                (start, ev.get("Completion Time", start))
            )
        elif e == "SparkListenerTaskEnd":
            s = stats.setdefault(stage_group.get(ev.get("Stage ID"), UNTIMED), GroupStats())
            ti = ev.get("Task Info", {})
            if ti.get("Failed") or ti.get("Killed"):
                s.failed_tasks += 1
            tm = ev.get("Task Metrics") or {}
            s.busy_ms += tm.get("Executor Run Time", 0)
            s.gc_ms += tm.get("JVM GC Time", 0)
            s.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            s.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )


def parse_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Parse every event-log file under ``log_dir`` (Spark 4 writes a
    directory of rolled ``events_<n>_*`` files per application)."""

    def order(path):
        m = re.search(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0, path)

    stats: dict[str, GroupStats] = {}
    paths = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
    ]
    for path in sorted(paths, key=order):
        with open(path) as f:
            _parse_lines(f, stats)
    return stats


def covered_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end) intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# ---------------------------------------------------------------- metrics


def layer_metrics(
    walls: dict, stats: dict, kg: dict, cur: dict, wl: str, untraced_wall: float
) -> dict:
    """All per-layer metrics as {name: (value, unit)}: probe walls, job-group
    task metrics, ladder counters, and the traced whole operation of ``wl``
    against its untraced ``wall_s``."""

    def combine(layer, f):
        plus, minus = DERIVED.get(layer, ([layer], []))
        return sum(f(g) for g in plus) - sum(f(g) for g in minus)

    def stat(attr):
        return lambda g: getattr(stats.get(g) or GroupStats(), attr)

    out: dict[str, tuple[float, str]] = {}
    for layer in TIMED_LAYERS:
        out[time_name(layer)] = (combine(layer, lambda g: walls[g]), "s")
    for layer in TASK_LAYERS:
        out[f"{layer}.busy_s"] = (combine(layer, stat("busy_ms")) / 1000, "s")
        out[f"{layer}.gc_s"] = (combine(layer, stat("gc_ms")) / 1000, "s")
        out[f"{layer}.spill_bytes"] = (combine(layer, stat("spill_bytes")), "bytes")
        out[f"{layer}.failed_tasks"] = (combine(layer, stat("failed_tasks")), "count")

    out["extract.detect_rate"] = (kg["detected"] / kg["user_turns"], "ratio")
    out["canonicalize.merges"] = (kg["canon_in"] - kg["canon_out"], "count")
    out["canonicalize.shuffle_write_bytes"] = (
        stat("shuffle_write_bytes")("canonicalize"), "bytes",
    )
    out["triples.rows"] = (kg["triples"], "count")
    out["pools.rows"] = (kg["pools"], "count")
    out["entity_link.linked_ratio"] = (kg["linked"] / kg["attendee_triples"], "ratio")
    out["manifest.files"] = (kg["files"], "count")
    out["manifest.bytes_per_input_byte"] = (kg["bytes"] / kg["input_bytes"], "ratio")
    out["text.gates_keep_ratio"] = (cur["gated"] / cur["docs"], "ratio")
    out["dedup.candidate_pairs"] = (cur["candidate_pairs"], "count")
    out["dedup.verify_yield"] = (
        cur["verified_pairs"] / max(cur["candidate_pairs"], 1), "ratio",
    )
    out["resolve.cc_jobs"] = (stat("jobs")("resolve.cc"), "count")
    out["curate.jobs"] = (stat("jobs")("curate"), "count")
    cs = stats.get("curate") or GroupStats()
    out["curate.driver_gap_s"] = (
        walls["curate"] - covered_ms(cs.intervals) / 1000, "s",
    )
    out["trace.overhead"] = (walls[wl] / untraced_wall, "ratio")
    out["ladder.coverage_kg_build"] = (
        sum(walls[g] for g in KG_STAGES) / walls["kg_build"],
        "ratio",
    )
    out["ladder.coverage_curate"] = (
        sum(combine(g, lambda x: walls[x]) for g in CURATE_STAGES) / walls["curate"],
        "ratio",
    )
    out["ladder.kg_matches_pipeline"] = (int(kg["digest"] == kg["whole_digest"]), "bool")
    out["ladder.curate_matches_pipeline"] = (
        int(cur["digest"] == cur["whole_digest"]), "bool",
    )
    return out
