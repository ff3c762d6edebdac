"""The three benchmark workloads.

Each workload generates its inputs in ``setup`` and runs one operation per
``op`` call, on a fresh logical plan (a new parquet read), through the
package's public entry points only. ``digest`` reads the output of the
last operation; a digest that differs from the promotion pass's counts as
a failed operation.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from calendar_event_entity_extraction_spark.docs_queries import (
    MIXTURE_SEED,
    MIXTURE_WEIGHTS,
)
from calendar_event_entity_extraction_spark.operators.metrics import field_metrics
from calendar_event_entity_extraction_spark.plans.curate import curate_full
from calendar_event_entity_extraction_spark.plans.pipeline import run_pipeline
from calendar_event_entity_extraction_spark.sources.tables import read_transcripts
from calendar_event_entity_extraction_spark.synth.transcripts import gold_events

import fixtures

BUCKET_CAP = 64
# Each workload pins its digest for this seed at scale 1: a change of the
# program's output there makes the run incorrect, not merely slower.
PINNED_SEED = 1


def table_digest(df) -> str:
    """Row count plus the exact sum of xxhash64 over every column."""
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


class KgBuild:
    """run_pipeline(resume=False) into an empty output directory."""

    name = "kg_build"
    pinned = "15929:314969025643112316984|2681:-77072297962028526197"

    def __init__(self, seed: int, scale: float, work: str):
        self.seed, self.scale, self.work = seed, scale, work
        self.transcripts = os.path.join(work, "transcripts")
        self.out = os.path.join(work, "kg")
        self.input_rows = 0

    def setup(self, spark) -> str:
        self.input_rows = fixtures.write_transcripts(
            spark, self.seed, self.scale, self.transcripts
        )
        return self.promote(spark)

    def promote(self, spark) -> str:
        self.prepare()
        self.op(spark)
        return self.digest(spark)

    def prepare(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def op(self, spark) -> None:
        run_pipeline(
            spark, read_transcripts(spark, self.transcripts), self.out, resume=False
        )

    def digest(self, spark) -> str:
        return graph_digest(spark, self.out)

    def quality(self, spark) -> dict:
        """Untimed 8-field comparison of the written events stage against
        the grammar's gold events (reference semantics)."""
        pred = spark.read.parquet(os.path.join(self.out, "events"))
        gold = gold_events(fixtures.keys(spark, self.seed, self.scale))
        row = (
            field_metrics(pred, gold)
            .select("field_accuracy", "exact_match")
            .collect()[0]
        )
        return {"field_accuracy": (row[0], "ratio"), "exact_match": (row[1], "ratio")}


class KgResume(KgBuild):
    """Full output built in set-up; each operation drops the edges and nodes
    stages (a crash after the pools stage) and resumes."""

    name = "kg_resume"

    def setup(self, spark) -> str:
        build = KgBuild(self.seed, self.scale, self.work)
        build_digest = build.setup(spark)
        self.input_rows = build.input_rows
        got = self.promote(spark)
        if got != build_digest:
            raise RuntimeError(f"resume digest {got} != build digest {build_digest}")
        return got

    def prepare(self) -> None:
        for stage in ("edges", "nodes"):
            shutil.rmtree(os.path.join(self.out, stage), ignore_errors=True)

    def op(self, spark) -> None:
        run_pipeline(
            spark, read_transcripts(spark, self.transcripts), self.out, resume=True
        )


def graph_digest(spark, out: str) -> str:
    return "|".join(
        table_digest(spark.read.parquet(os.path.join(out, t)))
        for t in ("edges", "nodes")
    )


class Curate:
    """curate_full(bucket_cap=64) plus a digest of its output."""

    name = "curate"
    pinned = "886:8242988271791516408"

    def __init__(self, seed: int, scale: float, work: str):
        self.seed, self.scale, self.work = seed, scale, work
        self.docs = os.path.join(work, "documents")
        self.input_rows = 0
        self.last = ""

    def setup(self, spark) -> str:
        self.input_rows = fixtures.write_documents(self.seed, self.scale, self.docs)
        return self.promote(spark)

    def promote(self, spark) -> str:
        self.op(spark)
        return self.last

    def prepare(self) -> None:
        pass

    def op(self, spark) -> None:
        out = curate_full(
            spark.read.parquet(self.docs),
            MIXTURE_WEIGHTS,
            seed=MIXTURE_SEED,
            bucket_cap=BUCKET_CAP,
        )
        self.last = table_digest(out)

    def digest(self, spark) -> str:
        return self.last

    def quality(self, spark) -> dict:
        return {"n_kept": (int(self.last.split(":")[0]), "count")}


WORKLOADS = {w.name: w for w in (KgBuild, KgResume, Curate)}
