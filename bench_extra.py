"""Round-6 optimization profiling harness (bench.py stays FROZEN).

Per-stage isolation of the expensive queries with the noop sink (guide
§1.4): each probe rebuilds a FRESH logical plan per repetition (AQE reuses
materialized stages otherwise), takes one untimed C2-promotion pass, then
reports min/median over ``--reps`` timed runs. Jobs are labelled via
``setJobDescription`` so event logs/UI attribute stages correctly.

Usage:
    python bench_extra.py <section> [--reps N] [--sink noop|count]
Sections: extract, minhash, materialize, ann, misc, headline:<name>[,name...]

Numbers are cited in OPTIMIZATION_r06.md; this file is measurement-only and
is NOT part of the driver bench contract.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

REPS = 3
SINK = "noop"
for i, a in enumerate(list(sys.argv)):
    if a == "--reps":
        REPS = int(sys.argv[i + 1])
    if a == "--sink":
        SINK = sys.argv[i + 1]


def _spark():
    from calendar_event_entity_extraction_spark.session import get_spark

    n = int(CPUS)
    return get_spark(
        app_name="cees-bench-extra",
        cores=CPUS,
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-XX:ParallelGCThreads={max(n, 1)} "
                f"-XX:CICompilerCount={max(2, min(4, n))}"
            )
        },
    )


def probe(spark, name: str, build, reps: int = None, sink: str = None):
    """One untimed promotion pass + ``reps`` timed runs of a fresh plan."""
    reps = reps or REPS
    sink = sink or SINK

    def run(df):
        if sink == "count":
            df.count()
        else:
            df.write.format("noop").mode("overwrite").save()

    spark.sparkContext.setJobDescription(f"{name} [promote]")
    run(build(99))
    times = []
    for i in range(reps):
        spark.sparkContext.setJobDescription(f"{name} [{i}]")
        t0 = time.time()
        run(build(i))
        times.append(round(time.time() - t0, 3))
    times_sorted = sorted(times)
    print(
        f"{name:44s} min={times_sorted[0]:7.3f}  med={times_sorted[len(times_sorted)//2]:7.3f}  all={times}",
        flush=True,
    )
    return times_sorted[0]


def _fresh(df, i):
    """Trivially-true varying filter: fresh plan, same rows."""
    from pyspark.sql import functions as F

    c = df.columns[0]
    return df.filter(F.length(F.col(c).cast("string")) > F.lit(-1 - i))


def section_extract(spark):
    from pyspark.sql import functions as F

    from calendar_event_entity_extraction_spark.functions.datetime_norm import (
        DATE_ANY_RE,
        TIME_ANY_RE,
        date_norm_col,
        duration_norm_col,
        time_norm_col,
    )
    from calendar_event_entity_extraction_spark.operators.canonicalize import (
        canonicalize_events,
    )
    from calendar_event_entity_extraction_spark.operators.extract import (
        action_col,
        attendees_col,
        extract_events,
        location_col,
        notes_col,
        recurrence_col,
    )
    from calendar_event_entity_extraction_spark.operators.triples import (
        SLIM_EVENT_COLS,
        events_to_triples,
    )
    from calendar_event_entity_extraction_spark.schemas import TRANSCRIPT_SCHEMA
    from calendar_event_entity_extraction_spark.synth.transcripts import (
        materialized_transcripts,
    )

    materialized_transcripts(spark, SF_DIR)

    def tr(i):
        from calendar_event_entity_extraction_spark.synth.grammar import (
            GRAMMAR_VERSION,
        )

        n_keys = spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
        base = os.path.basename(SF_DIR.rstrip("/"))
        path = f"/tmp/cees_bench/transcripts_v{GRAMMAR_VERSION}_{base}_{n_keys}"
        return (
            spark.read.schema(TRANSCRIPT_SCHEMA)
            .parquet(path)
            .filter(F.length("text") > F.lit(-1 - i))
        )

    text = F.col("text")
    probe(spark, "scan only (all cols)", lambda i: tr(i))
    probe(spark, "scan+role filter", lambda i: tr(i).filter(F.col("role") == "user"))
    probe(
        spark,
        "scan+role+date rlike",
        lambda i: tr(i).filter((F.col("role") == "user") & text.rlike(DATE_ANY_RE)),
    )
    probe(
        spark,
        "scan+role+date+time rlike (detect)",
        lambda i: tr(i).filter(
            (F.col("role") == "user") & text.rlike(DATE_ANY_RE) & text.rlike(TIME_ANY_RE)
        ),
    )

    def detected(i):
        return tr(i).filter(
            (F.col("role") == "user") & text.rlike(DATE_ANY_RE) & text.rlike(TIME_ANY_RE)
        )

    probe(
        spark,
        "detect+date_norm",
        lambda i: detected(i).select("conv_id", "turn_idx", date_norm_col(text)),
    )
    probe(
        spark,
        "detect+time_norm",
        lambda i: detected(i).select("conv_id", "turn_idx", time_norm_col(text)),
    )
    probe(
        spark,
        "detect+action",
        lambda i: detected(i).select("conv_id", "turn_idx", action_col(text)),
    )
    probe(
        spark,
        "detect+attendees",
        lambda i: detected(i).select("conv_id", "turn_idx", attendees_col(text)),
    )
    probe(
        spark,
        "detect+location",
        lambda i: detected(i).select("conv_id", "turn_idx", location_col(text)),
    )
    probe(
        spark,
        "detect+duration",
        lambda i: detected(i).select("conv_id", "turn_idx", duration_norm_col(text)),
    )
    probe(
        spark,
        "detect+recurrence+notes",
        lambda i: detected(i).select(
            "conv_id", "turn_idx", recurrence_col(text), notes_col(text)
        ),
    )
    probe(spark, "extract_events full", lambda i: extract_events(tr(i)))
    probe(
        spark,
        "extract+slim+canonicalize",
        lambda i: canonicalize_events(
            extract_events(tr(i)).select(*SLIM_EVENT_COLS)
        ),
    )
    probe(
        spark,
        "extract+canon+triples",
        lambda i: events_to_triples(
            canonicalize_events(extract_events(tr(i)).select(*SLIM_EVENT_COLS))
        ),
    )


def section_minhash(spark):
    from pyspark.sql import functions as F

    from calendar_event_entity_extraction_spark.docs_queries import (
        _docs_planted,
    )
    from calendar_event_entity_extraction_spark.operators.dedup import (
        capped_band_pairs,
        minhash_bands,
        minhash_near_duplicates,
        shingles_udf,
    )

    def docs(i):
        return _fresh(_docs_planted(spark, SF_DIR), i)

    probe(spark, "docs_planted scan", lambda i: docs(i))
    probe(
        spark,
        "minhash bands (sigs kernel)",
        lambda i: minhash_bands(docs(i), "doc_id", "text", 8, 2),
    )
    probe(
        spark,
        "bands+capped_band_pairs",
        lambda i: capped_band_pairs(minhash_bands(docs(i), "doc_id", "text", 8, 2)),
    )
    probe(
        spark,
        "shingles kernel only",
        lambda i: docs(i).select("doc_id", shingles_udf(3)(F.col("text"))),
    )
    probe(
        spark,
        "minhash_near_duplicates full",
        lambda i: minhash_near_duplicates(
            docs(i), "doc_id", "text", threshold=0.6, perms=8, rows_per_band=2
        ),
    )


def section_materialize(spark):
    import shutil

    from calendar_event_entity_extraction_spark.plans.pipeline import (
        input_fingerprint,
        run_pipeline,
    )
    from calendar_event_entity_extraction_spark.synth.transcripts import (
        materialized_transcripts,
    )

    tr = materialized_transcripts(spark, SF_DIR)
    out = "/tmp/cees_bench/pipeline_out_extra"

    # promotion pass
    shutil.rmtree(out, ignore_errors=True)
    spark.sparkContext.setJobDescription("pipeline [promote]")
    run_pipeline(spark, tr, out, resume=False)

    for i in range(REPS):
        shutil.rmtree(out, ignore_errors=True)
        spark.sparkContext.setJobDescription(f"pipeline fingerprint [{i}]")
        t0 = time.time()
        fp = input_fingerprint(tr)
        t_fp = time.time() - t0
        print(f"  fingerprint: {t_fp:.3f}s ({fp})", flush=True)

        # per-stage timing: replicate run_pipeline's stage sequence manually
        from pyspark.sql import functions as F

        from calendar_event_entity_extraction_spark.operators.canonicalize import (
            canonicalize_events,
        )
        from calendar_event_entity_extraction_spark.operators.entity_link import (
            build_entity_pools,
            link_entities,
        )
        from calendar_event_entity_extraction_spark.operators.extract import (
            extract_events,
        )
        from calendar_event_entity_extraction_spark.operators.triples import (
            SLIM_EVENT_COLS,
            events_to_triples,
        )
        from calendar_event_entity_extraction_spark.sources import manifest as mf

        def stage(name, build, partition_by=None):
            spark.sparkContext.setJobDescription(f"stage {name} [{i}]")
            t0 = time.time()
            df = build()
            mf.write_stage(df, out, name, fp, partition_by)
            got = mf.read_stage(spark, out, name)
            print(f"  stage {name}: {time.time() - t0:.3f}s", flush=True)
            return got

        t_all = time.time()
        events = stage(
            "events",
            lambda: canonicalize_events(
                extract_events(tr).select(*SLIM_EVENT_COLS)
            ),
        )
        triples = stage("triples", lambda: events_to_triples(events))
        pools = stage("entity_pools", lambda: build_entity_pools(triples, 500))

        def build_edges():
            att_pool = pools.filter(F.col("pred") == "attendee").select(
                "name", "cnt"
            )
            return link_entities(triples, att_pool, "attendee")

        spark.sparkContext.setJobDescription(f"stage edges [{i}]")
        t0 = time.time()
        mf.write_stage_partitioned_resumable(build_edges(), out, "edges", fp, "pred")
        edges = mf.read_stage(spark, out, "edges")
        print(f"  stage edges: {time.time() - t0:.3f}s", flush=True)

        def build_nodes():
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
            return ent.select("node_id", "name", "kind").unionByName(
                ev.select("node_id", "name", "kind")
            )

        stage("nodes", build_nodes, partition_by=["kind"])
        print(f"  TOTAL per-stage run [{i}]: {time.time() - t_all:.3f}s", flush=True)

    # whole-path reference timing (what bench.py measures)
    for i in range(REPS):
        shutil.rmtree(out, ignore_errors=True)
        spark.sparkContext.setJobDescription(f"pipeline whole [{i}]")
        t0 = time.time()
        run_pipeline(spark, tr, out, resume=False)
        print(f"  run_pipeline whole [{i}]: {time.time() - t0:.3f}s", flush=True)


def section_ann(spark):
    from pyspark.sql import functions as F

    from calendar_event_entity_extraction_spark.operators.similarity import (
        brute_force_topk,
    )

    def emb(i):
        return _fresh(spark.read.parquet(f"{SF_DIR}/embeddings.parquet"), i)

    probe(spark, "embeddings scan", lambda i: emb(i))

    def brute(i):
        e = emb(i)
        return brute_force_topk(e, e.filter(F.col("vec_id") % 41 == 0), k=5)

    probe(spark, "ann brute full", brute)

    # join without cosine: isolates the nested-loop join + explode cost
    def join_only(i):
        e = emb(i)
        q = e.filter(F.col("vec_id") % 41 == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
        )
        c = e.select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
        )
        return c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
            "query_id", "neighbor_id"
        )

    probe(spark, "ann join only (no cosine)", join_only)

    from calendar_event_entity_extraction_spark.functions.vectors import cosine_col

    def join_cos(i):
        e = emb(i)
        q = e.filter(F.col("vec_id") % 41 == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
        )
        c = e.select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
        )
        return (
            c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                cosine_col(F.col("q_vec"), F.col("c_vec")).alias("cos"),
            )
        )

    probe(spark, "ann join+cosine (no window)", join_cos)


def section_misc(spark):
    from pyspark.sql import functions as F

    from calendar_event_entity_extraction_spark.docs_queries import (
        q_decontaminate,
        q_dup_spans,
        q_embedding_quantize,
        q_repetition_stats,
    )

    probe(spark, "repetition_stats", lambda i: _fresh(q_repetition_stats(spark, SF_DIR), i))
    probe(spark, "embedding_quantize", lambda i: _fresh(q_embedding_quantize(spark, SF_DIR), i))
    probe(spark, "dup_spans", lambda i: _fresh(q_dup_spans(spark, SF_DIR), i))
    probe(spark, "decontaminate", lambda i: _fresh(q_decontaminate(spark, SF_DIR), i))


def section_headline(spark, names):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "__spark_entry__.py"),
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    qmap = entry.queries()
    for name in names:
        probe(spark, name, lambda i, n=name: qmap[n](spark, SF_DIR), sink="count")


def main():
    section = sys.argv[1] if len(sys.argv) > 1 else "extract"
    spark = _spark()
    print(f"== section {section} sf={SF_DIR} cpus={CPUS} reps={REPS} sink={SINK}")
    if section == "extract":
        section_extract(spark)
    elif section == "minhash":
        section_minhash(spark)
    elif section == "materialize":
        section_materialize(spark)
    elif section == "ann":
        section_ann(spark)
    elif section == "misc":
        section_misc(spark)
    elif section == "curation":
        section_curation(spark)
    elif section.startswith("headline:"):
        section_headline(spark, section.split(":", 1)[1].split(","))
    else:
        raise SystemExit(f"unknown section {section}")
    spark.stop()



def section_curation(spark):
    from pyspark.sql import functions as F

    from calendar_event_entity_extraction_spark.docs_queries import (
        MIXTURE_SEED,
        MIXTURE_WEIGHTS,
        _docs_chained_lang,
    )
    from calendar_event_entity_extraction_spark.functions.text import (
        quality_ok_col,
        repetition_keep_udf,
    )
    from calendar_event_entity_extraction_spark.operators.dedup import (
        capped_band_pairs,
        dedup_first_wins,
        minhash_bands,
        minhash_near_duplicates,
    )
    from calendar_event_entity_extraction_spark.operators.resolve import (
        connected_components,
    )

    def docs(i):
        return _fresh(_docs_chained_lang(spark, SF_DIR), i)

    def gated(i):
        text = F.col("text")
        return docs(i).filter(quality_ok_col(text) & repetition_keep_udf()(text))

    def deduped(i):
        return dedup_first_wins(gated(i), ["text"], "doc_id")

    probe(spark, "cur: gates", gated)
    probe(spark, "cur: gates+dedup", deduped)
    probe(
        spark,
        "cur: +bands",
        lambda i: minhash_bands(deduped(i), "doc_id", "text", 8, 2),
    )
    probe(
        spark,
        "cur: +capped pairs",
        lambda i: capped_band_pairs(
            minhash_bands(deduped(i), "doc_id", "text", 8, 2)
        ),
    )
    probe(
        spark,
        "cur: +verified pairs",
        lambda i: minhash_near_duplicates(
            deduped(i), "doc_id", "text", threshold=0.6, perms=8, rows_per_band=2
        ),
    )
    probe(
        spark,
        "cur: +CC labels",
        lambda i: connected_components(
            minhash_near_duplicates(
                deduped(i), "doc_id", "text",
                threshold=0.6, perms=8, rows_per_band=2,
            ),
            "id_a",
            "id_b",
        ),
    )
    from calendar_event_entity_extraction_spark.plans.curate import curate_full

    probe(
        spark,
        "cur: full composite",
        lambda i: curate_full(docs(i), MIXTURE_WEIGHTS, seed=MIXTURE_SEED),
        sink="count",
    )

if __name__ == "__main__":
    main()
