"""Round-6 optimization profiling harness (bench.py stays FROZEN).

Per-stage isolation of the expensive queries with the noop sink (guide
§1.4): each probe rebuilds a FRESH logical plan per repetition (AQE reuses
materialized stages otherwise), takes one untimed C2-promotion pass, then
reports min/median over ``--reps`` timed runs. Jobs are labelled via
``setJobDescription`` so event logs/UI attribute stages correctly.

Usage:
    python bench_extra.py <section> [--reps N] [--sink noop|count]
Sections: minhash, ann, misc, headline:<name>[,name...]

The kg_build and curate layer ladders are ``perfbench/run.py --trace 1``.

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


def section_minhash(spark):
    from pyspark.sql import functions as F

    from calendar_event_entity_extraction_spark.docs_queries import (
        _docs_planted,
    )
    from calendar_event_entity_extraction_spark.operators.dedup import (
        capped_band_pairs,
        minhash_bands,
        minhash_near_duplicates,
        ngrams_udf,
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
        lambda i: docs(i).select(
            "doc_id", ngrams_udf(3, distinct=True)(F.col("text"))
        ),
    )
    probe(
        spark,
        "minhash_near_duplicates full",
        lambda i: minhash_near_duplicates(
            docs(i), "doc_id", "text", threshold=0.6, perms=8, rows_per_band=2
        ),
    )


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
    section = sys.argv[1] if len(sys.argv) > 1 else "minhash"
    spark = _spark()
    print(f"== section {section} sf={SF_DIR} cpus={CPUS} reps={REPS} sink={SINK}")
    if section == "minhash":
        section_minhash(spark)
    elif section == "ann":
        section_ann(spark)
    elif section == "misc":
        section_misc(spark)
    elif section.startswith("headline:"):
        section_headline(spark, section.split(":", 1)[1].split(","))
    else:
        raise SystemExit(f"unknown section {section}")
    spark.stop()


if __name__ == "__main__":
    main()
