"""Hash splits, leakage anti-join, entity pools + salted aggregation."""

from pyspark.sql import functions as F

from calendar_event_entity_extraction_spark.functions.text import text_signature
from calendar_event_entity_extraction_spark.operators import (
    canonicalize_events,
    extract_events,
    events_to_triples,
)
from calendar_event_entity_extraction_spark.operators.entity_link import (
    build_entity_pools,
    link_entities,
    salted_count,
)
from calendar_event_entity_extraction_spark.operators.splits import (
    assign_split,
    deterministic_sample,
    drop_split_leakage,
)
from calendar_event_entity_extraction_spark.synth import keys_df, transcripts_from_keys


def _triples(spark, n=1500):
    tr = transcripts_from_keys(keys_df(spark, n))
    return events_to_triples(canonicalize_events(extract_events(tr)))


def test_salted_count_equals_plain_count(spark):
    t = _triples(spark).filter(F.col("pred") == "attendee").select(
        F.col("obj").alias("name")
    ).cache()
    salted = {r["name"]: r["cnt"] for r in salted_count(t, "name").collect()}
    plain = {r["name"]: r["count"] for r in t.groupBy("name").count().collect()}
    assert salted == plain


def test_entity_pool_topk_and_linking(spark):
    tr = _triples(spark).cache()
    full = build_entity_pools(tr, top_k=None).cache()
    # top_k=None is the plain Counter: every (pred, name) count, uncut
    plain = (
        tr.filter(F.col("pred").isin("attendee", "location"))
        .groupBy("pred", "obj")
        .count()
    )
    assert sorted(map(tuple, full.select("pred", "name", "cnt").collect())) == sorted(
        map(tuple, plain.collect())
    )

    pool = build_entity_pools(tr, top_k=10).cache()
    assert pool.columns == ["name", "cnt", "pred"]
    for pred in ("attendee", "location"):
        everything = [
            (r["cnt"], r["name"]) for r in full.filter(F.col("pred") == pred).collect()
        ]
        assert len(everything) > 10, pred
        # both preds cut at top_k; ties break by (desc cnt, asc name)
        want = sorted(everything, key=lambda t: (-t[0], t[1]))[:10]
        got = sorted(
            ((r["cnt"], r["name"]) for r in pool.filter(F.col("pred") == pred).collect()),
            key=lambda t: (-t[0], t[1]),
        )
        assert got == want, pred

    # a tie straddling the cut keeps the lexicographically smaller names
    tied = spark.createDataFrame(
        [("attendee", n) for n in "bbaaccd"] + [("location", n) for n in "zzzyx"]
        + [("action", "a")],
        "pred string, obj string",
    )
    got = {
        (r["pred"], r["name"], r["cnt"])
        for r in build_entity_pools(tied, top_k=2).collect()
    }
    assert got == {
        ("attendee", "a", 2), ("attendee", "b", 2),
        ("location", "z", 3), ("location", "x", 1),
    }

    att_pool = pool.filter(F.col("pred") == "attendee").select("name", "cnt")
    names = [r["name"] for r in att_pool.collect()]
    linked = link_entities(tr, att_pool, "attendee")
    att = linked.filter(F.col("pred") == "attendee")
    in_pool = att.filter(F.col("obj").isin(*names))
    assert (
        in_pool.filter(F.col("entity_rank").isNull()).count() == 0
    )
    out_pool = att.filter(~F.col("obj").isin(*names))
    assert out_pool.filter(F.col("entity_rank").isNotNull()).count() == 0
    # non-attendee triples never link
    assert (
        linked.filter((F.col("pred") != "attendee") & F.col("entity_rank").isNotNull()).count()
        == 0
    )


def test_link_entities_empty_pool_holds_no_python_rdd(spark):
    """An empty pool keeps every triple unlinked, and neither the result's
    lineage nor its plan (the broadcast side included) holds Python-built
    data: pyspark skips Arrow for a zero-row pandas frame, so the rank
    table must come from the JVM."""
    tr = spark.range(4).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") < 3, "attendee").otherwise("location").alias("pred"),
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("obj"),
    )
    pool = spark.range(0).select(
        F.lit("n0").alias("name"), F.lit(1).cast("bigint").alias("cnt")
    )
    linked = link_entities(tr, pool, "attendee")
    assert linked.schema["entity_rank"].dataType.simpleString() == "int"
    assert sorted(map(tuple, linked.collect())) == [
        (i, "attendee" if i < 3 else "location", f"n{i}", None) for i in range(4)
    ]
    qe = linked._jdf.queryExecution()
    assert "LogicalRDD" not in qe.optimizedPlan().toString()
    assert "PythonRDD" not in qe.toRdd().toDebugString()


def test_split_assignment_deterministic_and_disjoint(spark):
    df = spark.range(5000).withColumnRenamed("id", "k")
    s1 = assign_split(df, "k")
    s2 = assign_split(df, "k")
    assert s1.exceptAll(s2).count() == 0
    frac = {
        r["split"]: r["count"] for r in s1.groupBy("split").count().collect()
    }
    assert 0.6 < frac["train"] / 5000 < 0.8
    assert 0.1 < frac["eval"] / 5000 < 0.2


def test_leakage_anti_join_drops_shared_signatures(spark):
    rows = [
        (0, "shared text", "train"),
        (1, "  SHARED   text ", "eval"),   # same signature as train → dropped
        (2, "unique eval", "eval"),
        (3, "shared text", "test"),        # in train → dropped
        (4, "unique eval", "test"),        # in eval → dropped
        (5, "unique test", "test"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, split string")
    kept = {r["doc_id"] for r in drop_split_leakage(df).collect()}
    assert kept == {0, 2, 5}


def drop_split_leakage_antijoin(splits):
    """Reference-shaped formulation of ``drop_split_leakage``
    (``augmentation/augmentors.py:64-78``): two distinct-signature sets +
    three left anti-joins."""
    df = splits.withColumn("_sig", text_signature(F.col("text")))
    train_sigs = df.filter(F.col("split") == "train").select("_sig").distinct()
    eval_sigs = df.filter(F.col("split") == "eval").select("_sig").distinct()

    train = df.filter(F.col("split") == "train")
    ev = df.filter(F.col("split") == "eval").join(train_sigs, "_sig", "left_anti")
    te = (
        df.filter(F.col("split") == "test")
        .join(train_sigs, "_sig", "left_anti")
        .join(eval_sigs, "_sig", "left_anti")
    )
    return train.unionByName(ev).unionByName(te).drop("_sig")


def test_leakage_min_rank_equals_antijoin_form(spark):
    """The single-aggregate min-rank formulation must return EXACTLY the
    rows of the reference-shaped 3-anti-join form — including duplicate
    train rows (all kept) and eval+test signature collisions with no
    train member (eval kept, test dropped)."""
    rows = [
        (0, "shared text", "train"),
        (1, "shared text", "train"),        # duplicate train rows: BOTH kept
        (2, "  SHARED   text ", "eval"),    # train sig → dropped
        (3, "eval only dup", "eval"),
        (4, "EVAL  only   dup", "test"),    # eval sig (no train) → dropped
        (5, "unique test", "test"),
        (6, "shared text", "test"),         # train sig → dropped
        (7, "another eval", "eval"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, split string")
    a = drop_split_leakage(df)
    b = drop_split_leakage_antijoin(df)
    assert a.columns == b.columns
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert {r["doc_id"] for r in a.collect()} == {0, 1, 3, 5, 7}


def test_deterministic_sample_stable(spark):
    df = spark.range(1000).withColumnRenamed("id", "k")
    a = [r["k"] for r in deterministic_sample(df, "k", 50).collect()]
    b = [r["k"] for r in deterministic_sample(df, "k", 50).collect()]
    assert a == b and len(a) == 50


def test_decontaminate_drops_ngram_overlap(spark):
    from pyspark.sql import functions as F

    from calendar_event_entity_extraction_spark.operators.splits import (
        decontaminate,
    )

    bench_text = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    corpus = spark.createDataFrame(
        [
            (1, bench_text + " extra suffix tokens"),       # shares 8-grams
            (2, "prefix " + bench_text),                     # shares 8-grams
            (3, "totally unrelated words one two three four five six seven"),
            (4, "alpha bravo charlie delta only a short overlap here now"),  # <8-gram overlap
        ],
        "doc_id long, text string",
    )
    benchmark = spark.createDataFrame([(99, bench_text)], "doc_id long, text string")
    kept = sorted(
        r["doc_id"]
        for r in decontaminate(corpus, benchmark, n=8).select("doc_id").collect()
    )
    assert kept == [3, 4], kept


def test_quantize_int8_roundtrip_bound(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from calendar_event_entity_extraction_spark.functions.vectors import (
        quantize_int8_col,
    )

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(50)]
    rows.append((50, [0.0] * 16))  # all-zero vector -> all-zero ints
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r["q"] for r in df.select(
        "vec_id", quantize_int8_col(F.col("embedding")).alias("q")
    ).collect()}
    assert out[50] == [0] * 16
    for i, vec in rows[:50]:
        v = np.array(vec, dtype=np.float64)
        maxab = np.abs(v).max()
        deq = np.array(out[i], dtype=np.float64) / 127.0 * maxab
        assert np.abs(deq - v).max() <= maxab / 127.0 + 1e-12
        assert max(map(abs, out[i])) <= 127


def test_decontaminate_bloom_gate_identical_and_no_false_negatives(spark):
    """The Bloom pre-gate is an optimization, never a semantics change:
    gate-on output must equal gate-off output (the exact semi-join decides),
    and the Bloom itself can never drop a truly-contaminated gram (no false
    negatives by construction — every inserted hash probes its own bits)."""
    import numpy as np

    from calendar_event_entity_extraction_spark.operators.splits import (
        _bloom_build,
        bloom_might_contain_udf,
        decontaminate,
    )

    docs = [
        (i, f"document {i} shares token{i % 7} stream alpha beta gamma delta epsilon zeta eta theta")
        for i in range(60)
    ]
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    benchmark = spark.createDataFrame(
        [(0, docs[5][1]), (1, docs[12][1]), (2, "no overlap with anything here at all whatsoever truly none")],
        "doc_id long, text string",
    )
    on = sorted(
        r["doc_id"]
        for r in decontaminate(corpus, benchmark, n=8, bloom_gate=True).collect()
    )
    off = sorted(
        r["doc_id"]
        for r in decontaminate(corpus, benchmark, n=8, bloom_gate=False).collect()
    )
    assert on == off and len(on) < 60

    # unit: every inserted hash must probe positive
    import pandas as pd

    hashes = np.arange(-500, 500, dtype=np.int64) * 2654435761
    m_bits = 1 << 14
    probe = bloom_might_contain_udf(_bloom_build(hashes, m_bits, 6), m_bits, 6)
    df = spark.createDataFrame([(int(h),) for h in hashes], "h long")
    got = df.select(probe(F.col("h")).alias("m")).collect()
    assert all(r["m"] for r in got)
