"""Mixture sampling determinism/proportions + repetition signals."""

import pytest
from pyspark.sql import functions as F

from specs import hostile_rows, keep_repetition_col, repetition_struct_full

from calendar_event_entity_extraction_spark.functions.text import (
    REPETITION_FULL_FIELDS,
    repetition_keep_udf,
    repetition_struct_full_udf,
)
from calendar_event_entity_extraction_spark.operators.sampling import mixture_sample


def _repetition_kernel(df) -> dict:
    """doc_id → the production kernel's repetition struct as a dict."""
    return {
        r["doc_id"]: r["_r"].asDict()
        for r in df.select(
            "doc_id", repetition_struct_full_udf()(F.col("text")).alias("_r")
        ).collect()
    }


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, ["en", "de", "fr"][i % 3]) for i in range(3000)]
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_mixture_proportions_and_determinism(docs):
    w = {"en": 0.5, "de": 1.0}  # fr absent -> dropped
    out = mixture_sample(docs, "lang", w, "doc_id", seed=11)
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert "fr" not in counts
    assert counts["de"] == 1000  # weight 1.0 keeps everything
    assert 400 <= counts["en"] <= 600  # ~0.5 of 1000
    # identical result on re-run (no RNG)
    again = mixture_sample(docs, "lang", w, "doc_id", seed=11)
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
    # a different seed samples a different subset of en
    other = mixture_sample(docs, "lang", w, "doc_id", seed=12)
    assert {r["doc_id"] for r in out.collect()} != {r["doc_id"] for r in other.collect()}


def test_mixture_is_narrow_filter(docs):
    plan = mixture_sample(docs, "lang", {"en": 0.5}, "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # no shuffle: pure filter


def test_repetition_signals(spark):
    rows = [
        (1, "a b c d e f g h i j"),  # all distinct
        (2, "x x x x"),            # fully degenerate
        (3, "a b a b a b"),        # repeated bigram pattern
        (4, "solo"),               # single token, no bigrams
    ]
    out = _repetition_kernel(spark.createDataFrame(rows, "doc_id long, text string"))

    assert out[1]["n_tokens"] == 10 and out[1]["n_distinct"] == 10
    assert out[1]["top_token_count"] == 1
    assert out[1]["n_bigrams"] == 9 and out[1]["n_distinct_bigrams"] == 9
    assert out[1]["keep_repetition"] is True

    assert out[2]["n_distinct"] == 1 and out[2]["top_token_count"] == 4
    assert out[2]["n_bigrams"] == 3 and out[2]["n_distinct_bigrams"] == 1
    assert out[2]["keep_repetition"] is False

    assert out[3]["n_tokens"] == 6 and out[3]["n_distinct"] == 2
    assert out[3]["top_token_count"] == 3
    # bigrams: ab ba ab ba ab -> 5 total, 2 distinct
    assert out[3]["n_bigrams"] == 5 and out[3]["n_distinct_bigrams"] == 2
    assert out[3]["keep_repetition"] is False  # dup-bigram mass 3/5 > 0.5

    assert out[4]["n_tokens"] == 1 and out[4]["n_bigrams"] == 0
    assert out[4]["keep_repetition"] is False  # top mass 1/1 > 0.2


def test_repetition_full_family(spark):
    clean = " ".join(f"tok{i:02d}" for i in range(30))  # 30 distinct tokens
    rows = [
        (1, clean),
        (2, "x y z x y z x y z w q r s t"),  # "x y z" 3-gram repeated 3x
        (3, "one two three four five six one two three four five six "
            "tail0 tail1 tail2 tail3"),      # duplicated 5- and 6-grams
    ]
    out = _repetition_kernel(spark.createDataFrame(rows, "doc_id long, text string"))
    # clean: every gram unique, all dup masses zero, all gates pass
    assert out[1]["dup5gram_chars"] == 0 and out[1]["dup10gram_chars"] == 0
    assert out[1]["top2gram_chars"] == len("tok00 tok01")
    assert out[1]["keep_repetition_full"] is True
    # heavy 3-gram: "x y z" x3 -> mass 15 > 18% of 27 normalized chars
    assert out[2]["top3gram_chars"] == 15
    assert out[2]["n_chars_norm"] == 27
    assert out[2]["keep_repetition_full"] is False
    # duplicated long grams: the 6-gram (27 chars) twice, two 5-grams twice
    assert out[3]["dup6gram_chars"] == 2 * 27
    assert out[3]["dup5gram_chars"] == 4 * 23
    assert out[3]["keep_repetition_full"] is False


def test_repetition_kernel_equals_column_spec(spark):
    """repetition_keep_udf must emit EXACTLY keep_repetition_col's values —
    the kernel is the production gate in curate_full / streaming_curate
    while the Column form remains the spec the DuckDB oracles mirror.
    Adversarial rows exercise the tokenization edges the two
    implementations could diverge on (same battery as the minhash kernel):
    ASCII-space-only trim, Java-\\s-class-only splitting (NBSP is a TOKEN
    character), leading-separator empty tokens, unicode case, null — plus
    the hostile-text battery."""
    rows = [
        (1, "a b c d e f g h i j"),
        (2, "x x x x"),
        (3, "a b a b a b"),
        (4, "solo"),
        (5, ""),
        (6, "   "),
        (7, "\ta b"),                       # leading tab -> leading "" token
        (8, "a b c d e f g h i j k"),  # NBSP stays inside a token
        (9, "Café cafÉ CAFÉ cafe def ghi jkl mno pqr stu"),
        (10, None),
        (11, "a  b\t\tc\n\nd e f g h i j"),  # mixed multi-separators
        (12, "one two three four five six seven eight nine ten " * 3),
    ] + hostile_rows(100)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = df.select(
        "doc_id",
        keep_repetition_col(F.col("text")).alias("spec"),
        repetition_keep_udf()(F.col("text")).alias("kernel"),
    ).collect()
    for r in got:
        assert r["kernel"] == r["spec"], (r["doc_id"], r["spec"], r["kernel"])


def test_repetition_kernel_equals_spec_on_corpus(spark):
    """Corpus-wide kernel↔spec equality at sf0.001 (every documents row)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    diff = docs.select(
        keep_repetition_col(F.col("text")).alias("spec"),
        repetition_keep_udf()(F.col("text")).alias("kernel"),
    ).filter(
        ~F.col("spec").eqNullSafe(F.col("kernel"))
    )
    assert diff.count() == 0


def test_repetition_full_kernel_equals_column_spec(spark):
    """repetition_struct_full_udf must emit EXACTLY the Column family's
    values field-by-field — it is now the production path of the
    `repetition_stats` driver row while repetition_struct_full remains the
    spec the DuckDB oracle mirrors. Same adversarial battery as the keep
    kernel plus the sf0.001 corpus sweep."""
    rows = [
        (1, "a b c d e f g h i j"),
        (2, "x x x x"),
        (3, "a b a b a b"),
        (4, "solo"),
        (5, ""),
        (6, "   "),
        (7, "\ta b"),
        (8, "a b c d e f g h i j k"),
        (9, "Café cafÉ CAFÉ cafe def ghi jkl mno pqr stu"),
        (10, None),
        (11, "a  b\t\tc\n\nd e f g h i j"),
        (12, "one two three four five six seven eight nine ten " * 3),
        (13, "lorem ipsum dolor sit amet " * 2 + "unique tail words here"),
    ] + hostile_rows(100)
    # corpus ids offset so they cannot collide with the synthetic rows
    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    df = spark.createDataFrame(rows, "doc_id long, text string").unionByName(
        corpus
    )
    names = [n for n, _ in REPETITION_FULL_FIELDS]
    spec = df.select(
        "doc_id", *[c.alias(f"s_{n}") for c, n in zip(
            repetition_struct_full(F.col("text")), names)]
    )
    kern = df.select(
        "doc_id", repetition_struct_full_udf()(F.col("text")).alias("_r")
    ).select("doc_id", *[F.col(f"_r.{n}").alias(f"k_{n}") for n in names])
    j = spec.join(kern, "doc_id")
    bad = None
    for n in names:
        m = ~F.col(f"s_{n}").eqNullSafe(F.col(f"k_{n}"))
        bad = m if bad is None else (bad | m)
    diffs = j.filter(bad).collect()
    assert diffs == [], diffs[:3]
