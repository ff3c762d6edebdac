"""ExactSubstr-style duplicate-span detection + scrub (operators/dedup.py).

Crafted fixtures pin: maximal-span merge (overlapping AND adjacent
windows), cross-doc-only semantics (intra-doc repeats are NOT spans),
k boundary behavior, hash_grams value-equality, and the scrub action.
The driver row `dup_spans` pins the full pipeline against the DuckDB
gaps-and-islands oracle at sf0.01.
"""

from pyspark.sql import functions as F

from calendar_event_entity_extraction_spark.operators.dedup import (
    duplicate_spans,
    scrub_duplicate_spans,
)


def _mkdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shared_prefix_merges_to_one_maximal_span(spark):
    # docs 1 and 2 share the first 6 tokens; k=4 → dup windows at pos 0,1,2
    # in both docs → ONE span [0, 5] with 3 windows
    shared = "a b c d e f"
    df = _mkdocs(
        spark,
        [(1, shared + " uniq1 x1 y1 z1"), (2, shared + " uniq2 x2 y2 z2")],
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
        for r in duplicate_spans(df, k=4).collect()
    }
    assert got == {(1, 0, 5, 3), (2, 0, 5, 3)}


def test_disjoint_shared_regions_yield_separate_spans(spark):
    # shared head AND shared tail, separated by >k unique tokens → 2 spans
    head, tail = "h1 h2 h3 h4", "t1 t2 t3 t4"
    df = _mkdocs(
        spark,
        [
            (1, f"{head} u1 u2 u3 u4 u5 {tail}"),
            (2, f"{head} v1 v2 v3 v4 v5 {tail}"),
        ],
    )
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_spans(df, k=4).collect()
    )
    assert got == [(1, 0, 3), (1, 9, 12), (2, 0, 3), (2, 9, 12)]


def test_intra_doc_repetition_is_not_a_span(spark):
    # one doc repeats a phrase internally; no other doc shares it → no rows
    df = _mkdocs(
        spark,
        [
            (1, "p q r s p q r s p q r s"),
            (2, "completely different words here now ok"),
        ],
    )
    assert duplicate_spans(df, k=4).count() == 0


def test_docs_shorter_than_k_produce_no_windows(spark):
    df = _mkdocs(spark, [(1, "a b c"), (2, "a b c")])
    assert duplicate_spans(df, k=4).count() == 0
    # but at k=3 the 3-token doc IS one window shared by both
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_spans(df, k=3).collect()
    }
    assert got == {(1, 0, 2), (2, 0, 2)}


def test_hash_grams_value_identical(spark):
    rows = [
        (i, f"alpha beta gamma delta epsilon zeta token{i} eta theta iota")
        for i in range(40)
    ]
    df = _mkdocs(spark, rows)
    a = duplicate_spans(df, k=4, hash_grams=False)
    b = duplicate_spans(df, k=4, hash_grams=True)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.count() > 0  # fixture actually exercises the path


def test_ngrams_udf_matches_column_spec(spark):
    """Kernel↔spec equality (the minhash_sigs_udf discipline): ordered
    ngrams_udf must equal posexplode(ngram_arr(split(lower(trim(text)))))
    positions AND values; distinct=True must equal
    array_distinct(ngram_arr(...)) as a SET — on adversarial whitespace
    (tabs, newlines, form feed, vertical tab, multi-space runs, leading/
    trailing spaces, unicode tokens, short docs, empty-ish strings)."""
    from specs import ngram_arr

    from calendar_event_entity_extraction_spark.operators.dedup import (
        ngrams_udf,
    )

    rows = [
        (0, "plain words here for a simple window test"),
        (1, "  leading and trailing spaces  "),
        (2, "tab\tseparated\ttokens\tand\nnewlines\nmixed in"),
        (3, "multi   space    runs \x0b vertical \x0c formfeed"),
        (4, "Café naïve ÜBER tokens ünïcode test case here"),
        (5, "short doc"),
        (6, "UPPER Case MiXeD tokens normalize identically always ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    n = 3
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")

    spec = df.select(
        "doc_id", F.posexplode(ngram_arr(toks, n)).alias("pos", "g")
    )
    kern = df.select(
        "doc_id", F.posexplode(ngrams_udf(n)(F.col("text"))).alias("pos", "g")
    )
    assert spec.exceptAll(kern).count() == 0
    assert kern.exceptAll(spec).count() == 0

    spec_d = df.select(
        "doc_id",
        F.explode(F.array_distinct(ngram_arr(toks, n))).alias("g"),
    )
    kern_d = df.select(
        "doc_id", F.explode(ngrams_udf(n, distinct=True)(F.col("text"))).alias("g")
    )
    assert spec_d.exceptAll(kern_d).count() == 0
    assert kern_d.exceptAll(spec_d).count() == 0


def test_scrub_removes_span_tokens_only(spark):
    shared = "c1 c2 c3 c4 c5"
    df = _mkdocs(
        spark,
        [(1, shared + " keep1 keep2 keep3"), (2, shared + " own1 own2 own3")],
    )
    spans = duplicate_spans(df, k=5)
    out = {
        r["doc_id"]: r["text"]
        for r in scrub_duplicate_spans(df, spans).collect()
    }
    assert out[1] == "keep1 keep2 keep3"
    assert out[2] == "own1 own2 own3"


def test_scrub_passes_span_free_docs_through(spark):
    df = _mkdocs(
        spark,
        [
            (1, "Shared Span Tokens One Two Three extra"),
            (2, "shared span tokens one two three other"),
            (3, "No Duplicates At All In This One"),
        ],
    )
    spans = duplicate_spans(df, k=6)
    out = {
        r["doc_id"]: r["text"]
        for r in scrub_duplicate_spans(df, spans).collect()
    }
    # round-6 contract fix: a doc with NO spans keeps its text
    # byte-for-byte (case and spacing intact); scrubbed docs keep the
    # ORIGINAL CASE of their surviving tokens (span positions index the
    # whitespace token stream, which is case-independent)
    assert out[3] == "No Duplicates At All In This One"
    assert out[1] == "extra" and out[2] == "other"
