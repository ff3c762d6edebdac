"""The curation composite's durable-checkpoint path."""

import glob

from pyspark.sql import functions as F

from calendar_event_entity_extraction_spark.plans.curate import curate_full

WEIGHTS = {"en": 1.0, "de": 0.5}


def _docs(spark):
    base = [
        f"document {i} talks about topic {i % 7} with words alpha{i} beta{i} "
        f"gamma delta epsilon zeta eta theta iota kappa lambda mu"
        for i in range(60)
    ]
    rows = [(i, t, ["en", "de"][i % 2]) for i, t in enumerate(base)]
    # identical copies (exact dedup) and tail-extended copies (near-dup)
    rows += [(1000 + i, base[i], "en") for i in range(0, 60, 10)]
    rows += [(2000 + i, base[i] + " and a short tail", "de") for i in range(3, 60, 10)]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _digest(df):
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def test_durable_checkpoint_dir_matches_default(spark, tmp_path):
    """``checkpoint_dir`` only changes where lineage is truncated: the
    output equals the default (executor-local) run, and checkpoint files
    land under the directory."""
    docs = _docs(spark)
    ck = str(tmp_path / "ck")
    default = _digest(curate_full(docs, WEIGHTS))
    durable = _digest(curate_full(docs, WEIGHTS, checkpoint_dir=ck))
    assert durable == default
    assert 0 < default[0] < docs.count()
    assert glob.glob(f"{ck}/**/rdd-*", recursive=True), (
        "no durable checkpoint files written"
    )


def test_quality_gate_edges(spark):
    """``quality_ok_col`` keeps a text exactly when its token count lies in
    [MIN_TOKENS, MAX_TOKENS] and its punctuation stays within
    MAX_PUNCT_PER_100_CHARS per 100 characters, inclusive at every edge."""
    from calendar_event_entity_extraction_spark.functions.text import (
        MAX_TOKENS,
        MIN_TOKENS,
        quality_ok_col,
    )

    def words(n):
        return " ".join(["a"] * n)

    # 10 tokens of 9 chars + 9 spaces + 1 trailing char = 100 chars, 10 marks
    at_punct_cap = " ".join(["aaaaaaaa."] * 10) + "a"
    cases = [
        ("", False),
        (words(MIN_TOKENS - 1), False),
        (words(MIN_TOKENS), True),
        (words(MAX_TOKENS), True),
        (words(MAX_TOKENS + 1), False),
        (at_punct_cap, True),
        (at_punct_cap[:-1] + ".", False),
    ]
    assert len(at_punct_cap) == 100 and at_punct_cap.count(".") == 10
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], "i int, text string"
    )
    got = dict(
        (r["i"], r["ok"])
        for r in df.select("i", quality_ok_col(F.col("text")).alias("ok")).collect()
    )
    assert got == {i: ok for i, (_, ok) in enumerate(cases)}


def test_materialize_truncates_lineage_keeps_rows(spark, tmp_path):
    """Both ``materialize`` branches return the same rows as their input,
    planned from the materialized blocks instead of the original lineage."""
    from calendar_event_entity_extraction_spark.sources.tables import materialize

    df = (
        spark.range(200)
        .where(F.col("id") % 3 == 0)
        .withColumn("sq", F.col("id") * F.col("id"))
    )
    want = sorted(df.collect())
    for ck in (None, str(tmp_path / "ck")):
        out = materialize(df, ck)
        plan = out._jdf.queryExecution().analyzed().toString()
        assert "Filter" not in plan and "Range" not in plan, plan
        assert sorted(out.collect()) == want
    assert glob.glob(f"{tmp_path}/ck/**/rdd-*", recursive=True)
