"""Deterministic splitting + leakage control.

Replaces the reference's seeded in-memory shuffles and positional slicing
(``augmentation/main.py:154-183``, 75/15/10; ``src/prepare_assignment_data.py:
41-55``, 70/15/15) with hash-bucket assignment — stable under retries,
repartitioning, and data growth, and identically computable in plain SQL
(Knuth multiplicative hashing; no engine-specific hash needed).

Also the split-leakage anti-join (``augmentation/augmentors.py:64-78``):
eval/test rows whose normalized text signature appears in train are dropped,
precedence train > eval > test — a textbook left anti-join.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import text_signature

KNUTH = 2654435761  # multiplicative hash constant; portable across engines
MOD = 1_000_000_007  # pre-reduction keeps key*KNUTH inside int64 (ANSI-safe)


def bucket_col(key: Column, buckets: int = 100) -> Column:
    reduced = F.pmod(key.cast("long"), F.lit(MOD))
    return F.pmod(reduced * F.lit(KNUTH), F.lit(buckets))


def mixed_bucket_col(key: Column, buckets: int) -> Column:
    """Like :func:`bucket_col` but with an intermediate mod-PRIME reduction
    before the final bucket mod. Required for power-of-two bucket counts:
    KNUTH ≡ 1 (mod 8), so ``bucket_col(key, 8)`` degenerates to ``key % 8``
    — the reduction mod the prime 1e9+7 in between genuinely mixes the low
    bits first. ANSI-safe (each product < 1e9+7 × 2.7e9 < int64 max)."""
    reduced = F.pmod(key.cast("long"), F.lit(MOD))
    return F.pmod(F.pmod(reduced * F.lit(KNUTH), F.lit(MOD)), F.lit(buckets))


def assign_split(
    df: DataFrame, key: str, train: int = 70, eval_: int = 15
) -> DataFrame:
    """Adds a ``split`` column: train/eval/test by hash bucket of ``key``."""
    b = bucket_col(F.col(key))
    return df.withColumn(
        "split",
        F.when(b < train, "train").when(b < train + eval_, "eval").otherwise("test"),
    )


def _split_rank(split_col: str) -> Column:
    """Precedence rank: train=0 < eval=1 < test=2."""
    return (
        F.when(F.col(split_col) == "train", F.lit(0))
        .when(F.col(split_col) == "eval", F.lit(1))
        .otherwise(F.lit(2))
    )


def drop_split_leakage(
    splits: DataFrame, text_col: str = "text", split_col: str = "split"
) -> DataFrame:
    """Drop eval/test rows whose signature appears in train, and test rows
    whose signature appears in eval (precedence train > eval > test).

    Equivalent formulation: a row survives iff the precedence rank of its
    split equals the MINIMUM rank among all rows sharing its signature
    (min=train ⇒ only train rows kept; min=eval ⇒ eval kept, test dropped;
    min=test ⇒ kept). Physical shape: one map-side-combinable
    ``min(rank) GROUP BY sig`` aggregate (skew-safe — a boilerplate
    signature pre-combines per map task) + one equi-join back, which AQE
    can skew-split because the build side is one row per signature. The
    reference-shaped 3-anti-join form (``augmentation/augmentors.py:64-78``,
    kept as the equality pin in ``tests/test_splits_entity_link.py``)
    scans the corpus FIVE times and recomputes the signature regex per
    branch; this one scans it twice.
    Signatures whose group-min is ``test`` are dropped from the build side
    before the join (test rows with no train/eval dup are kept anyway, via
    the null-coalesce), shrinking it to train∪eval signatures.
    """
    sig = text_signature(F.col(text_col))
    df = splits.withColumn("_sig", sig)
    rank = _split_rank(split_col)
    flags = (
        df.select("_sig", rank.alias("_rk"))
        .groupBy("_sig")
        .agg(F.min("_rk").alias("_min_rk"))
        .filter(F.col("_min_rk") < 2)
    )
    joined = df.withColumn("_rk", rank).join(flags, "_sig", "left")
    keep = F.col("_rk") == F.coalesce(F.col("_min_rk"), F.lit(2))
    return joined.filter(keep).drop("_sig", "_rk", "_min_rk")


def _bloom_build(hashes, m_bits: int, k: int):
    """Driver-side Bloom bitset over int64 hash values (numpy uint8 array of
    ``m_bits/8`` bytes). Double hashing g_i = h1 + i·h2 (mod m) from the two
    halves of each 64-bit value — the standard Kirsch–Mitzenmacher scheme."""
    import numpy as np

    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    h = np.asarray(hashes, dtype=np.int64).view(np.uint64)
    if h.size == 0:
        return bits
    h1 = h % np.uint64(m_bits)
    h2 = (h >> np.uint64(33)) | np.uint64(1)
    for i in range(k):
        idx = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
        np.bitwise_or.at(
            bits,
            (idx >> np.uint64(3)).astype(np.int64),
            (np.uint64(1) << (idx & np.uint64(7))).astype(np.uint8),
        )
    return bits


def bloom_might_contain_udf(bits, m_bits: int, k: int):
    """Arrow-batched membership probe against a closure-carried Bloom bitset
    (the broadcast analog — perf lesson #12): input is the JVM-computed
    ``xxhash64`` long column, so the kernel is pure vectorized numpy bit
    arithmetic, no per-row Python string hashing. False positives possible
    (the exact join downstream decides), false negatives impossible."""
    import numpy as np

    @F.pandas_udf("boolean")
    def probe(hs: pd.Series) -> pd.Series:
        h = hs.to_numpy(dtype=np.int64).view(np.uint64)
        h1 = h % np.uint64(m_bits)
        h2 = (h >> np.uint64(33)) | np.uint64(1)
        ok = np.ones(len(h), dtype=bool)
        for i in range(k):
            idx = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
            byte = bits[(idx >> np.uint64(3)).astype(np.int64)]
            ok &= ((byte >> (idx & np.uint64(7)).astype(np.uint8)) & 1).astype(bool)
        return pd.Series(ok)

    return probe


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    bloom_gate: bool | str = "auto",
    bloom_min_rows: int = 100_000,
    bloom_max_rows: int = 2_000_000,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3-style training-set scrub): drop
    every corpus document sharing ANY word ``n``-gram with the benchmark
    set — a fuzzy generalization of :func:`drop_split_leakage`'s exact
    signature anti-join.

    Shape: corpus side explodes DISTINCT per-doc n-grams (narrow), the
    benchmark n-gram set is aggregated distinct first (small — benchmarks
    are thousands of rows, so the semi-join broadcasts), contaminated ids
    come from one left-semi join, and the final pass is a left-anti join.
    At 100 TB the corpus n-gram explosion is the dominant cost: it is
    linear in corpus tokens and never shuffles the corpus itself — only
    (id, gram) pairs shuffle, and only when the benchmark side is too big
    to broadcast.

    ``bloom_gate`` (round-4 verdict #7): a Bloom filter built driver-side
    over the benchmark's gram hashes (~2 bytes/gram at 16 bits/element,
    k=6 ⇒ fpp ≈ 5e-4) pre-filters corpus grams with a narrow Arrow probe
    BEFORE the exact semi-join — in the typical case where almost no corpus
    gram is contaminated, the (id, gram) rows entering the semi-join and
    the ``distinct`` shrink by ~the fpp factor, which is exactly the
    exchange that dominates when the benchmark outgrows broadcast range.
    The exact join still decides, so the output is bit-identical with the
    gate on or off (pinned by ``tests/test_splits_entity_link.py``). The
    driver-side build collects one long per DISTINCT benchmark gram
    (Spark's distributed ``bloom_filter_agg`` expression is not registered
    in this build); at 100 M benchmark grams that is a one-off 800 MB scan
    collapsing to a 200 MB bitset — the same order as broadcasting the gram
    set itself, but the probe then costs O(1) per corpus gram regardless.

    Gram generation runs in the Arrow kernel ``dedup.ngrams_udf(n,
    distinct=True)`` (byte-exact with its Column spec in ``tests/specs.py``,
    the oracle's mirror) — the interpreted slice-per-position lambda was
    the CodegenFallback shape of perf lessons #10/#13."""
    from .dedup import ngrams_udf

    if bloom_gate == "auto":
        # ONE cheap metadata-backed row count decides (round-6 + round-5
        # advice): below ``bloom_min_rows`` the distinct benchmark gram set
        # broadcasts for the semi-join anyway, so the Bloom build is a pure
        # extra job (a full benchmark gram pass + driver collect) with
        # nothing to save; above ``bloom_max_rows`` the driver-side collect
        # of one long per distinct gram risks driver memory (the documented
        # ~1 GB at 10^8 grams), so fall back to the exact distributed join,
        # which shuffles more but always survives. The output is
        # bit-identical on every path — the exact join decides regardless
        # (pinned by tests/test_splits_entity_link.py).
        n_bench = benchmark.count()
        bloom_gate = bloom_min_rows <= n_bench <= bloom_max_rows

    grams = ngrams_udf(n, distinct=True)
    cg = corpus.select(
        F.col(id_col).alias("_id"),
        F.explode(grams(F.col(text_col))).alias("_g"),
    )
    bg = benchmark.select(
        F.explode(grams(F.col(text_col))).alias("_g")
    ).distinct()
    if bloom_gate:
        import math

        bh = bg.select(F.xxhash64("_g").alias("_h")).toPandas()["_h"].to_numpy()
        m_bits = 1 << max(13, math.ceil(math.log2(max(len(bh), 1) * 16)))
        probe = bloom_might_contain_udf(_bloom_build(bh, m_bits, 6), m_bits, 6)
        cg = cg.filter(probe(F.xxhash64("_g")))
    contaminated = cg.join(bg, "_g", "left_semi").select("_id").distinct()
    return corpus.join(
        contaminated.withColumnRenamed("_id", id_col), id_col, "left_anti"
    )


def deterministic_sample(df: DataFrame, key: str, n: int, seed: int = 42) -> DataFrame:
    """Reference's ``random.sample(data, n)`` (``evaluate_baseline.py:126``)
    as a deterministic top-n by seeded hash — stable under retries and
    partitioning, unlike task-local ``random``."""
    return df.orderBy(F.xxhash64(F.col(key), F.lit(seed))).limit(n)
