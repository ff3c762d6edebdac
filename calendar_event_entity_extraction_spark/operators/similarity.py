"""Similarity search over embedding columns.

* Brute-force cosine top-k: broadcast the (small) query set against the full
  corpus — one narrow pass + per-query top-k, no corpus shuffle. This is the
  exact baseline.
* LSH-bucketed variant (scale path): random-hyperplane signs bucket the
  corpus; queries probe only their bucket. Hyperplanes are derived
  deterministically from md5 of (plane index, dimension index), so the
  bucketing is reproducible with no RNG state.
* IVF-flat variant: queries probe their nearest centroid cells.

The three top-k operators differ only in which (query, neighbor) pairs they
score; they share one ranking (``_rank_topk``), whose tie-break contract the
``ann_topk``, ``ann_lsh_topk`` and ``ann_ivf_topk`` oracle rows pin.

* Embedding-cosine near-duplicate pairs: multi-band hyperplane signatures
  (MinHash-style banding) with capped buckets, verified by exact cosine.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_col


def _rank_topk(
    corpus: DataFrame, queries: DataFrame, on: str | None, k: int
) -> DataFrame:
    """The ranking every top-k operator shares; the operators differ only
    in the candidate pairs, which are ``corpus`` (neighbor_id, c_vec, …)
    joined to the broadcast ``queries`` (query_id, q_vec, …) on the column
    ``on`` (None: every pair). A query is never its own neighbor. Each
    query keeps its ``k`` best neighbors by cosine quantized to 9 decimals,
    ties broken on the lower ``neighbor_id``, and reports the cosine
    rounded to 6: (query_id, rank, neighbor_id, cos)."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cos", 9)), F.asc("neighbor_id")
    )
    return (
        corpus.join(F.broadcast(queries), on)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine_col(F.col("q_vec"), F.col("c_vec")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cos", 6).alias("cos"))
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """(query_id, rank, neighbor_id, cos) — exact top-k by cosine.

    queries is broadcast (must be small); ranking ties break on neighbor id
    so results are deterministic.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    return _rank_topk(c, q, None, k)


def hyperplane_bucket_udf(planes: int, dims: int, base: int = 0):
    """Arrow-batched hyperplane bucketing — the production path for
    :func:`lsh_topk` / :func:`cosine_near_duplicates`. Deterministic
    pseudo-random hyperplanes: weight (p, d) = +1 iff the first hex char of
    md5(f"{p}|{d}") ≥ '8', else -1; each bit is the sign of <v, h_p>
    ("1" when ≥ 0). The dot product accumulates via numpy ``cumsum`` —
    the same left fold as the Column ``aggregate`` spec in
    ``tests/specs.py`` — so every sign bit is reproduced exactly and the
    ``ann_lsh_topk`` / ``embedding_neardup`` oracles keep hash-matching.
    The Column formulation evaluates planes × dims interpreted lambda steps per row
    (no codegen for higher-order functions); this kernel is two vectorized
    numpy ops per plane per batch. ``base`` offsets the plane index for
    multi-band signatures."""
    import hashlib

    import numpy as np

    W = np.array(
        [
            [
                1.0
                if hashlib.md5(f"{base + p}|{d}".encode()).hexdigest()[0] >= "8"
                else -1.0
                for d in range(dims)
            ]
            for p in range(planes)
        ]
    )

    @F.pandas_udf("string")
    def bucket(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        V = np.array(emb.tolist(), dtype=np.float64)
        bits = [
            np.where((V * W[p]).cumsum(axis=1)[:, -1] >= 0, "1", "0")
            for p in range(W.shape[0])
        ]
        return pd.Series(["".join(row) for row in zip(*bits)])

    return bucket


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    planes: int | str = 4,
    target_bucket: int = 128,
) -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's LSH bucket are
    scored. Recall < 1; cost drops ~2^planes. Same output schema as
    brute_force_topk. Bucketing runs in the Arrow kernel
    (:func:`hyperplane_bucket_udf`, bit-exact with the Column spec).

    ``planes="auto"`` is the production dial (the LSH analog of
    ``ivf_topk(n_centroids="sqrt")``): a FIXED plane count degrades to
    quadratic total cost as the corpus grows — buckets hold N/2^planes
    vectors, queries scale with N, so candidate pairs scale N²/2^planes
    (measured: the registry row's fixed 4 planes read 5.5 s at 200k
    vectors but 453 s at 2M — ratio 83 for 10× data, BENCH.md sf10
    section). Auto sizing keeps the expected bucket near
    ``target_bucket``: planes = ⌈log2(N / target_bucket)⌉ (min 1), so
    per-query candidates stay ~constant and total cost scales ~linearly
    with N (at recall's expense — the standard LSH trade; raise
    ``target_bucket`` or probe multiple bands for recall). Costs one
    corpus ``count()`` at plan time; the registry row pins planes=4 so
    its SQL oracle stays replicable."""
    if planes == "auto":
        import math

        n = corpus.count()
        planes = max(1, math.ceil(math.log2(max(n, 2) / target_bucket)))
    elif not isinstance(planes, int):
        raise ValueError(f"planes must be an int or 'auto': {planes!r}")
    bucket = hyperplane_bucket_udf(planes, dims)(F.col(vec_col))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        bucket.alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        bucket.alias("bucket"),
    )
    return _rank_topk(c, q, "bucket", k)


def nearest_cells_udf(cents: list, n: int):
    """Arrow-batched centroid assignment: embedding → the ``n`` nearest
    centroid indices, ordered by (round(-cosine, 9), centroid index).

    This replaces the round-2 literal-expression cascade (one inlined
    ``array(lit…)`` cosine per centroid, O(n_centroids × dims) plan nodes —
    codegen falls over at the 256-4096 centroids a real index needs). The
    centroid matrix rides in the UDF closure (driver-serialized once per
    task, the pandas-UDF analog of a broadcast), so the PLAN is O(1) in
    n_centroids and the kernel is vectorized numpy over the whole batch.

    Bit-exactness with the JVM/SQL path: products and norms accumulate via
    ``cumsum`` along the dim axis — numpy's cumsum adds sequentially, the
    same left fold as ``vectors.dot_col``'s ``aggregate`` and DuckDB's
    ``list_cosine_similarity``, so cosines agree to the last ulp and the
    9-decimal quantization + index tie-break order identically (pinned by
    the ``ann_ivf_topk`` oracle hash-match). One tie caveat (round-3
    advice): ``np.round`` rounds half-to-even while ``F.round``/DuckDB
    ``round`` round half-away-from-zero — the quantizations differ ONLY
    when a cosine lands on an exact half-ulp of the 9th decimal, which is
    practically unreachable for float64 cosines of non-degenerate vectors
    (and is oracle-pinned not to occur on the fixtures).
    """
    import numpy as np

    assert all(ci == i for i, (ci, _) in enumerate(cents))
    C = np.array([cv for _, cv in cents], dtype=np.float64)  # (k, D)
    Cn = np.sqrt((C * C).cumsum(axis=1)[:, -1])  # left-fold norms

    @F.pandas_udf("array<int>")
    def nearest(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        V = np.array(emb.tolist(), dtype=np.float64)  # float32→64 widening is exact
        Vn = np.sqrt((V * V).cumsum(axis=1)[:, -1])
        dots = np.empty((V.shape[0], C.shape[0]), dtype=np.float64)
        for s in range(0, C.shape[0], 64):  # chunk: bound (B, chunk, D) memory
            e = min(s + 64, C.shape[0])
            dots[:, s:e] = (V[:, None, :] * C[None, s:e, :]).cumsum(axis=2)[:, :, -1]
        key = np.round(-(dots / (Vn[:, None] * Cn[None, :])), 9)
        order = np.argsort(key, axis=1, kind="stable")[:, :n]  # stable ⇒ ties→lower ci
        return pd.Series(list(order.astype("int32")))

    return nearest


def kmeans_refine_centroids(
    corpus: DataFrame,
    cents: list,
    vec_col: str = "embedding",
    iterations: int = 1,
) -> list:
    """Deterministic distributed Lloyd refinement of IVF centroids: assign
    every corpus vector to its nearest centroid (narrow Arrow pass, centroid
    matrix in the UDF closure), average per cell, and replace each centroid
    by its cell mean (empty cells keep the seed). No RNG — safe under
    retries.

    Plan shape (round-3 review #4): posexplode to (cell, dim, value) rows +
    ONE (cell, dim) hash aggregate, so the PLAN is O(1) in dimensionality.
    The previous formulation built one sum-expression tree per dimension
    inside a single aggregate — at 768-d embeddings that is 768 expression
    trees, the same plan-explosion family as literal centroid cascades
    (CLAUDE.md perf lesson #12). The explode is narrow (no shuffle added:
    the aggregate shuffles (cell, dim) keys exactly as the per-dim
    aggregate shuffled cell keys, with partial map-side combine), and the
    aggregate output is n_centroids × dims rows — tiny. Exactness is
    unchanged: the same float64 additions happen, only grouped by an
    explicit dim key instead of a per-dim expression
    (`test_kmeans_refine_matches_numpy_exact` pins the arithmetic on an
    exactly-representable fixture where every summation order yields the
    identical float64 result)."""
    dims = len(cents[0][1])
    for _ in range(iterations):
        cell = F.element_at(nearest_cells_udf(cents, 1)(F.col(vec_col)), 1)
        rows = (
            corpus.select(
                cell.alias("cell"), F.posexplode(F.col(vec_col)).alias("d", "x")
            )
            .groupBy("cell", "d")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("x").cast("double")).alias("s"),
            )
            .collect()
        )
        acc: dict = {}
        for r in rows:
            acc.setdefault(r["cell"], {})[r["d"]] = r["s"] / r["n"]
        means = {c: [by_d[d] for d in range(dims)] for c, by_d in acc.items()}
        cents = [(ci, means.get(ci, cv)) for ci, cv in cents]
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int | str = 16,
    n_probe: int = 4,
    kmeans_iterations: int = 0,
    portable_seed: bool = False,
) -> DataFrame:
    """IVF-flat approximate top-k: the corpus is partitioned into inverted
    lists by nearest centroid; queries score only their ``n_probe`` nearest
    lists. Centroids seed from a deterministic sample of the corpus (by
    id hash) and are optionally refined with ``kmeans_iterations`` Lloyd
    steps (:func:`kmeans_refine_centroids`) — tighter cells raise recall at
    the same n_probe.

    Scale shape: one narrow Arrow assignment pass over the corpus (the
    centroid matrix travels in the pandas-UDF closure, the broadcast
    analog; plan size is O(1) in n_centroids — see
    :func:`nearest_cells_udf`), then an equi-join on centroid id — the
    corpus is touched once, never shuffled, and only ~n_probe/n_centroids
    of it is scored per query. Each Lloyd step adds one narrow pass + one
    tiny (n_centroids-row) aggregate.

    ``portable_seed`` orders the centroid pseudo-sample by
    md5(id)-as-string instead of xxhash64 so plain-SQL engines (no
    xxhash64) can replicate the exact seed set — used by the oracle-checked
    driver query. Cell assignment quantizes the distance to 9 decimals
    (matching the existing rank quantization) so assignment ties resolve by
    centroid index identically across engines.

    ``n_centroids="sqrt"`` sizes the inverted file to the corpus at plan
    time: max(16, ⌈√N⌉) cells — the classic balance point where per-query
    assignment cost O(n_cells) equals per-query scan cost
    O(n_probe·N/n_cells), giving O(√N) per query instead of the O(N) a
    FIXED cell count degrades to as the corpus grows (measured: at 20k
    vectors, √N=141 cells is 3.1× faster than 16 cells at identical
    n_probe/k — BENCH.md round-5 ANN section). Costs one count() of the
    corpus at plan time (an AQE-style planning action); the registry row
    pins the literal 16 so its SQL oracle stays replicable.
    """
    if n_centroids == "sqrt":
        import math

        n_centroids = max(16, math.isqrt(max(corpus.count() - 1, 0)) + 1)
    elif not isinstance(n_centroids, int):
        raise ValueError(f"n_centroids must be an int or 'sqrt': {n_centroids!r}")
    seed_order = (
        F.md5(F.col(id_col).cast("string"))
        if portable_seed
        else F.xxhash64(F.col(id_col))
    )
    cents = [
        (i, r[vec_col])
        for i, r in enumerate(
            corpus.select(id_col, vec_col)
            .orderBy(seed_order, F.col(id_col))  # deterministic pseudo-sample
            .limit(n_centroids)
            .collect()
        )
    ]
    if kmeans_iterations:
        cents = kmeans_refine_centroids(
            corpus, cents, vec_col, kmeans_iterations
        )

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.element_at(nearest_cells_udf(cents, 1)(F.col(vec_col)), 1).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(nearest_cells_udf(cents, n_probe)(F.col(vec_col))).alias("cell"),
    )
    return _rank_topk(c, q, "cell", k)


def cosine_near_duplicates(
    corpus: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    bands: int = 4,
    planes_per_band: int = 8,
    bucket_cap: int | None = 4096,
) -> DataFrame:
    """Near-duplicate vector pairs: multi-band hyperplane LSH + cosine verify.

    MinHash-style banding, not one global bucket set: each band hashes the
    corpus with its own ``planes_per_band`` independent hyperplanes
    (2^planes_per_band keys per band), candidates are the union of
    within-(band, key) pairs, then exact cosine filters. A near-identical
    pair agrees on every plane sign with high probability, so recall stays
    ~1 per band while bucket population shrinks exponentially with
    planes_per_band — at 100 TB, raise planes_per_band (more, smaller
    buckets) rather than joining 2^6 giant buckets quadratically. Hot
    buckets (e.g. all-zero embeddings) are additionally truncated to
    ``bucket_cap`` members (see ``dedup.capped_band_pairs``).

    Physical shape: one narrow signature pass over the corpus; the band
    frame carries only (id, band_idx, band_key) through the candidate
    shuffle; vectors re-join per surviving candidate for the verify.
    """
    from .dedup import capped_band_pairs

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                hyperplane_bucket_udf(
                    planes_per_band, dims, base=b * planes_per_band
                )(F.col(vec_col)).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    banded = corpus.select(
        F.col(id_col).alias("id"), F.explode(band_structs).alias("b")
    ).select("id", "b.band_idx", "b.band_key")
    cand = capped_band_pairs(banded, bucket_cap)
    vx = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    vy = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    return (
        cand.join(vx, "id_a")
        .join(vy, "id_b")
        .withColumn("cos", cosine_col(F.col("v_a"), F.col("v_b")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )
