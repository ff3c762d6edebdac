"""Near-dup dedup vs brute-force ground truth; ANN vs numpy ground truth."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from specs import hostile_rows, hyperplane_sign, minhash_signature, simhash16_col

from calendar_event_entity_extraction_spark.operators.dedup import (
    dedup_first_wins,
    minhash_near_duplicates,
    simhash_near_duplicates,
)
from calendar_event_entity_extraction_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy dog near the river shore today"),  # near dup of 0
    (3, "completely different text about spark partitions and shuffle behavior"),
    (4, "another unrelated document mentioning catalyst optimizer rules"),
    (5, "the quick brown fox jumps over the lazy dog near the river bank again ok"),  # near dup
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_exact_dedup_first_wins(docs):
    kept = dedup_first_wins(docs, ["text"], "doc_id")
    ids = {r["doc_id"] for r in kept.collect()}
    assert 0 in ids and 1 not in ids and len(ids) == 5


def test_minhash_finds_planted_neardups(docs):
    pairs = minhash_near_duplicates(docs, "doc_id", "text", threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got  # identical
    # verified jaccard filter: no pair involving the unrelated docs
    assert not any(3 in p or 4 in p for p in got)
    for r in pairs.collect():
        assert r["jaccard"] >= 0.5


def test_simhash_exact_bucket(docs):
    pairs = simhash_near_duplicates(docs, "doc_id", "text")
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(60, 16).astype("float32")
    vecs[1] = vecs[0] + 0.01 * rng.randn(16).astype("float32")  # planted near-dup
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df.cache(), vecs


def test_brute_force_topk_matches_numpy(vectors):
    df, vecs = vectors
    q = df.filter(F.col("vec_id") < 3)
    got = brute_force_topk(df, q, k=3).collect()
    v = vecs.astype("float64")
    sims = v @ v.T / (np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :])
    for qid in range(3):
        s = sims[qid].copy()
        s[qid] = -np.inf
        expect = list(np.argsort(-s)[:3])
        mine = [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"]) if r["query_id"] == qid]
        assert mine == expect, (qid, mine, expect)


def test_ivf_topk_recalls_planted_neighbor(vectors):
    from calendar_event_entity_extraction_spark.operators.similarity import ivf_topk

    df, _ = vectors
    q = df.filter(F.col("vec_id") == 0)
    got = ivf_topk(df, q, k=3, n_centroids=8, n_probe=3).collect()
    # the near-identical vector shares vec 0's cell (or a probed one)
    assert any(r["neighbor_id"] == 1 and r["rank"] == 1 for r in got), got
    # determinism
    again = ivf_topk(df, q, k=3, n_centroids=8, n_probe=3).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_ivf_topk_many_centroids(spark):
    """128 centroids — the scale regime where the round-2 literal-centroid
    plan exploded. The closure-matrix pandas-UDF assignment must (a) plan
    and run, (b) recall the planted near-identical neighbor, (c) reach
    reasonable recall@3 vs exact brute force, (d) stay deterministic."""
    from calendar_event_entity_extraction_spark.operators.similarity import ivf_topk

    rng = np.random.RandomState(13)
    vecs = rng.randn(600, 16).astype("float32")
    vecs[1] = vecs[0] + 0.01 * rng.randn(16).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(600)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    q = df.filter(F.col("vec_id") < 8)
    got = ivf_topk(
        df, q, k=3, n_centroids=128, n_probe=32, kmeans_iterations=1
    ).collect()
    assert any(
        r["query_id"] == 0 and r["neighbor_id"] == 1 and r["rank"] == 1 for r in got
    ), got
    v = vecs.astype("float64")
    sims = v @ v.T / (
        np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :]
    )
    hits = total = 0
    for qid in range(8):
        s = sims[qid].copy()
        s[qid] = -np.inf
        exact = set(np.argsort(-s)[:3])
        mine = {r["neighbor_id"] for r in got if r["query_id"] == qid}
        hits += len(exact & mine)
        total += 3
    assert hits / total >= 0.4, hits / total
    again = ivf_topk(
        df, q, k=3, n_centroids=128, n_probe=32, kmeans_iterations=1
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_lsh_topk_recalls_planted_neighbor(vectors):
    df, _ = vectors
    q = df.filter(F.col("vec_id") == 0)
    got = lsh_topk(df, q, dims=16, k=3, planes=3).collect()
    # the planted near-identical vector lands in the same LSH bucket
    assert any(r["neighbor_id"] == 1 and r["rank"] == 1 for r in got), got


def test_lsh_topk_auto_planes(vectors):
    """`planes="auto"` resolves to ⌈log2(N/target_bucket)⌉ (min 1), runs the
    same kernel, keeps the planted near-identical neighbor (it lands in the
    same bucket under ANY hyperplane set), and rejects junk strings."""
    import pytest

    df, _ = vectors
    q = df.filter(F.col("vec_id") == 0)
    # 600 vectors, target_bucket=64 → planes = ceil(log2(600/64)) = 4
    got = lsh_topk(df, q, dims=16, k=3, planes="auto", target_bucket=64).collect()
    assert any(r["neighbor_id"] == 1 and r["rank"] == 1 for r in got), got
    with pytest.raises(ValueError):
        lsh_topk(df, q, dims=16, k=3, planes="many")


def test_bucket_cap_bounds_hot_bucket(spark):
    """A pathological corpus (many identical docs ⇒ one hot band bucket)
    must produce at most C(cap, 2) candidate pairs per bucket, not
    C(N, 2) — the 100-TB survival property of capped_band_pairs."""
    hot = spark.createDataFrame(
        [(i, "same boilerplate text repeated across the entire corpus shard") for i in range(50)],
        "doc_id long, text string",
    )
    capped = minhash_near_duplicates(hot, "doc_id", "text", bucket_cap=5)
    uncapped = minhash_near_duplicates(hot, "doc_id", "text")
    assert capped.count() == 5 * 4 // 2  # C(5,2)
    assert uncapped.count() == 50 * 49 // 2


def test_simhash_banded_hamming(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    exact = simhash_near_duplicates(docs, "doc_id", "text", max_hamming=0)
    got0 = {(r["id_a"], r["id_b"]): r["hamming"] for r in exact.collect()}
    assert got0[(0, 1)] == 0
    # near-dup docs differ in a few bits; hamming<=3 with 4 bands must find
    # every pair the brute-force hamming check would
    loose = simhash_near_duplicates(docs, "doc_id", "text", max_hamming=3)
    sh = {r["doc_id"]: r["s"] for r in docs.select("doc_id", simhash16_col(F.col("text")).alias("s")).collect()}
    brute = {
        (a, b)
        for a in sh
        for b in sh
        if a < b and bin(sh[a] ^ sh[b]).count("1") <= 3
    }
    got3 = {(r["id_a"], r["id_b"]) for r in loose.collect()}
    assert got3 == brute
    for r in loose.collect():
        assert r["hamming"] <= 3


def test_simhash_production_path_matches_spec(spark):
    """`with_simhash16` (one md5 per token) must equal the spec
    `simhash16_col` (md5 per bit) on every doc, including empty/degenerate
    text — the 16x-less-hashing path may not change a single bit."""
    from calendar_event_entity_extraction_spark.operators.dedup import (
        with_simhash16,
    )

    rows = DOCS + [(100, ""), (101, "   "), (102, "one"), (103, "Café déjà vu")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    both = with_simhash16(docs, "text", "fast").select(
        "doc_id", "fast", simhash16_col(F.col("text")).alias("spec")
    )
    for r in both.collect():
        assert r["fast"] == r["spec"], r


def test_minhash_kernel_matches_spec(spark):
    """The Arrow signature kernel must equal the Column spec on adversarial
    inputs: tabs/newlines (Java \\s class), non-breaking space (NOT
    whitespace to Java — must stay inside a token), leading/trailing
    spaces, short docs, mixed case — plus the hostile-text battery."""
    from calendar_event_entity_extraction_spark.operators.dedup import (
        minhash_sigs_udf,
    )

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "  padded   with\tmixed\nwhitespace tokens here  "),
        (2, "nbsp joined token stays one piece with more words"),
        (3, "two tokens"),          # < 3 tokens -> null signatures
        (4, "Case MIXED Case mixed case tokens repeated Case"),
        (5, ""),
    ] + hostile_rows(100)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    both = df.select(
        "doc_id",
        minhash_sigs_udf(perms=4)(F.col("text")).alias("fast"),
        F.array(*minhash_signature(F.col("text"), perms=4)).alias("spec"),
    )
    for r in both.collect():
        assert r["fast"] == r["spec"], (r["doc_id"], r["fast"], r["spec"])


def test_hyperplane_bucket_udf_matches_spec(vectors):
    """The Arrow bucket kernel must emit the exact bit pattern of the
    Column-expression spec `hyperplane_sign` for every vector, including a
    non-zero plane base (the multi-band path)."""
    from calendar_event_entity_extraction_spark.operators.similarity import (
        hyperplane_bucket_udf,
    )

    df, _ = vectors
    spec = F.concat(
        *[hyperplane_sign(F.col("embedding"), 3 + p, 16) for p in range(5)]
    )
    both = df.select(
        "vec_id",
        hyperplane_bucket_udf(5, 16, base=3)(F.col("embedding")).alias("fast"),
        spec.alias("spec"),
    )
    for r in both.collect():
        assert r["fast"] == r["spec"], r["vec_id"]


def test_cosine_neardup_banded(vectors):
    from calendar_event_entity_extraction_spark.operators.similarity import (
        cosine_near_duplicates,
    )

    df, _ = vectors
    pairs = cosine_near_duplicates(
        df, dims=16, threshold=0.99, bands=2, planes_per_band=6
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got  # the planted near-identical pair
    for r in pairs.collect():
        assert r["cos"] >= 0.99


def test_ivf_kmeans_refined_recall(vectors):
    from calendar_event_entity_extraction_spark.operators.similarity import ivf_topk

    df, _ = vectors
    q = df.filter(F.col("vec_id") == 0)
    got = ivf_topk(df, q, k=3, n_centroids=8, n_probe=3, kmeans_iterations=1).collect()
    # the near-identical vector still ranks first after Lloyd refinement
    assert any(r["neighbor_id"] == 1 and r["rank"] == 1 for r in got), got
    # deterministic across re-runs (no RNG in the refinement)
    again = ivf_topk(df, q, k=3, n_centroids=8, n_probe=3, kmeans_iterations=1).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_kmeans_refine_matches_numpy_exact(spark):
    """Pin the posexplode-aggregate Lloyd step's arithmetic against an
    independent numpy spec. The fixture values are multiples of 0.25 (exact
    in float32 AND float64) with cell sums far below 2^53, so every
    summation order yields the IDENTICAL float64 sum — the comparison can
    demand bitwise equality, proving the (cell, dim) aggregate computes the
    same means as the per-dimension formulation it replaced."""
    from calendar_event_entity_extraction_spark.operators.similarity import (
        kmeans_refine_centroids,
        nearest_cells_udf,
    )

    rng = np.random.RandomState(7)
    vecs = (rng.randint(-40, 40, size=(300, 6)) * 0.25).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()

    cents = [(i, [float(x) for x in vecs[i * 37]]) for i in range(4)]
    got = kmeans_refine_centroids(df, cents, iterations=1)

    # independent spec: same assignment kernel, then exact numpy means
    assign = (
        df.select(
            "vec_id",
            F.element_at(nearest_cells_udf(cents, 1)(F.col("embedding")), 1).alias("c"),
        )
        .toPandas()
        .set_index("vec_id")["c"]
    )
    V = vecs.astype("float64")
    for ci, cv in got:
        members = [i for i in range(300) if assign[i] == ci]
        if not members:
            expected = list(np.asarray(cents[ci][1], dtype="float64"))
        else:
            expected = list(V[members].sum(axis=0) / len(members))
        assert cv == expected, (ci, cv, expected)


def test_shingles_kernel_matches_spec(spark):
    """The near-dup verify's shingle kernel, ngrams_udf(3, distinct=True),
    must emit exactly shingles_col's distinct shingle SET (the kernel
    sorts; the Column spec keeps first-occurrence order — every consumer
    in the verify join is order-insensitive) and replicate its
    null-when-short guard, on the same adversarial tokenization rows as
    the minhash kernel, the hostile-text battery and the sf0.001 documents
    corpus."""
    from calendar_event_entity_extraction_spark.operators.dedup import (
        ngrams_udf,
        shingles_col,
    )

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "  padded   with\tmixed\nwhitespace tokens here  "),
        (2, "rep rep rep rep rep rep"),
        (3, "two tokens"),
        (4, "Case MIXED Case mixed case tokens repeated Case"),
        (5, ""),
        (6, None),
        (7, "\tleading separator makes an empty token here ok"),
    ] + hostile_rows(100)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    both = df.unionByName(corpus).select(
        "doc_id",
        F.array_sort(shingles_col(F.col("text"))).alias("spec"),
        ngrams_udf(3, distinct=True)(F.col("text")).alias("fast"),
    )
    bad = both.filter(~F.col("spec").eqNullSafe(F.col("fast")))
    assert bad.count() == 0, bad.limit(3).collect()


def test_capped_band_pairs_one_exchange_and_prefix_equivalence(spark):
    """The capped path is the single-phase post-agg slice (ONE agg
    exchange + trailing distinct, no window) and must emit exactly the
    pairs of the sorted-prefix semantics. No WindowExec: a row_number
    pre-truncation measured +50% on curation_full (sort re-ran per
    candidate-lineage reuse)."""
    from calendar_event_entity_extraction_spark.operators.dedup import (
        capped_band_pairs,
        minhash_bands,
    )

    docs = spark.createDataFrame(
        [(i, "hot boilerplate shared by everyone in this shard") for i in range(40)]
        + [(100 + i, f"unique document number {i} with its own words {i * 7}") for i in range(10)],
        "doc_id long, text string",
    )
    bands = minhash_bands(docs, "doc_id", "text", perms=8, rows_per_band=2)
    default = capped_band_pairs(bands, bucket_cap=6)
    plan = default._jdf.queryExecution().executedPlan().toString()
    # Exchanges: ONE capped agg + trailing distinct — no WindowExec
    assert plan.count("Exchange") == 2, plan
    assert "Window" not in plan, plan

    # prefix equivalence vs the post-agg slice formulation
    buckets = (
        bands.filter(F.col("band_key").isNotNull())
        .groupBy("band_idx", "band_key")
        .agg(F.slice(F.array_sort(F.collect_list("id")), 1, 6).alias("_ids"))
    )
    n = F.size("_ids")
    old = (
        buckets.filter(n >= 2)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), n - 1),
                        lambda i: F.transform(
                            F.sequence(i + 1, n),
                            lambda j: F.struct(
                                F.element_at("_ids", i).alias("id_a"),
                                F.element_at("_ids", j).alias("id_b"),
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    got = sorted(map(tuple, default.collect()))
    want = sorted(map(tuple, old.collect()))
    assert got == want and len(got) > 0


def test_overflow_star_restores_hot_bucket_connectivity(spark):
    """With a cap, overflow members of a hot bucket emit NO pair and
    silently survive dedup; overflow_star adds one linear (min-id, member)
    hub pair per member so every true duplicate stays reachable by
    connected components — at O(|bucket|) instead of O(|bucket|^2) cost."""
    from calendar_event_entity_extraction_spark.operators.dedup import (
        capped_band_pairs,
        minhash_bands,
        minhash_near_duplicates,
    )

    hot = spark.createDataFrame(
        [(i, "same boilerplate text repeated across the entire corpus shard") for i in range(50)],
        "doc_id long, text string",
    )
    bands = minhash_bands(hot, "doc_id", "text", perms=8, rows_per_band=2)
    starred = capped_band_pairs(bands, bucket_cap=5, overflow_star=True)
    rows = starred.collect()
    members = {r["id_a"] for r in rows} | {r["id_b"] for r in rows}
    assert members == set(range(50))  # every member reaches the hub
    # C(5,2) prefix pairs + stars (0, 5..49); (0, 1..4) dedup into the prefix
    assert len(rows) == 10 + 45
    assert all(r["id_a"] < r["id_b"] for r in rows)

    # end-to-end: identical docs verify at jaccard 1.0, so ALL 50 collapse
    verified = minhash_near_duplicates(
        hot, "doc_id", "text", bucket_cap=5, overflow_star=True
    )
    ids_in_pairs = {r["id_a"] for r in verified.collect()} | {
        r["id_b"] for r in verified.collect()
    }
    assert ids_in_pairs == set(range(50))


def test_ivf_topk_sqrt_auto_cells(vectors):
    """n_centroids="sqrt" sizes the inverted file to the corpus at plan
    time (max(16, ceil(sqrt(N))) cells) — the production dial the BENCH.md
    ANN section measures. Must still recall the planted near-identical
    neighbor, stay deterministic, and reject non-int/non-"sqrt" values."""
    from calendar_event_entity_extraction_spark.operators.similarity import (
        ivf_topk,
    )

    df, _ = vectors  # 60 vectors -> ceil(sqrt(60)) = 8 -> max(16, 8) = 16
    q = df.filter(F.col("vec_id") == 0)
    got = ivf_topk(df, q, k=3, n_centroids="sqrt", n_probe=3).collect()
    assert any(r["neighbor_id"] == 1 and r["rank"] == 1 for r in got), got
    # identical to the explicit floor value (16) it resolves to here
    explicit = ivf_topk(df, q, k=3, n_centroids=16, n_probe=3).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, explicit))
    with pytest.raises(ValueError, match="sqrt"):
        ivf_topk(df, q, k=3, n_centroids="auto")
