"""Deduplication family: exact, signature, MinHash+LSH, SimHash, Jaccard.

The reference only has exact signature dedup (``augmentation/utils.py:36-46``,
first-wins over a (text, sorted-JSON) signature). At 100 TB a training-data
pipeline additionally needs near-duplicate detection; every variant here is
built on *portable* hashing (md5) over ``functions.text`` tokens, so every
step is reproducible in plain SQL by the oracle.

Scale notes:
* exact/signature dedup → one hash-partition shuffle on the signature;
  first-wins via window, not ``collect``.
* MinHash LSH → narrow signature computation, then a self-equi-join on band
  keys (shuffle on band value, skew-bounded because a band bucket at
  reasonable thresholds is tiny); candidate verification is per-pair.
* SimHash → narrow; near-dup lookup joins on simhash bucket.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import jvm_tokenizer, tokens_col
from ..sources.tables import materialize

# ---------------------------------------------------------------- exact


def dedup_first_wins(df: DataFrame, sig_cols: list[str], order_col: str) -> DataFrame:
    """First-wins exact dedup (reference ``dedupe_text_output``): keep the
    lowest ``order_col`` row per signature. Window + row_number, never a
    driver-side set."""
    w = Window.partitionBy(*sig_cols).orderBy(F.col(order_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def canonical_json_signature(struct_col: Column) -> Column:
    """Reference's orjson OPT_SORT_KEYS signature (``utils.py:41``): to_json
    of a canonically-ordered struct. Build the struct with sorted field order
    at the call site; this just serializes it."""
    return F.to_json(struct_col)


# ---------------------------------------------------------------- shingles

SHINGLE_N = 3  # word n-gram width of the near-dup shingles


def shingles_col(text: Column) -> Column:
    """Distinct word SHINGLE_N-gram shingles; null when the text is shorter
    than SHINGLE_N tokens (sequence() would otherwise run backwards)."""
    toks = tokens_col(text)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - SHINGLE_N),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, SHINGLE_N)),
    )
    return F.when(F.size(toks) >= SHINGLE_N, F.array_distinct(grams))


# ---------------------------------------------------------------- minhash


def ngrams_udf(n: int, distinct: bool = False):
    """Arrow-batched word ``n``-gram windows over ``text.tokens_col``
    tokens (the Python twin ``text.jvm_tokenizer``; contract and locale
    caveat on ``tokens_col``). ``distinct=False`` emits EVERY window in
    text order with multiplicity, so ``posexplode`` yields the 0-based
    window position — the contract of :func:`duplicate_spans`.
    ``distinct=True`` emits the sorted distinct set — the near-dup verify
    and ``decontaminate`` contract, equal as a set to
    :func:`shingles_col` at ``n = SHINGLE_N``; its consumers
    (``array_intersect``/``array_union`` sizes, a distinct aggregate, a
    semi-join) are order-insensitive. Null when the doc has fewer than
    ``n`` tokens — ``posexplode``/``explode`` generate nothing for null.
    The Column form's interpreted slice-per-position lambda (the spec in
    ``tests/specs.py``) is the ~0.46-core-scaling CodegenFallback shape of
    perf lessons #10/#13; the kernel rides the per-core Python workers."""
    tokenize = jvm_tokenizer()

    @F.pandas_udf("array<string>")
    def grams(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks = tokenize(t)
            if len(toks) < n:
                out.append(None)
                continue
            g = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            out.append(sorted(set(g)) if distinct else g)
        return pd.Series(out)

    return grams


def minhash_sigs_udf(perms: int = 8):
    """Arrow-batched MinHash signatures — the production path for
    :func:`minhash_bands`. Per doc, min over the distinct
    :func:`shingles_col` shingles of md5(f"{j}|" || shingle) per
    permutation (the Column spec is in ``tests/specs.py`` and mirrored by
    the DuckDB oracles); None-filled when the text is null or shorter than
    SHINGLE_N tokens, so downstream band keys stay null and never
    equi-join. hashlib md5 hex == Spark md5 hex; Python min over hex
    strings == array_min; tokens via ``text.jvm_tokenizer``. The Column
    formulation evaluates perms × shingles interpreted md5 lambda steps per
    row; this kernel is one C md5 per (perm, shingle)."""
    import hashlib

    tokenize = jvm_tokenizer()
    n = SHINGLE_N
    md5 = hashlib.md5
    # perm prefixes pre-encoded once per task; the min is taken over raw
    # 16-byte digests and hex-encoded once per perm — bytewise digest order
    # IS hex-string order (fixed-width lowercase hex maps each byte to two
    # chars monotonically), so min(digest).hex() == min(hexdigest) exactly
    prefixes = [f"{j}|".encode() for j in range(perms)]

    @F.pandas_udf("array<string>")
    def sigs(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = None if t is None else tokenize(t)
            if toks is None or len(toks) < n:
                out.append([None] * perms)
                continue
            encs = {
                " ".join(toks[i : i + n]).encode()
                for i in range(len(toks) - n + 1)
            }
            out.append(
                [min(md5(pj + e).digest() for e in encs).hex() for pj in prefixes]
            )
        return pd.Series(out)

    return sigs


def minhash_bands(df: DataFrame, id_col: str, text_col: str, perms: int = 8, rows_per_band: int = 2) -> DataFrame:
    """id, band_idx, band_key — LSH banding of the minhash signature.

    Signatures come from the Arrow kernel (:func:`minhash_sigs_udf`, one C
    md5 per (perm, shingle)); the signature array is materialized as an
    attribute so the per-perm `element_at`s are cheap single references.
    """
    with_sig = df.select(
        F.col(id_col).alias("id"),
        minhash_sigs_udf(perms)(F.col(text_col)).alias("_mhs"),
    ).select(
        "id",
        *[F.element_at("_mhs", j + 1).alias(f"mh{j}") for j in range(perms)],
    )
    bands = perms // rows_per_band

    def _band_key(b: int):
        # null-PROPAGATING concat (never concat_ws, which skips nulls): a doc
        # shorter than SHINGLE_N tokens has null minhashes ⇒ null band_key, and a
        # null key never equi-joins — identical to the oracle's `||`
        # semantics. (A filter on the shingle alias would instead be pushed
        # below the projection, re-computing the expensive shingle expr.)
        parts: list = []
        for r in range(rows_per_band):
            if r:
                parts.append(F.lit("|"))
            parts.append(F.col(f"mh{b * rows_per_band + r}"))
        return F.md5(F.concat(*parts))

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                _band_key(b).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return with_sig.select("id", F.explode(band_structs).alias("b")).select(
        "id", "b.band_idx", "b.band_key"
    )


def capped_band_pairs(
    bands: DataFrame,
    bucket_cap: int | None = None,
    overflow_star: bool = False,
) -> DataFrame:
    """(id, band_idx, band_key) → distinct candidate (id_a, id_b) pairs.

    ONE groupBy shuffle: aggregate each bucket's members into a sorted id
    array (truncated to ``bucket_cap`` when set) and expand the i<j pairs
    narrowly. The original formulation — self-equi-join on (band_idx,
    band_key) plus a row_number window for the cap — shuffled the band
    rows three times (two join sides + window) and spent most of its time
    sorting ~millions of near-singleton window partitions; measured 29 s →
    ~7 s at local[8] over 1.9 M band rows, byte-identical output (pairs
    from a sorted capped prefix are exactly the window's ``_rn <= cap``
    members; the trailing ``distinct`` is unchanged).

    ``bucket_cap`` bounds the quadratic blow-up of HOT buckets (boilerplate
    documents, all-zero embeddings): each bucket contributes at most
    C(cap, 2) pairs instead of C(|bucket|, 2). Members beyond the cap lose
    recall only against other members of the SAME overflowing bucket — a
    documented trade-off for 100-TB survival. Uncapped (oracle-exact all
    pairs) a pathological bucket materializes one id array where the join
    form produced a quadratic row blow-up instead — pass a cap at scale.

    Null band keys (docs shorter than the shingle width) never equi-joined
    in the join form; the groupBy form must filter them explicitly or they
    would pool into one giant null group.

    Memory bound: single-phase ``slice`` relies on Spark's map-side
    partial collect_list; its reduce-side merge buffer for ONE bucket is
    bounded by |bucket| ids (8 bytes each — a 10M-member pathological
    bucket is an 80 MB buffer, survivable but worth avoiding). A salted
    two-phase cap (pre-capped prefixes per (bucket, salt) group, merged per
    bucket) would hard-bound that buffer, but for typical bucket-size
    distributions (mostly singletons and pairs) its first phase achieves no
    map-side reduction and the dominant aggregation effectively runs twice
    — measured ~10% slower on the 150k-doc composite (BENCH.md round 5). A
    ``row_number`` window pre-truncation was also tried and REJECTED by
    measurement: its sort re-ran per reuse of the candidate lineage
    (semi-join restrict + verify join) and cost +50% on ``curation_full``
    at sf0.1 — the round-3 near-singleton-window lesson again. UNCAPPED,
    the single in-memory bucket array remains — pass a cap at scale
    (oracle-compared runs stay uncapped for exact all-pairs semantics).

    ``overflow_star``: the cap alone leaves members beyond the prefix with
    NO candidate pair — on a pathological hot bucket (20% of the corpus as
    near-identical boilerplate) pair recall collapses to ~C(cap,2)/C(N,2)
    and the overflow docs silently survive dedup (measured in
    ``scripts/bench_skew.py``). With ``overflow_star=True`` every bucket
    member additionally pairs with the bucket's MIN id — O(|bucket|) star
    pairs instead of O(|bucket|²), giving connected-components full
    connectivity over the bucket (every true-dup overflow member reaches
    the representative through the hub; false candidates still die in the
    exact-Jaccard verify). Costs one extra map-side-combining min aggregate
    plus an equi-join of band rows against the per-bucket mins; off by
    default — buckets below the cap already emit every pair.
    """
    bands = bands.filter(F.col("band_key").isNotNull())
    members = F.array_sort(F.collect_list("id"))
    if bucket_cap is not None:
        members = F.slice(members, 1, bucket_cap)
    buckets = bands.groupBy("band_idx", "band_key").agg(members.alias("_ids"))
    n = F.size("_ids")
    pair_arr = F.flatten(
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
    pairs = (
        buckets.filter(n >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .select("p.id_a", "p.id_b")
    )
    if bucket_cap is not None and overflow_star:
        mins = bands.groupBy("band_idx", "band_key").agg(
            F.min("id").alias("_min")
        )
        stars = (
            bands.join(mins, ["band_idx", "band_key"])
            .filter(F.col("id") != F.col("_min"))
            .select(F.col("_min").alias("id_a"), F.col("id").alias("id_b"))
        )
        pairs = pairs.unionByName(stars)
    return pairs.distinct()


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    perms: int = 8,
    rows_per_band: int = 2,
    bucket_cap: int | None = None,
    overflow_star: bool = False,
) -> DataFrame:
    """Candidate pairs via LSH band equi-join, verified by exact shingle
    Jaccard ≥ threshold. Returns (id_a, id_b, jaccard) with id_a < id_b.

    The band join shuffles on band_key only; the verify re-join fetches the
    two shingle sets per surviving candidate pair. At 100 TB pass a
    ``bucket_cap`` (see :func:`capped_band_pairs`) so a hot band bucket
    (boilerplate shingles) can't go quadratic — add ``overflow_star=True``
    when overflow members must still reach their cluster representative
    through connected components (linear hub pairs, exact-verified like
    any other candidate); the default None keeps exact all-pairs semantics
    for oracle-compared runs.
    """
    bands = minhash_bands(df, id_col, text_col, perms, rows_per_band)
    cand = capped_band_pairs(bands, bucket_cap, overflow_star)
    # Verify needs shingles ONLY for docs appearing in a candidate pair —
    # typically a few % of the corpus. The left-semi join restricts the
    # (interpreted, alloc-heavy) shingle computation to those survivors
    # BEFORE it runs: plan-level identity (shingles are consumed solely
    # through the id equi-joins below), measured 44 s → ~4 s at local[8]
    # over 471 k docs. The candidate id set is small, so AQE broadcasts
    # the semi-join; the band-join shuffles feeding both `cand` consumers
    # are computed once via ReuseExchange.
    cand_ids = cand.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)
    ).distinct()
    sh = (
        df.join(cand_ids, id_col, "left_semi")
        .select(
            F.col(id_col).alias("id"),
            ngrams_udf(SHINGLE_N, distinct=True)(F.col(text_col)).alias("sh"),
        )
    )
    return (
        cand.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("long"))
        .withColumn("n_union", F.size(F.array_union("sh_a", "sh_b")).cast("long"))
        .withColumn("jaccard", F.col("n_inter") / F.col("n_union"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard", "n_inter", "n_union")
    )


# ---------------------------------------------------------------- simhash


def simhash16_votes_col(digests: Column) -> Column:
    """All 16 per-bit vote sums in ONE pass over a precomputed md5-digest
    array: fold an int[16] accumulator, adding ±1 per bit from the digest's
    first 16 hex nibbles. Exactly the 16 per-bit folds of the md5-per-bit
    spec (``tests/specs.py``), but with each token hashed once, not 16×."""
    return F.aggregate(
        digests,
        F.array(*[F.lit(0)] * 16),
        lambda acc, d: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(15)),
                lambda b: F.when(
                    d.substr(b + F.lit(1), F.lit(1)) >= "8", F.lit(1)
                ).otherwise(F.lit(-1)),
            ),
            lambda a, x: a + x,
        ),
    )


def simhash_from_votes(votes: Column) -> Column:
    """Vote array → 16-bit simhash (sign of each vote sum)."""
    total = None
    for b in range(16):
        bit = F.when(F.element_at(votes, b + 1) > 0, F.lit(2**b)).otherwise(
            F.lit(0)
        )
        total = bit if total is None else total + bit
    return total.cast("int")


def with_simhash16(df: DataFrame, text_col: str, out: str = "simhash") -> DataFrame:
    """Production simhash path: md5 each token ONCE, then 16 bit-votes over
    the digest array. Two projections on purpose — the vote-array aggregate
    is materialized as an attribute before the 16 sign tests reference it;
    written as one Column expression, CollapseProject would inline (and the
    interpreted higher-order fold would re-evaluate) the whole aggregate
    16×, the exact Catalyst trap of CLAUDE.md perf lessons #6-#8."""
    digs = F.transform(tokens_col(F.col(text_col)), lambda t: F.md5(t))
    return (
        df.withColumn("_votes", simhash16_votes_col(digs))
        .withColumn(out, simhash_from_votes(F.col("_votes")))
        .drop("_votes")
    )


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 0,
    bands: int = 4,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Banded SimHash near-dup pairs, verified by exact hamming distance.

    The 16-bit simhash splits into ``bands`` bit-slices; by pigeonhole any
    pair with hamming ≤ bands−1 agrees on at least one full slice, so a
    per-slice equi-join (never an all-pairs or single-bucket self-join)
    finds every candidate for ``max_hamming ≤ bands−1``. Candidates verify
    with ``bit_count(xor) ≤ max_hamming``; hot slices are bounded by
    ``bucket_cap`` (:func:`capped_band_pairs`).
    """
    if max_hamming > bands - 1:
        raise ValueError("banding guarantees recall only for max_hamming <= bands-1")
    bits_per = 16 // bands
    s = with_simhash16(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")),
        "_t",
        "sh",
    ).select("id", "sh")
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftright(F.col("sh"), b * bits_per)
                .bitwiseAND(F.lit((1 << bits_per) - 1))
                .cast("string")
                .alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    banded = s.select("id", F.explode(band_arr).alias("b")).select(
        "id", "b.band_idx", "b.band_key"
    )
    cand = capped_band_pairs(banded, bucket_cap)
    sx = s.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sy = s.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sx, "id_a")
        .join(sy, "id_b")
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", F.col("sh_a").alias("simhash"), "hamming")
    )


# -------------------------------------------- exact substring (dup spans)


def duplicate_spans(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    hash_grams: bool = False,
) -> DataFrame:
    """ExactSubstr-style cross-document duplicate-SPAN detection (the
    suffix-array dedup of Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better", re-expressed relationally): a token
    window of length ``k`` that occurs verbatim in MORE THAN ONE document
    is a duplicated window; overlapping-or-adjacent duplicated windows
    merge into maximal spans. Complements the doc-level family (exact /
    MinHash / SimHash / Jaccard / embedding): those decide *keep-or-drop
    per document*, this one localizes *which token ranges* are boilerplate
    shared across documents (licenses, headers, templated intros) so they
    can be scrubbed while the rest of the document survives.

    Returns one row per maximal span: ``(id, span_start, span_end,
    n_windows)`` — 0-based inclusive token positions over the whitespace
    token stream, ``n_windows`` = duplicated k-windows merged into the
    span.

    Physical shape (the published approach costs one suffix-array pass
    over the corpus; this costs two linear gram generations):

    * gram generation is narrow (posexplode of per-doc windows — rows ≈
      corpus token count);
    * "occurs in >1 doc" is ONE map-side-combinable ``min(id) ≠ max(id)``
      aggregate per gram — no count-distinct, and a boilerplate gram held
      by millions of docs pre-combines per map task (skew-safe);
    * the join back of the dup-gram set is AQE-skew-splittable (build side
      is one row per duplicated gram);
    * span merge is a per-document gaps-and-islands window — partition
      size bounded by document length, never by corpus size.

    ``hash_grams=True`` replaces the gram string with ``xxhash64(gram)``
    as the aggregate/join key — the shuffle shrinks from ~k words to 8
    bytes per window, at the cost of a ~2⁻⁶⁴ per-pair collision
    probability (value-equality on the fixture is pytested). The oracle
    row runs with exact strings.

    Window generation runs in the Arrow kernel :func:`ngrams_udf`
    (ordered, with multiplicity — posexplode position = window position);
    its Column spec (``tests/specs.py``) mirrors the DuckDB oracle and pins
    the kernel via equality test.
    """
    g = corpus.select(
        F.col(id_col).alias("_id"),
        F.posexplode(ngrams_udf(k)(F.col(text_col))).alias("_pos", "_g"),
    ).select(
        "_id",
        "_pos",
        (F.xxhash64("_g") if hash_grams else F.col("_g")).alias("_key"),
    )
    # the gram stream has TWO consumers (the min≠max dup aggregate and the
    # join-back), so the kernel+explode would otherwise execute twice.
    # Materializing it trades one gram-stream-sized write (≈ tokenized
    # corpus — the same structure ExactSubstr implementations persist as
    # their suffix array) for the second generation pass (round-6: 1.55 →
    # 1.40 s at sf0.1).
    g = materialize(g)
    dup = (
        g.groupBy("_key")
        .agg(F.min("_id").alias("_a"), F.max("_id").alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
        .select("_key")
    )
    d = g.join(dup, "_key", "left_semi").select("_id", "_pos")

    w = Window.partitionBy("_id").orderBy("_pos")
    prev = F.lag("_pos").over(w)
    new_span = F.when(prev.isNull() | (F.col("_pos") > prev + k), 1).otherwise(0)
    isl = F.sum(new_span).over(
        Window.partitionBy("_id")
        .orderBy("_pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        d.withColumn("_isl", isl)
        .groupBy("_id", "_isl")
        .agg(
            F.min("_pos").cast("long").alias("span_start"),
            (F.max("_pos") + k - 1).cast("long").alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select(
            F.col("_id").alias(id_col), "span_start", "span_end", "n_windows"
        )
    )


def scrub_duplicate_spans(
    corpus: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove the duplicated spans found by :func:`duplicate_spans` from
    each document's text (the ExactSubstr *action*): tokens whose 0-based
    position falls inside any of the doc's spans are dropped; the
    remaining tokens re-join with single spaces, ORIGINAL CASE PRESERVED —
    span positions index the whitespace token stream, which is identical
    for the cased and lowercased text, so the rebuild tokenizes WITHOUT
    lowering (round-5 advice: the previous lower()d rebuild destroyed case
    corpus-wide, which is lossy for training data; ExactSubstr removes
    only the duplicated tokens). Docs with NO spans keep their text byte
    -for-byte untouched (left join + null-span passthrough); scrubbed docs
    retain a residual whitespace normalization (runs of whitespace become
    one space — an unavoidable artifact of the token rebuild).

    One broadcastable-or-shuffled join on id + a narrow codegen rebuild;
    spans per doc are few, so the per-token containment test is a bounded
    ``exists`` over the span array."""
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    joined = corpus.join(sp, id_col, "left")
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("_spans"),
            lambda s: (i.cast("long") >= s["span_start"])
            & (i.cast("long") <= s["span_end"]),
        ),
    )
    return joined.select(
        *[c for c in corpus.columns if c != text_col],
        F.when(F.col("_spans").isNull(), F.col(text_col))
        .otherwise(F.concat_ws(" ", kept))
        .alias(text_col),
    )
