"""Column-expression specs of the package's Arrow kernels.

Each function here is the readable, SQL-portable formulation of a signal
that the package computes in an Arrow kernel, and the DuckDB oracles mirror
these forms. They are equality pins only, so they live with the tests that
compare each kernel against its spec:

* ``functions.text.repetition_keep_udf``  ↔ :func:`keep_repetition_col`
* ``functions.text.repetition_struct_full_udf`` ↔ :func:`repetition_struct_full`
* ``operators.dedup.ngrams_udf``          ↔ :func:`ngram_arr`
* ``operators.dedup.minhash_sigs_udf``    ↔ :func:`minhash_signature`
* ``operators.dedup.with_simhash16``      ↔ :func:`simhash16_col`
* ``operators.similarity.hyperplane_bucket_udf`` ↔ :func:`hyperplane_sign`
"""

from pyspark.sql import Column
from pyspark.sql import functions as F

from calendar_event_entity_extraction_spark.functions.text import (
    GOPHER_DUP_NGRAM_PCT,
    GOPHER_TOP_NGRAM_PCT,
    tokens_col,
)
from calendar_event_entity_extraction_spark.operators.dedup import shingles_col

# Tokenizer edge cases: every row must tokenize identically in the JVM
# (tokens_col) and in the kernels' Python twin (jvm_tokenizer).
HOSTILE_TEXTS = [
    "",
    " ",
    "\t\n\x0b\f\r",
    " \t a\x0bb\fc\r\n d \t",  # every Java \s separator between tokens
    "nbsp\u00a0joined\u00a0token stays one piece",  # NBSP is not Java \s
    "narrow\u202fnbsp\u202fjoined token too",  # U+202F neither
    "\u0130stanbul I\u015eIK \u0131l\u0131k",  # dotted capital I, dotless i
    "ΟΔΥΣΣΕΥΣ Σίσυφος ΣΟΦΟΣ",  # Greek final sigma
    "Stra\u00dfe STRASSE",
    "\u1e9e capital sharp s",
    "東京で 会議 明日 午後三時 に 開始",  # CJK
    "meet \U0001f389 at \U0001f469\u200d\U0001f4bb desk \U0001f600 ok",  # emoji, ZWJ
    "x" * 100_000,  # one 100,000-char token
    "line one\r\nline two\r\n",
    "\u01c5emal \u01c8ubljana \u01cb digraphs",  # titlecase digraphs
    "\ufb01nance \ufb02ow \ufb00 ligatures",
    "\u212a kelvin sign",
    "\u212b angstrom sign",
    "\u2126 ohm sign",
    None,
]


def hostile_rows(first_id: int) -> list:
    """HOSTILE_TEXTS as (doc_id, text) rows, ids from ``first_id``."""
    return [(first_id + i, t) for i, t in enumerate(HOSTILE_TEXTS)]


# ---------------------------------------------------------------- repetition


def run_stats_col(arr: Column) -> Column:
    """(best_cnt, best_mass, dup_mass) over a string array in ONE sorted
    fold: sort, then scan runs of equal values —

    * ``best_cnt``  = max run length            (= max element count)
    * ``best_mass`` = max run_length × chars    (= heaviest count×len)
    * ``dup_mass``  = Σ over runs of length ≥ 2 of run_length × chars
      (incremental: +2·len at an element's second occurrence, +len per
      further occurrence)

    Values are provably identical to the naive count-each-distinct-element
    formula the DuckDB oracles use."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best_cnt"),
        F.lit(0).cast("long").alias("best_mass"),
        F.lit(0).cast("long").alias("dup_mass"),
    )

    def merge(acc, x):
        same = acc["prev"].isNotNull() & (x == acc["prev"])
        run = F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        ln = F.length(x).cast("long")
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best_cnt"], run).alias("best_cnt"),
            F.greatest(acc["best_mass"], run * ln).alias("best_mass"),
            (
                acc["dup_mass"]
                + F.when(run == 2, 2 * ln).when(run > 2, ln).otherwise(F.lit(0))
            ).alias("dup_mass"),
        )

    return F.aggregate(F.array_sort(arr), init, merge)


def ngram_arr(toks: Column, n: int) -> Column:
    """All word n-grams (space-joined, WITH multiplicity); empty array when
    the doc has fewer than n tokens."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def top_ngram_chars_col(toks: Column, n: int) -> Column:
    """Character mass (occurrences × chars of the space-joined gram) of the
    HEAVIEST n-gram. Integer, 0 for docs shorter than n."""
    return run_stats_col(ngram_arr(toks, n))["best_mass"]


def dup_ngram_chars_col(toks: Column, n: int) -> Column:
    """Character mass of DUPLICATED n-grams: sum over distinct grams with
    count ≥ 2 of count × chars. Integer."""
    return run_stats_col(ngram_arr(toks, n))["dup_mass"]


def _bigrams(toks: Column) -> Column:
    # zip each token with its successor; zip_with pads the shorter side
    # with null, so the trailing (last, null) pair filters out
    return F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(1))),
            lambda a, b: F.when(b.isNotNull(), F.concat(a, F.lit(" "), b)),
        ),
        lambda x: x.isNotNull(),
    )


def _repetition_signals(text: Column):
    """(n, nd, top, n_bg, nd_bg, keep) Column expressions over the tokens."""
    toks = tokens_col(text)
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    top = run_stats_col(toks)["best_cnt"]
    bg = _bigrams(toks)
    n_bg = F.size(bg)
    nd_bg = F.size(F.array_distinct(bg))
    keep = (nd * 10 >= n * 3) & (top * 5 <= n) & ((n_bg - nd_bg) * 2 <= n_bg)
    return n, nd, top, n_bg, nd_bg, keep


def keep_repetition_col(text: Column) -> Column:
    """The Gopher-style repetition KEEP flag: distinct/total ≥ 0.3 AND
    top-token mass ≤ 0.2 AND duplicate-bigram mass ≤ 0.5 — integer
    cross-multiplication, no floats."""
    return _repetition_signals(text)[-1]


def repetition_struct(text: Column) -> list[Column]:
    """Token/bigram repetition signals (Rae et al. 2021 §A1.1), exact
    integers, plus :func:`keep_repetition_col`."""
    n, nd, top, n_bg, nd_bg, keep = _repetition_signals(text)
    return [
        n.cast("long").alias("n_tokens"),
        nd.cast("long").alias("n_distinct"),
        top.cast("long").alias("top_token_count"),
        n_bg.cast("long").alias("n_bigrams"),
        nd_bg.cast("long").alias("n_distinct_bigrams"),
        keep.alias("keep_repetition"),
    ]


def repetition_struct_full(text: Column) -> list[Column]:
    """:func:`repetition_struct` plus the FULL Gopher §A1.1 family: heaviest
    {2,3,4}-gram character mass, duplicate {5..10}-gram character mass, the
    normalized-character denominator, and an all-gates keep flag."""
    toks = tokens_col(text)
    chars = F.length(F.array_join(toks, " "))
    tops = {n: top_ngram_chars_col(toks, n) for n in GOPHER_TOP_NGRAM_PCT}
    dups = {n: dup_ngram_chars_col(toks, n) for n in GOPHER_DUP_NGRAM_PCT}
    keep_full = keep_repetition_col(text)
    for n, pct in GOPHER_TOP_NGRAM_PCT.items():
        keep_full = keep_full & (tops[n] * 100 <= chars * pct)
    for n, pct in GOPHER_DUP_NGRAM_PCT.items():
        keep_full = keep_full & (dups[n] * 100 <= chars * pct)
    return [
        *repetition_struct(text),
        chars.cast("long").alias("n_chars_norm"),
        *[
            tops[n].cast("long").alias(f"top{n}gram_chars")
            for n in GOPHER_TOP_NGRAM_PCT
        ],
        *[
            dups[n].cast("long").alias(f"dup{n}gram_chars")
            for n in GOPHER_DUP_NGRAM_PCT
        ],
        keep_full.alias("keep_repetition_full"),
    ]


# ---------------------------------------------------------------- minhash


def minhash_from_shingles(sh: Column, perms: int = 8) -> list[Column]:
    """One min-hash per permutation: min over shingles of
    md5(perm-tag || shingle). String-min over uniform hex digests is an
    order-preserving stand-in for integer min-hash."""

    def _mh(j: int) -> Column:
        # nb: j must be bound via a real closure — a `j=j` lambda default
        # changes the lambda's arity and pyspark then binds it as (elem, idx)
        return F.array_min(
            F.transform(sh, lambda s: F.md5(F.concat(F.lit(f"{j}|"), s)))
        ).alias(f"mh{j}")

    return [_mh(j) for j in range(perms)]


def minhash_signature(text: Column, perms: int = 8) -> list[Column]:
    return minhash_from_shingles(shingles_col(text), perms)


# ---------------------------------------------------------------- simhash


def simhash16_col(text: Column) -> Column:
    """16-bit SimHash over word tokens. Bit b of a token = high bit of hex
    nibble b of md5(token) ('8'..'f' ⇒ 1); the document bit is the sign of
    the per-bit ±1 vote sum. Evaluates md5 once PER BIT (16× per token)."""
    toks = tokens_col(text)

    def _vote(b: int) -> Column:
        return F.aggregate(
            toks,
            F.lit(0),
            lambda acc, t: acc
            + F.when(F.substring(F.md5(t), b + 1, 1) >= "8", 1).otherwise(-1),
        )

    total = None
    for b in range(16):
        bit = F.when(_vote(b) > 0, F.lit(2**b)).otherwise(F.lit(0))
        total = bit if total is None else total + bit
    return total.cast("int")


# ---------------------------------------------------------------- hyperplane


def hyperplane_sign(vec: Column, plane_idx: int, dims: int) -> Column:
    """Deterministic pseudo-random hyperplane: component d weight is +1/-1
    from the high bit of md5('{plane}|{d}'). Sign of <v, h>."""
    weights = F.array(
        *[
            F.when(
                F.substring(F.md5(F.lit(f"{plane_idx}|{d}")), 1, 1) >= "8", F.lit(1.0)
            ).otherwise(F.lit(-1.0))
            for d in range(dims)
        ]
    )
    dot = F.aggregate(
        F.zip_with(vec, weights, lambda x, w: x.cast("double") * w),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0"))
