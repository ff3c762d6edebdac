"""Text-analysis primitives for a large-scale training-data pipeline.

Column expressions for token counting, the curation quality gate,
stopword hits, repetition signals, PII scrubbing and document
fingerprinting, each portable to plain SQL so a DuckDB oracle can mirror
it exactly, plus Arrow kernels that compute the same values.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

EN_STOPWORDS = [
    "the", "a", "an", "of", "to", "and", "in", "is", "on", "for",
    "with", "that", "this", "it", "as", "at", "by", "from", "or",
]

PUNCT_RE = r"[.,!?;:]"


def token_count_col(text: Column) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def punct_count_col(text: Column) -> Column:
    return F.length(text) - F.length(F.regexp_replace(text, PUNCT_RE, ""))


MIN_TOKENS = 10
MAX_TOKENS = 100_000
MAX_PUNCT_PER_100_CHARS = 10


def quality_ok_col(text: Column) -> Column:
    """The curation quality gate: MIN_TOKENS ≤ tokens ≤ MAX_TOKENS and at
    most MAX_PUNCT_PER_100_CHARS punctuation marks per 100 characters —
    integer arithmetic only (no float ratio), so the gate is engine-exact."""
    n_tok = token_count_col(text)
    return (
        (n_tok >= MIN_TOKENS)
        & (n_tok <= MAX_TOKENS)
        & (punct_count_col(text) * 100 <= F.length(text) * MAX_PUNCT_PER_100_CHARS)
    )


def stopword_hits_col(text: Column, stopwords: list[str] | None = None) -> Column:
    words = F.split(F.lower(F.trim(text)), r"\s+")
    sw = F.array(*[F.lit(w) for w in (stopwords or EN_STOPWORDS)])
    return F.size(F.filter(words, lambda w: F.array_contains(sw, w)))


def keep_repetition_col(text: Column) -> Column:
    """The Gopher-style repetition KEEP flag alone (see
    :func:`repetition_struct` for the full signal set): distinct/total ≥ 0.3
    AND top-token mass ≤ 0.2 AND duplicate-bigram mass ≤ 0.5 — integer
    cross-multiplication, no floats. Used as a narrow curation gate."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    dist = F.array_distinct(toks)
    n = F.size(toks)
    nd = F.size(dist)
    top = run_stats_col(toks)["best_cnt"]  # max token count via sorted-run fold
    bg = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(n - 1, F.lit(1))),
            lambda a, b: F.when(b.isNotNull(), F.concat(a, F.lit(" "), b)),
        ),
        lambda x: x.isNotNull(),
    )
    n_bg = F.size(bg)
    nd_bg = F.size(F.array_distinct(bg))
    return (nd * 10 >= n * 3) & (top * 5 <= n) & ((n_bg - nd_bg) * 2 <= n_bg)


def repetition_keep_udf():
    """Arrow-batched :func:`keep_repetition_col` — the production gate for
    the hot curation paths (``plans.curate.curate_full``, the streaming
    gates). Same kernel discipline as ``dedup.minhash_sigs_udf``:

    The Column form is a CodegenFallback higher-order tree (array_sort +
    interpreted fold + zip_with) that allocates a struct per fold step —
    measured on this box it saturates memory bandwidth/GC and scales at
    only ~0.44 efficiency from 2 to 8 cores (30.2 s → 17.2 s over 500 k
    docs) while every codegen'd stage around it scales at ≥ 0.83. This
    kernel does the same counts with C-level ``Counter``/``set`` calls
    (~10 µs/doc single-thread) and rides the per-core Python workers, so
    the gate scales WITH the executor count — the difference between a
    0.77 and a ≥ 0.85 composite scaling row.

    Byte-exact with the Column spec (equality pytest in
    ``tests/test_sampling.py``): ``.strip(" ")`` = ``F.trim`` (ASCII space
    only); the split pattern is Java's ``\\s`` class ``[ \\t\\n\\x0B\\f\\r]``
    spelled out (NOT Python's unicode-aware ``\\s``, which would also eat
    NBSP); distinct-bigram counting uses token PAIRS, which is injective
    onto the spec's ``"a b"`` concat strings because tokens cannot contain
    spaces. Null text → null, which the downstream filter drops, exactly
    like the null-propagating Column form.

    Locale caveat (round-4 advice, applies equally to
    ``dedup.minhash_sigs_udf``/``shingles_udf``): ``str.lower()`` matches
    Spark's ``lower()`` only when the JVM is not in a locale with special
    casing (Turkish/Azeri map I→ı via Java ``toLowerCase``). The session
    factory pins ``-Duser.language=en`` (``session.DEFAULT_DRIVER_JAVA_OPTS``)
    so engine-managed sessions are safe by construction; under a foreign
    plain session, exotic code points outside the tested corpora could
    diverge between the kernel and the Column spec.
    """
    import re
    from collections import Counter

    java_ws = re.compile(r"[ \t\n\x0B\f\r]+")

    @F.pandas_udf("boolean")
    def keep(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks = java_ws.split(t.strip(" ").lower())
            n = len(toks)
            nd = len(set(toks))
            top = max(Counter(toks).values())
            n_bg = n - 1
            if n_bg > 0:
                nd_bg = len(set(zip(toks, toks[1:])))
            else:
                n_bg, nd_bg = 0, 0
            out.append(
                nd * 10 >= n * 3
                and top * 5 <= n
                and (n_bg - nd_bg) * 2 <= n_bg
            )
        return pd.Series(out, dtype=object)

    return keep


def repetition_struct(text: Column) -> list[Column]:
    """Gopher-style within-document repetition signals, exact integers only
    (Rae et al. 2021 §A1.1 filter degenerate/boilerplate docs by repeated
    n-gram mass). All higher-order array functions — narrow, no Python.
    top_token_count is an O(n log n) sorted-run fold (`run_stats_col`) per
    document — a per-row constant; a skewed giant doc degrades one task,
    never a shuffle.

    keep_repetition: distinct/total ≥ 0.3 AND top-token mass ≤ 0.2 AND
    duplicate-bigram mass ≤ 0.5 — integer cross-multiplication, no floats.
    """
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    dist = F.array_distinct(toks)
    n = F.size(toks)
    nd = F.size(dist)
    top = run_stats_col(toks)["best_cnt"]  # max token count via sorted-run fold
    # bigrams: zip each token with its successor; zip_with pads the shorter
    # side with null, so the trailing (last, null) pair filters out
    bg = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(n - 1, F.lit(1))),
            lambda a, b: F.when(b.isNotNull(), F.concat(a, F.lit(" "), b)),
        ),
        lambda x: x.isNotNull(),
    )
    n_bg = F.size(bg)
    nd_bg = F.size(F.array_distinct(bg))
    return [
        n.cast("long").alias("n_tokens"),
        nd.cast("long").alias("n_distinct"),
        top.cast("long").alias("top_token_count"),
        n_bg.cast("long").alias("n_bigrams"),
        nd_bg.cast("long").alias("n_distinct_bigrams"),
        (
            (nd * 10 >= n * 3)
            & (top * 5 <= n)
            & ((n_bg - nd_bg) * 2 <= n_bg)
        ).alias("keep_repetition"),
    ]


# Gopher §A1.1 (Rae et al. 2021) repetition thresholds, as integer percents:
# a doc is dropped when the character mass of the heaviest {2,3,4}-gram, or
# of duplicated {5..10}-grams, exceeds these fractions of the normalized text
GOPHER_TOP_NGRAM_PCT = {2: 20, 3: 18, 4: 16}
GOPHER_DUP_NGRAM_PCT = {5: 15, 6: 14, 7: 13, 8: 12, 9: 11, 10: 10}


def _ngram_arr(toks: Column, n: int) -> Column:
    """All word n-grams (space-joined, WITH multiplicity); empty array when
    the doc has fewer than n tokens."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def run_stats_col(arr: Column) -> Column:
    """(best_cnt, best_mass, dup_mass) over a string array in ONE sorted
    fold: sort, then scan runs of equal values —

    * ``best_cnt``  = max run length            (= max element count)
    * ``best_mass`` = max run_length × chars    (= heaviest count×len)
    * ``dup_mass``  = Σ over runs of length ≥ 2 of run_length × chars
      (incremental: +2·len at an element's second occurrence, +len per
      further occurrence)

    O(n log n) sort + O(n) fold per document, replacing the naive
    count-each-distinct-element formulation that is O(n × n_distinct) WITH
    the array expression re-evaluated per distinct element (interpreted
    higher-order lambdas have no cross-call caching) — 20× on repetitive
    docs. Values are provably identical, so the naive per-distinct formula
    stays in the DuckDB oracles as the independent spec."""
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


def top_ngram_chars_col(toks: Column, n: int) -> Column:
    """Character mass (occurrences × chars of the space-joined gram) of the
    HEAVIEST n-gram — deterministic under most-frequent ties (it maximizes
    count × length directly, a monotone bound of Gopher's most-frequent-
    n-gram character fraction). Integer, 0 for docs shorter than n."""
    return run_stats_col(_ngram_arr(toks, n))["best_mass"]


def dup_ngram_chars_col(toks: Column, n: int) -> Column:
    """Character mass of DUPLICATED n-grams: sum over distinct grams with
    count ≥ 2 of count × chars (each occurrence's span counted
    independently — a documented over-count of Gopher's overlap-aware
    character fraction, in the conservative direction). Integer."""
    return run_stats_col(_ngram_arr(toks, n))["dup_mass"]


def repetition_struct_full(text: Column) -> list[Column]:
    """:func:`repetition_struct` plus the FULL Gopher §A1.1 family: heaviest
    {2,3,4}-gram character mass, duplicate {5..10}-gram character mass, the
    normalized-character denominator, and an all-gates keep flag — every
    signal an exact integer, every threshold an integer cross-multiplication
    (never floats), so the whole filter replays bit-identically in SQL.

    Cost note: each signal is one O(n log n) sorted-run fold per gram order
    (:func:`run_stats_col`); post-length-gate documents keep this a bounded
    per-row constant, and a skewed giant doc degrades one task, never a
    shuffle."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
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


REPETITION_FULL_FIELDS = [
    ("n_tokens", "long"),
    ("n_distinct", "long"),
    ("top_token_count", "long"),
    ("n_bigrams", "long"),
    ("n_distinct_bigrams", "long"),
    ("keep_repetition", "boolean"),
    ("n_chars_norm", "long"),
    *[(f"top{n}gram_chars", "long") for n in GOPHER_TOP_NGRAM_PCT],
    *[(f"dup{n}gram_chars", "long") for n in GOPHER_DUP_NGRAM_PCT],
    ("keep_repetition_full", "boolean"),
]


def repetition_struct_full_udf():
    r"""Arrow-batched :func:`repetition_struct_full` — the production path
    for the full Gopher §A1.1 signal family. The Column form plans NINE
    interpreted sorted-run folds (one :func:`run_stats_col` per gram order
    2..10) plus the token/bigram fold — CodegenFallback per element with
    the array rebuilt per lambda step (perf lessons #10/#13); measured
    round 6 at sf0.1 local[32] it is 27 s of single-stage compute (and its
    expression tree alone costs visible analysis time per plan). This
    kernel computes the same exact integers with C-level ``Counter`` calls
    and rides the per-core Python workers.

    Byte-exact with the Column spec (equality pytest in
    ``tests/test_sampling.py``), same tokenization discipline as
    :func:`repetition_keep_udf`: ``.strip(" ")`` = ``F.trim`` (ASCII space
    only), Java's ``\s`` class spelled out, ``str.lower`` (locale caveat
    as documented there). Gram character mass uses
    ``sum(len(tok)) + (k-1)`` = ``length(concat_ws(" ", gram))`` exactly.
    Null text → all-null row, like the null-propagating Column form. The
    Column formulation stays as the readable spec and the DuckDB oracle's
    independent mirror."""
    import re
    from collections import Counter

    java_ws = re.compile(r"[ \t\n\x0B\f\r]+")
    schema = ", ".join(f"{n} {t}" for n, t in REPETITION_FULL_FIELDS)
    top_pct = dict(GOPHER_TOP_NGRAM_PCT)
    dup_pct = dict(GOPHER_DUP_NGRAM_PCT)

    @F.pandas_udf(schema)
    def rep(texts: pd.Series) -> pd.DataFrame:
        rows = []
        for t in texts:
            if t is None:
                # the Column spec's _ngram_arr falls to its otherwise()
                # EMPTY-array branch on null tokens, so the nine gram-mass
                # fields are 0 — not null — while everything else nulls
                rows.append(
                    [
                        0 if (n.endswith("gram_chars")) else None
                        for n, _ in REPETITION_FULL_FIELDS
                    ]
                )
                continue
            toks = java_ws.split(t.strip(" ").lower())
            n = len(toks)
            nd = len(set(toks))
            top = max(Counter(toks).values())
            if n > 1:
                n_bg = n - 1
                nd_bg = len(set(zip(toks, toks[1:])))
            else:
                n_bg, nd_bg = 0, 0
            chars = sum(len(x) for x in toks) + (n - 1)
            lens = [len(x) for x in toks]
            keep = (
                nd * 10 >= n * 3
                and top * 5 <= n
                and (n_bg - nd_bg) * 2 <= n_bg
            )
            keep_full = keep
            tops, dups = {}, {}
            for k in range(2, 11):
                best_mass, dup_mass = 0, 0
                if n >= k:
                    # gram char mass = token chars + (k-1) joiner spaces
                    cnts: Counter = Counter()
                    mass = {}
                    for i in range(n - k + 1):
                        g = tuple(toks[i : i + k])
                        cnts[g] += 1
                        if g not in mass:
                            mass[g] = sum(lens[i : i + k]) + (k - 1)
                    for g, cnt in cnts.items():
                        m = cnt * mass[g]
                        if m > best_mass:
                            best_mass = m
                        if cnt >= 2:
                            dup_mass += m
                if k in top_pct:
                    tops[k] = best_mass
                    keep_full = keep_full and best_mass * 100 <= chars * top_pct[k]
                else:
                    dups[k] = dup_mass
                    keep_full = keep_full and dup_mass * 100 <= chars * dup_pct[k]
            rows.append(
                [
                    n, nd, top, n_bg, nd_bg, keep, chars,
                    *[tops[k] for k in top_pct],
                    *[dups[k] for k in dup_pct],
                    keep_full,
                ]
            )
        return pd.DataFrame(
            rows, columns=[n for n, _ in REPETITION_FULL_FIELDS]
        )

    return rep


# PII patterns: RE2-safe subset (no backrefs/lookarounds) so Java regex and
# DuckDB RE2 match identically — a training-corpus scrub must behave the
# same in the engine and in any SQL-side audit
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# country code OPTIONAL and parenthesized area codes accepted: plain
# '555-123-4567' and '(555) 123-4567' are the two most common US renderings
# and an under-redacting scrub is a silent PII leak (round-3 advice; the
# old pattern REQUIRED a 1-2 digit prefix). Still RE2-safe: non-capturing
# group + optionals only, no backrefs/lookarounds.
PHONE_RE = r"(?:\+?\d{1,2}[-. ])?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}"


def pii_counts(text: Column) -> list[Column]:
    """Exact match counts per PII class (BIGINT)."""
    return [
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), 0))
        .cast("long")
        .alias("n_phones"),
    ]


def scrub_pii_col(text: Column) -> Column:
    """Replace emails then phones with typed placeholder tags — the standard
    pre-training scrub, narrow and codegen'd (regexp_replace is global in
    both Spark and DuckDB-with-'g')."""
    out = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, PHONE_RE, "<PHONE>")


def fingerprint_col(text: Column, bits_hex: int = 16) -> Column:
    """Stable 64-bit-equivalent document fingerprint: md5 prefix of the
    whitespace-normalized lowercase text (content-defined, portable)."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.substring(F.md5(norm), 1, bits_hex)
