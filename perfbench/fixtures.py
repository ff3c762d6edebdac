"""Seeded benchmark inputs.

Every input derives only from ``(seed, scale)``:

* transcripts: the keys ``[seed*N, seed*N + N)`` expanded by the package's
  own grammar (``synth.transcripts.transcripts_from_keys``), written as
  several parquet files so the scan fans out to every core;
* documents: an sf0.1-shaped corpus (30-word vocabulary, 10-99 tokens,
  5% near-copies with a trailing ``dup`` token, the sf0.1 language mix),
  planted with exact and extended copies the way the ``curation_full`` row
  plants its input, then replicated with seed-tagged token prefixes the
  way ``bench.py``'s scaled-docs fixture does. Prefixing is a bijection on
  the vocabulary, so every copy keeps the near-duplicate structure of the
  base corpus and no shingle is shared across copies.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_KEYS = 2500
BASE_DOCS = 1000
DOC_COPIES = 2
FILES = 8

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
NEAR_COPY_SHARE = 0.05
PLANT_OFFSET = 1_000_000


def key_range(seed: int, scale: float) -> tuple[int, int]:
    n = max(int(BASE_KEYS * scale), 1)
    return seed * n, seed * n + n


def write_transcripts(spark, seed: int, scale: float, path: str) -> int:
    """Write the seed's transcripts to ``path``; returns the turn count."""
    from calendar_event_entity_extraction_spark.synth.transcripts import (
        transcripts_from_keys,
    )

    transcripts_from_keys(keys(spark, seed, scale)).write.mode("overwrite").parquet(path)
    return parquet_rows(path)


def keys(spark, seed: int, scale: float):
    """The seed's conversation keys as a ``k`` column."""
    lo, hi = key_range(seed, scale)
    return spark.range(lo, hi, 1, FILES).withColumnRenamed("id", "k")


def _base_docs(rng: np.random.Generator, n: int) -> tuple[list[str], list[str]]:
    lens = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, off = [], 0
    for n_tok in lens:
        texts.append(" ".join(VOCAB[w] for w in words[off:off + n_tok]))
        off += n_tok
    near = rng.random(n) < NEAR_COPY_SHARE
    src = rng.integers(0, n, n)
    texts = [texts[s] + " dup" if c else t for t, c, s in zip(texts, near, src)]
    langs = rng.choice(LANGS, n, p=LANG_P).tolist()
    return texts, langs


def _planted(ids, texts, langs):
    """Base corpus plus an exact copy of every ``id % 20 == 7`` doc and two
    extended copies of every ``id % 20 == 3`` doc."""
    out = list(zip(ids, texts, langs))
    for i, t, g in zip(ids, texts, langs):
        if i % 20 == 7:
            out.append((i + PLANT_OFFSET, t, g))
    for k, tail in ((2, " extra tail tokens"), (3, " extra tail tokens and more")):
        for i, t, g in zip(ids, texts, langs):
            if i % 20 == 3:
                out.append((i + k * PLANT_OFFSET, t + tail, g))
    return out


def write_documents(seed: int, scale: float, path: str) -> int:
    """Write the seed's documents(doc_id, text, lang) to ``path`` as
    ``FILES`` parquet files; returns the document count."""
    rng = np.random.default_rng(seed)
    n = max(int(BASE_DOCS * scale), 20)
    texts, langs = _base_docs(rng, n)
    planted = _planted(range(n), texts, langs)
    stride = max(r[0] for r in planted) + 1
    rows = []
    for copy in range(DOC_COPIES):
        tag = f"s{seed}c{copy}_"
        rows.extend(
            (i + copy * stride, " ".join(tag + w for w in t.split(" ")), g)
            for i, t, g in planted
        )
    order = rng.permutation(len(rows))
    os.makedirs(path, exist_ok=True)
    for f, part in enumerate(np.array_split(order, FILES)):
        chunk = [rows[j] for j in part]
        table = pa.table(
            {
                "doc_id": pa.array([r[0] for r in chunk], pa.int64()),
                "text": pa.array([r[1] for r in chunk], pa.string()),
                "lang": pa.array([r[2] for r in chunk], pa.string()),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))
    return len(rows)


def parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in parquet_files(path))


def parquet_files(path: str) -> list[str]:
    out = []
    for d, _, names in os.walk(path):
        out.extend(os.path.join(d, n) for n in names if n.endswith(".parquet"))
    return sorted(out)


def parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in parquet_files(path))
