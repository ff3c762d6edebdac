"""Training-data curation pipelines.

``curate_documents`` — the minimal composition: quality gate → exact dedup
(first-wins) → hash split. Every stage is a narrow Column expression or one
shuffle; the whole plan is one DAG (no intermediate actions), so Catalyst
fuses the quality gate into the scan and the dedup shuffle is the only
exchange.

``curate_full`` — the composition a 100 TB training-data run actually
executes, end to end in one job: quality gate → repetition filter → exact
dedup → MinHash-LSH near-dup pairs → connected-components cluster drop
(keep the min-id representative) → deterministic mixture sampling → hash
split → token-budget sequence packing. Exchange budget (see PLANS.md
``curation_full``): the two narrow gates fuse into the scan; exact dedup is
one signature shuffle; the near-dup branch shuffles on band key and
re-joins shingles per candidate; connected components runs O(log²n)
bounded star rounds over the (tiny relative to the corpus) pair list; the
cluster drop is one broadcast-able anti-join; mixture sampling and split
assignment are pure narrow filters/projections; packing is one window
shuffle on the shard hash. Nothing collects to the driver except the CC
convergence probes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import quality_ok_col, repetition_keep_udf
from ..operators.dedup import dedup_first_wins, minhash_near_duplicates
from ..operators.packing import pack_sequences
from ..operators.resolve import connected_components
from ..operators.sampling import mixture_sample
from ..operators.splits import assign_split
from ..sources.tables import materialize


def curate_documents(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text) → curated rows + split label: the quality
    gate (``quality_ok_col``), first-wins exact dedup, hash split."""
    kept = docs.filter(quality_ok_col(F.col("text")))
    deduped = dedup_first_wins(kept, ["text"], "doc_id")
    return assign_split(deduped, "doc_id").select("doc_id", "split")


def curate_full(
    docs: DataFrame,
    weights: dict[str, float],
    seed: int = 11,
    bucket_cap: int | None = None,
    overflow_star: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """documents(doc_id, text, lang) → (doc_id, lang, split, shard,
    n_tokens, pack_id): the full curation DAG described in the module
    docstring. Deterministic end to end (no RNG anywhere), every stage
    integer-exact or hash-derived, so the whole composite is replicable in
    plain SQL (the ``curation_full`` oracle chains the per-stage oracles).
    Near-dup pairs need exact shingle Jaccard ≥ 0.6 over 8 MinHash
    permutations in bands of 2; packing fills 256-token sequences over 8
    shards.

    At 100 TB pass a ``bucket_cap`` so a hot LSH bucket can't go quadratic
    (recall trade-off documented at ``dedup.capped_band_pairs``), and add
    ``overflow_star=True`` when boilerplate masses must still dedup fully
    (linear hub pairs restore CC connectivity for members past the cap —
    measured in ``scripts/bench_skew.py``). The default None keeps exact
    all-pairs semantics for oracle-compared runs.
    On a real cluster also pass ``checkpoint_dir`` so the deduped corpus
    and the connected-components rounds truncate lineage into durable
    storage instead of executor-pinned localCheckpoint blocks.
    """
    # repetition gate via the Arrow kernel (repetition_keep_udf docstring:
    # the Column form's interpreted fold caps the whole stage at ~0.44
    # core-scaling); Catalyst splits the conjunction so the cheap codegen
    # gates run BELOW the Python eval and cut its input first
    text = F.col("text")
    gated = docs.filter(quality_ok_col(text) & repetition_keep_udf()(text))
    # materialize the deduped corpus ONCE (round-6): it has TWO consumers —
    # the near-dup pair lineage and the final kept anti-join — so without a
    # checkpoint the quality gates + dedup window execute twice end to end
    # (measured 5.0 -> 3.7 s at sf0.1, n_kept identical). Real curation
    # pipelines materialize the post-dedup corpus for exactly this reason;
    # the trade is one corpus-sized write.
    deduped = materialize(
        dedup_first_wins(gated, ["text"], "doc_id"), checkpoint_dir
    )
    pairs = minhash_near_duplicates(
        deduped,
        "doc_id",
        "text",
        threshold=0.6,
        perms=8,
        rows_per_band=2,
        bucket_cap=bucket_cap,
        overflow_star=overflow_star,
    )
    labels = connected_components(
        pairs, "id_a", "id_b", checkpoint_dir=checkpoint_dir
    )
    dupes = labels.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )
    kept = deduped.join(dupes, "doc_id", "left_anti")
    mixed = mixture_sample(kept, "lang", weights, "doc_id", seed=seed)
    return pack_sequences(
        assign_split(mixed, "doc_id"),
        "doc_id",
        "text",
        budget=256,
        shards=8,
        carry_cols=("lang", "split"),
    ).select("doc_id", "lang", "split", "shard", "n_tokens", "pack_id")
