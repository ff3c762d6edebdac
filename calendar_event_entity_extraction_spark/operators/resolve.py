"""Connected components over an edge list — entity/duplicate resolution.

Near-duplicate detection (MinHash LSH, SimHash, embedding cosine) emits
PAIRS; a real curation pipeline must transitively merge them into CLUSTERS
(a ~ b, b ~ c => {a, b, c}) and keep one representative per cluster. The
same primitive resolves co-referent KG entities (alias edges -> canonical
entity id). The reference resolves co-referent events only within a
conversation (SURVEY.md north_rule window canonicalization); this operator
is the cross-document generalization a 100 TB corpus needs.

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi, Mirrokni,
Rastogi, Vassilvitskii, "Connected Components in MapReduce and Beyond",
ACM SoCC 2014). Each half-round is a groupBy-min + self-join on the edge
list — no per-node adjacency lists are ever materialized (no collect_list,
so a hot node with millions of neighbors never concentrates in one task's
memory; the groupBy is a partial-aggregating MIN). Converges in
O(log^2 n) rounds regardless of component diameter — unlike plain min-label
propagation, whose round count is the graph DIAMETER (a 10^6-node chain of
boilerplate near-dups would take 10^6 rounds; star rounds collapse it in
~20). Each round truncates lineage — `localCheckpoint` by default, or
durable `checkpoint` when a ``checkpoint_dir`` is given (cluster mode:
survives executor loss and task retries).

Determinism: no RNG; edge sets are canonicalized (min, max) + distinct, so
every round is a pure function of the input edge set.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import driver_table, materialize


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set as distinct (u=min, v=max), self-loops dropped."""
    return (
        edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor LARGER than u to u's min-neighborhood node."""
    bidir = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = bidir.groupBy("u").agg(F.min("v").alias("_mn"))
    m = m.select("u", F.least("u", "_mn").alias("m"))
    return _canonical(
        bidir.filter(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor SMALLER than u (and u) to the min of them."""
    # canonical edges already have u < v: group by the larger endpoint v
    m = edges.groupBy("v").agg(F.min("u").alias("m"))
    joined = edges.join(m, "v")
    star = joined.select(F.col("u"), F.col("m").alias("v")).unionByName(
        joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return _canonical(star)


def _driver_union_find(pairs: list[tuple]) -> dict:
    """Path-halving union-find with min-id roots — the exact same labels the
    star rounds converge to."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
    return_rounds: bool = False,
    driver_threshold: int = 1_000_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, comp) labels; comp = the component's minimum node id.

    Input: any edge list (ids must be orderable — use xxhash64 of a string
    key upstream if needed). Nodes with no edge are absent from the output
    (they are their own singleton components by definition).

    TWO physical paths behind one semantics:

    * edge count ≤ ``driver_threshold`` → ONE Arrow collect of at most
      ``driver_threshold + 1`` edges, which both decides the path and
      brings the edges back, + driver union-find. A curation near-dup pair
      list is usually tiny relative to the corpus (pairs, not documents),
      and the star rounds' per-round job overhead (checkpoint +
      convergence action × O(log²n) rounds) dominates small graphs by
      10-50×. The collect is ``toPandas`` (Arrow batches → two primitive
      arrays, ~16 bytes/edge ≈ 16 MB at the 10⁶ threshold), NOT
      ``collect()`` whose per-Row objects cost ~100+ bytes each (round-3
      advice); it reads the already-checkpointed partitions, not the
      upstream lineage.
    * larger (the collect came back with ``driver_threshold + 1`` edges,
      which are dropped) → alternating large-star/small-star rounds (the
      100-TB path: edge-list-only shuffles, no driver materialization).
      Set ``driver_threshold=0`` to force it without the collect (tests
      do).

    ``checkpoint_dir``: when set, per-round lineage truncation is DURABLE
    (``sources.tables.materialize``) — on a real cluster localCheckpoint
    pins blocks to executors and dies with them; durable checkpoints
    survive executor loss and task retries. Leave None for single-JVM runs
    where localCheckpoint is cheaper.

    Raises if ``max_rounds`` exhausts before the star fixpoint — returning
    non-converged labels would be a SILENTLY wrong clustering. Unreachable
    in practice (O(log^2 n) convergence means 50 rounds covers any feasible
    graph), but the failure must be loud. ``return_rounds`` additionally
    returns the number of star rounds executed (0 on the driver path).
    """
    # materialize the canonical edge set ONCE up front: the driver collect
    # and round 1 of the star path both read the checkpoint instead of
    # re-executing the (possibly expensive — e.g. a full MinHash near-dup
    # join) upstream lineage
    canon = materialize(
        _canonical(edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))),
        checkpoint_dir,
    )
    pdf = canon.limit(driver_threshold + 1).toPandas() if driver_threshold else None
    if pdf is not None and len(pdf) <= driver_threshold:
        comp = _driver_union_find(
            list(zip(pdf["u"].tolist(), pdf["v"].tolist()))
        )
        spark = edges.sparkSession
        out_t = canon.schema["u"].dataType.simpleString()
        labels = driver_table(
            spark,
            pd.DataFrame(sorted(comp.items()), columns=["node", "comp"]),
            f"node {out_t}, comp {out_t}",
        )
        return (labels, 0) if return_rounds else labels
    cur = canon
    converged = False
    rounds = 0
    for _ in range(max_rounds):
        nxt = materialize(_small_star(_large_star(cur)), checkpoint_dir)
        rounds += 1
        # both sides are distinct canonical sets, so set equality <=> empty
        # symmetric difference — ONE action per round, not count + except
        if nxt.exceptAll(cur).unionByName(cur.exceptAll(nxt)).isEmpty():
            cur = nxt
            converged = True
            break
        cur = nxt
    if not converged:
        raise RuntimeError(
            f"connected_components did not reach the star fixpoint within "
            f"{max_rounds} rounds — labels would be silently wrong"
        )
    # at fixpoint every canonical edge is a star edge (component_min, member)
    labels = cur.select(
        F.col("v").alias("node"), F.col("u").alias("comp")
    ).unionByName(
        cur.select(F.col("u").alias("node"), F.col("u").alias("comp")).distinct()
    )
    return (labels, rounds) if return_rounds else labels


def cluster_representatives(labels: DataFrame) -> DataFrame:
    """(comp, n_members) per cluster — the keep-one-per-cluster summary.

    ``comp`` is the minimum member id, i.e. the first-wins representative,
    matching `dedup_first_wins` semantics at cluster granularity.
    """
    return labels.groupBy("comp").agg(F.count("*").alias("n_members"))
