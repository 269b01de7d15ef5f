"""Near-duplicate clustering: connected components over a similar-pairs edge
list, and canonical-survivor selection (SURVEY.md §2.2i — the step after
pair generation in a real dedup pipeline: groups {A~B, B~C} must collapse to
ONE kept document even though (A,C) was never directly compared).

Algorithm: iterative min-label propagation (the standard distributed
connected-components loop, cf. large-star/small-star): every node starts as
its own component; each round, a node adopts the minimum component id among
itself and its neighbours; stop when no label changes. Rounds needed =
graph diameter (near-dup clusters are shallow — a handful of rounds); each
round is one equi-join + one agg, all shuffles on uniform ids. The loop
lives on the driver but only moves a single change-count per round —
the data never leaves executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    max_iters: int = 64,
    unique_pairs: bool = False,
) -> DataFrame:
    """(node, component) for every node in the edge list; component = min
    node id reachable. Deterministic for any edge order. A component of
    diameter d converges in at most d + 1 rounds (a path of n nodes
    numbered in order takes n); labels still changing after ``max_iters``
    rounds raise RuntimeError instead of returning unconverged labels.

    ``unique_pairs=True`` skips the symmetrized edge list's dedup
    exchange: when the caller's pair generator emits each unordered pair
    exactly once with src != dst (both in-repo generators do — the
    blocked-GEMM and sign-blocked pair ops key on v1 < v2), the two
    directed copies cannot collide, and duplicate edges would anyway be
    absorbed by the min() label aggregate — the distinct exists only to
    keep the per-iteration join small under dup-heavy input.

    r14: the labels side of the per-iteration join is broadcast — it is
    one (node, comp) row per node in the EDGE list (the dup population,
    not the corpus), but after the lineage-cutting localCheckpoint its
    size estimate is unknown, so the planner fell back to a sort-merge
    join that re-shuffled the static multi-million-row edge list every
    round (q44e: ~4 s/round). For a dup population beyond broadcast
    bounds (~100s of MB), drop the hint and pre-partition the edges by
    ``b`` instead; every in-repo caller's node set is the audited dup
    slice."""
    directed = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")) \
        .unionByName(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    if not unique_pairs:
        directed = directed.distinct()
    edges = (
        directed
        # materialize ONCE: the edge list is typically the output of an
        # expensive pair generator (O(n²) similarity join), and without this
        # every iteration's join would recompute it from scratch — measured
        # 258 s -> 61 s for q44e at sf0.1
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F.col("a").alias("node")).distinct().withColumn(
        "comp", F.col("node")
    )
    for _ in range(max_iters):
        # each node's candidate label: min over its own and neighbours' labels
        neigh = (
            edges.join(F.broadcast(labels), edges["b"] == labels["node"])
            .select(F.col("a").alias("node"), F.col("comp"))
        )
        new_labels = (
            labels.unionByName(neigh)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        new_labels = new_labels.localCheckpoint(eager=True)  # cut lineage growth
        changed = (
            labels.alias("o")
            .join(new_labels.alias("n"), "node")
            .filter(F.col("o.comp") != F.col("n.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            "connected_components: labels still changing after "
            f"max_iters={max_iters} rounds (a component's diameter exceeds "
            "it); raise max_iters")
    return labels


def dedup_keep_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "d1",
    dst: str = "d2",
) -> DataFrame:
    """Collapse near-duplicate clusters: keep exactly one survivor per
    component (the min id — deterministic), plus all never-matched docs.
    This is the operator a training-data pipeline runs after
    ``minhash_near_dup_pairs``/``cosine_pairs_exact``."""
    comps = connected_components(pairs, src, dst)
    survivors = comps.groupBy("comp").agg(F.min("node").alias(id_col)).select(id_col)
    in_cluster = comps.select(F.col("node").alias(id_col))
    untouched = docs.join(in_cluster, id_col, "left_anti")
    kept = docs.join(survivors, id_col, "left_semi")
    return untouched.unionByName(kept)
