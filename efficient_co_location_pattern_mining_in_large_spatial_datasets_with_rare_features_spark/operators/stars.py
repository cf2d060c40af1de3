"""Ordered star neighborhoods (the reference's NR-tree, relationally).

Each unordered neighbor pair becomes exactly one directed edge
``center -> nbr`` oriented by the global canonical feature rank
(ascending instance count, name tie-break): the center is the side with
the smaller rank.  One projection orients every pair, so the pair join
under it runs once.

Reference parity: ``isOrdered`` keeps a neighbor iff the center's feature
has a strictly smaller count, or equal counts and ``center.feature <=
nbr.feature`` (src/neighborhood_mgr.cpp:20-30) — identical to the rank
comparison because cross-feature pairs never tie on both count and name.

The reference then materializes a 4-level pointer tree (NRTree.cpp:15-77);
in Spark that tree *is* this edge DataFrame: "the subtree rooted at feature
f" = the partition ``center_feature = f`` (paper Def. 10), and the per-center
neighbor lists are a groupBy away (``star_table``).  The O(|pairs| x |stars|)
linear scan that dominates the reference's runtime
(src/neighborhood_mgr.cpp:54-56) becomes a shuffle groupBy.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.measures import rank_features


def feature_rank(counts: Mapping[str, int]) -> dict[str, int]:
    """Canonical rank index per feature (0 = rarest)."""
    return {f: i for i, f in enumerate(rank_features(counts))}


def star_edges(pairs: DataFrame, counts: Mapping[str, int]) -> DataFrame:
    """Directed, canonically-oriented neighbor edges.

    Output: ``(center_feature, center_id, nbr_feature, nbr_id)`` — exactly
    one row per input pair.
    """
    rank = feature_rank(counts)
    rank_expr = F.create_map(*[F.lit(x) for kv in rank.items() for x in kv])
    a_first = rank_expr[F.col("a_feature")] < rank_expr[F.col("b_feature")]

    def pick(first: str, second: str) -> F.Column:
        return F.when(a_first, F.col(first)).otherwise(F.col(second))

    return pairs.select(
        pick("a_feature", "b_feature").alias("center_feature"),
        pick("a_id", "b_id").alias("center_id"),
        pick("b_feature", "a_feature").alias("nbr_feature"),
        pick("b_id", "a_id").alias("nbr_id"),
    )


def star_table(edges: DataFrame) -> DataFrame:
    """Grouped star view: one row per (center, neighbor-feature) with the
    sorted list of neighbor instance ids (the reference's NR-tree leaf,
    NRTree.cpp:53-73 — lists sorted for determinism, SURVEY §2.5 O4)."""
    return edges.groupBy("center_feature", "center_id", "nbr_feature").agg(
        F.sort_array(F.collect_list("nbr_id")).alias("nbr_ids")
    )
