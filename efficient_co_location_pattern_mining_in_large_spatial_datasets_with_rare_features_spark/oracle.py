"""Brute-force NumPy oracle for property-based tests (never used in the
engine's data path).

Implements the *semantics* directly — O(n^2) pair generation, exhaustive
clique enumeration in canonical rank order, direct WPI formula, no pruning —
so it is an independent check of both the join plan and the Lemma-2/3
pruning (the lemmas are sound bounds, hence oracle and engine must agree).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import numpy as np

from .functions import measures


def brute_force_pairs(
    rows: Sequence[tuple[str, str, float, float]], d: float
) -> set[frozenset[str]]:
    """All unordered cross-feature id pairs with inclusive distance <= d."""
    n = len(rows)
    out: set[frozenset[str]] = set()
    xs = np.array([r[2] for r in rows])
    ys = np.array([r[3] for r in rows])
    for i in range(n):
        dx = xs[i + 1 :] - xs[i]
        dy = ys[i + 1 :] - ys[i]
        close = np.sqrt(dx * dx + dy * dy) <= d
        for j in np.nonzero(close)[0]:
            k = i + 1 + j
            if rows[i][0] != rows[k][0]:
                out.add(frozenset((rows[i][1], rows[k][1])))
    return out


def brute_force_mine(
    rows: Sequence[tuple[str, str, float, float]],
    d: float,
    min_prev: float,
) -> tuple[set[tuple[str, ...]], dict]:
    """Exhaustive mining: enumerate every clique of every candidate pattern.

    Returns (prevalent pattern set as canonical tuples, debug info with
    counts, delta, pairs, rank and the WPI of each prevalent pattern).
    """
    counts: dict[str, int] = {}
    for f, *_ in rows:
        counts[f] = counts.get(f, 0) + 1
    ranked = measures.rank_features(counts)
    rank = {f: i for i, f in enumerate(ranked)}
    delta_value = measures.delta(counts)

    pair_set = brute_force_pairs(rows, d)
    by_feature: dict[str, list[str]] = {}
    for f, iid, *_ in rows:
        by_feature.setdefault(f, []).append(iid)
    neigh: dict[str, set[str]] = {}
    for p in pair_set:
        a, b = tuple(p)
        neigh.setdefault(a, set()).add(b)
        neigh.setdefault(b, set()).add(a)

    prevalent: set[tuple[str, ...]] = set()
    wpi: dict[tuple[str, ...], float] = {}
    m = len(ranked)

    # enumerate candidates of each size in canonical rank order
    import itertools

    prev_level: set[tuple[str, ...]] = {(f,) for f in ranked}
    k = 2
    while prev_level and k <= m:
        survivors: set[tuple[str, ...]] = set()
        for combo in itertools.combinations(ranked, k):
            # all cliques of this pattern
            participating: dict[str, set[str]] = {f: set() for f in combo}
            for instances in itertools.product(*[by_feature[f] for f in combo]):
                ok = all(
                    instances[j] in neigh.get(instances[i], set())
                    for i in range(k)
                    for j in range(i + 1, k)
                )
                if ok:
                    for f, iid in zip(combo, instances):
                        participating[f].add(iid)
            part_counts = {f: len(s) for f, s in participating.items()}
            w = measures.wpi(combo, part_counts, counts, delta_value)
            if w >= min_prev:
                survivors.add(combo)
                prevalent.add(combo)
                wpi[combo] = w
        prev_level = survivors
        k += 1

    return prevalent, {
        "counts": counts,
        "delta": delta_value,
        "pairs": pair_set,
        "rank": rank,
        "wpi": wpi,
    }


def make_random_dataset(
    rng: np.random.Generator,
    n_features: int = 4,
    n_instances: int = 40,
    extent: float = 30.0,
) -> list[tuple[str, str, float, float]]:
    feats = [chr(ord("A") + i) for i in range(n_features)]
    rows = []
    per = {f: 0 for f in feats}
    for _ in range(n_instances):
        f = feats[int(rng.integers(0, n_features))]
        per[f] += 1
        rows.append(
            (
                f,
                f"{f}{per[f]}",
                float(np.round(rng.uniform(0, extent), 3)),
                float(np.round(rng.uniform(0, extent), 3)),
            )
        )
    return rows
