"""Property-based checks (hypothesis) for the invariants that carry the
engine's scale claims: blocking losslessness and grid-join exactness.

Example counts are deliberately small — each example runs Spark jobs — but
the generators roam the corners fixed-fixture tests can miss (duplicate
coordinates, signature clusters near chunk boundaries, degenerate grids).
"""

from __future__ import annotations

import itertools
import math

from hypothesis import given, settings
from hypothesis import strategies as st

from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.dedup import (
    hamming_near_duplicates,
)
from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.pairs import (
    neighbor_pairs,
)

def _get_spark():
    """hypothesis-decorated tests cannot take pytest fixtures directly:
    reuse the active session when the conftest fixture already built one,
    else build it with the same factory — no ordering dependency."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    import efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark as eng

    return eng.get_spark("local[8]", shuffle_partitions=8)


@settings(max_examples=12, deadline=None)
@given(
    sigs=st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=2,
        max_size=14,
    ),
    t=st.integers(min_value=0, max_value=12),
)
def test_hamming_blocking_is_lossless(sigs, t):
    """Pigeonhole chunk blocking must find EXACTLY the pairs within the
    Hamming bound — for any signature set and any threshold, including the
    remainder-chunk layouts (64 % (t+1) != 0)."""
    spark = _get_spark()
    rows = [(f"s{i}", v) for i, v in enumerate(sigs)]
    df = spark.createDataFrame(rows, "doc_id string, sig long")
    got = {
        (r.a_id, r.b_id, r.hamming)
        for r in hamming_near_duplicates(df, t, 64).collect()
    }
    lut = dict(rows)
    expect = {
        (a, b, bin((lut[a] ^ lut[b]) & (2**64 - 1)).count("1"))
        for a, b in itertools.combinations(sorted(lut), 2)
        if bin((lut[a] ^ lut[b]) & (2**64 - 1)).count("1") <= t
    }
    assert got == expect


@settings(max_examples=10, deadline=None)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # feature
            st.integers(min_value=0, max_value=40),  # x (ints: exact dist)
            st.integers(min_value=0, max_value=40),  # y
        ),
        min_size=2,
        max_size=25,
    ),
    d=st.sampled_from([1.0, 3.0, 7.5]),
    cell_frac=st.sampled_from([1.0, 0.5]),
)
def test_neighbor_pairs_exact_under_random_inputs(pts, d, cell_frac):
    """Grid stencil join == brute force for arbitrary point sets (duplicate
    coordinates included) at both 1-cell and 2-reach stencils.  Ids count
    within each feature, so they repeat across features: an instance is
    its (feature, id), and every pair comes out once."""
    spark = _get_spark()
    per_feature: dict[int, int] = {}
    rows = []
    for f, x, y in pts:
        per_feature[f] = per_feature.get(f, 0) + 1
        rows.append((f"F{f}", f"p{per_feature[f]:03d}", float(x), float(y)))
    df = spark.createDataFrame(rows, "feature string, id string, x double, y double")
    out = [
        ((r.a_feature, r.a_id), (r.b_feature, r.b_id))
        for r in neighbor_pairs(df, d, cell_size=d * cell_frac).collect()
    ]
    got = {frozenset(p) for p in out}
    assert len(got) == len(out)
    expect = set()
    for (fa, ia, xa, ya), (fb, ib, xb, yb) in itertools.combinations(rows, 2):
        if fa != fb and math.sqrt((xa - xb) ** 2 + (ya - yb) ** 2) <= d:
            expect.add(frozenset(((fa, ia), (fb, ib))))
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),
            st.integers(min_value=0, max_value=60),
        ),
        min_size=2,
        max_size=25,
        unique=True,
    ),
    k=st.integers(min_value=1, max_value=4),
    radius=st.sampled_from([3.0, 8.0]),
)
def test_knn_join_fallback_completeness(pts, k, radius):
    """With the straggler fallback on, EVERY point must get exactly
    min(k, n-1) neighbor rows — the global exact top-k — regardless of how
    sparse the in-radius neighborhood is, for any point layout (clusters,
    isolated outliers, collinear grids) and either fallback path."""
    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.spatial import (
        knn_join,
    )

    spark = _get_spark()
    rows = [
        (f"F{i % 2}", f"p{i:02d}", float(x), float(y))
        for i, (x, y) in enumerate(pts)
    ]
    df = spark.createDataFrame(rows, "feature string, id string, x double, y double")
    out = knn_join(df, k=k, radius=radius).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.qid, []).append((r.dist, r.id, r.rank))
    want = min(k, len(rows) - 1)
    assert set(per_q) == {r[1] for r in rows}
    for qid, hits in per_q.items():
        assert len(hits) == want, (qid, hits)
        # ranks contiguous, dist non-decreasing with id tiebreak
        hits.sort(key=lambda h: h[2])
        assert [h[2] for h in hits] == list(range(1, want + 1))
        assert all(
            hits[i][:2] <= hits[i + 1][:2] for i in range(len(hits) - 1)
        )
    # exactness vs brute force
    import math as _m

    for _, qi, xq, yq in rows:
        cand = sorted(
            (_m.sqrt((xq - x) ** 2 + (yq - y) ** 2), j)
            for _, j, x, y in rows
            if j != qi
        )[:want]
        got = sorted(
            (d, j) for (d, j, _rk) in per_q[qi]
        )
        assert [c[1] for c in cand] == [g[1] for g in got], qi
