"""Neighbor-pair join: golden counts, brute-force set equality, and
output-invariance of every physical knob (salting, cell size)."""

import numpy as np
import pytest

import efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark as eng
from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark import oracle
from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.pairs import (
    forward_offsets,
    neighbor_pairs,
)

D = 5.0


def _pair_set(df):
    return {frozenset((r["a_id"], r["b_id"])) for r in df.collect()}


def test_sample_data_48_pairs(spark, sample_instances):
    pairs = neighbor_pairs(sample_instances, D)
    assert pairs.count() == 48


def test_pairs_match_brute_force(spark, generated):
    expected = oracle.brute_force_pairs(generated.rows, D)
    got = _pair_set(neighbor_pairs(generated.df, D))
    assert got == expected


def test_pairs_canonical_orientation(spark, generated):
    for r in neighbor_pairs(generated.df, D).collect():
        assert r["a_id"] < r["b_id"]
        assert r["a_feature"] != r["b_feature"]
        assert r["dist"] <= D


@pytest.mark.parametrize(
    "kwargs",
    [
        dict(salt_threshold=2, salt_buckets=4),
        dict(salt_threshold=1, salt_buckets=3),
        dict(cell_size=D / 2),
        dict(cell_size=D / 3, salt_threshold=2, salt_buckets=2),
    ],
)
def test_physical_knobs_output_invariant(spark, generated, kwargs):
    base = _pair_set(neighbor_pairs(generated.df, D))
    got = _pair_set(neighbor_pairs(generated.df, D, **kwargs))
    assert got == base


@pytest.mark.parametrize("salt_threshold,cell_size", [(50_000, D), (2, D), (1, D / 2)])
def test_miner_stats_hot_cells_cover_every_hot_cell(spark, generated, salt_threshold, cell_size):
    """The miner's stats aggregate hands the pair join an origin-anchored
    grid and its hot cells: every cell above the threshold is salted, and
    the pairs equal the brute force with no job in the pair operator."""
    import math
    from collections import Counter

    cfg = eng.ColocationConfig(
        D, 0.3, cell_size=cell_size, salt_threshold=salt_threshold, salt_buckets=3
    )
    miner = eng.ColocationMiner(spark, cfg)
    miner._stats(generated.df)
    grid, hot = miner._pair_plan
    occupancy = Counter(
        (math.floor(x / cell_size), math.floor(y / cell_size)) for _, _, x, y in generated.rows
    )
    assert sorted(hot) == sorted(
        (cx, cy, n) for (cx, cy), n in occupancy.items() if n > salt_threshold
    )
    assert (salt_threshold > 1000) == (not hot)
    assert _pair_set(miner.build_pairs(generated.df)) == oracle.brute_force_pairs(generated.rows, D)


def test_hot_cells_local_cap_keeps_heaviest(spark):
    import warnings as _w

    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.pairs import (
        hot_cells_local,
    )

    hot = spark.createDataFrame(
        [(0, 0, 10), (1, 0, 99), (2, 0, 50)],
        "cell_x int, cell_y int, weight int",
    )
    # under the cap: all cells kept
    assert hot_cells_local(hot, cap=5).count() == 3
    # over the cap: only the heaviest survive, with a warning
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        kept = {
            (r.cell_x, r.cell_y) for r in hot_cells_local(hot, cap=2).collect()
        }
    assert kept == {(1, 0), (2, 0)}
    assert any("hot cells" in str(w.message) for w in rec)
    # empty plan -> None (salting disabled)
    assert hot_cells_local(hot.limit(0)) is None


def test_random_datasets_match_brute_force(spark):
    rng = np.random.default_rng(7)
    for trial in range(3):
        rows = oracle.make_random_dataset(rng, n_features=5, n_instances=120, extent=25.0)
        df = spark.createDataFrame(rows, "feature string, id string, x double, y double")
        d = float(rng.uniform(2.0, 8.0))
        expected = oracle.brute_force_pairs(rows, d)
        got = _pair_set(neighbor_pairs(df, d, cell_size=d / 2 if trial % 2 else None))
        assert got == expected, f"trial {trial} d={d}"


def test_forward_offsets_reach1_matches_reference_stencil():
    # reference probes self + N, SE, E, NE (src/spatial_index.cpp:89-93)
    assert set(forward_offsets(1)) == {(0, 0), (0, 1), (1, -1), (1, 0), (1, 1)}


def test_forward_offsets_cover_all_ordered_cell_pairs():
    # union of stencil and its mirror must tile the full (2r+1)^2 block
    for r in (1, 2, 3):
        offs = set(forward_offsets(r))
        mirror = {(-x, -y) for x, y in offs}
        full = {(x, y) for x in range(-r, r + 1) for y in range(-r, r + 1)}
        assert offs | mirror == full
        assert offs & mirror == {(0, 0)}


def test_duplicate_coordinates_same_cell(spark):
    rows = [("A", "A1", 1.0, 1.0), ("B", "B1", 1.0, 1.0), ("C", "C1", 1.0, 1.0)]
    df = spark.createDataFrame(rows, "feature string, id string, x double, y double")
    assert neighbor_pairs(df, 1.0).count() == 3  # zero distance, inclusive


def test_exact_boundary_distance_inclusive(spark):
    rows = [("A", "A1", 0.0, 0.0), ("B", "B1", 3.0, 4.0)]  # dist exactly 5
    df = spark.createDataFrame(rows, "feature string, id string, x double, y double")
    assert neighbor_pairs(df, 5.0).count() == 1
    assert neighbor_pairs(df, 4.999).count() == 0


def test_neighbor_pairs_extra_cols_ride_through(spark):
    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.pairs import (
        neighbor_pairs,
    )

    rows = [
        ("A", "a1", 0.0, 0.0, 100),
        ("B", "b1", 1.0, 0.0, 250),
        ("C", "c1", 0.0, 1.0, 400),
    ]
    df = spark.createDataFrame(
        rows, "feature string, id string, x double, y double, tse long"
    )
    out = neighbor_pairs(df, 2.0, extra_cols=("tse",)).collect()
    tse = {r[1]: r[4] for r in rows}
    assert len(out) == 3
    for r in out:
        assert r.a_tse == tse[r.a_id] and r.b_tse == tse[r.b_id]
    # extra col must follow the canonical a_id < b_id flip
    assert all(r.a_id < r.b_id for r in out)
    # and the base output is unchanged when extra_cols is empty
    base = neighbor_pairs(df, 2.0)
    assert base.columns == [
        "a_feature", "a_id", "a_x", "a_y",
        "b_feature", "b_id", "b_x", "b_y", "dist",
    ]


def test_streaming_pairs_equal_batch(spark, tmp_path):
    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.cells import (
        compute_bounds,
    )
    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.pairs import (
        neighbor_pairs,
    )
    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.streaming.pair_stream import (
        streaming_neighbor_pairs,
    )

    rows = [
        (f"F{i % 4}", f"p{i:02d}", float((i * 37) % 40), float((i * 61) % 40))
        for i in range(80)
    ]
    inst = spark.createDataFrame(
        rows, "feature string, id string, x double, y double"
    )
    d = 7.0
    grid = compute_bounds(inst, d)
    src = str(tmp_path / "src")
    inst.write.parquet(src)
    sdf = streaming_neighbor_pairs(spark, src, inst, d, grid)
    q = (
        sdf.writeStream.format("memory")
        .queryName("pairs_stream_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.a_id, r.b_id, round(r.dist, 9))
        for r in spark.table("pairs_stream_test").collect()
    }
    batch = neighbor_pairs(inst, d).collect()
    expect = {(r.a_id, r.b_id, round(r.dist, 9)) for r in batch} | {
        (r.b_id, r.a_id, round(r.dist, 9)) for r in batch
    }
    assert got == expect
