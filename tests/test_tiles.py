"""Tiling: assignment parity with the oracle cell rule, raster<->vector
round trip, and streaming/batch equivalence."""

import math

from pyspark.sql import functions as F

from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.cells import (
    GridSpec,
    compute_bounds,
    with_cell,
)
from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.tiles import (
    raster_tiles,
    raster_to_vector,
    tile_counts,
    vector_tiles,
    vector_to_raster,
)

D = 5.0


def _oracle_cell(v, lo, cell, ncells):
    return min(math.floor((v - lo) / cell), ncells - 1)


def test_tile_assignment_matches_oracle(spark, generated):
    grid = compute_bounds(generated.df, D)
    got = with_cell(generated.df, grid).collect()
    assert len(got) == len(generated.rows)
    for r in got:
        assert r.cell_x == _oracle_cell(r.x, grid.min_x, D, grid.ncells_x), r
        assert r.cell_y == _oracle_cell(r.y, grid.min_y, D, grid.ncells_y), r


def test_top_edge_clamped(spark):
    # extent exactly divisible by cell size -> max point clamps to last cell
    rows = [("A", "A1", 0.0, 0.0), ("B", "B1", 10.0, 10.0)]
    df = spark.createDataFrame(rows, "feature string, id string, x double, y double")
    grid = compute_bounds(df, 5.0)
    cells = {(r.id): (r.cell_x, r.cell_y) for r in with_cell(df, grid).collect()}
    assert cells["B1"] == (grid.ncells_x - 1, grid.ncells_y - 1)


def test_raster_vector_roundtrip(spark, generated):
    grid = compute_bounds(generated.df, D)
    counts = tile_counts(generated.df, grid)
    vec = vector_tiles(counts, grid)
    ras = raster_tiles(counts, grid)

    # raster rows are dense scanlines of width ncells_x
    for r in ras.collect():
        assert len(r["counts"]) == grid.ncells_x

    # raster -> vector recovers exactly the vector tiles
    vec_rt = raster_to_vector(ras, grid)
    assert {tuple(r) for r in vec_rt.collect()} == {tuple(r) for r in vec.collect()}

    # vector -> raster recovers exactly the raster rows
    ras_rt = vector_to_raster(vec, grid)
    assert {(r["cell_y"], tuple(r["counts"])) for r in ras_rt.collect()} == {
        (r["cell_y"], tuple(r["counts"])) for r in ras.collect()
    }

    # total instance mass is conserved in both forms
    n = len(generated.rows)
    assert vec.agg(F.sum("n")).collect()[0][0] == n
    assert ras.select(F.explode("counts").alias("c")).agg(F.sum("c")).collect()[0][0] == n


def test_streaming_matches_batch(spark, tmp_path):
    """availableNow drain over a static dir == batch aggregation."""
    import datetime

    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.streaming.tile_stream import (
        run_available_now,
        streaming_tile_counts,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(seconds=10 * i), "A", float(i % 7), float(i % 5))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, feature string, x double, y double")
    src = str(tmp_path / "stream_src")
    df.repartition(4).write.parquet(src)

    grid = GridSpec(0.0, 0.0, 7.0, 5.0, 2.0)
    sdf = streaming_tile_counts(spark, src, grid, window="1 minute", watermark="1 minute")
    run_available_now(sdf, str(tmp_path / "ckpt"), "stream_tiles")

    got = {
        (r.window_start, r.cell_x, r.cell_y): r.n
        for r in spark.sql("select * from stream_tiles").collect()
    }
    batch = {
        (r.ws, r.cell_x, r.cell_y): r.n
        for r in with_cell(df, grid)
        .groupBy(F.window("ts", "1 minute").alias("win"), "cell_x", "cell_y")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("ws"), "cell_x", "cell_y", "n")
        .collect()
    }
    assert got == batch and len(got) > 0


def test_hotspot_scores_match_bruteforce(spark):
    import math

    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.cells import (
        GridSpec,
    )
    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.tiles import (
        hotspot_scores,
    )

    # clustered points on a 10x10 grid of cell size 1
    rows = [
        ("A", f"p{i}", float((i * 7) % 10) + 0.5, float((i * 3) % 10) + 0.5)
        for i in range(200)
    ] + [("B", f"h{i}", 4.5 + (i % 3) * 0.1, 4.5) for i in range(60)]  # hot cell
    df = spark.createDataFrame(rows, "feature string, id string, x double, y double")
    grid = GridSpec(0.0, 0.0, 10.0, 10.0, 1.0)
    got = {
        (r.cell_x, r.cell_y): (r.n, r.nbr_sum, r.nbr_cells, r.gi)
        for r in hotspot_scores(df, grid).collect()
    }
    # brute force
    counts = {}
    for _, _, x, y in rows:
        c = (min(int(x // 1), 9), min(int(y // 1), 9))
        counts[c] = counts.get(c, 0) + 1
    N = len(counts)
    tot = sum(counts.values())
    totsq = sum(v * v for v in counts.values())
    mean = float(tot) / float(N)
    s = math.sqrt(float(totsq) / float(N) - mean * mean)
    assert set(got) == set(counts)
    for (cx, cy), n in counts.items():
        nbr = [
            counts[(cx + ox, cy + oy)]
            for ox in (-1, 0, 1)
            for oy in (-1, 0, 1)
            if (cx + ox, cy + oy) in counts
        ]
        S, k = sum(nbr), float(len(nbr))
        denom = s * math.sqrt((N * k - k * k) / float(N - 1))
        gi = round((float(S) - k * mean) / denom, 9) if denom > 0 else None
        assert got[(cx, cy)][0] == n
        assert got[(cx, cy)][1] == S and got[(cx, cy)][2] == len(nbr)
        if gi is None:
            assert got[(cx, cy)][3] is None
        else:
            assert abs(got[(cx, cy)][3] - gi) < 1e-9, (cx, cy)
    # the planted hot cell must be the max z-score
    assert max(got, key=lambda c: (got[c][3] or -99)) == (4, 4)


def test_hotspot_degenerate_grids(spark):
    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.cells import (
        GridSpec,
    )
    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.tiles import (
        hotspot_scores,
    )

    grid = GridSpec(0.0, 0.0, 10.0, 10.0, 10.0)  # one cell
    df = spark.createDataFrame(
        [("A", "a", 1.0, 1.0), ("A", "b", 2.0, 2.0)],
        "feature string, id string, x double, y double",
    )
    out = hotspot_scores(df, grid).collect()
    assert len(out) == 1 and out[0].gi is None and out[0].n == 2
    empty = df.limit(0)
    assert hotspot_scores(empty, grid).count() == 0


def test_tile_pyramid_rollup(spark):
    import pytest

    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.cells import (
        GridSpec,
    )
    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.tiles import (
        tile_pyramid,
    )

    rows = [
        ("A", f"p{i}", float((i * 13) % 16), float((i * 7) % 16)) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "feature string, id string, x double, y double")
    grid = GridSpec(0.0, 0.0, 16.0, 16.0, 1.0)
    out = tile_pyramid(df, grid, levels=5)
    by_level = {}
    for r in out.collect():
        by_level.setdefault(r.level, {})[(r.cell_x, r.cell_y)] = r.n
    assert set(by_level) == {0, 1, 2, 3, 4}
    # every level preserves total mass
    for lv, cells in by_level.items():
        assert sum(cells.values()) == 300, lv
    # level-4 of a 16x16 base grid is the single root cell
    assert by_level[4] == {(0, 0): 300}
    # each parent equals the sum of its <=4 children
    for (cx, cy), n in by_level[1].items():
        kids = sum(
            by_level[0].get((cx * 2 + dx, cy * 2 + dy), 0)
            for dx in (0, 1)
            for dy in (0, 1)
        )
        assert kids == n
    with pytest.raises(ValueError):
        tile_pyramid(df, grid, levels=0)
