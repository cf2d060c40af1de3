"""Hierarchical (H3/S2-style) Morton cell ids: pack/unpack, parent/children
round trips, resolution nesting."""

from pyspark.sql import functions as F

from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.cells import (
    GridSpec,
    cell_children,
    cell_id,
    cell_parent,
    cell_resolution,
    with_cell_id,
)


def _df(spark, pairs):
    return spark.createDataFrame(pairs, "cell_x int, cell_y int")


def _morton(x: int, y: int) -> int:
    z = 0
    for b in range(15):
        z |= ((x >> b) & 1) << (2 * b + 1)
        z |= ((y >> b) & 1) << (2 * b)
    return z


def test_cell_id_pack_matches_python_morton(spark):
    cases = [(0, 0), (1, 0), (0, 1), (5, 9), (1234, 4321), (32767, 32767)]
    df = _df(spark, cases).select(
        "cell_x", "cell_y", cell_id(F.col("cell_x"), F.col("cell_y"), 7).alias("cid")
    )
    for r in df.collect():
        assert r.cid == (7 << 58) | _morton(r.cell_x, r.cell_y)


def test_resolution_extract(spark):
    df = _df(spark, [(3, 4)]).select(
        cell_resolution(cell_id(F.col("cell_x"), F.col("cell_y"), 11)).alias("res")
    )
    assert df.collect()[0].res == 11


def test_parent_child_roundtrip(spark):
    df = _df(spark, [(10, 20), (0, 0), (999, 501)]).select(
        cell_id(F.col("cell_x"), F.col("cell_y"), 9).alias("cid")
    )
    out = df.select(
        "cid",
        cell_children(F.col("cid")).alias("kids"),
        cell_parent(F.col("cid")).alias("up"),
    ).collect()
    for r in out:
        # every child's parent is the original cell
        assert len(set(r.kids)) == 4
        for kid in r.kids:
            df2 = spark.createDataFrame([(kid,)], "k long").select(
                cell_parent(F.col("k")).alias("p"), cell_resolution(F.col("k")).alias("res")
            )
            row = df2.collect()[0]
            assert row.p == r.cid and row.res == 10
        # parent is one resolution coarser and contains the cell
        assert cell_resolution_of(r.up) == 8


def cell_resolution_of(cid: int) -> int:
    return cid >> 58


def test_nesting_two_points_same_parent(spark):
    # resolution-r cells (2x, 2y) and (2x+1, 2y+1) share the parent (x, y)
    df = _df(spark, [(6, 10), (7, 11)]).select(
        cell_parent(cell_id(F.col("cell_x"), F.col("cell_y"), 5)).alias("p")
    )
    ps = [r.p for r in df.collect()]
    assert ps[0] == ps[1]


def test_with_cell_id_on_instances(spark, generated):
    grid = GridSpec(0.0, 0.0, 10.0, 10.0, 2.5)
    out = with_cell_id(generated.df, grid, resolution=3)
    rows = out.collect()
    assert len(rows) == len(generated.rows)
    assert all(cell_resolution_of(r.cell_id) == 3 for r in rows)
    # id is a pure function of the cell coordinates
    seen = {}
    for r in rows:
        key = (r.cell_x, r.cell_y)
        assert seen.setdefault(key, r.cell_id) == r.cell_id


def test_out_of_range_coordinate_raises(spark):
    import pytest
    from py4j.protocol import Py4JJavaError

    df = _df(spark, [(40000, 3)]).select(
        cell_id(F.col("cell_x"), F.col("cell_y"), 4).alias("cid")
    )
    with pytest.raises(Exception) as exc:
        df.collect()
    assert "out of range" in str(exc.value)


def test_parent_of_root_is_null(spark):
    df = _df(spark, [(0, 0)]).select(
        cell_parent(cell_id(F.col("cell_x"), F.col("cell_y"), 0)).alias("p")
    )
    assert df.collect()[0].p is None


def test_bits_validation():
    import pytest

    with pytest.raises(ValueError):
        cell_id(F.col("x"), F.col("y"), 3, bits=0)
    with pytest.raises(ValueError):
        cell_id(F.col("x"), F.col("y"), 3, bits=30)
