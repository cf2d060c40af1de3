"""Spatial ε-joins: one grid-stencil join behind every pair operator.

Semantics (reference src/spatial_index.cpp:43-114): ``neighbor_pairs``
emits every unordered pair of instances of *different* features whose
Euclidean distance is ``<= d`` (inclusive), each pair exactly once.

``_stencil_join`` is the only place the package finds pairs.  Spark-first,
not a port of the reference's per-cell loops, it

1. checks ``0 < cell_size <= d`` and takes the cell reach
   ``r = ceil(d / cell_size)``;
2. encodes both sides with their grid cell (cells.py);
3. explodes the probe side over the caller's stencil offsets for reach r;
4. salts hot target cells (below);
5. equi-joins on (target cell, bucket) — sort-merge or broadcast, AQE
   picks — and keeps the pairs within ``d`` (inclusive).

Its callers keep only their own form of the join:

- ``neighbor_pairs``, the self-join: the probe explodes over the *forward
  half-neighborhood* (``forward_offsets``: ``(0,0)``, ``(0, 1..r)`` and
  ``(1..r, -r..r)``; the reference's 5-cell stencil is the r=1 case,
  src/spatial_index.cpp:89-93), so each ordered cell pair is probed from
  exactly one direction and no post-join ``distinct`` is needed; inside a
  cell a tie-break on the instance key keeps one orientation; then the
  cross-feature filter and the canonical orientation.
- ``operators.spatial.distance_join``: two tables, the full ``(2r+1)^2``
  stencil (``full_offsets``) and salting of cells hot on both sides.
- ``streaming.pair_stream.streaming_neighbor_pairs``: the full stencil
  over a stream-static join, no salting.
- ``streaming.st_pair_stream.streaming_spatiotemporal_pairs``: the
  self-join form over a stream, its event-time range in the join
  condition.

An instance is keyed by ``(feature, id)``: ids need only be unique within
a feature (the reference CSV's ``Instance`` column is), so the tie-break,
the self-pair exclusion and the orientation all order on (id, feature).

Skew handling is salting, output-invariant by construction: cells holding
more than ``salt_threshold`` instances are "hot"; build rows in hot cells
get a hash bucket ``xxhash64(id) % B`` added to their join key and probe
rows targeting a hot cell are replicated over all B buckets, splitting a
dense cell's O(n^2) candidate work across B tasks.  Cold cells pay
nothing (bucket = -1 on both sides).

Called with only a distance, ``neighbor_pairs`` runs two small jobs
before the join: the bounds aggregate (``compute_bounds``) and the
hot-cell occupancy collect.  A caller that already knows its grid and hot
cells passes them in (``grid``, ``hot_cells``) and the operator launches
no job at all: the miner counts both inside its stats aggregate over an
``origin_grid``.

Output columns: ``a_feature a_id a_x a_y b_feature b_id b_x b_y dist``,
canonicalized so ``a_id < b_id`` (``a_feature < b_feature`` on equal ids).
"""

from __future__ import annotations

import functools
import math
import operator
import warnings
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .cells import GridSpec, compute_bounds, with_cell

_INST_COLS = ("feature", "id", "x", "y")

#: driver-side bound on the materialized hot-cell set: hot cells number at
#: most total_rows / salt_threshold, so the default 50k threshold cannot
#: approach this, but a user-chosen tiny threshold on a huge input could.
_MAX_HOT_CELLS = 100_000


def hot_cells_local(hot: DataFrame, cap: int = _MAX_HOT_CELLS) -> DataFrame | None:
    """Materialize a (cell_x, cell_y, weight) hot-cell plan as a small
    driver-local frame for the salting broadcast joins (no persist that
    would outlive the caller).  If the plan exceeds ``cap`` cells, only
    the ``cap`` heaviest are salted (salting any subset is
    output-invariant; the rest fall back to AQE) and a warning is
    emitted."""
    rows = hot.orderBy(F.col("weight").desc()).limit(cap + 1).collect()
    return _hot_cells_frame(
        hot.sparkSession, [(r["cell_x"], r["cell_y"], r["weight"]) for r in rows], cap
    )


def _hot_cells_frame(
    spark: SparkSession, cells: Sequence[tuple[int, int, int]], cap: int = _MAX_HOT_CELLS
) -> DataFrame | None:
    """Driver-local frame of already-counted ``(cell_x, cell_y, weight)``
    hot cells, capped to the ``cap`` heaviest like ``hot_cells_local``."""
    if not cells:
        return None
    if len(cells) > cap:
        warnings.warn(
            f"more than {cap} hot cells; salting only the {cap} heaviest "
            "(raise salt_threshold or the cap for full coverage)",
            stacklevel=3,
        )
        cells = sorted(cells, key=lambda c: -c[2])[:cap]
    return spark.createDataFrame(
        [(int(cx), int(cy)) for cx, cy, _ in cells], "cell_x long, cell_y long"
    )


def _count_hot_cells(grid: GridSpec, threshold: int, *sides: DataFrame) -> DataFrame | None:
    """Cells of ``grid`` holding more than ``threshold`` rows on every one
    of ``sides``, weighted by the product of their counts (the candidate
    work the cell would generate): one aggregate, collected by
    ``hot_cells_local``."""
    tagged = functools.reduce(
        DataFrame.unionByName,
        [s.select("x", "y", F.lit(i).alias("_side")) for i, s in enumerate(sides)],
    )
    n = [F.col(f"_n{i}") for i in range(len(sides))]
    occupancy = (
        with_cell(tagged, grid)
        .groupBy("cell_x", "cell_y")
        .agg(*[F.count(F.when(F.col("_side") == i, True)).alias(f"_n{i}") for i in range(len(sides))])
    )
    return hot_cells_local(
        occupancy.filter(functools.reduce(operator.and_, [c > threshold for c in n])).select(
            "cell_x", "cell_y", functools.reduce(operator.mul, n).alias("weight")
        )
    )


def forward_offsets(reach: int) -> list[tuple[int, int]]:
    """Forward half-neighborhood stencil covering distance reach*cell."""
    offs = [(0, 0)]
    offs += [(0, dy) for dy in range(1, reach + 1)]
    offs += [(dx, dy) for dx in range(1, reach + 1) for dy in range(-reach, reach + 1)]
    return offs


def full_offsets(reach: int) -> list[tuple[int, int]]:
    """Full (2*reach+1)^2 neighborhood stencil, for joins of two sides."""
    return [(dx, dy) for dx in range(-reach, reach + 1) for dy in range(-reach, reach + 1)]


def _spread(df: DataFrame) -> DataFrame:
    """A skinny batch input (e.g. one parquet file -> one partition) would
    serialize the whole map side of the stencil join — explode, cell
    encode, shuffle write — onto a single core.  Spread it first;
    round-robin repartition is output-invariant."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= parallelism:
        return df
    return df.repartition(parallelism)


def _stencil_join(
    probe: DataFrame,
    build: DataFrame,
    grid: GridSpec,
    d: float,
    stencil: Callable[[int], Sequence[tuple[int, int]]],
    hot: DataFrame | None = None,
    salt_buckets: int = 8,
    condition: Column | None = None,
) -> DataFrame:
    """Every (probe, build) row pair whose build cell is the probe cell
    plus a ``stencil(reach)`` offset and whose Euclidean distance is
    ``<= d``.

    Both sides carry ``id``, ``x`` and ``y``.  ``hot`` lists the
    ``(cell_x, cell_y)`` cells to salt over ``salt_buckets`` buckets;
    ``condition`` is ANDed into the join condition (a stream-stream join
    keeps its event-time range there to bound its state).

    Output: the probe's columns prefixed ``a_``, the build's ``b_``,
    ``same_cell`` (the pair met at offset (0, 0)) and ``dist``.
    """
    if not (0 < grid.cell_size <= d):
        raise ValueError(f"cell_size must be in (0, d], got {grid.cell_size} for d={d}")
    reach = max(1, math.ceil(d / grid.cell_size - 1e-12))
    offsets = F.array(
        *[F.struct(F.lit(ox).alias("ox"), F.lit(oy).alias("oy")) for ox, oy in stencil(reach)]
    )
    a, b = (with_cell(side, grid) for side in (probe, build))
    a = a.withColumn("_off", F.explode(offsets)).select(
        *[F.col(c).alias(f"a_{c}") for c in probe.columns],
        (F.col("cell_x") + F.col("_off.ox")).alias("t_cx"),
        (F.col("cell_y") + F.col("_off.oy")).alias("t_cy"),
        ((F.col("_off.ox") == 0) & (F.col("_off.oy") == 0)).alias("same_cell"),
    )
    if hot is None:
        a = a.withColumn("a_bucket", F.lit(-1))
        b = b.withColumn("bucket", F.lit(-1))
    else:
        hot = F.broadcast(hot.select("cell_x", "cell_y", F.lit(True).alias("_hot")))
        is_hot = F.col("_hot").isNotNull()
        b = b.join(hot, ["cell_x", "cell_y"], "left").withColumn(
            "bucket",
            F.when(is_hot, F.pmod(F.xxhash64("id"), F.lit(salt_buckets)).cast("int")).otherwise(
                F.lit(-1)
            ),
        )
        every_bucket = F.array(*[F.lit(i) for i in range(salt_buckets)])
        a = a.join(
            hot.withColumnsRenamed({"cell_x": "t_cx", "cell_y": "t_cy"}), ["t_cx", "t_cy"], "left"
        ).withColumn(
            "a_bucket", F.explode(F.when(is_hot, every_bucket).otherwise(F.array(F.lit(-1))))
        ).drop("_hot")
    b = b.select(
        *[F.col(c).alias(f"b_{c}") for c in build.columns],
        F.col("cell_x").alias("b_cx"),
        F.col("cell_y").alias("b_cy"),
        F.col("bucket").alias("b_bucket"),
    )
    on = (a.t_cx == b.b_cx) & (a.t_cy == b.b_cy) & (a.a_bucket == b.b_bucket)
    if condition is not None:
        on = on & condition
    dist = F.sqrt((F.col("a_x") - F.col("b_x")) ** 2 + (F.col("a_y") - F.col("b_y")) ** 2)
    # the caller's cheap predicates run before the distance
    return a.join(b, on & (dist <= F.lit(float(d)))).withColumn("dist", dist)


def _before(p: str, q: str) -> Column:
    """Instance ``p`` orders before ``q``: by id, then by feature (a
    strict order on the instance key)."""
    pid, qid = F.col(f"{p}_id"), F.col(f"{q}_id")
    return (pid < qid) | ((pid == qid) & (F.col(f"{p}_feature") < F.col(f"{q}_feature")))


def _self_pairs(
    instances: DataFrame,
    grid: GridSpec,
    d: float,
    hot: DataFrame | None = None,
    salt_buckets: int = 8,
    cross_feature_only: bool = True,
    condition: Column | None = None,
) -> DataFrame:
    """The self-join form of ``_stencil_join``: every unordered pair of
    distinct instances within ``d`` once, in canonical orientation, with
    ``a_``/``b_`` copies of every instance column plus ``dist``."""
    distinct = F.col("a_feature") != F.col("b_feature")
    if not cross_feature_only:
        distinct = distinct | (F.col("a_id") != F.col("b_id"))
    keep = distinct & (~F.col("same_cell") | _before("a", "b"))
    if condition is not None:
        keep = keep & condition
    pairs = _stencil_join(instances, instances, grid, d, forward_offsets, hot, salt_buckets, keep)
    # Canonical orientation (the pair set is orientation-free; this makes
    # the result deterministic for hashing/diffing).
    flip = _before("b", "a")
    cols = instances.columns
    return pairs.select(
        *[F.when(flip, F.col(f"b_{c}")).otherwise(F.col(f"a_{c}")).alias(f"a_{c}") for c in cols],
        *[F.when(flip, F.col(f"a_{c}")).otherwise(F.col(f"b_{c}")).alias(f"b_{c}") for c in cols],
        "dist",
    )


def neighbor_pairs(
    instances: DataFrame,
    d: float,
    cell_size: float | None = None,
    salt_threshold: int | None = 50_000,
    salt_buckets: int = 8,
    grid: GridSpec | None = None,
    cross_feature_only: bool = True,
    extra_cols: tuple[str, ...] = (),
    hot_cells: Sequence[tuple[int, int, int]] | None = None,
) -> DataFrame:
    """All unordered cross-feature instance pairs within distance ``d``.

    ``cross_feature_only=False`` keeps same-feature pairs too (the kNN-join
    contract); the mining path always uses the default cross-feature form
    (reference src/spatial_index.cpp:83).  ``extra_cols`` names additional
    instance columns to carry through the stencil join (e.g. ``ts`` for
    spatiotemporal predicates) — they appear as ``a_<col>``/``b_<col>`` in
    the output; carrying them here costs one wider shuffle row, versus two
    full re-joins on id if attached afterwards.

    ``hot_cells`` lists the ``(cell_x, cell_y, count)`` cells of ``grid``
    holding more than ``salt_threshold`` instances, when the caller has
    already counted them (an empty list: none is hot); ``None`` counts
    them here with one occupancy job.
    """
    if hot_cells is not None and grid is None:
        raise ValueError("hot_cells needs the grid they were counted on")
    if grid is None:
        grid = compute_bounds(instances, d if cell_size is None else cell_size)
    instances = _spread(instances)
    if hot_cells is not None:
        hot = _hot_cells_frame(instances.sparkSession, hot_cells)
    elif salt_threshold is not None:
        hot = _count_hot_cells(grid, salt_threshold, instances)
    else:
        hot = None
    cols = _INST_COLS + tuple(c for c in extra_cols if c not in _INST_COLS)
    return _self_pairs(
        instances.select(*cols), grid, d, hot, salt_buckets, cross_feature_only
    )
