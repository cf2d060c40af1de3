"""Spatial neighbor-pair generation: a grid-cell equi-join.

Semantics (reference src/spatial_index.cpp:43-114): emit every unordered
pair of instances of *different* features whose Euclidean distance is
``<= d`` (inclusive), each pair exactly once.

Physical plan (Spark-first, not a port of the reference's per-cell loops):

1. encode both sides with the grid cell id (cells.py);
2. explode the probe side over the *forward half-neighborhood* stencil —
   for cell reach ``r = ceil(d / cell_size)`` that is ``(0,0)``, ``(0, 1..r)``
   and ``(1..r, -r..r)`` (the reference's 5-cell stencil is the r=1 case,
   src/spatial_index.cpp:89-93) — so each ordered cell pair is probed from
   exactly one direction and no post-join ``distinct`` is needed;
3. hash equi-join on the target cell id (sort-merge or broadcast; AQE picks);
4. filter: cross-feature, inclusive distance, and an ``id <`` tie-break for
   the same-cell case only.

Skew handling (output-invariant by construction):

- *Salting*: cells holding more than ``salt_threshold`` instances are "hot";
  build-side rows in hot cells get a hash bucket ``xxhash64(id) % B`` added
  to their join key and probe rows targeting a hot cell are replicated over
  all B buckets, splitting a dense cell's O(n^2) candidate work across B
  tasks.  Cold cells pay nothing (bucket = -1 on both sides).
- *Adaptive cell split*: optionally re-grid at half the cell size (finer
  tiles, wider stencil) when the densest cell exceeds the threshold, which
  cuts intra-cell candidate pairs ~4x before salting even starts.

Called with only a distance, the operator runs two small jobs before the
join: the bounds aggregate (``compute_bounds``) and the hot-cell occupancy
collect.  A caller that already knows its grid and hot cells passes them
in (``grid``, ``hot_cells``) and the operator launches no job at all: the
miner counts both inside its stats aggregate over an ``origin_grid``.

Output columns: ``a_feature a_id a_x a_y b_feature b_id b_x b_y dist``,
canonicalized so ``a_id < b_id``.
"""

from __future__ import annotations

import math
import warnings
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cells import GridSpec, compute_bounds, with_cell

_INST_COLS = ("feature", "id", "x", "y")

#: driver-side bound on the materialized hot-cell set: hot cells number at
#: most total_rows / salt_threshold, so the default 50k threshold cannot
#: approach this, but a user-chosen tiny threshold on a huge input could.
_MAX_HOT_CELLS = 100_000


def hot_cells_local(hot: DataFrame, cap: int = _MAX_HOT_CELLS) -> DataFrame | None:
    """Materialize a (cell_x, cell_y, weight) hot-cell plan as a small
    driver-local frame for the salting broadcast joins (shared by
    neighbor_pairs and distance_join — no persist that would outlive the
    caller).  If the plan exceeds ``cap`` cells, only the ``cap``
    heaviest are salted (salting any subset is output-invariant; the
    rest fall back to AQE) and a warning is emitted."""
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


def forward_offsets(reach: int) -> list[tuple[int, int]]:
    """Forward half-neighborhood stencil covering distance reach*cell."""
    offs = [(0, 0)]
    offs += [(0, dy) for dy in range(1, reach + 1)]
    offs += [(dx, dy) for dx in range(1, reach + 1) for dy in range(-reach, reach + 1)]
    return offs


def neighbor_pairs(
    instances: DataFrame,
    d: float,
    cell_size: float | None = None,
    salt_threshold: int | None = 50_000,
    salt_buckets: int = 8,
    adaptive_cell_split: bool = False,
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
    them here with one occupancy job.  Adaptive cell split re-counts at
    each finer grid, so it cannot take them.
    """
    if cell_size is None:
        cell_size = d
    if not (0 < cell_size <= d):
        raise ValueError(f"cell_size must be in (0, d], got {cell_size} for d={d}")
    if hot_cells is not None and (grid is None or adaptive_cell_split):
        raise ValueError("hot_cells needs the grid they were counted on and no adaptive split")
    cols = _INST_COLS + tuple(c for c in extra_cols if c not in _INST_COLS)

    if grid is None:
        grid = compute_bounds(instances, cell_size)

    # A skinny input (e.g. one parquet file -> one partition) would serialize
    # the whole map side — explode, cell encode, shuffle write — onto a
    # single core.  Spread it first; round-robin repartition is output-
    # invariant.
    parallelism = instances.sparkSession.sparkContext.defaultParallelism
    if instances.rdd.getNumPartitions() < parallelism:
        instances = instances.repartition(parallelism)

    hot: DataFrame | None = None
    if hot_cells is not None:
        hot = _hot_cells_frame(instances.sparkSession, hot_cells)
    elif salt_threshold is not None or adaptive_cell_split:
        occupancy = (
            with_cell(instances, grid).groupBy("cell_x", "cell_y").count()
        )
        if adaptive_cell_split:
            max_occ = occupancy.agg(F.max("count")).collect()[0][0] or 0
            while salt_threshold is not None and max_occ > salt_threshold and grid.cell_size > d / 8:
                grid = GridSpec(grid.min_x, grid.min_y, grid.max_x, grid.max_y, grid.cell_size / 2.0)
                occupancy = with_cell(instances, grid).groupBy("cell_x", "cell_y").count()
                max_occ = occupancy.agg(F.max("count")).collect()[0][0] or 0
        if salt_threshold is not None:
            hot = hot_cells_local(
                occupancy.filter(F.col("count") > salt_threshold).select(
                    "cell_x", "cell_y", F.col("count").alias("weight")
                )
            )

    reach = max(1, math.ceil(d / grid.cell_size - 1e-12))
    offsets = forward_offsets(reach)

    cells = with_cell(instances, grid)

    # Build side: keyed by own cell; salted bucket only inside hot cells.
    build = cells
    if hot is not None:
        build = build.join(
            F.broadcast(hot.withColumn("_hot", F.lit(True))),
            ["cell_x", "cell_y"],
            "left",
        )
        build = build.withColumn(
            "bucket",
            F.when(
                F.col("_hot").isNotNull(),
                F.pmod(F.xxhash64("id"), F.lit(salt_buckets)).cast("int"),
            ).otherwise(F.lit(-1)),
        ).drop("_hot")
    else:
        build = build.withColumn("bucket", F.lit(-1))
    build = build.select(
        *[F.col(c).alias(f"b_{c}") for c in cols],
        F.col("cell_x").alias("b_cx"),
        F.col("cell_y").alias("b_cy"),
        F.col("bucket").alias("b_bucket"),
    )

    # Probe side: explode over the stencil, then (for hot targets) over buckets.
    off_array = F.array(
        *[
            F.struct(F.lit(ox).alias("ox"), F.lit(oy).alias("oy"))
            for ox, oy in offsets
        ]
    )
    probe = cells.withColumn("_off", F.explode(off_array)).select(
        *[F.col(c).alias(f"a_{c}") for c in cols],
        (F.col("cell_x") + F.col("_off.ox")).alias("t_cx"),
        (F.col("cell_y") + F.col("_off.oy")).alias("t_cy"),
        ((F.col("_off.ox") == 0) & (F.col("_off.oy") == 0)).alias("same_cell"),
    )
    if hot is not None:
        probe = probe.join(
            F.broadcast(
                hot.select(
                    F.col("cell_x").alias("t_cx"),
                    F.col("cell_y").alias("t_cy"),
                    F.lit(True).alias("_hot"),
                )
            ),
            ["t_cx", "t_cy"],
            "left",
        )
        buckets_all = F.array(*[F.lit(i) for i in range(salt_buckets)])
        probe = probe.withColumn(
            "a_bucket",
            F.explode(
                F.when(F.col("_hot").isNotNull(), buckets_all).otherwise(
                    F.array(F.lit(-1))
                )
            ),
        ).drop("_hot")
    else:
        probe = probe.withColumn("a_bucket", F.lit(-1))

    joined = probe.join(
        build,
        (probe.t_cx == build.b_cx)
        & (probe.t_cy == build.b_cy)
        & (probe.a_bucket == build.b_bucket),
    )

    dist = F.sqrt(
        (F.col("a_x") - F.col("b_x")) ** 2 + (F.col("a_y") - F.col("b_y")) ** 2
    )
    feature_pred = (
        (F.col("a_feature") != F.col("b_feature"))
        if cross_feature_only
        else (F.col("a_id") != F.col("b_id"))
    )
    pairs = joined.filter(
        feature_pred
        & (~F.col("same_cell") | (F.col("a_id") < F.col("b_id")))
        & (dist <= F.lit(float(d)))
    ).select(
        *[f"a_{c}" for c in cols],
        *[f"b_{c}" for c in cols],
        dist.alias("dist"),
    )

    # Canonical orientation: a_id < b_id (output set is orientation-free;
    # this makes the result deterministic for hashing/diffing).
    flip = F.col("a_id") > F.col("b_id")

    def side(prefix_out: str, prefix_a: str, prefix_b: str, c: str) -> F.Column:
        return F.when(flip, F.col(f"{prefix_b}_{c}")).otherwise(
            F.col(f"{prefix_a}_{c}")
        ).alias(f"{prefix_out}_{c}")

    return pairs.select(
        *[side("a", "a", "b", c) for c in cols],
        *[side("b", "b", "a", c) for c in cols],
        "dist",
    )
