"""Grid-cell encoding of spatial instances.

The reference buckets instances into a d x d grid anchored at the dataset's
min corner (reference src/spatial_index.cpp:62-73).  We reproduce that cell
id — ``(floor((x-minx)/c), floor((y-miny)/c))`` — with a top-edge clamp to
``ncells-1`` (the reference has an out-of-bounds write when the extent is an
exact multiple of d; SURVEY §1 quirk 2).  The cell id doubles as the tile id
for the raster/vector heatmap sink and generalizes to an H3/S2-style index:
all downstream operators key on the opaque ``(cell_x, cell_y)`` pair only.

``origin_grid`` is the unbounded variant the miner uses: anchored at the
origin, so cell ids need no bounds pass and can be computed inside the
first aggregate over the data.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class GridSpec:
    """Anchored uniform grid over the data's bounding box."""

    min_x: float
    min_y: float
    max_x: float
    max_y: float
    cell_size: float

    @property
    def bounded(self) -> bool:
        return math.isfinite(self.max_x) and math.isfinite(self.max_y)

    @property
    def ncells_x(self) -> int:
        return max(1, math.ceil((self.max_x - self.min_x) / self.cell_size))

    @property
    def ncells_y(self) -> int:
        return max(1, math.ceil((self.max_y - self.min_y) / self.cell_size))


def compute_bounds(instances: DataFrame, cell_size: float) -> GridSpec:
    """Single-pass bounds aggregation (the reference does 4 full scans,
    src/spatial_index.cpp:52-59; one ``agg`` replaces them)."""
    row = instances.agg(
        F.min("x").alias("min_x"),
        F.min("y").alias("min_y"),
        F.max("x").alias("max_x"),
        F.max("y").alias("max_y"),
    ).collect()[0]
    if row.min_x is None:  # empty input: degenerate 1-cell grid
        return GridSpec(0.0, 0.0, 0.0, 0.0, cell_size)
    return GridSpec(row.min_x, row.min_y, row.max_x, row.max_y, cell_size)


def origin_grid(cell_size: float) -> GridSpec:
    """Unbounded grid anchored at the origin.  Its cells are ``long`` and
    never clamped, so any finite coordinate has a cell without a bounds
    pass over the data."""
    return GridSpec(0.0, 0.0, math.inf, math.inf, cell_size)


def _cell_col(v: Column, lo: float, cell: float, ncells: int | None) -> Column:
    c = F.floor((v - F.lit(lo)) / F.lit(cell))
    if ncells is None:
        return c
    return F.least(c.cast("int"), F.lit(ncells - 1))


def with_cell(instances: DataFrame, grid: GridSpec) -> DataFrame:
    """Append ``cell_x``/``cell_y`` tile coordinates."""
    nx, ny = (grid.ncells_x, grid.ncells_y) if grid.bounded else (None, None)
    return instances.withColumns(
        {
            "cell_x": _cell_col(F.col("x"), grid.min_x, grid.cell_size, nx),
            "cell_y": _cell_col(F.col("y"), grid.min_y, grid.cell_size, ny),
        }
    )


# --------------------------------------------------------------------- #
# Hierarchical cell ids (H3/S2-style, planar): a 62-bit Morton/z-order    #
# index with an explicit resolution field, so tiles nest exactly like    #
# H3/S2 cells do — parent(cell) strips 2 bits, children(cell) appends    #
# them, and the same id space serves every zoom level of the tile sink.  #
# Layout: [4 bits resolution][29 bits interleaved x][29 bits interleaved #
# y] — resolutions 0..15, up to 2^29 cells per axis at max resolution.   #
# --------------------------------------------------------------------- #

MAX_RESOLUTION = 15


def _interleave_expr(x: Column, y: Column, bits: int) -> Column:
    """Morton-interleave two int columns bit-by-bit (pure expressions —
    compiles into whole-stage codegen, no UDF)."""
    out = F.lit(0).cast("long")
    for b in range(bits):
        out = out.bitwiseOR(
            F.shiftleft(F.shiftright(x, b).bitwiseAND(F.lit(1)).cast("long"), 2 * b + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y, b).bitwiseAND(F.lit(1)).cast("long"), 2 * b)
        )
    return out


def cell_id(cell_x: Column, cell_y: Column, resolution: int, bits: int = 15) -> Column:
    """Pack (cell_x, cell_y) into the hierarchical cell id at ``resolution``.

    ``bits`` bounds the per-axis coordinate width actually interleaved
    (15 covers 32k cells per axis — raise for finer grids; cost is linear
    in bits)."""
    if not 0 <= resolution <= MAX_RESOLUTION:
        raise ValueError(f"resolution must be in [0, {MAX_RESOLUTION}]")
    if not 1 <= bits <= 29:
        raise ValueError(f"bits must be in [1, 29], got {bits}")
    # Coordinates wider than `bits` would silently alias onto other cells:
    # assert_true FAILS THE JOB on the first such row (loud, not row-level
    # poisoning).  NULL coordinates keep their pre-guard behavior — the
    # packed id is NULL — rather than tripping the assert.
    limit = F.lit(1 << bits)
    ok = (
        cell_x.isNull()
        | cell_y.isNull()
        | ((cell_x >= 0) & (cell_x < limit) & (cell_y >= 0) & (cell_y < limit))
    )
    guard = F.assert_true(
        ok, F.lit(f"cell coordinate out of range for bits={bits}")
    )
    z = _interleave_expr(cell_x, cell_y, bits)
    packed = F.shiftleft(F.lit(resolution).cast("long"), 58).bitwiseOR(z)
    return F.when(guard.isNull(), packed)


def cell_resolution(cid: Column) -> Column:
    return F.shiftright(cid, 58).cast("int")


def cell_parent(cid: Column) -> Column:
    """The containing cell one resolution coarser (2x2 aggregation).

    Resolution 0 is the root and has no parent: returns NULL there instead
    of underflowing the packed resolution field to -1."""
    res = F.shiftright(cid, 58)
    z = cid.bitwiseAND(F.lit((1 << 58) - 1))
    parent = F.shiftleft((res - 1).cast("long"), 58).bitwiseOR(F.shiftright(z, 2))
    return F.when(res > 0, parent)


def cell_children(cid: Column) -> Column:
    """Array of the four child cells one resolution finer."""
    res = F.shiftright(cid, 58)
    z = cid.bitwiseAND(F.lit((1 << 58) - 1))
    base = F.shiftleft((res + 1).cast("long"), 58)
    return F.array(
        *[
            base.bitwiseOR(F.shiftleft(z, 2).bitwiseOR(F.lit(i).cast("long")))
            for i in range(4)
        ]
    )


def with_cell_id(instances: DataFrame, grid: GridSpec, resolution: int) -> DataFrame:
    """Append the packed hierarchical ``cell_id`` for a grid whose cell
    size corresponds to ``resolution`` (caller pairs GridSpec + resolution;
    resolution r cells are exactly the 2^(15-r)-fold aggregation of
    resolution-15 cells when grids are derived by halving)."""
    df = with_cell(instances, grid)
    return df.withColumn(
        "cell_id", cell_id(F.col("cell_x"), F.col("cell_y"), resolution)
    )


def cell_sql(grid: GridSpec) -> tuple[str, str]:
    """ANSI-SQL expressions for the same cell id (used by DuckDB oracles)."""
    cx = (
        f"LEAST(CAST(FLOOR((x - ({grid.min_x!r})) / ({grid.cell_size!r})) AS INT), "
        f"{grid.ncells_x - 1})"
    )
    cy = (
        f"LEAST(CAST(FLOOR((y - ({grid.min_y!r})) / ({grid.cell_size!r})) AS INT), "
        f"{grid.ncells_y - 1})"
    )
    return cx, cy
