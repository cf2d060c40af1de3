"""Structured-Streaming neighbor pairs: arriving spatial instances joined
against a static reference corpus on the grid stencil.

The core mining join (operators/pairs.py) in its live form: each arriving
instance emits every static instance of a different feature within ``d``.
It is the package's one stencil join (``pairs._stencil_join``) with the
arriving stream as the probe side over the full (2r+1)^2 neighborhood and
the static corpus as the build side, without salting.  A stream-static
inner join is STATELESS — no watermark or state store; each micro-batch
plans the same cell-keyed hash join the batch operator uses, so the scale
properties (stencil equi-join, no theta join) carry over 1:1.

Determinism contract: draining a static directory with
``trigger(availableNow=True)`` yields exactly the batch neighbor-pair set,
oriented (arriving -> static), i.e. both orientations of the canonical
unordered batch output (tested in tests/test_pairs.py and checked against
the SQL oracle by the ``pairs_stream_backfill`` entry).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cells import GridSpec
from ..operators.pairs import _stencil_join, full_offsets

INSTANCE_STREAM_SCHEMA = "feature string, id string, x double, y double"


def streaming_neighbor_pairs(
    spark: SparkSession,
    source_dir: str,
    static_instances: DataFrame,
    d: float,
    grid: GridSpec,
) -> DataFrame:
    """Streaming DataFrame of (a_* = arriving, b_* = static) pairs within
    ``d`` (inclusive), cross-feature, self-pairs excluded.

    ``grid`` must be precomputed (a stream has no bounds to aggregate) and
    its cell size sets the stencil reach; out-of-bounds arrivals clamp to
    edge cells exactly like the batch path, so no arrival is ever silently
    dropped.
    """
    stream = (
        spark.readStream.schema(INSTANCE_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(source_dir)
    )
    static = static_instances.select("feature", "id", "x", "y")
    return (
        _stencil_join(stream, static, grid, d, full_offsets)
        .filter(F.col("a_feature") != F.col("b_feature"))
        .select("a_feature", "a_id", "b_feature", "b_id", "dist")
    )
