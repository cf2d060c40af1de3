"""Stream-stream spatiotemporal self-join: arriving spatial events paired
with OTHER arriving events within distance ``d`` AND event-time gap
``tau`` — the live form of the batch spatiotemporal pairs query
(neighbor_pairs + time filter), and the one streaming shape the
stream-static join cannot express (both sides are unbounded).

Spatially it is ``neighbor_pairs``' self-join form (``pairs._self_pairs``)
over the stream: the probe side explodes the forward half-neighborhood,
the build side is keyed by its own cell, and the instance-key tie-break
inside a cell makes each unordered pair meet exactly once — no post-join
dedup.  Structured-Streaming mechanics: the stream is watermarked and the
join condition carries an explicit event-time range
(``b.ts BETWEEN a.ts - tau AND a.ts + tau``), so Spark bounds the join
state store to rows inside watermark+tau instead of buffering the full
stream — the requirement for running this join on an unbounded feed.

Determinism contract: with ``trigger(availableNow=True)`` and a
``watermark_delay`` wider than the corpus' event-time spread, nothing is
late and no state evicts early, so the drained output equals the batch
spatiotemporal pair set exactly (checked hash-exactly by the
``st_pairs_stream_backfill`` entry against the same SQL oracle as the
batch query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cells import GridSpec
from ..operators.pairs import _self_pairs

ST_STREAM_SCHEMA = "feature string, id string, x double, y double, ts timestamp"


def streaming_spatiotemporal_pairs(
    spark: SparkSession,
    source_dir: str,
    grid: GridSpec,
    d: float,
    tau_seconds: int,
    watermark_delay: str = "30 days",
) -> DataFrame:
    """Streaming DataFrame of (a_feature, a_id, b_feature, b_id, dist,
    dt_seconds): cross-feature pairs with Euclidean distance <= ``d``
    (inclusive) and |event-time gap| <= ``tau_seconds``, in
    ``neighbor_pairs``' canonical orientation."""
    events = (
        spark.readStream.schema(ST_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(source_dir)
        .withWatermark("ts", watermark_delay)
    )
    tau = F.expr(f"INTERVAL {int(tau_seconds)} SECONDS")
    # event-time range on both watermarked columns: bounds join state
    within_tau = (F.col("b_ts") >= F.col("a_ts") - tau) & (F.col("b_ts") <= F.col("a_ts") + tau)
    dt = F.abs(F.unix_timestamp("a_ts") - F.unix_timestamp("b_ts")).cast("bigint")
    return _self_pairs(events, grid, d, condition=within_tau).select(
        "a_feature", "a_id", "b_feature", "b_id", "dist", dt.alias("dt_seconds")
    )
