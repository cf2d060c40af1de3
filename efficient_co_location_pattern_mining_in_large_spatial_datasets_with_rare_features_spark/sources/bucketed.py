"""Bucketed parquet tables for exchange-free co-located joins.

At 100 TB the dominant cost of a repeated equi-join (instances joined to
instances per cell, fact joined to fact on an entity key, every level of
an iterative plan re-shuffling the same table) is the Exchange.  Spark's
answer is bucketing: ``df.write.bucketBy(n, keys).sortBy(keys)
.saveAsTable(...)`` hash-partitions the FILES by key at write time and
records the layout in the catalog; any later join or aggregation whose
required distribution matches the bucket spec skips its Exchange (and
with ``sortBy`` the sort) on that side entirely — the one-time write
shuffle is amortized over every downstream read.

This module wraps the pattern with external-path tables (data lands
where the caller says, the catalog entry is session-scoped) and a plan
probe that makes "no shuffle happened" testable rather than assumed.

Scale notes:
- bucket count is a FILE-layout property: pick it for the target
  cluster (e.g. 2-4x total executor cores), not per-query.  Both sides
  of a join must have the same bucket count for the exchange-free path.
- joins must reference the bucket columns exactly; a join on a superset
  of the bucket key still skips the Exchange (hash of the bucket subset
  fixes the distribution), a join on a subset does not.
- Spark's in-memory catalog keeps bucketing metadata for the session;
  on a cluster with a shared metastore the layout survives across jobs,
  which is where the amortization actually pays.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """Write ``df`` as a bucketed external parquet table and return a
    reader over it.

    ``sort_cols`` defaults to ``bucket_cols`` so sort-merge joins on the
    bucket key also skip their per-task sort.
    """
    if num_buckets < 1:
        raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
    bucket_cols = list(bucket_cols)
    if not bucket_cols:
        raise ValueError("bucket_cols must be non-empty")
    sort_cols = list(sort_cols) if sort_cols is not None else bucket_cols
    spark = df.sparkSession
    if mode == "overwrite":
        # only overwrite clears the old catalog entry; append/error/ignore
        # must see the existing table (dropping first silently lost the
        # appended-to data)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    w = (
        df.write.mode(mode)
        .option("path", path)
        .bucketBy(num_buckets, bucket_cols[0], *bucket_cols[1:])
    )
    if sort_cols:
        w = w.sortBy(sort_cols[0], *sort_cols[1:])
    w.format("parquet").saveAsTable(table)
    return spark.table(table)


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in ``df``'s planned physical
    tree — the thing bucketing exists to remove.  Counted on the
    pre-execution plan so probing stays free.

    Counts every ShuffleExchange regardless of origin
    (ENSURE_REQUIREMENTS, REPARTITION_BY_NUM/COL, ...); BroadcastExchange
    and ReusedExchange are excluded — a broadcast is not a shuffle and a
    reuse executes zero extra times.

    Primary implementation walks the physical tree via py4j and matches
    node CLASS names (ADVICE r05: immune to plan-string format drift,
    which would have made the regex silently return 0 and the
    "exchange-free" assertions vacuous).  Any py4j surprise — a Spark
    upgrade renaming accessors — falls back to the original line regex,
    and tests/test_bucketed.py keeps a canary asserting the probe still
    sees a known shuffle."""
    plan = df._jdf.queryExecution().executedPlan()
    try:
        return _count_shuffle_nodes(plan)
    except Exception:  # noqa: BLE001 — fall back to the textual probe
        import re

        return sum(
            1
            for ln in plan.toString().splitlines()
            if re.search(r"(?<![A-Za-z])Exchange ", ln)
        )


def _count_shuffle_nodes(node) -> int:
    """Recursive ShuffleExchangeExec count over a JVM SparkPlan.

    AdaptiveSparkPlanExec is a leaf in the tree API (its plan-to-run is a
    field, not a child), so recurse through ``initialPlan()`` explicitly —
    the plan AFTER EnsureRequirements inserted the Exchanges (inputPlan
    precedes that rule and would vacuously count 0), matching what
    ``toString`` prints before execution, and crucially NOT
    ``finalPhysicalPlan()``, which would trigger execution.
    ReusedExchangeExec is terminal: its target already counted where it
    first appeared."""
    cls = node.getClass().getSimpleName()
    if cls == "ReusedExchangeExec":
        return 0
    n = 1 if cls == "ShuffleExchangeExec" else 0
    if cls == "AdaptiveSparkPlanExec":
        return n + _count_shuffle_nodes(node.initialPlan())
    children = node.children()
    for i in range(children.size()):
        n += _count_shuffle_nodes(children.apply(i))
    return n


def co_bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucket-count tables on their bucket columns.

    Purely a readability wrapper — the exchange elision comes from the
    tables' bucket specs matching the join keys, not from this call.
    """
    return spark.table(left_table).join(spark.table(right_table), list(on), how)
