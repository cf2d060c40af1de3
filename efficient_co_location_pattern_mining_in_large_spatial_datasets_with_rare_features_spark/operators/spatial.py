"""General spatial query operators beyond the mining core: point-in-polygon
and k-nearest-neighbors (the north rule's "H3/S2 index, point-in-polygon,
kNN" trio; the cell index lives in cells.py).

Both are pure DataFrame expressions (whole-stage-codegen friendly, no
Python in the hot path) with deterministic arithmetic an ANSI-SQL oracle
reproduces bitwise.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ._ckpt import unpersist_ckpt as _unpersist_ckpt
from .cells import GridSpec
from .pairs import _count_hot_cells, _spread, _stencil_join, full_offsets


def point_in_polygon(
    points: DataFrame,
    polygons: DataFrame,
    blocked: bool = True,
    cell_size: float | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(point id, poly_id) pairs where the point lies inside the polygon.

    ``points``:   (id string, x double, y double)
    ``polygons``: (poly_id, xs array<double>, ys array<double>) — closed
    implicitly (edge n-1 -> 0), vertices in any consistent winding.

    Even-odd ray casting: edge i = (v_i, v_{i-1 mod n}) crosses the
    rightward ray from p iff the edge straddles p's y and the x of the
    crossing exceeds p.x.  Boundary points follow the classic half-open
    rule (deterministic, matches the SQL oracle exactly).

    ``blocked=True`` (default) bins polygons to the grid cells covering
    their bounding box and equi-joins points on cell — a hash join whose
    candidate count is bbox-local, never O(points x polygons).  The grid
    is MULTI-RESOLUTION: each polygon picks the coarsest power-of-two
    multiple of ``cell_size`` at which its bbox spans <= 8 cells per axis,
    so one continent-sized polygon costs <= 81 rows instead of (w*h)/cs^2;
    points emit one probe key per resolution actually present (a handful —
    log of the polygon-size spread).  A (point, polygon) pair can meet in
    at most one (resolution, cell), so no dedup pass is needed.
    ``cell_size`` defaults to the mean polygon bbox edge (one tiny
    aggregate).  ``blocked=False`` is the exact all-pairs baseline for
    small inputs; both paths apply the same bbox pre-filter and exact
    predicate, so the output is identical either way.

    ``keep_cols`` names extra point columns to keep in the output (they
    are already in flight through the join — cheaper than the caller
    re-joining the points table on id afterwards).
    """
    n = F.size("xs")
    idx = F.sequence(F.lit(0), n - 1)

    def crossing(i: F.Column) -> F.Column:
        j = F.when(i == 0, n - 1).otherwise(i - 1)
        xi, yi = F.element_at("xs", i + 1), F.element_at("ys", i + 1)
        xj, yj = F.element_at("xs", j + 1), F.element_at("ys", j + 1)
        straddles = (yi > F.col("y")) != (yj > F.col("y"))
        x_cross = (xj - xi) * (F.col("y") - yi) / (yj - yi) + xi
        return straddles & (F.col("x") < x_cross)

    crossings = F.size(F.filter(idx, crossing))
    bbox = (
        (F.col("x") >= F.array_min("xs"))
        & (F.col("x") <= F.array_max("xs"))
        & (F.col("y") >= F.array_min("ys"))
        & (F.col("y") <= F.array_max("ys"))
    )
    if blocked:
        if cell_size is None:
            row = polygons.agg(
                F.avg(F.array_max("xs") - F.array_min("xs")).alias("w"),
                F.avg(F.array_max("ys") - F.array_min("ys")).alias("h"),
            ).collect()[0]
            cell_size = max(float(row["w"] or 1.0), float(row["h"] or 1.0), 1e-9)
        cs0 = float(cell_size)
        max_span = 8.0
        span_cells = F.greatest(
            (F.array_max("xs") - F.array_min("xs")) / F.lit(cs0),
            (F.array_max("ys") - F.array_min("ys")) / F.lit(cs0),
        )
        pres = polygons.withColumn(
            "res",
            F.ceil(
                F.log2(F.greatest(span_cells / F.lit(max_span), F.lit(1.0)))
            ).cast("int"),
        )
        csr = F.lit(cs0) * F.pow(F.lit(2.0), F.col("res"))
        pcells = pres.withColumn(
            "cell_x",
            F.explode(
                F.sequence(
                    F.floor(F.array_min("xs") / csr), F.floor(F.array_max("xs") / csr)
                )
            ),
        ).withColumn(
            "cell_y",
            F.explode(
                F.sequence(
                    F.floor(F.array_min("ys") / csr), F.floor(F.array_max("ys") / csr)
                )
            ),
        )
        res_values = sorted(
            r["res"] for r in pres.select("res").distinct().collect()
        )
        if not res_values:  # no polygons at all
            return points.limit(0).crossJoin(polygons.limit(0)).select(
                "id", "poly_id", *keep_cols
            )
        pts = points.withColumn(
            "res", F.explode(F.array(*[F.lit(r) for r in res_values]))
        )
        pt_cs = F.lit(cs0) * F.pow(F.lit(2.0), F.col("res"))
        pts = pts.withColumn("cell_x", F.floor(F.col("x") / pt_cs)).withColumn(
            "cell_y", F.floor(F.col("y") / pt_cs)
        )
        joined = pts.join(pcells, ["res", "cell_x", "cell_y"]).filter(bbox)
    else:
        joined = points.crossJoin(polygons).filter(bbox)
    return joined.filter(crossings % 2 == 1).select("id", "poly_id", *keep_cols)


def knn(
    instances: DataFrame,
    queries: DataFrame,
    k: int = 5,
    same_feature: bool | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Exact k nearest instances for each query point.

    ``queries``: (qid, x double, y double) — a *small* query set that is
    broadcast; the corpus is scanned once (embarrassingly parallel).  Ties
    broken by instance id ascending.  ``same_feature`` optionally restricts
    candidates to matching/differing feature (None = all).

    For the repeated-self-join flavor of kNN (every point against every
    point) use the grid: neighbor_pairs with a distance bound is the
    scalable path; this operator is the low-latency query-point API.
    """
    q = queries.select(
        F.col("qid"), F.col("x").alias("qx"), F.col("y").alias("qy"),
        *([F.col("feature").alias("qf")] if same_feature is not None else []),
    )
    joined = F.broadcast(q).crossJoin(instances)
    if exclude_self:
        joined = joined.filter(F.col("qid") != F.col("id"))
    if same_feature is True:
        joined = joined.filter(F.col("qf") == F.col("feature"))
    elif same_feature is False:
        joined = joined.filter(F.col("qf") != F.col("feature"))
    dist = F.sqrt((F.col("x") - F.col("qx")) ** 2 + (F.col("y") - F.col("qy")) ** 2)
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("id").asc())
    return (
        joined.select("qid", "id", "feature", dist.alias("dist"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def knn_join(
    instances: DataFrame,
    k: int = 5,
    radius: float = 10.0,
    cell_size: float | None = None,
    fallback: bool = True,
    broadcast_threshold: int = 1_000,
) -> DataFrame:
    """All-points kNN join: for EVERY instance, its k nearest other
    instances (any feature; ties broken by neighbor id).

    This is the scale path the broadcast-query ``knn`` cannot take — the
    query set IS the corpus.  Built on the grid stencil equi-join
    (neighbor_pairs with ``cross_feature_only=False``), so the candidate
    set per point is radius-local, never the full corpus.  ``radius`` is
    the locality hint: points with >= k neighbors inside it resolve in
    the single stencil pass.

    *Stragglers* (points with fewer than k in-radius neighbors, including
    isolated points with none) are finished automatically when
    ``fallback=True`` (default): few stragglers (<= ``broadcast_threshold``)
    get one broadcast scan of the corpus (exact global top-k); more get a
    geometric radius-widening loop of bichromatic ``distance_join`` passes
    (x4 per round, capped at the bbox diagonal), whose per-round work is
    grid-local instead of |stragglers| x |corpus|.  Both paths yield the
    same rows — the in-radius top-k IS the global top-k once >= k
    candidates fall inside the radius — so the output is invariant to
    which path runs.  A straggler still returns < k rows only when the
    corpus itself has fewer than k other points.  ``fallback=False``
    restores the radius-bounded contract (short lists for stragglers).

    Output: (qid, id, feature, dist, rank) — one row per (point, neighbor)
    kept, same shape as ``knn``.
    """
    from .pairs import neighbor_pairs

    pairs = neighbor_pairs(
        instances,
        radius,
        cell_size=cell_size,
        cross_feature_only=False,
    )
    fwd = pairs.select(
        F.col("a_id").alias("qid"),
        F.col("b_id").alias("id"),
        F.col("b_feature").alias("feature"),
        "dist",
    )
    rev = pairs.select(
        F.col("b_id").alias("qid"),
        F.col("a_id").alias("id"),
        F.col("a_feature").alias("feature"),
        "dist",
    )
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("id").asc())
    ranked = (
        fwd.unionByName(rev)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
    if not fallback:
        return ranked
    ranked = ranked.localCheckpoint()  # counted AND unioned below: one pass
    counts = ranked.groupBy("qid").agg(F.count("*").alias("_c"))
    strag = (
        instances.select(F.col("id").alias("qid"))
        .join(counts, "qid", "left")
        .filter(F.coalesce(F.col("_c"), F.lit(0)) < k)
        .select("qid")
        .localCheckpoint()
    )
    n_strag = strag.count()
    if n_strag == 0:
        _unpersist_ckpt(strag)  # dead: nothing references it on this path
        return ranked
    keep = ranked.join(strag, "qid", "left_anti")
    spts = strag.join(
        instances.select(F.col("id").alias("qid"), "x", "y"), "qid"
    )
    if n_strag <= broadcast_threshold:
        q = spts.select(
            "qid", F.col("x").alias("qx"), F.col("y").alias("qy")
        )
        # spread the corpus first: a skinny parquet input would run the
        # whole |strag| x |corpus| scan + window sort on one core
        corpus = instances
        parallelism = instances.sparkSession.sparkContext.defaultParallelism
        if corpus.rdd.getNumPartitions() < parallelism:
            corpus = corpus.repartition(parallelism)
        dx, dy = F.col("x") - F.col("qx"), F.col("y") - F.col("qy")
        cand = (
            F.broadcast(q)
            .crossJoin(corpus)
            .filter(F.col("qid") != F.col("id"))
            .select(
                "qid", "id", "feature", F.sqrt(dx * dx + dy * dy).alias("dist")
            )
        )
    else:
        cand = _widen_candidates(spts, instances, float(radius), k)
    fb = (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
    return keep.unionByName(fb)


def _widen_candidates(
    spts: DataFrame, instances: DataFrame, radius: float, k: int
) -> DataFrame:
    """Shuffle-based straggler finisher for ``knn_join``: bichromatic
    ``distance_join`` of the straggler points against the corpus at a
    geometrically widening radius (x4 per round).  A straggler is
    *finished* the first round it has >= k candidates — its in-radius
    top-k is then provably its global top-k (anything outside the radius
    is farther than all k) — and only unfinished points re-join at the
    next, wider radius.  The final round runs at the bbox diagonal, where
    the candidate set is complete, so every straggler resolves exactly
    without broadcasting anything.  Each straggler's rows come from
    exactly one round (the one that finished it): no cross-round dedup."""
    b = instances.agg(
        F.min("x").alias("x0"), F.max("x").alias("x1"),
        F.min("y").alias("y0"), F.max("y").alias("y1"),
    ).collect()[0]
    diag = math.hypot(
        float(b["x1"]) - float(b["x0"]), float(b["y1"]) - float(b["y0"])
    )
    corpus = instances.select("id", "x", "y")
    left = spts.select(F.col("qid").alias("id"), "x", "y")
    remaining = spts.select("qid")
    remaining_is_ckpt = False
    parts: list[DataFrame] = []
    r = radius
    while True:
        r = max(min(r * 4, diag), radius)
        cand = (
            distance_join(
                left.join(
                    remaining.withColumnRenamed("qid", "id"), "id", "left_semi"
                ),
                corpus,
                r,
                # the straggler side is tiny by construction — skip the
                # dual-hot occupancy pre-scan each round
                salt_threshold=None,
            )
            .filter(F.col("a_id") != F.col("b_id"))
            .select(F.col("a_id").alias("qid"), F.col("b_id").alias("id"), "dist")
            .localCheckpoint()
        )
        if r >= diag:
            parts.append(cand)
            break
        done = (
            cand.groupBy("qid")
            .agg(F.count("*").alias("_c"))
            .filter(F.col("_c") >= k)
            .select("qid")
        )
        parts.append(cand.join(done, "qid", "left_semi"))
        nxt = remaining.join(done, "qid", "left_anti").localCheckpoint()
        # nxt is eagerly materialized and the cand leaves are checkpoints,
        # so the previous round's remaining-blocks are dead right here
        if remaining_is_ckpt:
            _unpersist_ckpt(remaining)
        remaining, remaining_is_ckpt = nxt, True
        if remaining.isEmpty():
            break
    # the output plan references only the (checkpointed) cand leaves —
    # the last remaining-checkpoint is dead once the loop exits
    if remaining_is_ckpt:
        _unpersist_ckpt(remaining)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.join(instances.select("id", "feature"), "id").select(
        "qid", "id", "feature", "dist"
    )


def distance_join(
    left: DataFrame,
    right: DataFrame,
    d: float,
    cell_size: float | None = None,
    salt_threshold: int | None = 50_000,
    salt_buckets: int = 8,
) -> DataFrame:
    """Bichromatic ε-join: every (left, right) pair within Euclidean
    distance ``d`` (inclusive).

    Both inputs are point tables ``(id string, x double, y double)``
    (extra columns are dropped).  This is the package's one stencil join
    (``pairs._stencil_join``) in its two-table form: unlike the
    monochromatic ``neighbor_pairs`` self-join, the sides are distinct
    tables, so the left side probes the FULL (2r+1)^2 neighborhood and
    each (l, r) pair meets in exactly one (right-point cell), with no
    dedup or tie-break.  The grid spans the union of both bounding boxes
    so the clamped cell encoding stays consistent across sides.

    Skew: a one-side-hot cell lands in single sort-merge partitions that
    AQE's skew-join splitting (enabled engine-wide, session.py) re-chunks
    at runtime.  Only a *dual-hot* cell — more than ``salt_threshold``
    points on BOTH sides — is salted, splitting its |L_cell| x |R_cell|
    candidate work across ``salt_buckets`` tasks; the cells are counted
    only when both inputs exceed the threshold outright.
    ``salt_threshold=None`` disables salting.

    Output: ``(a_id, a_x, a_y, b_id, b_x, b_y, dist)`` with a = left,
    b = right (no canonical flip — the sides are semantically distinct).
    """
    lpts = left.select("id", "x", "y")
    rpts = right.select("id", "x", "y")
    # one pass for bounds AND per-side counts (the counts gate the dual-hot
    # count below, so the common small case skips it)
    tagged = lpts.withColumn("_l", F.lit(1)).unionByName(
        rpts.withColumn("_l", F.lit(0))
    )
    b = tagged.agg(
        F.min("x").alias("min_x"),
        F.min("y").alias("min_y"),
        F.max("x").alias("max_x"),
        F.max("y").alias("max_y"),
        F.sum("_l").alias("nl"),
        F.count("*").alias("nt"),
    ).collect()[0]
    cell = d if cell_size is None else cell_size
    if b["min_x"] is None:
        grid = GridSpec(0.0, 0.0, 0.0, 0.0, cell)
        n_left, n_right = 0, 0
    else:
        grid = GridSpec(b["min_x"], b["min_y"], b["max_x"], b["max_y"], cell)
        n_left = int(b["nl"] or 0)
        n_right = int(b["nt"]) - n_left

    lpts, rpts = _spread(lpts), _spread(rpts)
    hot = None
    if salt_threshold is not None and min(n_left, n_right) > salt_threshold:
        hot = _count_hot_cells(grid, salt_threshold, lpts, rpts)
    return _stencil_join(lpts, rpts, grid, d, full_offsets, hot, salt_buckets).select(
        "a_id", "a_x", "a_y", "b_id", "b_x", "b_y", "dist"
    )


def zonal_stats(points: DataFrame, polygons: DataFrame, blocked: bool = True) -> DataFrame:
    """Per-polygon statistics over the points it contains (zonal stats).

    ``points``: (feature, id, x, y); ``polygons`` as in point_in_polygon.
    Aggregates are deliberately order-independent (COUNT, COUNT DISTINCT,
    MIN/MAX) so the result is bitwise deterministic across engines — no
    cross-row double SUM whose accumulation order Spark does not pin.

    Output: (poly_id, n, n_features, min_x, max_x, min_y, max_y), one row
    per polygon that contains at least one point.  feature/x/y ride the
    containment join via ``keep_cols`` — no second join of the points
    table.
    """
    hits = point_in_polygon(
        points, polygons, blocked=blocked, keep_cols=("feature", "x", "y")
    )
    return (
        hits.groupBy("poly_id")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("feature").alias("n_features"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
    )


def synth_polygons(spark, n_polys: int = 25) -> DataFrame:
    """Deterministic diamond polygons on the 1000x1000 testdata plane —
    the fixture generator for point-in-polygon queries (mirrored in SQL)."""
    rows = []
    for p in range(n_polys):
        cx = float((p * 7919 + 13) % 900 + 50)
        cy = float((p * 104729 + 29) % 900 + 50)
        r = float(30 + (p % 5) * 10)
        rows.append(
            (p, [cx - r, cx, cx + r, cx], [cy, cy - r, cy, cy + r])
        )
    return spark.createDataFrame(
        rows, "poly_id int, xs array<double>, ys array<double>"
    )
