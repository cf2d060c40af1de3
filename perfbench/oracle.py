"""Mining oracle in DuckDB, independent of the Spark miner.

Brute-force clique enumeration over the oriented neighbour graph, the
approach of ``__spark_entry__._mine_full_oracle_sql`` reimplemented over an
arbitrary instance table and the workload's d, min_prev and size cap:

- neighbour pairs by a 3x3 grid-cell equi-join (an all-pairs join would be
  quadratic at these sizes), inclusive distance, cross-feature, each
  unordered pair once;
- features ranked by (count, name); edges point from lower to higher rank;
- a size-k clique extends a size-(k-1) clique of a prevalent pattern by a
  neighbour of every member whose feature ranks above the last one;
- WPI per pattern from distinct participating instances, with the reference's
  zero-weight guards; a size is reported only while the previous size has a
  prevalent pattern (the miner's stopping rule).
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb
import pandas as pd

Pattern = tuple[str, ...]


@dataclass
class Expected:
    pair_count: int
    wpi: dict[Pattern, float]


def _wpr(i: int) -> str:
    """WPR of member i: PR / RI, or 0 when delta or RI is below 1e-9 (the
    reference's zero-weight guards).  Member 1 is the rarest feature."""
    v = f"(CAST(fc{i}.cnt AS DOUBLE) / fc1.cnt - 1)"
    ri = f"EXP(-({v} * {v}) / (2 * d.delta * d.delta))"
    return (
        f"CASE WHEN d.delta <= 1e-9 OR {ri} <= 1e-9 THEN 0.0 "
        f"ELSE (CAST(p.n{i} AS DOUBLE) / fc{i}.cnt) / {ri} END"
    )


_SETUP_SQL = [
    # integer instance keys keep the clique joins narrow
    """CREATE TEMP TABLE inst AS
SELECT CAST(row_number() OVER () AS BIGINT) AS iid, feature, x, y,
       CAST(FLOOR(x / {d!r}) AS BIGINT) AS cx, CAST(FLOOR(y / {d!r}) AS BIGINT) AS cy
FROM instances""",
    """CREATE TEMP TABLE fcounts AS
SELECT feature, COUNT(*) AS cnt, ROW_NUMBER() OVER (ORDER BY COUNT(*), feature) AS rnk
FROM inst GROUP BY feature""",
    # each instance probes the 3x3 cells around its own
    """CREATE TEMP TABLE probe AS
SELECT a.iid, a.feature, a.x, a.y, a.cx + ox.dx AS tx, a.cy + oy.dy AS ty
FROM inst a CROSS JOIN range(-1, 2) ox(dx) CROSS JOIN range(-1, 2) oy(dy)""",
    """CREATE TEMP TABLE pairs AS
SELECT a.iid AS ai, a.feature AS af, b.iid AS bi, b.feature AS bf
FROM probe a JOIN inst b ON b.cx = a.tx AND b.cy = a.ty
WHERE a.iid < b.iid AND a.feature <> b.feature
  AND SQRT((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) <= {d!r}""",
    # star edges point from the lower-ranked feature to the higher one
    """CREATE TEMP TABLE edges AS
SELECT CASE WHEN ra.rnk < rb.rnk THEN p.ai ELSE p.bi END AS ci,
       CASE WHEN ra.rnk < rb.rnk THEN p.bi ELSE p.ai END AS ni,
       LEAST(ra.rnk, rb.rnk) AS cr, GREATEST(ra.rnk, rb.rnk) AS nr
FROM pairs p JOIN fcounts ra ON ra.feature = p.af JOIN fcounts rb ON rb.feature = p.bf""",
    "CREATE TEMP TABLE cl2 AS SELECT cr AS r1, nr AS r2, ci AS i1, ni AS i2 FROM edges",
    # degree of dispersion over rank-sorted counts
    """CREATE TEMP TABLE delta_v AS
SELECT COALESCE(2.0 * SUM(CAST(hi.cnt AS DOUBLE) / lo.cnt)
       / ((SELECT COUNT(*) FROM fcounts) * ((SELECT COUNT(*) FROM fcounts) - 1)), 0.0) AS delta
FROM fcounts lo JOIN fcounts hi ON lo.rnk < hi.rnk""",
]


def _clique_sql(k: int) -> str:
    """Size-k cliques: a size-(k-1) clique of a prevalent pattern plus a
    neighbour of every member whose feature ranks above the last member's.
    Only prevalent prefixes are extended: a prefix keeps the rarest feature,
    so by the paper's Lemma 2 a pattern with a non-prevalent prefix cannot
    be prevalent."""
    prev = ", ".join([f"t.r{j}" for j in range(1, k)] + [f"t.i{j}" for j in range(1, k)])
    on_prev = " AND ".join(f"v.r{j} = t.r{j}" for j in range(1, k))
    closure = " ".join(
        f"JOIN edges e{j} ON e{j}.ci = t.i{j} AND e{j}.ni = e1.ni" for j in range(2, k)
    )
    return (
        f"CREATE TEMP TABLE cl{k} AS SELECT {prev}, e1.nr AS r{k}, e1.ni AS i{k} "
        f"FROM cl{k - 1} t SEMI JOIN prev{k - 1} v ON {on_prev} "
        f"JOIN edges e1 ON e1.ci = t.i1 AND e1.nr > t.r{k - 1} {closure}"
    )


def _wpi_sql(k: int, min_prev: float) -> str:
    """``prev{k}``: prevalent size-k patterns as feature ranks, with WPI."""
    ranks = ", ".join(f"r{j}" for j in range(1, k + 1))
    pranks = ", ".join(f"p.r{j}" for j in range(1, k + 1))
    ndist = ", ".join(f"COUNT(DISTINCT i{j}) AS n{j}" for j in range(1, k + 1))
    fc = " ".join(f"JOIN fcounts fc{j} ON fc{j}.rnk = p.r{j}" for j in range(1, k + 1))
    wprs = ", ".join(_wpr(j) for j in range(1, k + 1))
    return (
        f"CREATE TEMP TABLE prev{k} AS SELECT * FROM (SELECT {pranks}, LEAST({wprs}) AS wpi "
        f"FROM (SELECT {ranks}, {ndist} FROM cl{k} GROUP BY {ranks}) p {fc} "
        f"CROSS JOIN delta_v d) WHERE wpi >= {float(min_prev)!r}"
    )


def _names_sql(k: int) -> str:
    names = ", ".join(f"fc{j}.feature" for j in range(1, k + 1))
    fc = " ".join(f"JOIN fcounts fc{j} ON fc{j}.rnk = p.r{j}" for j in range(1, k + 1))
    return f"SELECT [{names}], p.wpi FROM prev{k} p {fc}"


def expected(
    rows: pd.DataFrame, d: float, min_prev: float, max_pattern_size: int | None, threads: int
) -> Expected:
    """Patterns, WPI and pair count for ``rows`` ``(feature, id, x, y)``."""
    n_features = rows["feature"].nunique()
    k_max = n_features if max_pattern_size is None else min(max_pattern_size, n_features)
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {int(threads)}")
        # fail instead of spilling gigabytes when a workload gets too dense
        con.execute("SET memory_limit = '3GB'")
        con.execute("SET temp_directory = ''")
        con.register("instances", rows[["feature", "x", "y"]])
        for stmt in _SETUP_SQL:
            con.execute(stmt.format(d=float(d)))
        pairs = con.execute("SELECT COUNT(*) FROM pairs").fetchone()[0]
        wpi: dict[Pattern, float] = {}
        for k in range(2, k_max + 1):
            if k > 2:
                con.execute(_clique_sql(k))
            con.execute(_wpi_sql(k, min_prev))
            level = con.execute(_names_sql(k)).fetchall()
            wpi.update((tuple(p), float(w)) for p, w in level)
            if not level:
                break
    finally:
        con.close()
    return Expected(int(pairs), wpi)


def mismatches(result, want: Expected, ndigits: int = 9) -> list[str]:
    """Differences between a ``MiningResult`` and the oracle: pattern set,
    WPI rounded to ``ndigits`` and ``pair_count``.  Empty when they agree."""
    out = []
    if result.pair_count != want.pair_count:
        out.append(f"pair_count {result.pair_count} != {want.pair_count}")
    got = {tuple(p) for p in result.patterns}
    if got != set(want.wpi):
        out.append(
            f"patterns: {len(got - set(want.wpi))} extra, {len(set(want.wpi) - got)} missing"
        )
    for p in got & set(want.wpi):
        if round(result.wpi[p], ndigits) != round(want.wpi[p], ndigits):
            out.append(f"wpi{p} {result.wpi[p]!r} != {want.wpi[p]!r}")
    return out
