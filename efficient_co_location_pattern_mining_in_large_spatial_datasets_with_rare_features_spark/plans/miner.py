"""Joinless co-location miner (WPI measure, rare features).

The cluster does the heavy lifting (neighbor pairs, star edges, clique
table-instance joins, distinct participation counts); the driver holds only
the tiny candidate/prevalent bookkeeping — candidate sets are bounded by the
number of *feature* subsets, not instances, so they are at most a few
thousand tuples even at 10^12 instances.

Per-level dataflow (paper Algorithms 1-3; reference src/miner.cpp:24-98):

    C_k  = apriori join of prevalent (k-1) patterns      [driver, J7]
    C_k' = Lemma-2 + Lemma-3 pruning (skipped at k=2)    [driver, J8]
    T_k  = T_{k-1} x star_edges clique-extension join    [cluster, J5/J6]
    PR   = per (pattern, position) countDistinct         [cluster, A6]
    P_k  = { C : min_f PR(f,C) * w(f,C) >= min_prev }    [driver, A9]

Reference-semantics riders replicated exactly (FIXTURES.md §5):

- k=2 candidates skip the Lemma filters (src/miner.cpp:69);
- level-k Lemma-3 PI lookups hit the *previous level's full filtered
  candidate set* (prevalent and non-prevalent, src/miner.cpp:94); a pattern
  with no table rows has PR = 0 and prunes (src/utils.cpp:171-181);
- only sizes k >= 2 are emitted (src/miner.cpp:53-57,91).

Both plans are one prologue and one level loop.  The prologue runs once
per call (``_prologue``): the stats aggregate, the string-id fallback, the
persisted edge table and one global level 2 over every rank-ordered pair.
The level loop (``_mine_scope``) then mines k >= 3 for a scope: ``mine``
runs one scope over all features (paper Algorithm 2), ``mine_subtrees``
one scope per rarest feature from a thread pool (Algorithm 3).

Spark actions: one stats aggregate before level 2 (feature histogram,
coordinate check, the pair join's hot cells and the id-hash check, see
``_stats``), then one participation collect per level.  Levels k >= 3 are
checkpointed lazily, so that collect also stores the level table the next
level joins against; no action runs on a background thread.

Checkpoint/resume: with ``config.checkpoint_dir`` set, each level's table
instance is written to parquet together with a JSON manifest carrying the
level's candidates, prevalent set, PI map, per-partition row counts and
lineage ids.  Level 2 is shared by both plans (``level_2/``); levels
k >= 3 go to ``level_<k>/`` (``mine``) or ``subtree_<rank>/level_<k>/``
(``mine_subtrees``).  ``resume=True`` reloads level 2 and then, per scope,
the last level of the unbroken chain above it, so a failure mid-level-k
costs only that level, and either plan resumes the other's level 2.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections.abc import Iterator, Mapping, Sequence
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ColocationConfig
from ..functions import measures
from ..operators.cells import origin_grid, with_cell
from ..operators.pairs import neighbor_pairs
from ..operators.stars import star_edges

Pattern = tuple[str, ...]


def generate_candidates(prevalent: Sequence[Pattern], rank: Mapping[str, int]) -> list[Pattern]:
    """Apriori candidate join: two prevalent (k-1)-patterns sharing their
    (k-2)-prefix produce prefix + both tails in canonical rank order.

    Reference: src/miner.cpp:102-149 (tail ordering at :131-137, sort+unique
    dedup at :144-146).
    """
    out: set[Pattern] = set()
    pats = sorted(prevalent)
    for i in range(len(pats)):
        for j in range(i + 1, len(pats)):
            p, q = pats[i], pats[j]
            if p[:-1] != q[:-1]:
                continue
            t1, t2 = p[-1], q[-1]
            if t1 == t2:
                continue
            if rank[t1] > rank[t2]:
                t1, t2 = t2, t1
            out.add(p[:-1] + (t1, t2))
    return sorted(out, key=lambda c: tuple(rank[f] for f in c))


def filter_candidates(
    candidates: Sequence[Pattern],
    prevalent_prev: set[Pattern],
    pi_prev: Mapping[Pattern, float],
    counts: Mapping[str, int],
    delta_value: float,
    min_prev: float,
    use_lemma3: bool = True,
) -> list[Pattern]:
    """Lemma-2 + Lemma-3 pruning (reference src/miner.cpp:152-215).

    Candidates are canonically rank-ordered, so ``c[0]`` is the rarest
    feature f_min and ``c[-1]`` the most common f_max.

    - Lemma 2 (conditional anti-monotone, :178-184): every (k-1)-subset that
      *keeps* f_min (i.e. drops index >= 1) must be prevalent.
    - Lemma 3 (upper bound, :188-208): for the subset that drops f_min,
      ``PI(c[1:]) * w(f_max, C) >= min_prev`` must hold; a subset missing
      from the previous level's tables contributes PI = 0 and prunes.

    ``use_lemma3=False`` is the per-subtree mode (paper Algorithm 3 /
    Lemma 6): the subset dropping f_min lives in a *different* subtree, so
    its PI is unavailable there and the Lemma-3 bound cannot be applied.
    """
    kept = []
    for c in candidates:
        ok = True
        for idx in range(1, len(c)):
            sub = c[:idx] + c[idx + 1 :]
            if sub not in prevalent_prev:
                ok = False
                break
        if ok and not use_lemma3:
            kept.append(c)
            continue
        if ok:
            sub0 = c[1:]
            pi_val = pi_prev.get(sub0, 0.0)
            # The reference's Lemma-3 bound divides RAW — w = 1/RI with no
            # epsilon guard (src/miner.cpp:189-203).  IEEE semantics when RI
            # underflows to 0: w = inf, and pi*inf is inf (keep) or 0*inf =
            # NaN, and C++ `NaN < minPrev` is false (keep).  So only a
            # *finite* product below min_prev prunes.  (Selection-time WPI
            # uses the guarded weight() — weight 0 — which is a different
            # branch in the reference; keep the two distinct.)
            ri_max = measures.rare_intensity(
                counts[c[-1]], counts[c[0]], delta_value
            )
            if ri_max > 0.0 and pi_val * (1.0 / ri_max) < min_prev:
                ok = False
        if ok:
            kept.append(c)
    return kept


@dataclass
class LevelStats:
    k: int
    n_candidates: int
    n_filtered: int
    n_prevalent: int
    table_rows: int
    seconds: float
    subtree: str | None = None


@dataclass
class MiningResult:
    patterns: list[Pattern]
    wpi: dict[Pattern, float]
    counts: dict[str, int]
    delta: float
    pair_count: int
    levels: list[LevelStats] = field(default_factory=list)

    def by_size(self) -> dict[int, list[Pattern]]:
        out: dict[int, list[Pattern]] = {}
        for p in self.patterns:
            out.setdefault(len(p), []).append(p)
        return out

    def patterns_df(self, spark: SparkSession) -> DataFrame:
        rows = [
            (list(p), len(p), float(self.wpi[p])) for p in sorted(self.patterns, key=lambda p: (len(p), p))
        ]
        return spark.createDataFrame(
            rows, "pattern array<string>, size int, wpi double"
        )

    def render(self, rank: Mapping[str, int]) -> list[str]:
        """Reference rendering: features ascending (count, name) in braces."""
        ordered = sorted(self.patterns, key=lambda p: (len(p), tuple(rank[f] for f in p)))
        return ["{" + ", ".join(p) + "}" for p in ordered]


@dataclass
class _Level:
    """The last mined level of a scope: what the next level extends."""

    k: int
    table: DataFrame
    #: the level's filtered candidates; a table row's ``pid`` indexes this
    filtered: list[Pattern]
    prevalent: list[Pattern]
    pi: dict[Pattern, float]


class ColocationMiner:
    """End-to-end mining plan over an instance DataFrame
    ``(feature string, id string, x double, y double)``."""

    def __init__(self, spark: SparkSession, config: ColocationConfig):
        self.spark = spark
        self.config = config
        #: (grid, hot cells) of the pair join, counted by ``_stats``
        self._pair_plan = (None, None)
        #: whether this call's tables carry xxhash64 ids, set by ``_prologue``
        self._encode_ids = True

    # ------------------------------------------------------------------ io
    #: the config fields a checkpoint records; a resume requires them equal
    SEMANTIC_FIELDS = ("neighbor_distance", "min_prevalence", "approx_rsd", "max_pattern_size")

    def _ckpt_path(self, *parts: str) -> str:
        assert self.config.checkpoint_dir
        return os.path.join(self.config.checkpoint_dir, *parts)

    @staticmethod
    def _dump_json(path: str, obj: dict) -> None:
        """Write ``obj`` to ``path`` atomically (a resume never reads half)."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(obj, f)
        os.replace(path + ".tmp", path)

    def _write_level(
        self,
        k: int,
        table: DataFrame,
        table_rows: int,
        filtered: list[Pattern],
        prevalent: list[Pattern],
        pi_map: dict[Pattern, float],
        wpi_map: dict[Pattern, float],
        subdir: str | None = None,
    ) -> None:
        if not self.config.checkpoint_dir:
            return
        parts = ([subdir] if subdir else []) + [f"level_{k}"]
        path = self._ckpt_path(*parts)
        table_dir = os.path.join(path, "table")
        table.write.mode("overwrite").parquet(table_dir)
        manifest = {
            "level": k,
            "row_count": table_rows,
            "partition_row_counts": self._partition_counts(table_dir),
            "filtered_candidates": [list(p) for p in filtered],
            "prevalent": [list(p) for p in prevalent],
            "pi": {",".join(p): v for p, v in pi_map.items()},
            "wpi": {",".join(p): v for p, v in wpi_map.items()},
            "lineage": {
                "config": {f: getattr(self.config, f) for f in self.SEMANTIC_FIELDS},
                "encode_ids": self._encode_ids,
                "written_at": time.time(),
            },
        }
        self._dump_json(os.path.join(path, "manifest.json"), manifest)

    def _partition_counts(self, table_dir: str) -> list[list[int]]:
        """Per-partition row counts for the manifest: the parquet footers of
        the files just written (each task writes one part file), or, when
        the dir is not locally listable (an hdfs:// or s3a:// URI), a Spark
        re-read counted per file, which works on any filesystem."""
        import urllib.parse

        parsed = urllib.parse.urlparse(table_dir)
        if parsed.scheme in ("", "file"):
            try:
                import pyarrow.parquet as pq

                local = parsed.path if parsed.scheme == "file" else table_dir
                part_files = sorted(
                    f for f in os.listdir(local) if f.endswith(".parquet")
                )
                return [
                    [i, pq.ParquetFile(os.path.join(local, f)).metadata.num_rows]
                    for i, f in enumerate(part_files)
                ]
            except Exception:  # noqa: BLE001 — missing pyarrow, unreadable
                pass  # dir or corrupt footer: fall through to the re-read
        # per FILE, not spark_partition_id (a fresh read packs splits); empty
        # part files give no group, so only the sum is contractual
        rows = (
            self.spark.read.parquet(table_dir)
            .groupBy(F.input_file_name().alias("f"))
            .agg(F.count("*").alias("n"))
            .collect()
        )
        return [
            [i, int(r["n"])]
            for i, r in enumerate(sorted(rows, key=lambda r: r["f"]))
        ]

    def _load_manifests(self, subdir: str | None = None, first: int = 2) -> list[dict]:
        """The unbroken chain of level manifests from level ``first`` in the
        checkpoint dir (or its ``subdir``): a level after a missing one was
        written before it, by another run, and is not resumed."""
        chain: list[dict] = []
        if not self.config.checkpoint_dir:
            return chain
        while True:
            parts = ([subdir] if subdir else []) + [f"level_{first + len(chain)}", "manifest.json"]
            if not os.path.exists(self._ckpt_path(*parts)):
                return chain
            with open(self._ckpt_path(*parts)) as f:
                chain.append(json.load(f))

    def _validate_manifest_config(self, last: dict) -> None:
        """Checkpointed levels were mined under a specific semantic config;
        silently mixing levels from different (d, min_prev, cap) — or exact
        vs HLL-approximate participation — would corrupt the result set.
        Refuse to resume on mismatch.  (Older manifests without an
        approx_rsd or max_pattern_size key read as None.)"""
        ck = last["lineage"]["config"]
        mined = {f: ck.get(f) for f in self.SEMANTIC_FIELDS}
        active = {f: getattr(self.config, f) for f in self.SEMANTIC_FIELDS}
        if mined != active:
            raise ValueError(
                f"checkpoint was mined under config {mined} but the active "
                f"config is {active}; clear {self.config.checkpoint_dir} or "
                "match the config to resume"
            )

    def _invalidate_manifests(self) -> None:
        """Remove every level manifest (levelwise and per-subtree) AND the
        edge-table manifest so no later resume can mix id encodings after
        a collision fallback (the bucketed edge files carry tainted
        encoded ids; the fallback rewrites them as strings)."""
        ck = self.config.checkpoint_dir
        if ck:
            levels = glob.glob(os.path.join(ck, "**", "level_*", "manifest.json"), recursive=True)
            for path in levels + glob.glob(os.path.join(ck, "edges_manifest.json")):
                os.remove(path)

    # ---------------------------------------------------------------- plan
    def _stats(self, instances: DataFrame, check_hashes: bool = True):
        """The one stats job: a single grouping-sets aggregate that yields

        - the per-feature histogram (-> rank/delta), with a count of null or
          non-finite coordinates per feature, which raises ``ValueError``;
        - the hot cells of the pair join's ``origin_grid`` (occupancy above
          ``salt_threshold``), kept in ``self._pair_plan`` for
          ``build_pairs`` so the pair operator launches no job of its own;
        - the per-feature id-hash injectivity check.

        Instance ids are xxhash64-encoded to int64 for every mining table
        (level tables shuffle arrays of longs instead of strings, ~4x
        smaller rows); encoding is safe iff hashing is injective per feature
        (participation counts are per-feature, so cross-feature collisions
        are harmless).  Any (feature, hash) group holding more than one
        instance fails the check — duplicated input ids fail it too — and
        ``join_check()`` returns False, so the caller mines with exact
        string ids instead."""
        cfg = self.config
        grid = origin_grid(cfg.effective_cell_size())
        salt = cfg.salt_threshold
        x, y = F.col("x"), F.col("y")
        bad = x.isNull() | y.isNull() | F.isnan(x) | F.isnan(y)
        bad = bad | (F.abs(x) == float("inf")) | (F.abs(y) == float("inf"))
        # grouping set -> (its key columns, which of its rows to collect)
        sets = {"feature": (["feature"], F.lit(True))}
        if salt is not None:
            instances = with_cell(instances, grid)
            sets["cell"] = (["cell_x", "cell_y"], F.col("n") > salt)
        if check_hashes:
            instances = instances.withColumn("h", F.xxhash64("id"))
            sets["hash"] = (["feature", "h"], F.col("n") > 1)
        cols = list(dict.fromkeys(c for kept, _ in sets.values() for c in kept))
        gids = {
            name: sum(1 << (len(cols) - 1 - i) for i, c in enumerate(cols) if c not in kept)
            for name, (kept, _) in sets.items()
        }
        wanted = F.lit(False)
        for name, (_, keep) in sets.items():
            wanted = wanted | ((F.col("gid") == gids[name]) & keep)
        rows = (
            instances.select(*cols, bad.cast("int").alias("bad"))
            .groupingSets([kept for kept, _ in sets.values()], *cols)
            .agg(F.count("*").alias("n"), F.sum("bad").alias("bad"), F.grouping_id().alias("gid"))
            .filter(wanted)
            .collect()
        )
        of = {name: [r for r in rows if r["gid"] == g] for name, g in gids.items()}

        bad_features = sorted((r["feature"], r["bad"]) for r in of["feature"] if r["bad"])
        if bad_features:
            raise ValueError(
                "instances need finite x and y; null or non-finite coordinates in "
                + ", ".join(f"feature {f!r}: {n}" for f, n in bad_features)
            )
        hot = [(r["cell_x"], r["cell_y"], r["n"]) for r in of.get("cell", [])]
        self._pair_plan = (grid, hot)
        injective = not of.get("hash")
        counts = {r["feature"]: r["n"] for r in of["feature"]}
        rank = {f: i for i, f in enumerate(measures.rank_features(counts))}
        self._rank = rank
        return counts, rank, measures.delta(counts), lambda: injective

    def _encoded_edges(self, instances: DataFrame, counts, rank, encode_ids):
        """Star edges with features as canonical-rank ints (no shuffle ever
        moves feature strings) and ids xxhash64-encoded when injective."""
        edges = star_edges(self.build_pairs(instances), counts)
        rank_expr = F.create_map(*[F.lit(x) for kv in rank.items() for x in kv])
        return edges.select(
            rank_expr[F.col("center_feature")].cast("int").alias("center_feature"),
            (
                F.xxhash64("center_id") if encode_ids else F.col("center_id")
            ).alias("center_id"),
            rank_expr[F.col("nbr_feature")].cast("int").alias("nbr_feature"),
            (F.xxhash64("nbr_id") if encode_ids else F.col("nbr_id")).alias("nbr_id"),
        )

    #: clique-join key every level-k>=3 join (and every subtree level) hits
    EDGE_BUCKET_COLS = ("center_id", "nbr_feature")

    def _edges_ddl(self, encode_ids: bool) -> str:
        idt = "BIGINT" if encode_ids else "STRING"
        return f"center_feature INT, center_id {idt}, nbr_feature INT, nbr_id {idt}"

    def _edge_table(
        self,
        instances: DataFrame,
        counts: Mapping[str, int],
        rank: Mapping[str, int],
        encode_ids: bool,
        resume: bool,
    ) -> DataFrame:
        """The edge table each level joins against — durable and bucketed
        when checkpointing.

        Without a checkpoint dir: the in-session plan (``_prepartitioned``;
        the prologue caches it).  With one: the edges
        are written ONCE as a parquet table bucketed+sorted on
        (center_id, nbr_feature) under ``<checkpoint_dir>/edges``, so the
        write shuffle is the LAST time they move — every level-k join
        satisfies its required distribution straight off the scan, and a
        RESUME (same or new session) re-attaches the layout via
        ``ensure_bucketed_table`` and skips the entire pairs -> stars ->
        edges recompute (the dominant fixed cost of re-mining; see
        BENCH/resume_ab.py).  The edge manifest pins neighbor_distance and
        the id encoding — the same trust model as level manifests."""
        cfg = self.config
        if not cfg.checkpoint_dir:
            return self._prepartitioned(
                self._encoded_edges(instances, counts, rank, encode_ids), counts
            )
        import hashlib

        from ..sources.bucketed import ensure_bucketed_table, write_bucketed

        os.makedirs(cfg.checkpoint_dir, exist_ok=True)
        table = "colocation_edges_" + hashlib.md5(
            os.path.abspath(cfg.checkpoint_dir).encode()
        ).hexdigest()[:10]
        path = self._ckpt_path("edges")
        man_path = self._ckpt_path("edges_manifest.json")
        cols = list(self.EDGE_BUCKET_COLS)
        if resume and os.path.exists(man_path):
            with open(man_path) as f:
                man = json.load(f)
            if (
                man["neighbor_distance"] == cfg.neighbor_distance
                and man["encode_ids"] == encode_ids
                and os.path.isdir(path)
            ):
                return ensure_bucketed_table(
                    self.spark, table, path, self._edges_ddl(encode_ids),
                    cols, man["num_buckets"],
                )
            # stale layout (different d / encoding): fall through and rewrite
        nbuckets = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        edges = self._encoded_edges(instances, counts, rank, encode_ids)
        out = write_bucketed(edges, table, path, cols, nbuckets)
        self._dump_json(man_path, {
            "neighbor_distance": cfg.neighbor_distance,
            "encode_ids": encode_ids,
            "num_buckets": nbuckets,
            "table": table,
            "written_at": time.time(),
        })
        return out

    def _prepartitioned(self, edges: DataFrame, counts: Mapping[str, int]) -> DataFrame:
        """Pre-partition the edge table on the clique-join key: every
        level-k>=3 join (and, in the subtree plan, every subtree's every
        level) hits edges on (center_id, nbr_feature), so a cached
        hash-partitioned table satisfies each join's required distribution
        and the per-level edge re-shuffles collapse into one upfront
        shuffle (measured −28% on the 2M-instance level-3 wall).  Below
        ~200k instances the edge subsets broadcast anyway (≤10 MB) and the
        upfront shuffle is pure overhead — skip it there."""
        if sum(counts.values()) < 200_000:
            return edges
        nparts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        return edges.repartition(nparts, "center_id", "nbr_feature")

    def build_pairs(self, instances: DataFrame) -> DataFrame:
        """Neighbor pairs on the grid and hot cells ``_stats`` counted."""
        cfg = self.config
        grid, hot = self._pair_plan
        return neighbor_pairs(
            instances,
            cfg.neighbor_distance,
            cell_size=cfg.effective_cell_size(),
            salt_threshold=cfg.salt_threshold,
            salt_buckets=cfg.salt_buckets,
            grid=grid,
            hot_cells=hot,
        )

    def _table_k(
        self,
        t_prev: DataFrame,
        edges: DataFrame,
        candidates: list[Pattern],
        filtered_prev: list[Pattern],
        k: int,
    ) -> DataFrame:
        """Clique-extension join: T_k rows = T_{k-1} rows of each candidate's
        prefix, extended by instances neighboring *every* member (the paper's
        S(I, f) = intersection of Neigh(o, f), Def. 8 eq. 10; reference
        src/miner.cpp:264-379).  Relationally: explode row members, hash-join
        member -> star edge on instance id, keep extensions seen k-1 times.

        Tables carry a compact integer ``pid`` (the candidate's index in the
        level's filtered list) instead of an ``array<string>`` pattern key —
        the pattern universe is driver-side, so shuffles never move feature
        strings.
        """
        spark = self.spark
        prev_index = {c: i for i, c in enumerate(filtered_prev)}
        cand_df = spark.createDataFrame(
            [
                (prev_index[c[:-1]], self._rank[c[-1]], pid)
                for pid, c in enumerate(candidates)
            ],
            "prefix_pid int, f_new int, pid int",
        )
        new_features = sorted({self._rank[c[-1]] for c in candidates})
        edges_k = edges.filter(F.col("nbr_feature").isin(new_features))

        base = t_prev.join(
            F.broadcast(cand_df), t_prev.pid == cand_df.prefix_pid, "inner"
        ).select(
            cand_df.pid.alias("pid"),
            F.col("inst"),
            F.col("f_new"),
            F.explode(F.col("inst")).alias("member_id"),
        )
        joined = base.join(
            edges_k,
            (base.member_id == edges_k.center_id)
            & (base.f_new == edges_k.nbr_feature),
            "inner",
        )
        return (
            joined.groupBy("pid", "inst", "nbr_id")
            .count()
            .filter(F.col("count") == k - 1)
            .select(
                F.col("pid"),
                F.concat(F.col("inst"), F.array(F.col("nbr_id"))).alias("inst"),
            )
        )

    def _ndistinct(self, col: str) -> F.Column:
        """Participation distinct-count aggregate: reference-exact
        ``countDistinct`` by default, HyperLogLog++ sketch when the config
        opts into ``approx_rsd`` (constant state per group instead of a
        distinct shuffle — the scale lever for the heaviest agg in the
        plan).  The id-hash injectivity check never uses this: a collision
        probe must be exact by definition."""
        if self.config.approx_rsd is not None:
            return F.approx_count_distinct(col, self.config.approx_rsd)
        return F.countDistinct(col)

    def _participation(
        self, t_k: DataFrame, pid_of: Mapping[tuple[int, int], int] | None = None
    ) -> tuple[dict[int, dict[int, int]], dict[int, int]]:
        """A6 in one pass: distinct participating instances per (pid,
        position) plus the per-pattern row count (same aggregation, no
        separate count job).

        At level 2 ``t_k`` is the edge table and ``pid_of`` maps (center,
        neighbor) feature ranks to pids: the star edge IS the size-2 row
        instance, so the counts come straight off the edges, with no
        posexplode pass over T_2 (0.80 s against 1.28 s, median of 12, on
        the sf0.1 flagship's 450,387 cached edges, local[4])."""
        part: dict[int, dict[int, int]] = {}
        counts: dict[int, int] = {}
        if pid_of is not None:
            for r in (
                t_k.groupBy("center_feature", "nbr_feature")
                .agg(
                    self._ndistinct("center_id").alias("n0"),
                    self._ndistinct("nbr_id").alias("n1"),
                    F.count("*").alias("rows"),
                )
                .collect()
            ):
                pid = pid_of[(r["center_feature"], r["nbr_feature"])]
                part[pid] = {0: r["n0"], 1: r["n1"]}
                counts[pid] = r["rows"]
            return part, counts
        rows = (
            t_k.select(F.col("pid"), F.posexplode(F.col("inst")))
            .groupBy("pid", "pos")
            .agg(self._ndistinct("col").alias("n"), F.count("*").alias("rows"))
            .collect()
        )
        for r in rows:
            part.setdefault(r["pid"], {})[r["pos"]] = r["n"]
            if r["pos"] == 0:
                counts[r["pid"]] = r["rows"]
        return part, counts

    def _select_prevalent(
        self,
        candidates: list[Pattern],
        part: dict[int, dict[int, int]],
        counts: dict[str, int],
        delta_value: float,
    ) -> tuple[list[Pattern], dict[Pattern, float], dict[Pattern, float]]:
        prevalent: list[Pattern] = []
        pi_map: dict[Pattern, float] = {}
        wpi_map: dict[Pattern, float] = {}
        for pid, c in enumerate(candidates):
            by_pos = part.get(pid, {})
            participating = {f: by_pos.get(i, 0) for i, f in enumerate(c)}
            pi_map[c] = measures.pi(c, participating, counts)
            w = measures.wpi(c, participating, counts, delta_value)
            wpi_map[c] = w
            if w >= self.config.min_prevalence:
                prevalent.append(c)
        return prevalent, pi_map, wpi_map

    # -------------------------------------------------------------- driver
    def _finish_level(
        self, res: MiningResult, k: int, t_k: DataFrame, n_candidates: int,
        filtered: list[Pattern], participation: tuple, t0: float, root: str | None = None,
    ) -> _Level:
        """Select level k's prevalent patterns from ``_participation``'s
        output, checkpoint the level and record it in ``res``."""
        part, rows_by_pid = participation
        table_rows = sum(rows_by_pid.values())
        prevalent, pi_map, wpi_map = self._select_prevalent(
            filtered, part, res.counts, res.delta
        )
        subdir = None if root is None else f"subtree_{self._rank[root]}"
        self._write_level(
            k, t_k, table_rows, filtered, prevalent, pi_map, wpi_map, subdir=subdir
        )
        res.patterns.extend(prevalent)
        res.wpi.update((c, wpi_map[c]) for c in prevalent)
        res.levels.append(
            LevelStats(k, n_candidates, len(filtered), len(prevalent), table_rows,
                       time.time() - t0, root)
        )
        return _Level(k, t_k, filtered, prevalent, pi_map)

    def _replay(self, chain: list[dict], res: MiningResult, subdir: str | None = None) -> _Level:
        """Add a checkpointed chain's patterns to ``res`` and return its last
        level, whose table is read back from parquet."""
        last = chain[-1]
        self._validate_manifest_config(last)
        for m in chain:
            prevalent = [tuple(p) for p in m["prevalent"]]
            res.patterns.extend(prevalent)
            res.wpi.update((p, m["wpi"][",".join(p)]) for p in prevalent)
        k = last["level"]
        parts = ([subdir] if subdir else []) + [f"level_{k}", "table"]
        return _Level(
            k,
            self.spark.read.parquet(self._ckpt_path(*parts)),
            [tuple(p) for p in last["filtered_candidates"]],
            prevalent,
            {tuple(p.split(",")): v for p, v in last["pi"].items()},
        )

    @contextmanager
    def _prologue(
        self, instances: DataFrame, resume: bool, encode_ids: bool
    ) -> Iterator[tuple[MiningResult, DataFrame, _Level, bool]]:
        """What both plans run once per call: stats, the string-id fallback,
        the persisted edge table and the global level 2 (mined, or replayed
        from ``level_2/``).

        Yields the result so far (level 2), the edges, level 2 and whether
        it was resumed, in which case the scopes may resume levels k >= 3;
        the edges are unpersisted on exit."""
        level2 = self._load_manifests()[:1] if resume else []
        if level2:
            # a checkpoint fixes the id representation of its level tables:
            # the edges must be built with the SAME encoding, or the level
            # join would silently compare strings to longs
            encode_ids = level2[0]["lineage"].get("encode_ids", True)
        counts, rank, delta_value, join_check = self._stats(
            instances, check_hashes=encode_ids
        )
        # Duplicate or colliding ids: mine with exact string ids instead (the
        # stats above do not depend on ids).  Every checkpoint of an earlier
        # encoded run is invalidated so no later resume can mix encodings.
        if encode_ids and not join_check():
            self._invalidate_manifests()
            encode_ids, resume, level2 = False, False, []
        self._encode_ids = encode_ids
        # pairs -> edges is one linear pipeline; only the edges are kept (one
        # edge per pair, so pair_count == T_2 rows: no count job over either)
        edges = self._edge_table(instances, counts, rank, encode_ids, resume).persist()
        try:
            res = MiningResult([], {}, counts, delta_value, 0)
            if level2:
                top = self._replay(level2, res)
                res.pair_count = level2[0]["row_count"]
            else:
                t0 = time.time()
                # C_2 = all rank-ordered feature pairs; no Lemma filtering
                # (reference src/miner.cpp:64-71).  The pids are global, so
                # every scope's first join reads this one T_2 projection.
                ranked = measures.rank_features(counts)
                filtered = [(f, g) for i, f in enumerate(ranked) for g in ranked[i + 1 :]]
                pid_of = {(rank[f], rank[g]): pid for pid, (f, g) in enumerate(filtered)}
                pid_map = self.spark.createDataFrame(
                    [(*fg, pid) for fg, pid in pid_of.items()],
                    "center_feature int, nbr_feature int, pid int",
                )
                # T_2 is a pure projection of the persisted edges: never
                # materialized, or it would double-store the biggest table
                t_2 = edges.join(
                    F.broadcast(pid_map), ["center_feature", "nbr_feature"]
                ).select("pid", F.array("center_id", "nbr_id").alias("inst"))
                participation = self._participation(edges, pid_of)
                res.pair_count = sum(participation[1].values())
                top = self._finish_level(res, 2, t_2, len(filtered), filtered, participation, t0)
            yield res, edges, top, bool(level2)
        finally:
            edges.unpersist()

    def _mine_scope(
        self, res: MiningResult, edges: DataFrame, top: _Level,
        root: str | None = None, resume: bool = False,
    ) -> None:
        """The level loop: mine levels k >= 3 of one scope into ``res``,
        starting from level 2 ``top``.

        The scope is every feature (``root`` None, with Lemma 3) or the
        subtree of the patterns whose rarest feature is ``root``: it starts
        from the prevalent pairs led by ``root``, runs without Lemma 3 and
        checkpoints under ``subtree_<rank>/``.  ``resume`` continues after
        the scope's last checkpointed level."""
        cfg = self.config
        subdir = None
        if root is not None:
            subdir = f"subtree_{self._rank[root]}"
            top = replace(top, prevalent=[p for p in top.prevalent if p[0] == root])
        chain = self._load_manifests(subdir, first=3) if resume else []
        if chain:
            top = self._replay(chain, res, subdir)
        last_k = len(res.counts)
        if cfg.max_pattern_size is not None:
            last_k = min(last_k, cfg.max_pattern_size)
        try:
            while top.prevalent and top.k < last_k:
                t0 = time.time()
                k = top.k + 1
                candidates = generate_candidates(top.prevalent, self._rank)
                filtered = filter_candidates(
                    candidates, set(top.prevalent), top.pi, res.counts, res.delta,
                    cfg.min_prevalence, use_lemma3=root is None,
                )
                if not filtered:
                    break
                t_k = self._table_k(top.table, edges, filtered, top.filtered, k)
                # Truncate lineage: each level joins against the previous one
                # and the plan tree would otherwise grow exponentially (SURVEY
                # §7).  The checkpoint is lazy: the participation collect is
                # the one action of the level, and it stores the level's rows
                # for the next join (and the parquet write) as it runs.  The
                # final level is exempt: no level k+1 will read it, so
                # participation aggregates straight off the fused join.
                if k < last_k or cfg.checkpoint_dir:
                    t_k = t_k.localCheckpoint(eager=False)
                level = self._finish_level(
                    res, k, t_k, len(candidates), filtered, self._participation(t_k), t0, root
                )
                if top.k > 2:
                    top.table.unpersist()
                top = level
        finally:
            if top.k > 2:
                top.table.unpersist()

    # ---------------------------------------------------------------- mine
    def mine(
        self, instances: DataFrame, resume: bool = False, _encode: bool = True
    ) -> MiningResult:
        """Level-wise plan (paper Algorithm 2): one scope over all features."""
        with self._prologue(instances, resume, _encode) as (res, edges, level2, resumed):
            self._mine_scope(res, edges, level2, resume=resumed)
        return res

    def mine_subtrees(
        self,
        instances: DataFrame,
        max_workers: int = 8,
        resume: bool = False,
        _encode: bool = True,
    ) -> MiningResult:
        """Paper Algorithm-3 physical plan (§5.2): partition mining by the
        pattern's rarest feature.

        Lemma 5: a pattern's canonical first feature determines its subtree,
        so per-subtree results are disjoint and the union needs no dedup.
        Per subtree only Lemma 2 applies (the subset dropping f_min belongs
        to another subtree — Lemma 3's PI lookup is unavailable; Lemma 6 is
        its per-subtree replacement and is subsumed here by computing WPI
        exactly).  Output is identical to ``mine()``: prevalence is
        intrinsic (WPI >= min_prev over the same cliques) and Lemma 2 makes
        the per-subtree stopping rule equivalent to the global one.

        Physically: the prologue (edges and the global level 2) is shared
        with ``mine()``; then one level loop per root feature mines k >= 3
        CONCURRENTLY from a thread pool — per-level driver barriers of
        different subtrees overlap, so executors stay busy where the
        level-wise plan would idle at each collect.  Patterns and level
        stats are merged in root order.

        Checkpoint/resume: level 2 is the shared ``level_2/``, and each
        subtree writes its levels k >= 3 under ``subtree_<root_rank>/``, so
        ``mine_subtrees(resume=True)`` resumes the level 2 of either plan
        and restarts every subtree after its own last complete level — a
        failure mid-run costs at most one level per in-flight subtree.
        Per-subtree ``level_2`` checkpoints of older layouts are not
        resumed: such a run starts from scratch.
        """
        with self._prologue(instances, resume, _encode) as (res, edges, level2, resumed):

            def scope(root: str) -> MiningResult:
                out = MiningResult([], {}, res.counts, res.delta, res.pair_count)
                self._mine_scope(out, edges, level2, root, resumed)
                return out

            with ThreadPoolExecutor(max_workers=max_workers) as ex:
                for out in ex.map(scope, measures.rank_features(res.counts)):
                    res.patterns.extend(out.patterns)
                    res.wpi.update(out.wpi)
                    res.levels.extend(out.levels)
        return res

    # ------------------------------------------------------- plan selector
    # Measured crossover (BENCH/BASELINE.md "Plan choice at this scale"):
    # the subtree plan's concurrent per-level barriers win only once driver
    # barriers dominate — at the 2M-instance workload it is the faster and
    # better-scaling plan, while on both reference datasets (23k-50k
    # instances) it measured SLOWER than level-wise (9.55 vs 4.6-14.8 s
    # legs).  ~1M instances is where the regimes flip on this hardware.
    AUTO_SUBTREE_THRESHOLD = 1_000_000

    def mine_auto(
        self,
        instances: DataFrame,
        resume: bool = False,
        n_instances: int | None = None,
        max_workers: int = 8,
    ) -> MiningResult:
        """Mine with the measured-best physical plan for the input size:
        level-wise (``mine``) below ``AUTO_SUBTREE_THRESHOLD`` instances,
        per-subtree concurrent (``mine_subtrees``) at or above it.  Both
        plans produce identical results (Lemma 5/6 — see
        ``mine_subtrees``), so this only picks the faster schedule.

        ``n_instances`` skips the sizing ``count()`` when the caller
        already knows the cardinality (e.g. from table stats).

        On ``resume=True`` an existing checkpoint's plan takes precedence
        over the size heuristic: level 2 is shared, but levels k >= 3 live
        under ``level_k/`` or ``subtree_*/level_k/``, and switching plans
        mid-run would mine them again instead of resuming.
        """
        ck = self.config.checkpoint_dir
        if resume and ck and os.path.isdir(ck):
            subtrees = [n for n in os.listdir(ck) if n.startswith("subtree_")]
            if any(self._load_manifests(n, first=3) for n in subtrees):
                return self.mine_subtrees(
                    instances, max_workers=max_workers, resume=True
                )
            if self._load_manifests(first=3):
                return self.mine(instances, resume=True)
        n = n_instances if n_instances is not None else instances.count()
        if n >= self.AUTO_SUBTREE_THRESHOLD:
            return self.mine_subtrees(
                instances, max_workers=max_workers, resume=resume
            )
        return self.mine(instances, resume=resume)
