"""Level-wise joinless co-location miner (WPI measure, rare features).

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

Spark actions: one stats aggregate before level 2 (feature histogram,
coordinate check, the pair join's hot cells and the id-hash check, see
``_stats``), then one participation collect per level.  Levels k >= 3 are
checkpointed lazily, so that collect also stores the level table the next
level joins against; no action runs on a background thread.

Checkpoint/resume: with ``config.checkpoint_dir`` set, each level's table
instance is written to parquet together with a JSON manifest carrying the
level's candidates, prevalent set, PI map, per-partition row counts and
lineage ids; ``mine(resume=True)`` reloads the last level of the unbroken
chain from level 2 and continues, so a failure mid-level-k costs only that
level.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field

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


class ColocationMiner:
    """End-to-end mining plan over an instance DataFrame
    ``(feature string, id string, x double, y double)``."""

    def __init__(self, spark: SparkSession, config: ColocationConfig):
        self.spark = spark
        self.config = config
        #: (grid, hot cells) of the pair join, counted by ``_stats``
        self._pair_plan = (None, None)

    # ------------------------------------------------------------------ io
    def _ckpt_path(self, *parts: str) -> str:
        assert self.config.checkpoint_dir
        return os.path.join(self.config.checkpoint_dir, *parts)

    def _write_level(
        self,
        k: int,
        table: DataFrame,
        table_rows: int,
        filtered: list[Pattern],
        prevalent: list[Pattern],
        pi_map: dict[Pattern, float],
        wpi_map: dict[Pattern, float],
        encode_ids: bool = True,
        subdir: str | None = None,
    ) -> None:
        if not self.config.checkpoint_dir:
            return
        parts = ([subdir] if subdir else []) + [f"level_{k}"]
        path = self._ckpt_path(*parts)
        table_dir = os.path.join(path, "table")
        table.write.mode("overwrite").parquet(table_dir)
        part_counts = self._partition_counts(table_dir)
        manifest = {
            "level": k,
            "row_count": table_rows,
            "partition_row_counts": part_counts,
            "filtered_candidates": [list(p) for p in filtered],
            "prevalent": [list(p) for p in prevalent],
            "pi": {",".join(p): v for p, v in pi_map.items()},
            "wpi": {",".join(p): v for p, v in wpi_map.items()},
            "lineage": {
                "config": {
                    "neighbor_distance": self.config.neighbor_distance,
                    "min_prevalence": self.config.min_prevalence,
                    "approx_rsd": self.config.approx_rsd,
                    "max_pattern_size": self.config.max_pattern_size,
                },
                "encode_ids": encode_ids,
                "written_at": time.time(),
            },
        }
        tmp = os.path.join(path, "manifest.json.tmp")
        os.makedirs(os.path.dirname(tmp), exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(path, "manifest.json"))

    def _partition_counts(self, table_dir: str) -> list[list[int]]:
        """Per-partition row counts for the manifest.

        Fast path: parquet FOOTERS of the files just written — metadata-
        only, no second scan (each task writes one part file, so file ==
        partition).  That hard-binds to a driver-local checkpoint dir; when
        the dir is not locally listable (e.g. an hdfs:// / s3a:// URI, or
        a writer that produced a layout listdir cannot see) fall back to a
        Spark re-read counted by partition id, which works on any
        filesystem Spark can reach."""
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
            except Exception:  # noqa: BLE001 — any unusable fast path
                # (missing pyarrow, unreadable dir, corrupt footer) must
                # fall through to the Spark re-read, never abort the run
                pass
        # per-FILE counts via input_file_name() — immune to the reader's
        # split combining (spark_partition_id of a fresh read reflects
        # maxPartitionBytes packing, not the written partitions).  NOTE:
        # zero-row part files produce no group here, so this path omits
        # them where the footer path lists [i, 0] — only the sum is
        # contractual; the per-entry list is diagnostic.
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

    def _load_manifests(self, subdir: str | None = None) -> list[dict]:
        base = self.config.checkpoint_dir
        if base and subdir:
            base = os.path.join(base, subdir)
        if not base or not os.path.isdir(base):
            return []
        out = []
        for name in sorted(os.listdir(base)):
            mpath = os.path.join(base, name, "manifest.json")
            if name.startswith("level_") and os.path.exists(mpath):
                with open(mpath) as f:
                    out.append(json.load(f))
        # only the unbroken chain from level 2 belongs to one run: a level
        # after a missing one was written before it and is not resumed
        chain: list[dict] = []
        for m in sorted(out, key=lambda m: m["level"]):
            if m["level"] != len(chain) + 2:
                break
            chain.append(m)
        return chain

    def _validate_manifest_config(self, last: dict) -> None:
        """Checkpointed levels were mined under a specific semantic config;
        silently mixing levels from different (d, min_prev) — or exact vs
        HLL-approximate participation — would corrupt the result set.
        Refuse to resume on mismatch.  (Manifests written before approx_rsd
        existed carry no key: treat as exact, i.e. None.)"""
        cfg = self.config
        ck = last["lineage"]["config"]
        # max_pattern_size participates too: resuming a deeper-mined
        # checkpoint under a smaller cap would report manifest patterns
        # above the active cap (manifests written before the key existed
        # carry None = uncapped).
        if (
            ck["neighbor_distance"] != cfg.neighbor_distance
            or ck["min_prevalence"] != cfg.min_prevalence
            or ck.get("approx_rsd") != cfg.approx_rsd
            or ck.get("max_pattern_size") != cfg.max_pattern_size
        ):
            raise ValueError(
                "checkpoint was mined under config "
                f"(d={ck['neighbor_distance']}, "
                f"min_prev={ck['min_prevalence']}, "
                f"approx_rsd={ck.get('approx_rsd')}, "
                f"max_pattern_size={ck.get('max_pattern_size')}) but the "
                f"active config is (d={cfg.neighbor_distance}, "
                f"min_prev={cfg.min_prevalence}, "
                f"approx_rsd={cfg.approx_rsd}, "
                f"max_pattern_size={cfg.max_pattern_size}); clear "
                f"{cfg.checkpoint_dir} or match the config to resume"
            )

    def _load_manifests_any_subtree(self) -> list[dict]:
        """Manifests from any ``subtree_*`` dir (first found wins upstream:
        callers only need one to pin encoding/config)."""
        base = self.config.checkpoint_dir
        if not base or not os.path.isdir(base):
            return []
        out: list[dict] = []
        for name in sorted(os.listdir(base)):
            if name.startswith("subtree_"):
                out.extend(self._load_manifests(subdir=name))
        return out

    def _invalidate_manifests(self) -> None:
        """Remove every level manifest (levelwise and per-subtree) AND the
        edge-table manifest so no later resume can mix id encodings after
        a collision fallback (the bucketed edge files carry tainted
        encoded ids; the fallback rerun rewrites them as strings)."""
        cfg = self.config
        if not (cfg.checkpoint_dir and os.path.isdir(cfg.checkpoint_dir)):
            return
        for root, _dirs, files in os.walk(cfg.checkpoint_dir):
            if "manifest.json" in files and os.path.basename(root).startswith(
                "level_"
            ):
                os.remove(os.path.join(root, "manifest.json"))
        edges_man = os.path.join(cfg.checkpoint_dir, "edges_manifest.json")
        if os.path.exists(edges_man):
            os.remove(edges_man)

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
        grid = None if cfg.adaptive_cell_split else origin_grid(cfg.effective_cell_size())
        salt = cfg.salt_threshold if grid is not None else None
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
        self._pair_plan = (grid, hot if grid is not None else None)
        injective = not of.get("hash")
        counts = {r["feature"]: r["n"] for r in of["feature"]}
        rank = {f: i for i, f in enumerate(measures.rank_features(counts))}
        self._rank = rank
        return counts, rank, measures.delta(counts), lambda: injective

    def _encoded_edges(self, instances: DataFrame, counts, rank, encode_ids):
        """Star edges with features as canonical-rank ints (no shuffle ever
        moves feature strings) and ids xxhash64-encoded when injective."""
        edges = star_edges(self.build_pairs(instances), counts)
        rank_expr = (
            F.create_map(*[F.lit(x) for kv in rank.items() for x in kv])
            if rank
            else F.create_map()
        )
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
        return (
            f"center_feature INT, center_id {idt}, "
            f"nbr_feature INT, nbr_id {idt}"
        )

    def _edge_table(
        self,
        instances: DataFrame,
        counts: Mapping[str, int],
        rank: Mapping[str, int],
        encode_ids: bool,
        resume: bool,
    ) -> DataFrame:
        """The edge table each level joins against — durable and bucketed
        when checkpointing (round-5 verdict #1).

        Without a checkpoint dir: the round-3 in-session plan (one upfront
        repartition on the clique-join key, cached).  With one: the edges
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
        tmp = man_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "neighbor_distance": cfg.neighbor_distance,
                    "encode_ids": encode_ids,
                    "num_buckets": nbuckets,
                    "table": table,
                    "written_at": time.time(),
                },
                f,
            )
        os.replace(tmp, man_path)
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
        """Neighbor pairs on the grid and hot cells ``_stats`` counted (or,
        with adaptive cell split, on the operator's own bounds grid)."""
        cfg = self.config
        grid, hot = self._pair_plan
        return neighbor_pairs(
            instances,
            cfg.neighbor_distance,
            cell_size=cfg.effective_cell_size(),
            salt_threshold=cfg.salt_threshold,
            salt_buckets=cfg.salt_buckets,
            adaptive_cell_split=cfg.adaptive_cell_split,
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
        self, t_k: DataFrame
    ) -> tuple[dict[int, dict[int, int]], dict[int, int]]:
        """A6 in one pass: distinct participating instances per (pid,
        position) plus the per-pattern row count (same aggregation, no
        separate count job)."""
        rows = (
            t_k.select(F.col("pid"), F.posexplode(F.col("inst")))
            .groupBy("pid", "pos")
            .agg(self._ndistinct("col").alias("n"), F.count("*").alias("rows"))
            .collect()
        )
        part: dict[int, dict[int, int]] = {}
        counts: dict[int, int] = {}
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

    # ---------------------------------------------------------------- mine
    def mine(
        self, instances: DataFrame, resume: bool = False, _encode: bool = True
    ) -> MiningResult:
        cfg = self.config
        spark = self.spark

        encode_ids = _encode
        # A checkpoint fixes the id representation of its level tables: a
        # resumed run must build its edges with the SAME encoding or the
        # t_prev <-> edges join would silently compare strings to longs.
        resume_manifests: list[dict] = []
        if resume:
            resume_manifests = self._load_manifests()
            if resume_manifests:
                encode_ids = resume_manifests[-1]["lineage"].get(
                    "encode_ids", True
                )

        counts, rank, delta_value, join_check = self._stats(
            instances, check_hashes=encode_ids
        )
        # Duplicate or colliding ids: mine with exact string ids instead.  Any
        # checkpoint of an earlier encoded run is invalidated so no later
        # resume can mix encodings.
        if encode_ids and not join_check():
            self._invalidate_manifests()
            return self.mine(instances, resume=False, _encode=False)

        # pairs -> edges is one linear pipeline; only the edges need to be
        # kept (one edge per pair, so pair_count == T_2 rows — no separate
        # count jobs over pairs or edges).
        edges = self._edge_table(instances, counts, rank, encode_ids, resume)
        if cfg.persist_intermediates:
            edges = edges.persist()
        pair_count = 0

        all_patterns: list[Pattern] = []
        all_wpi: dict[Pattern, float] = {}
        levels: list[LevelStats] = []

        # Level 2 init (or resume from checkpointed level state).
        start_k = 2
        t_prev: DataFrame | None = None
        prevalent_prev: list[Pattern] = []
        filtered_prev: list[Pattern] = []
        pi_prev: dict[Pattern, float] = {}
        if resume:
            manifests = resume_manifests
            if manifests:
                last = manifests[-1]
                # Checkpointed levels were mined under a specific semantic
                # config; silently mixing levels from different (d, min_prev)
                # — or exact vs HLL-approximate participation — would corrupt
                # the result set. Refuse to resume on mismatch. (Manifests
                # written before approx_rsd existed carry no key: treat as
                # exact, i.e. None.)
                self._validate_manifest_config(last)
                for m in manifests:
                    if m["level"] == 2:
                        pair_count = m["row_count"]
                start_k = last["level"] + 1
                t_prev = spark.read.parquet(
                    self._ckpt_path(f"level_{last['level']}", "table")
                )
                for m in manifests:
                    prev = [tuple(p) for p in m["prevalent"]]
                    all_patterns.extend(prev)
                    for key, v in m["wpi"].items():
                        pat = tuple(key.split(","))
                        if pat in set(prev):
                            all_wpi[pat] = v
                prevalent_prev = [tuple(p) for p in last["prevalent"]]
                filtered_prev = [tuple(p) for p in last["filtered_candidates"]]
                pi_prev = {tuple(k.split(",")): v for k, v in last["pi"].items()}

        k = start_k
        features_ranked = measures.rank_features(counts)
        # Guard the loop entry, not just its bottom: a resume from a
        # COMPLETED size-capped run sets start_k = cap + 1, which must
        # mine nothing rather than one level past the configured cap.
        # The finally mirrors mine_subtrees: a level job failing mid-loop
        # must not leave the edge cache or the last level's checkpoint
        # pinned for the life of the session.
        try:
          while (
            cfg.max_pattern_size is None or k <= cfg.max_pattern_size
          ) and k <= max(2, len(counts)):
            t0 = time.time()
            if k == 2:
                # C_2 = all rank-ordered feature pairs; no Lemma filtering
                # (reference src/miner.cpp:64-71).
                candidates = [
                    (features_ranked[i], features_ranked[j])
                    for i in range(len(features_ranked))
                    for j in range(i + 1, len(features_ranked))
                ]
                filtered = candidates
                pid_map = spark.createDataFrame(
                    [(rank[c[0]], rank[c[1]], pid) for pid, c in enumerate(filtered)],
                    "center_feature int, nbr_feature int, pid int",
                )
                t_k = edges.join(
                    F.broadcast(pid_map), ["center_feature", "nbr_feature"]
                ).select(
                    "pid",
                    F.array(F.col("center_id"), F.col("nbr_id")).alias("inst"),
                )
                # k=2 participation straight off the edges: the star edge IS
                # the size-2 row instance, so per-(pattern, position) distinct
                # counts need no posexplode pass over a materialized T_2.
                part = {}
                rows_by_pid = {}
                pid_of = {(rank[c[0]], rank[c[1]]): pid for pid, c in enumerate(filtered)}
                for r in (
                    edges.groupBy("center_feature", "nbr_feature")
                    .agg(
                        self._ndistinct("center_id").alias("n0"),
                        self._ndistinct("nbr_id").alias("n1"),
                        F.count("*").alias("rows"),
                    )
                    .collect()
                ):
                    pid = pid_of[(r["center_feature"], r["nbr_feature"])]
                    part[pid] = {0: r["n0"], 1: r["n1"]}
                    rows_by_pid[pid] = r["rows"]
            else:
                if not prevalent_prev:
                    break
                candidates = generate_candidates(prevalent_prev, rank)
                filtered = filter_candidates(
                    candidates,
                    set(prevalent_prev),
                    pi_prev,
                    counts,
                    delta_value,
                    cfg.min_prevalence,
                )
                if not filtered:
                    break
                t_k = self._table_k(t_prev, edges, filtered, filtered_prev, k)

            # Truncate lineage: each level joins against the previous one and
            # the plan tree would otherwise grow exponentially (SURVEY §7).
            # The checkpoint is lazy: the participation collect is the one
            # action of the level, and it stores the level's rows for the next
            # join (and the parquet write) as it runs.
            # T_2 is exempt: it is a pure projection of the persisted edges,
            # so materializing it would double-store the biggest table.
            # The FINAL level is also exempt: no level k+1 will read it, so
            # participation aggregates straight off the fused join pipeline.
            is_final = (
                cfg.max_pattern_size is not None and k >= cfg.max_pattern_size
            ) or k >= len(counts)
            if k > 2:
                if not is_final or self.config.checkpoint_dir:
                    t_k = t_k.localCheckpoint(eager=False)
                part, rows_by_pid = self._participation(t_k)
            table_rows = sum(rows_by_pid.values())
            if k == 2:
                pair_count = table_rows
            prevalent, pi_map, wpi_map = self._select_prevalent(
                filtered, part, counts, delta_value
            )
            self._write_level(
                k, t_k, table_rows, filtered, prevalent, pi_map, wpi_map,
                encode_ids=encode_ids,
            )

            all_patterns.extend(prevalent)
            for c in prevalent:
                all_wpi[c] = wpi_map[c]
            levels.append(
                LevelStats(k, len(candidates), len(filtered), len(prevalent), table_rows, time.time() - t0)
            )

            if t_prev is not None:
                t_prev.unpersist()
            t_prev = t_k
            prevalent_prev, pi_prev = prevalent, pi_map
            filtered_prev = filtered
            k += 1
            if not prevalent_prev:
                break
            if cfg.max_pattern_size is not None and k > cfg.max_pattern_size:
                break
            if k > len(counts):
                break
        finally:
            if t_prev is not None:
                t_prev.unpersist()
            if cfg.persist_intermediates:
                edges.unpersist()

        return MiningResult(
            patterns=all_patterns,
            wpi=all_wpi,
            counts=counts,
            delta=delta_value,
            pair_count=pair_count,
            levels=levels,
        )

    # ---------------------------------------------------- subtree variant
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

        Physically: subtrees share one persisted edge table and one global
        level-2 stats job, then run their level loops CONCURRENTLY from a
        thread pool — per-level driver barriers of different subtrees
        overlap, so executors stay busy where the level-wise plan would
        idle at each collect.

        Checkpoint/resume mirrors ``mine()`` at subtree granularity: with
        ``config.checkpoint_dir`` set, each subtree writes its levels under
        ``subtree_<root_rank>/level_<k>/`` (same manifest format), and
        ``mine_subtrees(resume=True)`` restarts every subtree after its own
        last complete level — a failure mid-run costs at most one level per
        in-flight subtree.
        """
        cfg = self.config
        spark = self.spark

        encode_ids = _encode
        if resume:
            # any subtree manifest fixes the id encoding for the whole run
            # (all subtrees share one edge table)
            for m in self._load_manifests_any_subtree():
                encode_ids = m["lineage"].get("encode_ids", True)
                self._validate_manifest_config(m)
                break

        counts, rank, delta_value, join_check = self._stats(
            instances, check_hashes=encode_ids
        )
        if encode_ids and not join_check():
            self._invalidate_manifests()
            return self.mine_subtrees(
                instances, max_workers=max_workers, _encode=False
            )
        ranked = measures.rank_features(counts)
        edges = self._edge_table(
            instances, counts, rank, encode_ids, resume
        ).persist()

        # One global job covers every subtree's level-2 participation.
        k2_rows = (
            edges.groupBy("center_feature", "nbr_feature")
            .agg(
                self._ndistinct("center_id").alias("n0"),
                self._ndistinct("nbr_id").alias("n1"),
                F.count("*").alias("rows"),
            )
            .collect()
        )
        k2 = {(r["center_feature"], r["nbr_feature"]): r for r in k2_rows}
        pair_count = sum(r["rows"] for r in k2_rows)

        def run_subtree(f: str) -> tuple[list[Pattern], dict[Pattern, float], list[LevelStats]]:
            root = rank[f]
            sd = f"subtree_{root}"
            patterns: list[Pattern] = []
            wpi_all: dict[Pattern, float] = {}
            levels: list[LevelStats] = []

            manifests = self._load_manifests(subdir=sd) if resume else []
            if manifests:
                last = manifests[-1]
                self._validate_manifest_config(last)
                for m in manifests:
                    prev = [tuple(p) for p in m["prevalent"]]
                    patterns.extend(prev)
                    prev_set = set(prev)
                    for key, v in m["wpi"].items():
                        pat = tuple(key.split(","))
                        if pat in prev_set:
                            wpi_all[pat] = v
                prevalent_prev = [tuple(p) for p in last["prevalent"]]
                filtered_prev = [
                    tuple(p) for p in last["filtered_candidates"]
                ]
                t_prev = spark.read.parquet(
                    self._ckpt_path(sd, f"level_{last['level']}", "table")
                )
                k = last["level"] + 1
                checkpointed: DataFrame | None = None
            else:
                t0 = time.time()
                filtered: list[Pattern] = [
                    (f, g) for g in ranked if rank[g] > root
                ]
                if not filtered:
                    return patterns, wpi_all, levels
                part: dict[int, dict[int, int]] = {}
                rows_by_pid: dict[int, int] = {}
                for pid, c in enumerate(filtered):
                    r = k2.get((rank[c[0]], rank[c[1]]))
                    if r is not None:
                        part[pid] = {0: r["n0"], 1: r["n1"]}
                        rows_by_pid[pid] = r["rows"]
                prevalent, pi_map, wpi_map = self._select_prevalent(
                    filtered, part, counts, delta_value
                )
                pid_map = spark.createDataFrame(
                    [(rank[c[0]], rank[c[1]], pid) for pid, c in enumerate(filtered)],
                    "center_feature int, nbr_feature int, pid int",
                )
                t_prev = edges.join(
                    F.broadcast(pid_map), ["center_feature", "nbr_feature"]
                ).select(
                    "pid",
                    F.array(F.col("center_id"), F.col("nbr_id")).alias("inst"),
                )
                self._write_level(
                    2, t_prev, sum(rows_by_pid.values()), filtered, prevalent,
                    pi_map, wpi_map, encode_ids=encode_ids, subdir=sd,
                )
                patterns.extend(prevalent)
                for c in prevalent:
                    wpi_all[c] = wpi_map[c]
                levels.append(
                    LevelStats(
                        2, len(filtered), len(filtered), len(prevalent),
                        sum(rows_by_pid.values()), time.time() - t0, f,
                    )
                )

                prevalent_prev, filtered_prev = prevalent, filtered
                k = 3
                checkpointed = None
            while prevalent_prev and k <= len(counts) and (
                cfg.max_pattern_size is None or k <= cfg.max_pattern_size
            ):
                t0 = time.time()
                candidates = generate_candidates(prevalent_prev, rank)
                filtered = filter_candidates(
                    candidates, set(prevalent_prev), {}, counts,
                    delta_value, cfg.min_prevalence, use_lemma3=False,
                )
                if not filtered:
                    break
                t_k = self._table_k(t_prev, edges, filtered, filtered_prev, k)
                is_final = (
                    cfg.max_pattern_size is not None and k >= cfg.max_pattern_size
                ) or k >= len(counts)
                if not is_final or cfg.checkpoint_dir:
                    t_k = t_k.localCheckpoint(eager=False)
                part, rows_by_pid = self._participation(t_k)
                prevalent, pi_map, wpi_map = self._select_prevalent(
                    filtered, part, counts, delta_value
                )
                self._write_level(
                    k, t_k, sum(rows_by_pid.values()), filtered, prevalent,
                    pi_map, wpi_map, encode_ids=encode_ids, subdir=sd,
                )
                patterns.extend(prevalent)
                for c in prevalent:
                    wpi_all[c] = wpi_map[c]
                levels.append(
                    LevelStats(
                        k, len(candidates), len(filtered), len(prevalent),
                        sum(rows_by_pid.values()), time.time() - t0, f,
                    )
                )
                if checkpointed is not None:
                    checkpointed.unpersist()
                checkpointed = t_k if not is_final else None
                t_prev = t_k
                prevalent_prev, filtered_prev = prevalent, filtered
                k += 1
            if checkpointed is not None:
                checkpointed.unpersist()
            return patterns, wpi_all, levels

        from concurrent.futures import ThreadPoolExecutor

        try:
            with ThreadPoolExecutor(max_workers=max_workers) as ex:
                results = list(ex.map(run_subtree, ranked))
        finally:
            # a failing subtree (config mismatch on resume, executor error)
            # must not leave the freshly-shuffled edge cache pinned
            edges.unpersist()

        all_patterns: list[Pattern] = []
        all_wpi: dict[Pattern, float] = {}
        all_levels: list[LevelStats] = []
        for pats, wmap, lvls in results:
            all_patterns.extend(pats)
            all_wpi.update(wmap)
            all_levels.extend(lvls)
        return MiningResult(
            patterns=all_patterns,
            wpi=all_wpi,
            counts=counts,
            delta=delta_value,
            pair_count=pair_count,
            levels=all_levels,
        )

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
        over the size heuristic: level manifests are laid out differently
        per plan (``level_k/`` vs ``subtree_*/level_k/``), so switching
        plans mid-run would silently restart from scratch instead of
        resuming.
        """
        if resume and self.config.checkpoint_dir:
            if self._load_manifests():
                return self.mine(instances, resume=True)
            if self._load_manifests_any_subtree():
                return self.mine_subtrees(
                    instances, max_workers=max_workers, resume=True
                )
        n = n_instances if n_instances is not None else instances.count()
        if n >= self.AUTO_SUBTREE_THRESHOLD:
            return self.mine_subtrees(
                instances, max_workers=max_workers, resume=resume
            )
        return self.mine(instances, resume=resume)
