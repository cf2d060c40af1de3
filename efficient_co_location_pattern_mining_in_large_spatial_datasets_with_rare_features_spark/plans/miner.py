"""Joinless co-location miner (WPI measure, rare features).

The cluster does the heavy lifting (neighbor pairs, star edges, clique
enumeration, distinct participation counts); the driver holds only the tiny
candidate/prevalent bookkeeping — candidate sets are bounded by the number
of *feature* subsets, not instances, so they are at most a few thousand
tuples even at 10^12 instances.

Dataflow (paper Algorithms 1-3; reference src/miner.cpp:24-98):

    edges = rank-oriented neighbor pairs (= T_2)             [cluster, J1-J3]
    PR_2  = per (pair, position) distinct count              [cluster, A6]
    T_3   = edges(c->u) |x| edges(u->v), closed by c->v      [cluster, J4]
    T_k   = every clique of size 3..last_k inside Star(c),   [cluster, J5/J6]
            one grouped task per bucket of centers c
    PR_k  = per (pattern, position) distinct count, all k    [cluster, A6]
    then, per level k >= 3, on the driver only:
    C_k   = apriori join of prevalent (k-1) patterns         [driver, J7]
    C_k'  = Lemma-2 + Lemma-3 pruning (skipped at k=2)       [driver, J8]
    P_k   = { C : min_f PR(f,C) * w(f,C) >= min_prev }       [driver, A9]

Star edges point from lower to higher feature rank, so every row instance
{o_1..o_k} lies inside the star of its rarest member o_1 (the paper's
ordered NR-tree, Def. 8): one pass grouped by center enumerates every level
at once (``_table_k``), and the level loop only looks participation up in
its one collected table.  The pass keeps a clique only if each pair
(c[0], c[i]) is a prevalent size-2 pattern, which Lemma 2 implies for every
candidate, so it loses none.

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
one scope per rarest feature from a thread pool (Algorithm 3).  Every scope
shares the one clique pass.

Spark actions: one stats aggregate before level 2 (feature histogram,
coordinate check, the pair join's hot cells and the id-hash check, see
``_stats``), one level-2 participation collect, and one collect of the
clique pass for every level k >= 3, run only if some scope reaches k = 3.
No action runs on a background thread.

Checkpoint/resume: with ``config.checkpoint_dir`` set, the edges are
written once as a bucketed parquet table and each level writes a JSON
manifest carrying its row count, candidates, prevalent set, PI and WPI maps
and lineage.  Level 2 is shared by both plans (``level_2/``); levels k >= 3
go to ``level_<k>/`` (``mine``) or ``subtree_<rank>/level_<k>/``
(``mine_subtrees``).  ``resume=True`` replays level 2 and then, per scope,
the unbroken chain of manifests above it, and runs the clique pass only if
a scope still has levels to mine; either plan resumes the other's level 2.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections.abc import Callable, Iterator, Mapping, Sequence
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field, replace

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ColocationConfig
from ..functions import measures
from ..operators.cells import origin_grid, with_cell
from ..operators.pairs import neighbor_pairs
from ..operators.stars import star_edges

Pattern = tuple[str, ...]
#: participation per pattern and position, and row count per pattern
Participation = tuple[dict[Pattern, dict[int, int]], dict[Pattern, int]]

#: center buckets of the clique pass per shuffle partition: more, smaller
#: groups bound the memory one grouped-map call holds
BUCKETS_PER_PARTITION = 4


def star_cliques(n_features: int, last_k: int) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """The clique pass's grouped-map kernel: every clique of size
    3..``last_k`` of one bucket of star centers, as distinct ``(pattern,
    pos, id, n)``: instance ``id`` is member ``pos`` of ``n`` cliques of
    ``pattern`` (comma-joined feature ranks).

    Its input holds a row ``(c_f, c_id, member_f, member_id, v_f, v_id)``
    for every path c -> u -> v of a center c in the bucket, and a row with
    v = u for every star edge c -> u that no path continues; so the first
    hops are the stars, and a path closes a triangle when c -> v is one.  A
    clique lies inside the star of its first (rarest) member, so a
    (j+1)-clique is a j-clique extended by a v of a triangle (c[0], c[-1],
    v) that neighbors every other member — an edge (c[i], v), which the
    triangle (c[0], c[i], v) carries.  Instances are keyed by (feature
    rank, id) and coded densely inside the task.

    The kernel is a closure, so Spark ships it by value and the Python
    workers need not import this package."""

    def contains(keys: np.ndarray, queries: np.ndarray) -> np.ndarray:
        return pd.Series(queries).isin(keys).to_numpy()

    def kernel(paths: pd.DataFrame) -> pd.DataFrame:
        m = len(paths)
        # dense instance codes: hash factorization, no sort
        id_code, ids = pd.factorize(np.concatenate([paths["c_id"], paths["member_id"], paths["v_id"]]))
        feature = np.concatenate([paths["c_f"], paths["member_f"], paths["v_f"]]).astype(np.int64)
        code, inst = pd.factorize(id_code * n_features + feature)
        n = len(inst)
        c, u, v = code.reshape(3, m)
        closed = (u != v) & contains(c * n + u, c * n + v)
        c, u, v = c[closed], u[closed], v[closed]
        # triangles sorted by (c, u, v), each once: cu = c*n + u keys the
        # triangles of center c through member u, u*n + v an edge of members
        cu = c * n + u
        order = np.lexsort((v, cu))
        cu, v = cu[order], v[order]
        first = np.ones(len(cu), dtype=bool)
        first[1:] = (cu[1:] != cu[:-1]) | (v[1:] != v[:-1])
        cu, v = cu[first], v[first]
        member_edges = cu % n * n + v
        inst_feature, inst_id = inst % n_features, ids[inst // n_features]
        # the triangles through each pair (c, u) are v[start : start + width]
        heads, start, width = np.unique(cu, return_index=True, return_counts=True)
        heads = pd.Index(heads)

        # start from the pairs (c, u) that lead a triangle; pid indexes
        # ``patterns``, the feature-rank tuples of the current size
        cliques = np.stack([heads // n, heads % n], axis=1)
        pid, codes = pd.factorize(inst_feature[cliques] @ [n_features, 1])
        patterns = [(x // n_features, x % n_features) for x in codes]
        out = []
        while cliques.shape[1] < last_k:
            # extend each clique by the v of every triangle (first, last, v)
            # that neighbors the members in between
            at = heads.get_indexer(cliques[:, 0] * n + cliques[:, -1])
            lo, w = start[at], np.where(at >= 0, width[at], 0)
            rows = np.repeat(np.arange(len(cliques)), w)
            # the t-th extension of clique i is triangle lo[i] + t
            nbr = v[np.repeat(lo - np.cumsum(w) + w, w) + np.arange(len(rows))]
            keep = np.ones(len(rows), dtype=bool)
            for pos in range(1, cliques.shape[1] - 1):
                keep &= contains(member_edges, cliques[rows, pos] * n + nbr)
            rows, nbr = rows[keep], nbr[keep]
            if not len(rows):
                break
            cliques = np.concatenate([cliques[rows], nbr[:, None]], axis=1)
            pid, codes = pd.factorize(pid[rows] * n_features + inst_feature[nbr])
            patterns = [patterns[x // n_features] + (x % n_features,) for x in codes]
            names = np.array([",".join(map(str, p)) for p in patterns], dtype=object)
            for pos in range(cliques.shape[1]):
                count = pd.Series(pid * n + cliques[:, pos]).value_counts(sort=False)
                key = count.index.to_numpy()
                out.append(pd.DataFrame({
                    "pattern": names[key // n], "pos": pos, "id": inst_id[key % n],
                    "n": count.to_numpy(),
                }))
        if not out:
            return pd.DataFrame({"pattern": [], "pos": [], "id": [], "n": []})
        return pd.concat(out)

    return kernel


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
    prevalent: list[Pattern]
    #: PI of every filtered candidate of the level (Lemma 3 reads it)
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
        manifest = {
            "level": k,
            "row_count": table_rows,
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
        self._dump_json(self._ckpt_path(*parts, "manifest.json"), manifest)

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

        Instance ids are xxhash64-encoded to int64 for every mining table;
        every join also keys by feature, so encoding is safe iff hashing is
        injective per feature.  Any (feature, hash) group holding more than
        one instance (duplicated input ids too) makes ``join_check()``
        return False, so the caller mines with exact string ids instead."""
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
        self._features = measures.rank_features(counts)
        rank = {f: i for i, f in enumerate(self._features)}
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

    #: bucket columns of the checkpointed edge table
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
        """The edge table level 2 and the clique pass read — durable and
        bucketed when checkpointing.

        Without a checkpoint dir: the in-session plan (the prologue caches
        it).  With one: the edges are written ONCE as a parquet table
        bucketed+sorted on (center_id, nbr_feature) under
        ``<checkpoint_dir>/edges``, and a RESUME (same or new session) re-attaches the layout via
        ``ensure_bucketed_table`` and skips the entire pairs -> stars ->
        edges recompute (the dominant fixed cost of re-mining; see
        BENCH/resume_ab.py).  The edge manifest pins neighbor_distance and
        the id encoding — the same trust model as level manifests."""
        cfg = self.config
        if not cfg.checkpoint_dir:
            return self._encoded_edges(instances, counts, rank, encode_ids)
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

    def _last_k(self, counts: Mapping[str, int]) -> int:
        """The largest pattern size a scope mines."""
        cap = self.config.max_pattern_size
        return len(counts) if cap is None else min(len(counts), cap)

    def _table_k(self, edges: DataFrame, pairs: Sequence[Pattern], last_k: int) -> DataFrame:
        """The clique pass, lazily: participation ``(pattern, pos, n,
        rows)`` of every clique of size 3..``last_k`` whose pairs (c[0],
        c[i]) are all in the prevalent ``pairs``.

        The paths c -> u -> v come from one left join of star edges on
        their member u, keyed by (feature rank, id) like every instance of
        the pass, and are grouped by a bucket of the center c:
        ``star_cliques`` keeps the paths that close a triangle and
        enumerates the larger cliques inside one task per bucket, and one
        aggregate counts distinct participating instances (the paper's
        S(I, f) = intersection of Neigh(o, f), Def. 8 eq. 10; reference
        src/miner.cpp:264-379).  The task reads each star off the paths'
        first hops, so closing the triangles there costs no semi-join with
        c -> v and no second shuffle of the paths."""
        nf = len(self._rank)
        ranked = {(self._rank[f], self._rank[g]) for f, g in pairs}
        # a member edge u -> v can close a triangle only if some center
        # feature forms a prevalent pair with both u's and v's feature (its
        # own pair may not be: Lemma 2 asks it only of subsets keeping c[0])
        closing = {(g, h) for f, g in ranked for f2, h in ranked if f == f2 and g < h}

        def star(pairs: set[tuple[int, int]], *names: str) -> DataFrame:
            # SQL text: one py4j call per operator, not one per literal
            keys = ", ".join(str(f * nf + g) for f, g in sorted(pairs))
            return edges.filter(f"center_feature * {nf} + nbr_feature IN ({keys})").toDF(*names)

        # A left join keeps the star edges no path continues, as v = u.  It
        # hashes the member edges instead of sorting both sides: on the sf0.1
        # flagship (4 cores) its stage fell from 2.0 to 0.55 s in the first
        # mine and from 0.7 to 0.3 s once warm.
        members = star(closing, "member_f", "member_id", "v_f", "v_id").hint("shuffle_hash")
        paths = star(ranked, "c_f", "c_id", "member_f", "member_id").join(
            members, ["member_f", "member_id"], "left"
        ).selectExpr(
            "c_f", "c_id", "member_f", "member_id",
            "coalesce(v_f, member_f) AS v_f", "coalesce(v_id, member_id) AS v_id",
            "pmod(hash(c_f, c_id), {}) AS bucket".format(
                BUCKETS_PER_PARTITION * int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            ),
        )
        id_type = "bigint" if self._encode_ids else "string"
        cliques = paths.groupBy("bucket").applyInPandas(
            star_cliques(nf, last_k),
            f"pattern string, pos int, id {id_type}, n bigint",
        )
        return cliques.groupBy("pattern", "pos").agg(
            self._ndistinct("id").alias("n"), F.sum("n").alias("rows")
        )

    def _ndistinct(self, col: str) -> F.Column:
        """Participation distinct-count aggregate: reference-exact
        ``countDistinct``, or a HyperLogLog++ sketch when the config opts
        into ``approx_rsd`` (constant state per group instead of a distinct
        shuffle)."""
        if self.config.approx_rsd is not None:
            return F.approx_count_distinct(col, self.config.approx_rsd)
        return F.countDistinct(col)

    def _participation(self, table: DataFrame) -> Participation:
        """Collect a participation table ``(pattern, pos, n, rows)``, the
        pattern given as comma-joined feature ranks: distinct participating
        instances per (pattern, position) and the pattern's row count."""
        part: dict[Pattern, dict[int, int]] = {}
        rows: dict[Pattern, int] = {}
        for r in table.collect():
            p = tuple(self._features[int(x)] for x in r["pattern"].split(","))
            part.setdefault(p, {})[r["pos"]] = r["n"]
            rows[p] = r["rows"]
        return part, rows

    def _select_prevalent(
        self,
        candidates: list[Pattern],
        part: dict[Pattern, dict[int, int]],
        counts: dict[str, int],
        delta_value: float,
    ) -> tuple[list[Pattern], dict[Pattern, float], dict[Pattern, float]]:
        prevalent: list[Pattern] = []
        pi_map: dict[Pattern, float] = {}
        wpi_map: dict[Pattern, float] = {}
        for c in candidates:
            by_pos = part.get(c, {})
            participating = {f: by_pos.get(i, 0) for i, f in enumerate(c)}
            pi_map[c] = measures.pi(c, participating, counts)
            w = measures.wpi(c, participating, counts, delta_value)
            wpi_map[c] = w
            if w >= self.config.min_prevalence:
                prevalent.append(c)
        return prevalent, pi_map, wpi_map

    # -------------------------------------------------------------- driver
    def _finish_level(
        self, res: MiningResult, k: int, n_candidates: int, filtered: list[Pattern],
        participation: Participation, t0: float, root: str | None = None,
    ) -> _Level:
        """Select level k's prevalent patterns from ``_participation``'s
        output, checkpoint the level and record it in ``res``."""
        part, rows = participation
        table_rows = sum(rows.get(c, 0) for c in filtered)
        prevalent, pi_map, wpi_map = self._select_prevalent(
            filtered, part, res.counts, res.delta
        )
        subdir = None if root is None else f"subtree_{self._rank[root]}"
        self._write_level(k, table_rows, filtered, prevalent, pi_map, wpi_map, subdir=subdir)
        res.patterns.extend(prevalent)
        res.wpi.update((c, wpi_map[c]) for c in prevalent)
        res.levels.append(
            LevelStats(k, n_candidates, len(filtered), len(prevalent), table_rows,
                       time.time() - t0, root)
        )
        return _Level(k, prevalent, pi_map)

    def _replay(self, chain: list[dict], res: MiningResult) -> _Level:
        """Add a checkpointed chain's patterns to ``res`` and return its last
        level."""
        last = chain[-1]
        self._validate_manifest_config(last)
        for m in chain:
            prevalent = [tuple(p) for p in m["prevalent"]]
            res.patterns.extend(prevalent)
            res.wpi.update((p, m["wpi"][",".join(p)]) for p in prevalent)
        return _Level(
            last["level"], prevalent, {tuple(p.split(",")): v for p, v in last["pi"].items()}
        )

    @contextmanager
    def _prologue(
        self, instances: DataFrame, resume: bool, encode_ids: bool
    ) -> Iterator[tuple[MiningResult, Callable[[], Participation], _Level, bool]]:
        """What both plans run once per call: stats, the string-id fallback,
        the persisted edge table and the global level 2 (mined, or replayed
        from ``level_2/``).

        Yields the result so far (level 2), the clique pass, level 2 and
        whether it was resumed, in which case the scopes may resume levels
        k >= 3.  The pass is a callable that runs ``_table_k`` on first use
        and returns its participation to every later caller, from any
        thread; the edges are unpersisted on exit."""
        level2 = self._load_manifests()[:1] if resume else []
        if level2:
            # keep the checkpoint's id representation, so its bucketed edges
            # are reused and a string-id run is not detected and restarted
            encode_ids = level2[0]["lineage"].get("encode_ids", True)
        counts, rank, delta_value, join_check = self._stats(
            instances, check_hashes=encode_ids
        )
        if not counts:  # empty input: no pairs, no patterns
            yield MiningResult([], {}, counts, delta_value, 0), None, _Level(2, [], {}), False
            return
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
                # (reference src/miner.cpp:64-71).  The star edge IS the
                # size-2 row instance, so the counts come straight off the
                # edges.
                ranked = measures.rank_features(counts)
                filtered = [(f, g) for i, f in enumerate(ranked) for g in ranked[i + 1 :]]
                pairs = edges.groupBy("center_feature", "nbr_feature").agg(
                    self._ndistinct("center_id").alias("n0"),
                    self._ndistinct("nbr_id").alias("n1"),
                    F.count("*").alias("rows"),
                )
                participation = self._participation(pairs.selectExpr(
                    "concat_ws(',', center_feature, nbr_feature) AS pattern",
                    "rows",
                    "inline(array(struct(0 AS pos, n0 AS n), struct(1 AS pos, n1 AS n)))",
                ))
                res.pair_count = sum(participation[1].values())
                top = self._finish_level(res, 2, len(filtered), filtered, participation, t0)
            lock, memo = threading.Lock(), []

            def cliques() -> Participation:
                with lock:
                    if not memo:
                        table = self._table_k(edges, top.prevalent, self._last_k(counts))
                        memo.append(self._participation(table))
                return memo[0]

            yield res, cliques, top, bool(level2)
        finally:
            edges.unpersist()

    def _mine_scope(
        self, res: MiningResult, cliques: Callable[[], Participation], top: _Level,
        root: str | None = None, resume: bool = False,
    ) -> None:
        """The level loop: mine levels k >= 3 of one scope into ``res``,
        starting from level 2 ``top``, with participation from the clique
        pass ``cliques``.

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
            top = self._replay(chain, res)
        while top.prevalent and top.k < self._last_k(res.counts):
            t0 = time.time()
            candidates = generate_candidates(top.prevalent, self._rank)
            filtered = filter_candidates(
                candidates, set(top.prevalent), top.pi, res.counts, res.delta,
                cfg.min_prevalence, use_lemma3=root is None,
            )
            if not filtered:
                break
            top = self._finish_level(
                res, top.k + 1, len(candidates), filtered, cliques(), t0, root
            )

    # ---------------------------------------------------------------- mine
    def mine(
        self, instances: DataFrame, resume: bool = False, _encode: bool = True
    ) -> MiningResult:
        """Level-wise plan (paper Algorithm 2): one scope over all features."""
        with self._prologue(instances, resume, _encode) as (res, cliques, level2, resumed):
            self._mine_scope(res, cliques, level2, resume=resumed)
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

        Physically: the prologue is shared with ``mine()``; then one
        level loop per root feature mines k >= 3 from a thread pool, all
        reading the one clique pass, which the first scope to reach k = 3
        runs (it prunes with the global level-2 pairs).  Patterns and level
        stats are merged in root order.

        Checkpoint/resume: level 2 is the shared ``level_2/``, and each
        subtree writes its levels k >= 3 under ``subtree_<root_rank>/``, so
        ``mine_subtrees(resume=True)`` resumes the level 2 of either plan
        and restarts every subtree after its own last complete level.  The
        manifests save only the driver's selection: if any subtree still
        has a level to mine, the resume reruns the one clique pass.
        Per-subtree ``level_2`` checkpoints of older layouts are not
        resumed: such a run starts from scratch.
        """
        with self._prologue(instances, resume, _encode) as (res, cliques, level2, resumed):

            def scope(root: str) -> MiningResult:
                out = MiningResult([], {}, res.counts, res.delta, res.pair_count)
                self._mine_scope(out, cliques, level2, root, resumed)
                return out

            with ThreadPoolExecutor(max_workers=max_workers) as ex:
                for out in ex.map(scope, measures.rank_features(res.counts)):
                    res.patterns.extend(out.patterns)
                    res.wpi.update(out.wpi)
                    res.levels.extend(out.levels)
        return res

    # ------------------------------------------------------- plan selector
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
        ``mine_subtrees``), so this only picks a schedule.  The threshold
        was measured on the per-level plan (BENCH/BASELINE.md "Plan choice
        at this scale") and is unverified for the clique pass, which both
        plans share, so they differ only in driver-side selection.

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
