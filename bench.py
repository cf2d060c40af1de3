"""Benchmark driver: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the end-to-end wall time of the flagship pipeline (derive
instances -> full co-location mining -> tile assignment counts); per-query
seconds are under "queries"; mining+tiling throughput (rows/sec, the
BASELINE.md north metric) is under "throughput_rows_per_sec".

The bench neighbor distance is 6.0 (not the sf0.01 correctness default 12.0):
the synthetic plane is fixed 1000x1000, so instance density grows linearly
with sf; d=6 at sf0.1 keeps the neighbor degree in the regime real mining
runs at — with d=12 the clique *count* (not the engine) explodes
combinatorially.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_D = 6.0
BENCH_MIN_PREV = 0.1

# hard-mode ANN knobs (uniform 100k x 64d corpus; see the sweep table in
# BENCH/BASELINE.md — these sit at the measured knee where recall lands
# in [0.9, 1.0) so the floor is binding but passed: LSH r=10/b=64/mp
# measures 0.996 (r=8/b=64/mp saturates at 1.0 and costs 4x the wall;
# mp=False craters to 0.849); IVF C=64/probe=48 measures 0.973
# (probe=32 -> 0.88 and probe=24 -> 0.794 fail the floor)
ANN_HARD_LSH_R = 10
ANN_HARD_LSH_BANDS = 64
ANN_HARD_IVF_CENTROIDS = 64
ANN_HARD_IVF_PROBE = 48


def _scaling_artifact() -> dict:
    """Latest BENCH/scaling.py summaries (empty if they never ran here).
    Reports BOTH measured legs: 2->8 (the north-rule window with bandwidth
    headroom) and 8->32 (kept visible every round — the single-socket
    memory-bandwidth wall documented in BENCH/BASELINE.md)."""
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    out: dict = {}
    try:
        with open(os.path.join(bench_dir, "scaling_last.json")) as f:
            s = json.load(f)
        out.update(
            {
                "scaling_efficiency_last_measured": s.get("scaling_efficiency"),
                "scaling_passes_north_rule": s.get("passes_north_rule"),
                "scaling_metric": s.get("metric"),
            }
        )
    except (OSError, ValueError):
        pass
    try:
        with open(os.path.join(bench_dir, "scaling_last_8_32.json")) as f:
            s = json.load(f)
        out["scaling_efficiency_8_32"] = s.get("scaling_efficiency")
    except (OSError, ValueError):
        pass
    try:
        with open(os.path.join(bench_dir, "hll_last.json")) as f:
            h = json.load(f)
        out["hll_participation_speedup"] = h.get("speedup")
        out["hll_pattern_flips"] = h.get("pattern_flips")
    except (OSError, ValueError):
        pass
    return out


def _load_expected() -> dict:
    """Per-entry steady-state reference walls (BENCH/expected_walls.json,
    provenance inside): an entry whose first wall exceeds RERUN_FACTOR x
    its reference triggers a host control + an immediate rerun, so a
    hypervisor stall wave can never be recorded as the entry's only
    sample (round-6 verdict #2)."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "expected_walls.json"
    )
    try:
        with open(path) as f:
            return {k: v for k, v in json.load(f).items() if isinstance(v, (int, float))}
    except (OSError, ValueError):
        return {}


RERUN_FACTOR = 2.0
#: clean-control disambiguation (see timed): a rerun landing back within
#: this factor of the steady reference proves the same code still
#: achieves the steady wall, so the slow first sample was a transient
#: that lived entirely inside the entry window (invisible to a control
#: that runs after the entry), not a regression — a REAL regression is
#: plan-level and reproduces in the same-process rerun
RERUN_STEADY_FACTOR = 1.35


def headline_verdict(
    wall: float, rerun: float, ctl_clean: bool, exp: float
) -> tuple[float, str, str]:
    """Pure decision rule for which sample becomes an entry's headline
    after a 2x-slow first wall triggered a control + rerun (unit-tested
    like the scaling harness's leg-acceptance rule).  Returns
    (headline_wall, tag, reason)."""
    if not ctl_clean:
        return (
            min(wall, rerun),
            "min",
            "control dirty — first sample waved; min(wall, rerun) "
            "recovers the steady figure",
        )
    if rerun <= RERUN_STEADY_FACTOR * exp:
        return (
            rerun,
            "rerun",
            "control clean but the rerun reproduced the steady reference "
            "wall — the slow first sample held a control-invisible "
            "transient, not a regression (a real one reproduces in the "
            "same-process rerun); both walls shipped",
        )
    return (
        wall,
        "first",
        "control clean and the rerun stayed above the steady reference — "
        "the slowness reproduces; a real regression, first wall stands",
    )

# ---- 1M-doc dedup-chain scale workload (round-7 verdict #1) -------------
# The miner has its 2M-instance scaling workload; this is the equivalent
# for the dedup/text half of the engine — the half a training-data
# pipeline runs hottest, previously never timed above 5k documents.
DEDUP_SCALE_N = int(os.environ.get("SPARK_GRAFT_DEDUP_N", "1000000"))
DEDUP_BLOCK = 50
DEDUP_TPD = 40  # tokens per document
DEDUP_PACK_SEQ = 2048


def synth_dedup_corpus(spark, n_docs: int, block: int = DEDUP_BLOCK,
                       tpd: int = DEDUP_TPD, parts: int = 64):
    """Deterministic (doc_id, text) corpus with an EXACTLY known near-dup
    structure, entirely Spark-expression-generated (no driver data).

    Layout per block of ``block`` docs: positions 0 and 1 share one seed
    (a near-dup pair); in every 10th block position 2 joins them (a
    transitive group of 3); every other position is a unique doc keyed
    by its own id.  Group members 1 and 2 have their last TWO tokens
    replaced with doc-unique tokens, so with ``tpd`` = 40 the pairwise
    distinct-bigram Jaccard inside a group is 37/41 ~= 0.902 — above the
    0.8 dedup threshold with margin, while cross-seed docs share at most
    stray hash-collision bigrams (J ~ 0, unreachable from 0.8).  Every
    doc has exactly ``tpd`` tokens, so packing totals are exact too.
    Expected pair/kept counts: ``dedup_scale_expectations``; the tiny
    (n=5000) twin of this corpus is invariant-tested in
    tests/test_dedup_scale.py, so the bench booleans mean something.
    """
    from pyspark.sql import functions as F

    pos = F.col("id") % block
    blk = F.floor(F.col("id") / block).cast("long")
    is_member = (pos < 2) | ((pos == 2) & (blk % 10 == 0))
    seed = F.when(is_member, blk * block).otherwise(F.col("id"))
    perturb = is_member & (pos >= 1)
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(tpd - 1)),
        lambda j: F.when(
            perturb & (j >= tpd - 2),
            F.concat(
                F.lit("u"), F.col("id").cast("string"),
                F.lit("x"), j.cast("string"),
            ),
        ).otherwise(
            F.concat(
                F.lit("t"),
                F.pmod(F.xxhash64(seed * 1024 + j), F.lit(999983)).cast("string"),
            )
        ),
    )
    return (
        spark.range(n_docs)
        .select(F.col("id").alias("doc_id"), F.array_join(toks, " ").alias("text"))
        .repartition(parts)
    )


def dedup_scale_expectations(n_docs: int, block: int = DEDUP_BLOCK) -> dict:
    """Exact expected dedup outcomes for ``synth_dedup_corpus``."""
    if n_docs % (10 * block) != 0:
        raise ValueError(f"n_docs must be a multiple of {10 * block}")
    blocks = n_docs // block
    triples = blocks // 10          # blocks where blk % 10 == 0
    pairs_only = blocks - triples
    dropped = pairs_only * 1 + triples * 2
    return {
        "expected_pairs": pairs_only * 1 + triples * 3,
        "expected_dropped": dropped,
        "expected_kept": n_docs - dropped,
    }


#: incremental-dedup shard: whole blocks >= this index are NEW ...
INC_SHARD_BLOCK_FROM = 18_000
#: ... plus the position-1 doc of every block below this index (cross pairs)
INC_CROSS_BLOCKS = 1_000


def dedup_incremental_expectations(n_docs: int, block: int = DEDUP_BLOCK) -> dict:
    """Exact expected outcomes for the incremental-dedup shard split.

    The shard is (a) every doc of blocks >= INC_SHARD_BLOCK_FROM
    (within-shard near-dup pairs) and (b) the position-1 member of every
    block < min(INC_CROSS_BLOCKS, n blocks) (pairs that CROSS the
    base/shard boundary, probing the stored band table).  Triple blocks
    are those with blk % 10 == 0, so both regions start on a triple."""
    blocks = n_docs // block
    w_blocks = max(0, blocks - INC_SHARD_BLOCK_FROM)
    w_triples = (w_blocks + 9) // 10 if w_blocks else 0
    within = (w_blocks - w_triples) * 1 + w_triples * 3
    c_blocks = min(INC_CROSS_BLOCKS, blocks)
    c_triples = (c_blocks + 9) // 10 if c_blocks else 0
    # pair block: (pos0, pos1) crosses; triple block: (pos0, pos1) and
    # (pos1, pos2) cross while (pos0, pos2) stays base-internal
    cross = (c_blocks - c_triples) * 1 + c_triples * 2
    return {
        "expected_inc_pairs": within + cross,
        "expected_shard_docs": w_blocks * block + c_blocks,
        "expected_kept": dedup_scale_expectations(n_docs, block)["expected_kept"],
    }


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    )
    from control import control  # BENCH/control.py: pure-compute host witness

    expected = _load_expected()
    ctl_start = control(8)
    print(f"[bench] suite-start control: {ctl_start}", file=sys.stderr, flush=True)

    import efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark as eng
    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators import (
        dedup,
        similarity,
    )
    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.cells import (
        compute_bounds,
    )
    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.tiles import (
        tile_counts,
    )
    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.sources.events_source import (
        instances_from_events,
    )
    import __spark_entry__ as entrymod

    spark = eng.get_spark(
        f"local[{cpus}]",
        app_name="colocation-bench",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(2 * int(cpus)))),
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    details: dict[str, dict] = {}

    def timed(name: str, fn):
        """Wave-aware entry timing: if the first wall exceeds
        RERUN_FACTOR x the steady-state reference, run the pure-compute
        control (was the host delivering cores?) and the entry again in
        the SAME context.  Which sample becomes the headline is GATED ON
        THE CONTROL VERDICT (round-7 verdict #3): when the control was
        dirty the first sample waved and ``min(wall, rerun)`` recovers
        the steady figure.  When the control was CLEAN the rerun is the
        tiebreak (the control runs after the entry, so a wave living
        entirely inside the entry window reads clean): a rerun back at
        the steady reference means the same code still achieves the
        steady wall — transient, headline = rerun; a rerun still above
        ``RERUN_STEADY_FACTOR x`` reference means the slowness
        REPRODUCES — a real regression, the first wall stands and fails
        loudly.  Every raw sample, the control verdict, and which sample
        won (and why) ship in ``queries_detail``."""
        print(f"[bench] {name} ...", file=sys.stderr, flush=True)
        t0 = time.time()
        out = fn()
        wall = round(time.time() - t0, 3)
        det: dict = {"wall": wall}
        exp = expected.get(name)
        if exp is not None and wall > RERUN_FACTOR * exp:
            ctl = control(8)
            det["control"] = ctl
            det["control_ok"] = ctl["clean"]
            print(
                f"[bench] {name} {wall}s > {RERUN_FACTOR}x expected {exp}s — "
                f"control overhead {ctl['overhead']}, rerunning",
                file=sys.stderr,
                flush=True,
            )
            t0 = time.time()
            fn()
            det["wall_rerun"] = round(time.time() - t0, 3)
            timings[name], det["headline"], det["headline_reason"] = (
                headline_verdict(wall, det["wall_rerun"], ctl["clean"], exp)
            )
        else:
            timings[name] = wall
        details[name] = det
        print(f"[bench] {name} {timings[name]}s", file=sys.stderr, flush=True)
        return out

    inst = instances_from_events(spark, sf_dir).persist()
    n_instances = inst.count()

    # JIT/codegen warmup on a 2% sample: the steady-state number is the one
    # comparable to the (long-running) reference binary; first-job wall
    # otherwise includes one-time whole-stage-codegen compilation (~6 s).
    print("[bench] warmup ...", file=sys.stderr, flush=True)
    eng.ColocationMiner(
        spark, eng.ColocationConfig(BENCH_D, BENCH_MIN_PREV)
    ).mine(inst.sample(0.02, seed=7))

    # flagship: mining end-to-end + tile assignment
    res = timed(
        "colocation_mine_full",
        lambda: eng.ColocationMiner(
            spark, eng.ColocationConfig(BENCH_D, BENCH_MIN_PREV)
        ).mine(inst),
    )
    grid = compute_bounds(inst, BENCH_D)
    timed("tile_counts", lambda: tile_counts(inst, grid).count())

    # Scratch hygiene between sections (round-7 dedup_ngram diagnosis):
    # localCheckpoint blocks are released by the ContextCleaner only on
    # driver GC, which a 32g heap may not run for many minutes — the
    # mining levels' checkpoints otherwise linger as storage blocks and
    # inflate later memory-hungry entries.  One explicit System.gc()
    # drains the cleaner queue; entry-local cache leaks were fixed at the
    # operator level (operators/dedup.py eager-release).
    spark.sparkContext._jvm.System.gc()

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_docs = docs.count()
    n_emb = emb.count()

    timed("images_derive", lambda: entrymod._q_images_derive(spark, sf_dir).count())
    timed("dedup_exact", lambda: dedup.exact_duplicates(docs).count())
    timed(
        "dedup_minhash_lsh",
        lambda: dedup.minhash_lsh_duplicates(docs, threshold=0.8).count(),
    )
    timed(
        "dedup_ngram_jaccard",
        lambda: dedup.ngram_jaccard_duplicates(docs, threshold=0.8).count(),
    )
    timed("dedup_simhash", lambda: dedup.simhash_duplicates(docs).count())
    exact_topk = timed(
        "ann_cosine_topk",
        lambda: similarity.cosine_topk(emb, list(range(8)), k=5).collect(),
    )
    approx_topk = timed(
        "ann_lsh_topk",
        lambda: similarity.lsh_topk(emb, list(range(8)), k=5).collect(),
    )
    # measured recall of the approximate path vs the exact baseline — the
    # LSH path's quality is tracked per bench run, not assumed
    exact_set = {(r.query_id, r.neighbor_id) for r in exact_topk}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx_topk}
    ann_recall = round(len(exact_set & approx_set) / max(len(exact_set), 1), 3)
    print(f"[bench] ann_lsh_topk recall vs exact: {ann_recall}", file=sys.stderr)
    ivf_topk = timed(
        "ann_ivf_topk",
        lambda: similarity.ivf_topk(emb, list(range(8)), k=5).collect(),
    )
    ivf_set = {(r.query_id, r.neighbor_id) for r in ivf_topk}
    ivf_recall = round(len(exact_set & ivf_set) / max(len(exact_set), 1), 3)
    print(f"[bench] ann_ivf_topk recall vs exact: {ivf_recall}", file=sys.stderr)
    timed(
        "embedding_dupes_lsh",
        lambda: similarity.embedding_duplicates(
            emb, threshold=0.9, blocked=True
        ).count(),
    )

    # ---- ANN recall at scale (round-5 verdict #6): the sf0.1 corpus is
    # 2k vectors, where recall 1.0 is uninformative.  Synthesize a
    # deterministic 100k x 64-dim CLUSTERED corpus (256 integer-hash
    # cluster centers + per-vector noise, the shape real embedding
    # corpora have) and measure LSH + IVF recall@20 over 50 queries
    # against the exact baseline, gated on a 0.9 floor.
    from pyspark.sql import functions as F  # noqa: F811 — local use below

    ANN_SCALE_N = 100_000
    ANN_SCALE_K = 20
    ANN_SCALE_CLUSTERS = 256
    scale_queries = list(range(0, 5000, 100))  # 50 queries across clusters

    def _u(col):  # deterministic pseudo-uniform in [-1, 1], LCG-style
        return (F.pmod(F.xxhash64(col), F.lit(2001)) - F.lit(1000)) / F.lit(
            1000.0
        )

    cid = F.pmod(F.col("id"), F.lit(ANN_SCALE_CLUSTERS))
    big_emb = (
        spark.range(ANN_SCALE_N)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda j: (
                    F.lit(0.9) * _u(cid * 64 + j)
                    + F.lit(0.1) * _u(F.col("id") * 64 + j + 12345)
                ).cast("float"),
            ).alias("embedding"),
        )
        .repartition(2 * int(cpus))
        .persist()
    )
    big_emb.count()
    exact_100k = timed(
        "ann_exact_topk_100k",
        lambda: similarity.cosine_topk(
            big_emb, scale_queries, k=ANN_SCALE_K
        ).collect(),
    )
    lsh_100k = timed(
        "ann_lsh_topk_100k",
        lambda: similarity.lsh_topk(
            big_emb, scale_queries, k=ANN_SCALE_K
        ).collect(),
    )
    ivf_100k = timed(
        "ann_ivf_topk_100k",
        lambda: similarity.ivf_topk(
            big_emb,
            scale_queries,
            k=ANN_SCALE_K,
            n_centroids=ANN_SCALE_CLUSTERS,
            n_probe=8,
        ).collect(),
    )
    ex100 = {(r.query_id, r.neighbor_id) for r in exact_100k}
    lsh_recall_100k = round(
        len(ex100 & {(r.query_id, r.neighbor_id) for r in lsh_100k})
        / max(len(ex100), 1),
        3,
    )
    ivf_recall_100k = round(
        len(ex100 & {(r.query_id, r.neighbor_id) for r in ivf_100k})
        / max(len(ex100), 1),
        3,
    )
    ANN_RECALL_FLOOR = 0.9
    for nm, rec in (("lsh", lsh_recall_100k), ("ivf", ivf_recall_100k)):
        status = "PASS" if rec >= ANN_RECALL_FLOOR else "BELOW FLOOR"
        print(
            f"[bench] ann_{nm} recall@{ANN_SCALE_K} on {ANN_SCALE_N} vectors: "
            f"{rec} ({status} vs {ANN_RECALL_FLOOR})",
            file=sys.stderr,
        )
    big_emb.unpersist()

    # ---- hard-mode recall gate (round-6 verdict #4): the clustered
    # corpus has wide margins, so LSH/IVF measure recall 1.0 at any
    # sane knobs — a gate that cannot fail.  A UNIFORM corpus (no
    # cluster structure; top-20 neighbors are the extreme tail of
    # near-orthogonal cosines) makes the 0.9 floor binding: recall
    # moves with bands/r/n_probe, and the pinned knobs below are the
    # measured knee (sensitivity table in BENCH/BASELINE.md).
    hard_emb = (
        spark.range(ANN_SCALE_N)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda j: _u(F.col("id") * 64 + j).cast("float"),
            ).alias("embedding"),
        )
        .repartition(2 * int(cpus))
        .persist()
    )
    hard_emb.count()
    exact_hard = timed(
        "ann_exact_topk_100k_hard",
        lambda: similarity.cosine_topk(
            hard_emb, scale_queries, k=ANN_SCALE_K
        ).collect(),
    )
    lsh_hard = timed(
        "ann_lsh_topk_100k_hard",
        lambda: similarity.lsh_topk(
            hard_emb,
            scale_queries,
            k=ANN_SCALE_K,
            r=ANN_HARD_LSH_R,
            bands=ANN_HARD_LSH_BANDS,
        ).collect(),
    )
    ivf_hard = timed(
        "ann_ivf_topk_100k_hard",
        lambda: similarity.ivf_topk(
            hard_emb,
            scale_queries,
            k=ANN_SCALE_K,
            n_centroids=ANN_HARD_IVF_CENTROIDS,
            n_probe=ANN_HARD_IVF_PROBE,
        ).collect(),
    )
    exh = {(r.query_id, r.neighbor_id) for r in exact_hard}
    lsh_recall_hard = round(
        len(exh & {(r.query_id, r.neighbor_id) for r in lsh_hard})
        / max(len(exh), 1),
        3,
    )
    ivf_recall_hard = round(
        len(exh & {(r.query_id, r.neighbor_id) for r in ivf_hard})
        / max(len(exh), 1),
        3,
    )
    for nm, rec in (("lsh", lsh_recall_hard), ("ivf", ivf_recall_hard)):
        status = "PASS" if ANN_RECALL_FLOOR <= rec else "BELOW FLOOR"
        if rec >= 1.0:
            status += " (gate not binding!)"
        print(
            f"[bench] ann_{nm} HARD recall@{ANN_SCALE_K} on {ANN_SCALE_N} "
            f"uniform vectors: {rec} ({status} vs {ANN_RECALL_FLOOR})",
            file=sys.stderr,
        )
    hard_emb.unpersist()
    timed("text_stats", lambda: entrymod._q_text_stats(spark, sf_dir).count())
    # r06 additions: two-phase distributed prefix sum + C4 page filter
    timed(
        "docs_pack_chunks",
        lambda: entrymod._q_docs_pack_chunks(spark, sf_dir).count(),
    )
    timed(
        "docs_c4_filter",
        lambda: entrymod._q_docs_c4_filter(spark, sf_dir).count(),
    )
    # salted two-phase per-language top-k (operators/curation.py) — watches
    # the de-skewed curation plan's cost at bench scale
    timed(
        "docs_topk_quality",
        lambda: entrymod._q_docs_topk_quality(spark, sf_dir).count(),
    )
    timed(
        "docs_decontaminate",
        lambda: entrymod._q_docs_decontaminate(spark, sf_dir).count(),
    )
    timed(
        "docs_decontaminate_shuffle",
        lambda: entrymod._q_docs_decontaminate_shuffle(spark, sf_dir).count(),
    )
    timed(
        "text_repetition",
        lambda: entrymod._q_text_repetition(spark, sf_dir).count(),
    )
    timed(
        "bucketed_cell_join",
        lambda: entrymod._q_bucketed_cell_join(spark, sf_dir).count(),
    )
    timed("events_hourly", lambda: entrymod._q_events_hourly(spark, sf_dir).count())
    timed(
        "events_sessionize",
        lambda: entrymod._q_events_sessionize(spark, sf_dir).count(),
    )

    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.cluster import (
        dbscan,
    )
    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.spatial import (
        distance_join,
        knn_join,
    )
    from pyspark.sql import functions as F

    timed("dbscan", lambda: dbscan(inst, BENCH_D, 4).count())
    # complete contract (straggler fallback fills exact global top-k) and
    # the radius-bounded variant (round-2 comparable: short lists allowed)
    timed("knn_join", lambda: knn_join(inst, k=5, radius=BENCH_D).count())
    timed(
        "knn_join_bounded",
        lambda: knn_join(inst, k=5, radius=BENCH_D, fallback=False).count(),
    )
    ordinal = F.expr("CAST(split(id, '#')[1] AS BIGINT)")
    timed(
        "distance_join",
        lambda: distance_join(
            inst.filter(ordinal % 2 == 0), inst.filter(ordinal % 2 == 1), BENCH_D
        ).count(),
    )
    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.tiles import (
        hotspot_scores,
        tile_pyramid,
    )

    timed("hotspot_cells", lambda: hotspot_scores(inst, grid).count())
    timed("tile_pyramid", lambda: tile_pyramid(inst, grid, levels=4).count())
    timed(
        "dedup_groups",
        lambda: dedup.duplicate_groups(
            dedup.ngram_jaccard_duplicates(docs, threshold=0.8)
        ).count(),
    )

    # ---- 1M-doc dedup chain (round-7 verdict #1): the dedup/text half of
    # the engine timed at the scale the miner's 2M-instance workload set,
    # over a corpus with EXACTLY known pair/kept/pack/contamination counts
    # so every wall ships with a correctness invariant, not just a number.
    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.functions.text import (
        token_count,
    )
    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.decontaminate import (
        shingle_contamination,
    )
    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.packing import (
        pack_chunks,
    )

    spark.sparkContext._jvm.System.gc()  # clean slate before the heavy leg
    exp1m = dedup_scale_expectations(DEDUP_SCALE_N)
    corpus1m = synth_dedup_corpus(
        spark, DEDUP_SCALE_N, parts=2 * int(cpus)
    ).persist()
    n_corpus1m = corpus1m.count()
    pairs1m = timed(
        "dedup_minhash_lsh_1m",
        lambda: dedup.minhash_lsh_duplicates(corpus1m, threshold=0.8),
    )  # operator eagerly checkpoints: the call IS the work
    n_pairs1m = pairs1m.count()
    # the OTHER dedup family over the same corpus: PPJoin prefix-filtered
    # inverted index (no banding).  Both families share the exact-Jaccard
    # output contract, so false positives are impossible and matching the
    # closed-form count pins the IDENTICAL pair set two independent
    # physical paths found — the strongest cross-check the corpus offers.
    n_ngram1m = timed(
        "dedup_ngram_1m",
        lambda: dedup.ngram_jaccard_duplicates(corpus1m, threshold=0.8).count(),
    )
    member_counts = timed(
        "dedup_membership_1m",
        lambda: dedup.dedup_membership(corpus1m, pairs1m)
        .groupBy("kept")
        .count()
        .collect(),
    )
    kept1m = next((r["count"] for r in member_counts if r["kept"]), 0)
    total1m = sum(r["count"] for r in member_counts)
    apply1m = timed(
        "dedup_apply_1m", lambda: dedup.apply_dedup(corpus1m, pairs1m).count()
    )
    pack_stats = timed(
        "docs_pack_chunks_1m",
        lambda: pack_chunks(
            corpus1m.withColumn("n_tokens", token_count(F.col("text"))),
            seq_len=DEDUP_PACK_SEQ,
        )
        .agg(F.count("*").alias("n"), F.max("chunk_last").alias("mx"))
        .collect()[0],
    )
    n_eval_blocks = min(500, DEDUP_SCALE_N // DEDUP_BLOCK)
    eval1m = corpus1m.filter(
        (F.col("doc_id") % DEDUP_BLOCK == 5)
        & (F.col("doc_id") < n_eval_blocks * DEDUP_BLOCK)
    )
    contam1m = timed(
        "docs_decontaminate_1m",
        lambda: shingle_contamination(corpus1m, eval1m).count(),
    )
    # ---- incremental dedup at 1M (round-7 verdict #6, scale-proven):
    # a 101k-doc shard folded into an 899k-doc base whose band table was
    # "persisted by a prior run" as a DURABLE BUCKETED table (bucketed
    # on the probe-join key (band, bh) — the stored side never
    # re-shuffles; tests/test_bucketed.py pins the plan shape), vs
    # the from-scratch union wall measured above.  Shard shape exercises
    # BOTH candidate paths: whole blocks >= 18000 (within-shard pairs)
    # plus position-1 docs of blocks < 1000 (cross base/shard pairs).
    # Closed-form expectations (dedup_incremental_expectations): within
    # = 1800*1 + 200*3 = 2400, cross = 900*1 + 100*2 = 1100 -> 3500
    # incremental pairs; the folded verdict must reproduce the union's
    # exact 978,000 survivors over exactly 1,000,000 rows.
    import shutil
    import tempfile
    import uuid

    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.sources.bucketed import (
        write_bucketed,
    )

    exp_inc = dedup_incremental_expectations(DEDUP_SCALE_N)
    shard_cond = (F.col("doc_id") >= INC_SHARD_BLOCK_FROM * DEDUP_BLOCK) | (
        (F.col("doc_id") % DEDUP_BLOCK == 1)
        & (F.col("doc_id") < INC_CROSS_BLOCKS * DEDUP_BLOCK)
    )
    base1m = corpus1m.filter(~shard_cond)
    new1m = corpus1m.filter(shard_cond).persist()
    n_new1m = new1m.count()
    # fixture setup (NOT timed — this is the state a prior run persisted):
    # stored band table, stored base pairs (= union pairs among base docs),
    # stored base membership snapshot
    tmp1m = tempfile.mkdtemp(prefix="bands1m_")
    tbl1m = f"bands_1m_{uuid.uuid4().hex[:8]}"
    # try/finally: a failed leg must not strand the ~32M-row bucketed
    # band table (parquet dir + catalog entry) across bench retries
    try:
        stored_bands = write_bucketed(
            dedup.minhash_band_table(base1m),
            tbl1m,
            f"{tmp1m}/bands",
            bucket_cols=["band", "bh"],  # exact probe-join key: subset
            # bucketing gets "disabled by query planner" and shuffles anyway
            num_buckets=2 * int(cpus),
        )
        new_ids1m = new1m.select(F.col("doc_id").alias("a_id"))
        base_pairs1m = (
            pairs1m.join(new_ids1m, "a_id", "left_anti")
            .join(
                new_ids1m.withColumnRenamed("a_id", "b_id"), "b_id", "left_anti"
            )
            .select("a_id", "b_id", "jaccard")
            .localCheckpoint(eager=True)
        )
        base_m1m = dedup.dedup_membership(base1m, base_pairs1m).localCheckpoint(
            eager=True
        )

        def _incremental():
            inc_pairs = dedup.incremental_duplicates(
                new1m, base1m, stored_bands, threshold=0.8
            )
            verdict = dedup.dedup_incremental(base_m1m, new1m, inc_pairs)
            kept = verdict.filter("kept").count()
            return inc_pairs.count(), kept, verdict.count()

        inc_pairs_n, inc_kept, inc_rows = timed(
            "dedup_incremental_1m", _incremental
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl1m}")
        shutil.rmtree(tmp1m, ignore_errors=True)
        new1m.unpersist()

    corpus1m.unpersist()
    expected_max_chunk = (DEDUP_TPD * DEDUP_SCALE_N - 1) // DEDUP_PACK_SEQ
    dedup_scale = {
        "n_docs": n_corpus1m,
        "pairs": n_pairs1m,
        "ngram_pairs": n_ngram1m,
        "expected_pairs": exp1m["expected_pairs"],
        "kept": kept1m,
        "expected_kept": exp1m["expected_kept"],
        "membership_rows": total1m,
        "apply_rows": apply1m,
        "pack_rows": int(pack_stats["n"]),
        "pack_max_chunk": int(pack_stats["mx"]),
        "expected_max_chunk": expected_max_chunk,
        "contaminated": contam1m,
        "expected_contaminated": n_eval_blocks,
        "inc_shard_docs": n_new1m,
        "inc_pairs": inc_pairs_n,
        "expected_inc_pairs": exp_inc["expected_inc_pairs"],
        "inc_kept": inc_kept,
        "inc_rows": inc_rows,
        "invariants_ok": bool(
            n_pairs1m == exp1m["expected_pairs"]
            and n_ngram1m == exp1m["expected_pairs"]
            and kept1m == exp1m["expected_kept"]
            and total1m == n_corpus1m == DEDUP_SCALE_N
            and apply1m == exp1m["expected_kept"]
            and int(pack_stats["n"]) == DEDUP_SCALE_N
            and int(pack_stats["mx"]) == expected_max_chunk
            and contam1m == n_eval_blocks
            and n_new1m == exp_inc["expected_shard_docs"]
            and inc_pairs_n == exp_inc["expected_inc_pairs"]
            and inc_kept == exp_inc["expected_kept"]
            and inc_rows == DEDUP_SCALE_N
        ),
    }
    print(f"[bench] dedup_scale: {dedup_scale}", file=sys.stderr, flush=True)
    spark.sparkContext._jvm.System.gc()

    flagship = timings["colocation_mine_full"] + timings["tile_counts"]
    ctl_end = control(8)
    print(f"[bench] suite-end control: {ctl_end}", file=sys.stderr, flush=True)
    scaling_art = _scaling_artifact()
    ann_scale_pass = bool(
        lsh_recall_100k >= ANN_RECALL_FLOOR and ivf_recall_100k >= ANN_RECALL_FLOOR
    )
    # the binding gate: recall must clear the floor on the corpus where
    # 1.0 is NOT attainable at sane cost
    ann_hard_pass = bool(
        lsh_recall_hard >= ANN_RECALL_FLOOR and ivf_recall_hard >= ANN_RECALL_FLOOR
    )
    ann_hard_binding = bool(lsh_recall_hard < 1.0 or ivf_recall_hard < 1.0)
    summary = {
        "metric": "colocation mining + tile assignment end-to-end wall",
        "value": round(flagship, 3),
        "unit": "sec",
        "queries": timings,
        # wave-aware evidence per entry: raw first wall, rerun wall when
        # the first exceeded 2x the steady reference, the host-control
        # verdict at that moment, and which sample won the headline
        "queries_detail": details,
        "rerun_factor": RERUN_FACTOR,
        "control_suite_start": ctl_start,
        "control_suite_end": ctl_end,
        "sf": sf_dir,
        "cpus": int(cpus),
        "n_instances": n_instances,
        "n_docs": n_docs,
        "n_embeddings": n_emb,
        "pairs": res.pair_count,
        "patterns": len(res.patterns),
        "throughput_rows_per_sec": round(n_instances / flagship, 1),
        "ann_lsh_recall": ann_recall,
        "ann_ivf_recall": ivf_recall,
        "ann_lsh_recall_100k": lsh_recall_100k,
        "ann_ivf_recall_100k": ivf_recall_100k,
        "ann_lsh_recall_100k_hard": lsh_recall_hard,
        "ann_ivf_recall_100k_hard": ivf_recall_hard,
        "ann_hard_knobs": {
            "lsh_r": ANN_HARD_LSH_R,
            "lsh_bands": ANN_HARD_LSH_BANDS,
            "ivf_centroids": ANN_HARD_IVF_CENTROIDS,
            "ivf_probe": ANN_HARD_IVF_PROBE,
        },
        "ann_scale_recall_floor": ANN_RECALL_FLOOR,
        "ann_scale_recall_pass": ann_scale_pass,
        "ann_hard_recall_pass": ann_hard_pass,
        "ann_hard_gate_binding": ann_hard_binding,
        # 1M-doc dedup-chain walls + exact invariants (round-7 verdict #1)
        "dedup_scale": dedup_scale,
        "d": BENCH_D,
        "min_prev": BENCH_MIN_PREV,
        # north-rule evidence: measured separately by BENCH/scaling.py
        # (2M instances, separate pinned JVMs per leg — too slow to
        # re-run inside every bench invocation); the artifact below
        # carries the LAST REAL measurement, written by scaling.py
        "scaling_evidence": "BENCH/BASELINE.md + BENCH/scaling.py",
        **scaling_art,
    }
    # FULL summary -> committed artifact; stdout gets a COMPACT headline
    # line only.  Round 7's single fat JSON line outgrew the driver's
    # tail-capture window and BENCH_r07.json landed with parsed:null —
    # the per-query record must never again depend on stdout buffering.
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    with open(os.path.join(bench_dir, "bench_last.json"), "w") as f:
        json.dump(summary, f, indent=1)
    headline = {
        "metric": summary["metric"],
        "value": summary["value"],
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": int(cpus),
        "n_instances": n_instances,
        "pairs": res.pair_count,
        "patterns": len(res.patterns),
        "throughput_rows_per_sec": summary["throughput_rows_per_sec"],
        "ann_scale_recall_pass": ann_scale_pass,
        "ann_hard_recall_pass": ann_hard_pass,
        "ann_hard_gate_binding": ann_hard_binding,
        "dedup_scale_n_docs": dedup_scale["n_docs"],
        "dedup_scale_invariants_ok": dedup_scale["invariants_ok"],
        "scaling_efficiency_last_measured": scaling_art.get(
            "scaling_efficiency_last_measured"
        ),
        "scaling_passes_north_rule": scaling_art.get("scaling_passes_north_rule"),
        "detail_artifact": "BENCH/bench_last.json",
    }
    print(json.dumps(headline))


#: the opportunistic 8->32 watcher (BENCH/watch_8_32.py) polls this file
#: and sleeps while it exists — its periodic 32-wide control probes
#: inflate concurrent suite entries 1.5-2x (measured 2026-08-18), so the
#: suite claims the window for itself
_SCALE_PAUSE = os.environ.get("SPARK_GRAFT_SCALE_PAUSE", "/tmp/scaling_pause")


def _with_probe_pause(fn) -> None:
    created = False
    if not os.path.exists(_SCALE_PAUSE):
        try:
            with open(_SCALE_PAUSE, "w") as f:
                f.write("bench.py run in progress\n")
            created = True
            time.sleep(1)  # an already-launched probe finishes on its own;
            # its ~30-60 s tail can still overlap the first entry, which the
            # per-entry controls then catch — good enough without blocking
        except OSError:
            pass
    try:
        fn()
    finally:
        if created:
            try:
                os.remove(_SCALE_PAUSE)
            except OSError:
                pass


if __name__ == "__main__":
    _with_probe_pause(main)
