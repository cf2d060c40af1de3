"""Resume-wall A/B: durable parquet edges vs in-session edge recompute.

Round-5 verdict #1 done-criterion.  Scenario: a full checkpointed mining
run at sf0.1 (d=6, 100k instances), then a simulated failure after the
second-to-last level (the last level's manifest is deleted), then resume:

- arm "durable": the resume reads back the edge table written under
  <ckpt>/edges and mines the missing level — the pairs -> stars -> edges
  pipeline never runs;
- arm "recompute" (round-5 behavior, monkeypatched back in): the resume
  rebuilds edges from the instance table through the stencil join +
  repartition before mining the missing level.

Arms are interleaved (B A B A ...) in one JVM with a warmup, best-of-N
per arm reported, mirroring the noise discipline of BENCH/goldens_bench.

Writes BENCH/resume_ab_last.json and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

D = 6.0
MIN_PREV = 0.1
ROUNDS = 2


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    import efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark as eng
    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.sources.events_source import (
        instances_from_events,
    )

    spark = eng.get_spark(
        f"local[{cpus}]",
        app_name="resume-ab",
        shuffle_partitions=2 * int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    inst = instances_from_events(spark, sf_dir).persist()
    inst.count()

    ck = tempfile.mkdtemp(prefix="resume_ab_ck_")
    cfg = eng.ColocationConfig(D, MIN_PREV, checkpoint_dir=ck)

    # warmup + the checkpointed base run
    eng.ColocationMiner(spark, cfg).mine(inst.sample(0.02, seed=7))
    shutil.rmtree(ck, ignore_errors=True)
    t0 = time.time()
    base = eng.ColocationMiner(spark, cfg).mine(inst)
    full_wall = time.time() - t0
    levels = sorted(
        int(n.split("_")[1]) for n in os.listdir(ck) if n.startswith("level_")
    )
    last = levels[-1]
    gold = {frozenset(p) for p in base.patterns}

    def fail_last_level() -> None:
        os.remove(os.path.join(ck, f"level_{last}", "manifest.json"))

    def old_edge_table(self, instances, counts, rank, encode_ids, resume):
        # round-5 behavior: no durable edges, recompute them
        return self._encoded_edges(instances, counts, rank, encode_ids)

    def run(arm: str) -> float:
        m = eng.ColocationMiner(spark, cfg)
        if arm == "recompute":
            m._edge_table = types.MethodType(old_edge_table, m)
        fail_last_level()
        t0 = time.time()
        res = m.mine(inst, resume=True)
        wall = time.time() - t0
        assert {frozenset(p) for p in res.patterns} == gold, arm
        return wall

    walls: dict[str, list[float]] = {"durable": [], "recompute": []}
    for _ in range(ROUNDS):
        for arm in ("recompute", "durable"):
            w = run(arm)
            walls[arm].append(round(w, 3))
            print(f"[resume_ab] {arm} {w:.3f}s", file=sys.stderr, flush=True)

    out = {
        "sf": sf_dir,
        "cpus": int(cpus),
        "d": D,
        "min_prev": MIN_PREV,
        "full_mine_wall": round(full_wall, 3),
        "resumed_level": last,
        "walls": walls,
        "resume_durable_best": min(walls["durable"]),
        "resume_recompute_best": min(walls["recompute"]),
        "edge_reuse_speedup": round(
            min(walls["recompute"]) / min(walls["durable"]), 3
        ),
        "patterns": len(base.patterns),
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "resume_ab_last.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    shutil.rmtree(ck, ignore_errors=True)


if __name__ == "__main__":
    main()
