"""Tests of the benchmark's own machinery on a tiny generated input.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from types import SimpleNamespace

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layertrace as tr  # noqa: E402
import run  # noqa: E402
from oracle import expected, mismatches  # noqa: E402
from workloads import _frame  # noqa: E402

import efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark as eng  # noqa: E402

D, MIN_PREV = 6.0, 0.2


def tiny_rows(seed: int = 0, n: int = 1500):
    """Four features in a 100x100 square, clustered enough for size-3 and
    size-4 patterns."""
    rng = np.random.default_rng(seed)
    centers = rng.uniform(10, 90, size=(12, 2))
    pts = centers[rng.integers(0, 12, n)] + rng.normal(0, 4.0, size=(n, 2))
    f = rng.choice(4, size=n, p=[0.1, 0.2, 0.3, 0.4])
    return _frame(np.array(["A", "B", "C", "D"])[f], pts[:, 0], pts[:, 1], np.arange(n))


@pytest.fixture(scope="module")
def spark():
    work = os.path.join(HERE, ".work", f"test-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    args = SimpleNamespace(cores=2, shuffle_partitions=4, driver_memory="1g")
    s = run.start_spark(eng, args, work)
    s.work = work
    yield s
    s.stop()
    run.stop_processes()
    shutil.rmtree(work, ignore_errors=True)


def _mine(spark, inst, plan: str, ckpt: str | None):
    cfg = eng.ColocationConfig(D, MIN_PREV, checkpoint_dir=ckpt)
    miner = eng.ColocationMiner(spark, cfg)
    if plan == "subtrees":
        return miner.mine_subtrees(inst, max_workers=2)
    return miner.mine(inst)


def _same(a, b) -> None:
    assert a.patterns == b.patterns
    assert a.wpi == b.wpi
    assert (a.counts, a.delta, a.pair_count) == (b.counts, b.delta, b.pair_count)
    key = lambda lv: (lv.subtree or "", lv.k)  # noqa: E731
    strip = lambda r: sorted(  # noqa: E731
        ((key(lv), lv.n_candidates, lv.n_filtered, lv.n_prevalent, lv.table_rows) for lv in r.levels)
    )
    assert strip(a) == strip(b)


def test_oracle_agrees_and_catches_a_wrong_result(spark):
    rows = tiny_rows()
    want = expected(rows, D, MIN_PREV, None, threads=2)
    assert any(len(p) >= 3 for p in want.wpi), "tiny input should reach size 3"
    inst = spark.createDataFrame(rows, "feature string, id string, x double, y double")
    res = _mine(spark, inst, "levelwise", None)
    assert mismatches(res, want) == []
    res.pair_count += 1
    p = res.patterns.pop()
    assert len(mismatches(res, want)) == 2
    res.patterns.append(p)
    res.pair_count -= 1
    res.wpi[p] += 1e-6
    assert mismatches(res, want) and "wpi" in mismatches(res, want)[0]


@pytest.mark.parametrize("plan,ckpt", [("levelwise", False), ("levelwise", True),
                                       ("subtrees", False)])
def test_traced_run_matches_untraced_and_attributes_every_job(spark, plan, ckpt):
    rows = tiny_rows(1)
    inst = spark.createDataFrame(rows, "feature string, id string, x double, y double").persist()
    inst.count()
    ck = lambda i: os.path.join(spark.work, f"{plan}-{i}") if ckpt else None  # noqa: E731
    _mine(spark, inst, plan, ck(0))  # warm
    plain = _mine(spark, inst, plan, ck(1))

    before = (tr.Miner.__dict__["_stats"], type(inst).__dict__["collect"])
    tracer = tr.Tracer(spark.sparkContext, type(inst))
    log = tr.EventLog(spark, os.path.join(spark.work, "eventlog"), name=f"{plan}-{int(ckpt)}")
    tracer.install()
    log.start()
    try:
        t0 = time.time()
        traced = _mine(spark, inst, plan, ck(2))
        t1 = time.time()
    finally:
        tracer.uninstall()
        events = log.stop()
    inst.unpersist()
    _same(plain, traced)

    m = tr.analyse(events, tracer, [(t0, t1)], [traced], cores=2, untraced_mine_s=0.0)
    assert set(m) == set(tr.metric_units())
    assert m["select.jobs"] == 0
    assert m["mine.jobs"] > 0
    assert sum(m[f"{row}.jobs"] for row in tr.ROWS) == m["mine.jobs"]
    assert m["other.jobs"] == 0
    assert m["trace.attributed_share"] >= 0.95
    assert m["pairs.emitted_rows"] == traced.pair_count
    assert 0 < m["extend.kept_ratio"] <= 1
    assert (tr.Miner.__dict__["_stats"], type(inst).__dict__["collect"]) == before
