"""Full golden runs against the two large reference datasets (FIXTURES.md §4).

Skippable with SPARK_GRAFT_SKIP_LARGE=1 when iterating on unrelated code;
each test skips, naming the missing file, where the reference dataset is
not mounted.
"""

import os

import pytest

import efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark as eng
from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.sources.csv_source import (
    load_instances_csv,
)

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SKIP_LARGE") == "1", reason="large goldens skipped"
)

REFDATA = "/root/reference/data"


def _csv(name: str) -> str:
    path = f"{REFDATA}/{name}"
    if not os.path.exists(path):
        pytest.skip(f"reference dataset not mounted ({path} is missing)")
    return path


def test_lasvegas_golden(spark):
    inst = load_instances_csv(
        spark, _csv("LasVegas_x_y_alphabet_version_03_2.csv")
    ).persist()
    res = eng.ColocationMiner(spark, eng.ColocationConfig(160.0, 0.15)).mine(inst)
    inst.unpersist()
    assert res.pair_count == 182_738
    assert abs(res.delta - 2.90462) < 1e-4
    by_size = {k: len(v) for k, v in res.by_size().items()}
    assert by_size == {2: 120, 3: 222, 4: 136, 5: 34, 6: 1}
    assert len(res.patterns) == 513


def test_50k_golden(spark):
    inst = load_instances_csv(spark, _csv("5k_15f_50k.csv")).persist()
    res = eng.ColocationMiner(spark, eng.ColocationConfig(12.0, 0.2)).mine(inst)
    inst.unpersist()
    assert res.pair_count == 76_006
    assert abs(res.delta - 1.10577) < 1e-4
    assert len(res.patterns) == 48
    assert all(len(p) == 2 for p in res.patterns)


def test_lasvegas_subtree_plan_golden(spark):
    """Algorithm-3 per-subtree plan must reproduce the exact pattern set."""
    inst = load_instances_csv(
        spark, _csv("LasVegas_x_y_alphabet_version_03_2.csv")
    ).persist()
    res = eng.ColocationMiner(
        spark, eng.ColocationConfig(160.0, 0.15)
    ).mine_subtrees(inst)
    inst.unpersist()
    assert res.pair_count == 182_738
    by_size = {k: len(v) for k, v in res.by_size().items()}
    assert by_size == {2: 120, 3: 222, 4: 136, 5: 34, 6: 1}
    assert len(res.patterns) == 513
