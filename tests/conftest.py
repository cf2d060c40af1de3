import os
import sys
from types import SimpleNamespace

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark as eng  # noqa: E402
from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark import oracle  # noqa: E402

REFDATA = "/root/reference/data"
TESTDATA_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = eng.get_spark(
        os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[8]"),
        app_name="engine-tests",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_TEST_SHUFFLE", "8")),
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sample_instances(spark):
    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.sources.csv_source import (
        load_instances_csv,
    )

    path = f"{REFDATA}/sample_data.csv"
    if not os.path.exists(path):
        pytest.skip(f"reference dataset not mounted ({path} is missing)")
    return load_instances_csv(spark, path).persist()


def _generated(spark, seed: int, n_features: int, n_instances: int, extent: float):
    rows = oracle.make_random_dataset(
        np.random.default_rng(seed), n_features=n_features, n_instances=n_instances, extent=extent
    )
    d, min_prev = 4.0, 0.3
    patterns, info = oracle.brute_force_mine(rows, d, min_prev)
    df = spark.createDataFrame(rows, "feature string, id string, x double, y double")
    return SimpleNamespace(
        df=df.persist(), rows=rows, d=d, min_prev=min_prev, patterns=patterns, info=info
    )


@pytest.fixture(scope="session")
def generated(spark):
    """A generated dataset that mines up to size-4 patterns, with the
    brute-force oracle's answer: ``df``, ``rows``, ``d``, ``min_prev``,
    ``patterns`` (the prevalent set) and ``info`` (counts, delta, pairs,
    wpi)."""
    return _generated(spark, 11, n_features=4, n_instances=60, extent=18.0)


@pytest.fixture(scope="session")
def generated_wide(spark):
    """Like ``generated``, with six features: patterns up to size 4, and
    size-3 patterns under four different rarest features."""
    return _generated(spark, 7, n_features=6, n_instances=48, extent=14.0)
