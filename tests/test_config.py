"""ColocationConfig validation and the reference config-file parser."""

import pytest

from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.config import (
    ColocationConfig,
    load_config_file,
)


@pytest.mark.parametrize(
    "field,args,kwargs",
    [
        ("neighbor_distance", (float("nan"), 0.1), {}),
        ("neighbor_distance", (0.0, 0.1), {}),
        ("neighbor_distance", (-1.0, 0.1), {}),
        ("neighbor_distance", (float("inf"), 0.1), {}),
        ("min_prevalence", (1.0, float("nan")), {}),
        ("max_pattern_size", (1.0, 0.1), {"max_pattern_size": 1}),
    ],
)
def test_invalid_semantic_config_raises_naming_the_field(field, args, kwargs):
    """A NaN, infinite or non-positive d, a NaN min_prev or a cap below
    size 2 used to mine to an empty or plan-dependent result; now the
    constructor names the field."""
    with pytest.raises(ValueError, match=field):
        ColocationConfig(*args, **kwargs)


def test_load_config_file(tmp_path):
    path = tmp_path / "app.cfg"
    path.write_text("# reference format\nneighbor_distance = 12\nmin_prevalence=0.2\ndataset_path=x.csv\n")
    cfg = load_config_file(str(path))
    assert (cfg.neighbor_distance, cfg.min_prevalence) == (12.0, 0.2)
    assert cfg._extras == {"dataset_path": "x.csv"}
    # a missing file gives the reference defaults
    missing = load_config_file(str(tmp_path / "absent.cfg"))
    assert (missing.neighbor_distance, missing.min_prevalence) == (5.0, 0.6)
    path.write_text("neighbor_distance=nan\n")
    with pytest.raises(ValueError, match="neighbor_distance"):
        load_config_file(str(path))
