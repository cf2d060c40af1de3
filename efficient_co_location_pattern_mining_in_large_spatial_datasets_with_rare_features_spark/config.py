"""Engine configuration.

Mirrors the reference's ``AppConfig`` (reference: include/config.h:20-46,
src/config.cpp:20-49) but adds the Spark-physical knobs (cell size, skew
salting, checkpointing) the single-threaded reference never needed.
``min_cond_prob`` is parsed-but-dead in the reference (src/config.cpp:42) and
is intentionally absent here.
"""

from __future__ import annotations

import math
from dataclasses import dataclass


@dataclass(frozen=True)
class ColocationConfig:
    """All knobs for one mining run.

    Semantics knobs (affect the result set; checked on construction):

    - ``neighbor_distance``: Euclidean threshold *d*, finite and > 0; the
      neighbor predicate is inclusive (``dist <= d``, reference
      src/spatial_index.cpp:83,102).
    - ``min_prevalence``: finite WPI threshold (reference src/miner.cpp:424).
    - ``max_pattern_size``: stop the level-wise loop after size-k patterns,
      k >= 2 (None = run until no prevalent patterns remain, reference
      behavior).

    Physical knobs (must never change the result set):

    - ``cell_size``: grid cell edge used for the spatial self-join.  Must be
      ``<= neighbor_distance`` for a 1-cell stencil; smaller cells trade a
      wider stencil for fewer intra-cell candidate pairs in dense data.
      None = ``neighbor_distance`` (the reference's d x d grid,
      src/spatial_index.cpp:63-73).
    - ``salt_threshold``: cells holding more instances than this are "hot"
      and their probe side is split into ``salt_buckets`` hash buckets so a
      dense city-center cell does not serialize into one task.  Salting is
      the pair join's only skew handling (operators/pairs.py).
    """

    neighbor_distance: float
    min_prevalence: float
    max_pattern_size: int | None = None

    cell_size: float | None = None
    salt_threshold: int = 50_000
    salt_buckets: int = 8

    checkpoint_dir: str | None = None

    #: opt-in HyperLogLog++ participation counts: relative standard
    #: deviation for ``approx_count_distinct`` (e.g. 0.01), or None for the
    #: reference-exact ``countDistinct`` (default).  At extreme scale the
    #: exact distinct per (pattern, position) is the costliest aggregation
    #: in the plan; HLL sketches combine map-side and shuffle O(1) state
    #: per group.  Patterns whose WPI sits within ~rsd of min_prevalence
    #: may flip relative to the exact run — use for exploratory passes,
    #: never for golden comparisons.
    approx_rsd: float | None = None

    def __post_init__(self) -> None:
        d, mp, cap = self.neighbor_distance, self.min_prevalence, self.max_pattern_size
        if not (math.isfinite(d) and d > 0):
            raise ValueError(f"neighbor_distance must be finite and > 0, got {d}")
        if not math.isfinite(mp):
            raise ValueError(f"min_prevalence must be finite, got {mp}")
        if cap is not None and cap < 2:
            raise ValueError(f"max_pattern_size must be None or >= 2, got {cap}")

    def effective_cell_size(self) -> float:
        c = self.cell_size if self.cell_size is not None else self.neighbor_distance
        if c <= 0:
            raise ValueError(f"cell_size must be > 0, got {c}")
        if c > self.neighbor_distance:
            raise ValueError(
                f"cell_size ({c}) must be <= neighbor_distance "
                f"({self.neighbor_distance}) so the join stencil stays bounded"
            )
        return c


def load_config_file(path: str) -> ColocationConfig:
    """Parse the reference's key=value config format.

    Reference: src/config.cpp:20-49 — ``#`` comments, ``key=value`` lines,
    silent defaults for missing keys.  Recognized keys: ``neighbor_distance``,
    ``min_prevalence``; others (``dataset_path``, ``output_path``,
    ``min_cond_prob``, ``debug_mode``) are accepted and exposed in ``extras``.
    """
    # Missing-key defaults mirror the reference AppConfig
    # (include/config.h:40-44: neighborDistance=5.0, minPrev=0.6).
    d = 5.0
    prev = 0.6
    extras: dict[str, str] = {}
    try:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line or line.startswith("#") or "=" not in line:
                    continue
                key, _, val = line.partition("=")
                key, val = key.strip(), val.strip()
                if key == "neighbor_distance":
                    d = float(val)
                elif key == "min_prevalence":
                    prev = float(val)
                else:
                    extras[key] = val
    except FileNotFoundError:
        pass  # reference uses defaults when the file is absent (config.cpp:23-27)
    cfg = ColocationConfig(neighbor_distance=d, min_prevalence=prev)
    object.__setattr__(cfg, "_extras", extras)
    return cfg
