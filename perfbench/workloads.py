"""Seeded instance generators for the mining benchmark.

Each workload turns a seed into an instance table ``(feature, id, x, y)``
plus the mining parameters.  The miner only ever sees the generated rows.

Why the volume workload does not reuse ``BENCH/scaling.py``: that harness
replicates the sf0.1 events with ``event_id + rep * 10^7``, but the
coordinate hash depends only on ``event_id mod 99991``, so every replica
lands on the same 99,991 locations.  Its pair count then grows with rep^2
through coincident points instead of with data volume.  The generator here
draws distinct lattice sites instead.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@dataclass(frozen=True)
class Workload:
    name: str
    neighbor_distance: float
    min_prevalence: float
    max_pattern_size: int | None
    #: "levelwise" calls ColocationMiner.mine, "subtrees" mine_subtrees
    plan: str
    #: mine with a fresh checkpoint_dir on every call
    checkpoint: bool
    generate: Callable[[int], pd.DataFrame]


def _frame(features: np.ndarray, x: np.ndarray, y: np.ndarray, id_no: np.ndarray) -> pd.DataFrame:
    ids = np.char.add(np.char.add(features.astype(str), "#"), id_no.astype(str))
    return pd.DataFrame(
        {"feature": features.astype(object), "id": ids.astype(object), "x": x, "y": y}
    )


def sf01_rows(seed: int) -> pd.DataFrame:
    """The sf0.1 events as instances, with ``event_id`` shifted by the seed
    before the coordinate hash (the hash of ``events_source.X_SQL`` /
    ``Y_SQL``).  The hash depends on ``event_id mod 99991``, so every seed
    keeps the same point cloud and reassigns the event types over it; seed 0
    is the unshifted table."""
    z = np.load(os.path.join(DATA, "sf01_event_types.npz"))
    names, codes = z["names"], z["codes"]
    event_id = np.arange(len(codes), dtype=np.int64)
    e = event_id + seed
    x = ((((e * e) % 99991) * 31 + e * 48271 + 11) % 99991) / 100.0
    y = ((((e * e) % 99991) * 57 + e * 69621 + 17) % 99991) / 100.0
    return _frame(names[codes], x, y, event_id)


#: uniform volume workload: instances, and the density that gives each
#: instance about 9 cross-feature neighbours within d (as in sf0.1)
VOLUME_N = 200_000
VOLUME_FEATURES = 5
VOLUME_D = 1.0
VOLUME_DEGREE = 9.0


def volume_rows(seed: int) -> pd.DataFrame:
    """Distinct uniform locations: sites drawn without replacement from a
    lattice of spacing d/100, each moved by a jitter below half a spacing so
    no pair sits exactly at distance d."""
    rng = np.random.default_rng([1, seed])
    cross_share = 1.0 - 1.0 / VOLUME_FEATURES
    density = VOLUME_DEGREE / (cross_share * np.pi * VOLUME_D**2)
    side = float(np.sqrt(VOLUME_N / density))
    spacing = VOLUME_D / 100.0
    g = int(side / spacing)
    site = rng.choice(g * g, size=VOLUME_N, replace=False)
    jitter = rng.uniform(0.0, 0.45 * spacing, size=(2, VOLUME_N))
    x = (site % g) * spacing + jitter[0]
    y = (site // g) * spacing + jitter[1]
    f = rng.integers(0, VOLUME_FEATURES, size=VOLUME_N)
    names = np.array([f"F{i}" for i in range(VOLUME_FEATURES)])
    return _frame(names[f], x, y, np.arange(VOLUME_N))


#: LasVegas-shaped workload: Zipf feature counts, Gaussian hot spots
RARE_N = 40_000
RARE_FEATURES = 17
RARE_ZIPF = 1.6
RARE_HOTSPOTS = 8
RARE_BACKGROUND = 0.15
RARE_EXTENT = 1000.0
RARE_SIGMA = 40.0
RARE_D = 5.0


def rare_skew_rows(seed: int) -> pd.DataFrame:
    """17 features with Zipf(1.6) counts, most points in a few Gaussian hot
    spots.  Each feature prefers its own random mix of hot spots, so
    features sharing spots co-locate and the rest do not.  The city (spot
    centres and mixes) is fixed; the seed draws the instances, which keeps
    the work per mine close across seeds."""
    layout = np.random.default_rng(2)
    rng = np.random.default_rng([2, seed])
    weights = 1.0 / np.arange(1, RARE_FEATURES + 1) ** RARE_ZIPF
    counts = np.maximum(np.round(RARE_N * weights / weights.sum()).astype(int), 20)
    centers = layout.uniform(0.15 * RARE_EXTENT, 0.85 * RARE_EXTENT, size=(RARE_HOTSPOTS, 2))
    mixes = layout.dirichlet(np.full(RARE_HOTSPOTS, 0.4), size=RARE_FEATURES)
    feats, xs, ys = [], [], []
    for fi, n in enumerate(counts):
        spot = rng.choice(RARE_HOTSPOTS, size=n, p=mixes[fi])
        pts = centers[spot] + rng.normal(0.0, RARE_SIGMA, size=(n, 2))
        background = rng.random(n) < RARE_BACKGROUND
        pts[background] = rng.uniform(0.0, RARE_EXTENT, size=(int(background.sum()), 2))
        feats.append(np.full(n, fi))
        xs.append(pts[:, 0])
        ys.append(pts[:, 1])
    f = np.concatenate(feats)
    names = np.array([f"R{i:02d}" for i in range(RARE_FEATURES)])
    return _frame(names[f], np.concatenate(xs), np.concatenate(ys), np.arange(len(f)))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "sf01_levelwise",
            6.0, 0.1, None, "levelwise", False, sf01_rows,
        ),
        Workload(
            "volume_subtrees",
            VOLUME_D, 0.1, 3, "subtrees", False, volume_rows,
        ),
        Workload(
            "rare_skew_ckpt",
            RARE_D, 0.12, 5, "levelwise", True, rare_skew_rows,
        ),
    )
}
