"""Regenerate ``data/sf01_event_types.npz`` from an ``events.parquet`` table.

The ``sf01_levelwise`` workload needs only two columns of the sf0.1 events
table: ``event_id`` (0..99999, contiguous) and ``event_type``.  The fixture
stores the type of each event as a uint8 code plus the sorted type names, so
the benchmark runs without the test-data tree.

Usage: python3 perfbench/make_sf01_fixture.py <dir holding events.parquet>
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf01_event_types.npz")


def main(sf_dir: str) -> None:
    t = pq.read_table(os.path.join(sf_dir, "events.parquet"), columns=["event_id", "event_type"])
    t = t.sort_by("event_id")
    ids = t.column("event_id").to_numpy()
    if not np.array_equal(ids, np.arange(len(ids))):
        raise SystemExit("event_id must be contiguous from 0")
    types = np.asarray(t.column("event_type").to_pylist())
    names, codes = np.unique(types, return_inverse=True)
    np.savez_compressed(OUT, names=names, codes=codes.astype(np.uint8))
    print(f"wrote {OUT}: {len(codes)} events, types {list(names)}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    main(sys.argv[1])
