"""Opportunistic 8->32 re-measurement watcher.

The 8->32 scaling leg has been unmeasurable since round 6: the
hypervisor delivers ~24 effective cores, so any 32-wide work pays
+35-50% and t32 can exceed t8 (BENCH/scaling_last_8_32.json documents
the non-measurement with its same-hour controls).  This watcher probes
the 32-wide control on a timer and fires the full wave-aware campaign
(BENCH/scaling.py, SPARK_GRAFT_SCALE_LO=8 HI=32) the moment a clean
window appears — the only honest way to re-land that figure.

Run:  python BENCH/watch_8_32.py [hours]      # default 3
Probes append to BENCH/watch_8_32_probes.jsonl either way, so even a
fruitless watch leaves evidence of how often the cap was checked.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from control import control  # noqa: E402
from probe_mem_latency import BEST_SINGLE_NS, probe as lat_probe  # noqa: E402

PROBE_EVERY = float(os.environ.get("SPARK_GRAFT_WATCH_EVERY", "600"))
PAUSE_FILE = os.environ.get("SPARK_GRAFT_SCALE_PAUSE", "/tmp/scaling_pause")

#: max 32-wide mean per-miss cost (relative to the healthy single
#: reference) for a window to be worth a campaign.  Round-8 forensics
#: (BENCH/probe_host_latency_r8.json): a register-CLEAN window fired a
#: campaign whose 10 attempts all rejected — the register burn cannot
#: see latency starvation, and the mining leg is latency-bound.  The
#: 00:28 fire would have been skipped by this gate; healthy hardware
#: sits well under 1.35x at 32-wide.
LAT_GATE = float(os.environ.get("SPARK_GRAFT_WATCH_LAT_GATE", "1.35"))


def single_ref_ns() -> float:
    """Healthy single-process per-miss reference for the latency gate.

    Priority: SPARK_GRAFT_WATCH_LAT_SINGLE_NS override, then a start-up
    calibration (best of two serial chases on THIS host — best-of, so a
    single loaded calibration window can only tighten the gate, never
    loosen it), then the 2026-08-19 host constant.  Round-8 ADVICE: the
    hard-coded calibration silently mis-gates on different hardware."""
    raw = os.environ.get("SPARK_GRAFT_WATCH_LAT_SINGLE_NS")
    if raw:
        try:
            v = float(raw)
            if v > 0:
                return v
        except ValueError:
            pass
        print(
            f"WARNING: bad SPARK_GRAFT_WATCH_LAT_SINGLE_NS={raw!r}; "
            "recalibrating",
            flush=True,
        )
    try:
        from probe_mem_latency import chase

        return min(chase(), chase()) * 1e9
    except Exception as e:  # calibration is best-effort; keep watching
        print(
            f"WARNING: start-up latency calibration failed ({e!r}); "
            f"using host constant {BEST_SINGLE_NS} ns",
            flush=True,
        )
        return BEST_SINGLE_NS


def main() -> None:
    hours = float(sys.argv[1]) if len(sys.argv) > 1 else 3.0
    deadline = time.time() + hours * 3600
    bench_dir = os.path.dirname(os.path.abspath(__file__))
    log = os.path.join(bench_dir, "watch_8_32_probes.jsonl")
    ref_ns = single_ref_ns()
    print(json.dumps({"lat_ref_ns": round(ref_ns, 1)}), flush=True)
    while time.time() < deadline:
        while os.path.exists(PAUSE_FILE) and time.time() < deadline:
            time.sleep(30)
        if time.time() >= deadline:
            break
        c = control(32)
        if c["clean"]:
            # second gate: the register burn cannot witness latency
            # starvation, which is what actually flattens the leg.  A
            # failed probe child (empty stdout) must not kill a watch
            # that may have hours left — log and skip the window
            # (round-8 ADVICE).
            try:
                c.update(lat_probe(32))
                c["lat_ref_ns"] = round(ref_ns, 1)
                c["lat_ok"] = c["lat_wide_mean_ns"] <= LAT_GATE * ref_ns
            except Exception as e:
                c["lat_ok"] = False
                c["lat_err"] = repr(e)
        with open(log, "a") as f:
            f.write(json.dumps(c) + "\n")
        print(json.dumps(c), flush=True)
        if c["clean"] and c.get("lat_ok"):
            print("clean 32-wide window — launching 8->32 campaign", flush=True)
            env = dict(
                os.environ,
                SPARK_GRAFT_SCALE_LO="8",
                SPARK_GRAFT_SCALE_HI="32",
                SPARK_GRAFT_SCALE_RUNS="2",
                SPARK_GRAFT_SCALE_ATTEMPTS="10",
                SPARK_GRAFT_SCALE_SLEEP="60",
                # per-cluster-size shuffle sizing (8->128, 32->512):
                # the round-8 A/B (BENCH/probe_shuffle_ab_32.json) shows
                # fixed-64 leaves the 32-wide level-3 join at 2 straggler-
                # bound task waves, understating the leg >2x
                SPARK_GRAFT_SHUFFLE_PER_CORE="16",
                # this leg's healthy ceiling is 0.56-0.62 (bandwidth
                # wall); 0.5 is the round-4-level "valid figure" bar
                SPARK_GRAFT_SCALE_TARGET="0.5",
            )
            subprocess.run(
                [sys.executable, os.path.join(bench_dir, "scaling.py")],
                env=env,
                timeout=7200,
            )
            return
        time.sleep(PROBE_EVERY)
    print("watch expired with no clean 32-wide window", flush=True)


if __name__ == "__main__":
    main()
