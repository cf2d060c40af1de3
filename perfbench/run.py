#!/usr/bin/env python3
"""Co-location miner benchmark.

    python3 perfbench/run.py --cores 4 --shuffle-partitions 4 --driver-memory 4g \\
        --workload sf01_levelwise --seed 0 --seconds 10 --trace 0

Run from the repository root.  One run:

1. generates the workload's instances from the seed and computes the
   expected results with the DuckDB oracle (not timed);
2. set-up (``setup_s``): starts a pinned Spark session, loads and persists
   the instances and runs the first, cold mine on the instances of a central
   window (about a tenth of them), which compiles and warms the same plans;
3. repeats full mines until ``--seconds`` have passed (``mine_s`` is their
   median), checking every result against the oracle;
4. with ``--trace 1`` the window is split: untraced mines first, then mines
   with the layer wrappers and Spark's event log attached, which give the
   per-layer metrics (see layertrace.py).

Every process the run starts is stopped and waited for before it exits.
The last line of standard output is one JSON object with ``correct``,
``attempted`` (mine calls), ``failed`` (calls that raised or disagreed with
the oracle) and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time
import traceback

from oracle import expected, mismatches
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

#: environment that get_spark or spark-submit would otherwise read; every
#: setting it could change is passed explicitly instead
_SCRUB = ("SPARK_LOCAL_DIRS", "PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR", "JAVA_TOOL_OPTIONS",
          "_JAVA_OPTIONS", "SPARK_DRIVER_MEMORY", "SPARK_LOCAL_IP")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, required=True, help="local[N] and the JVM's CPU count")
    p.add_argument("--shuffle-partitions", type=int, required=True)
    p.add_argument("--driver-memory", required=True)
    return p.parse_args(argv)


def start_spark(eng, args, work: str):
    for k in list(os.environ):
        if k.startswith("SPARK_GRAFT_") or k in _SCRUB:
            del os.environ[k]
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    spark = eng.get_spark(
        f"local[{args.cores}]",
        app_name="perfbench",
        shuffle_partitions=args.shuffle_partitions,
        extra_conf={
            "spark.driver.memory": args.driver_memory,
            "spark.driver.extraJavaOptions": f"-XX:ActiveProcessorCount={args.cores}",
            # spill and warehouse inside the checkout, never RAM-backed /dev/shm
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.host": "localhost",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def adopt_orphans() -> None:
    """Become the parent of every orphaned descendant (PR_SET_CHILD_SUBREAPER),
    so that workers the Spark JVM leaves behind can still be waited for."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _children() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(d))
    return out


def _reap_all(seconds: float) -> list[int]:
    """Reap children as they end, for up to ``seconds``; the ones still running."""
    end = time.monotonic() + seconds
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        left = _children()
        if not left or time.monotonic() >= end:
            return left
        time.sleep(0.05)


def stop_processes() -> None:
    """Stop the Spark gateway JVM and every other process this run started,
    and wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
    if proc is not None and proc.stdin is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
        except OSError:
            pass
    # the JVM runs its shutdown hooks; its Python workers exit when it is gone
    left = _reap_all(30.0)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not left:
            break
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        left = _reap_all(10.0)


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


#: share of the instances, in a central window of the plane, that the cold
#: set-up mine runs on
WARMUP_SHARE = 0.1


def warmup_rows(rows):
    """The instances inside a central window that holds about WARMUP_SHARE of
    them.  A window keeps the density, so the cold mine runs the same levels
    and plans as a full one."""
    h = WARMUP_SHARE ** 0.5 / 2
    qx = rows.x.quantile([0.5 - h, 0.5 + h]).to_numpy()
    qy = rows.y.quantile([0.5 - h, 0.5 + h]).to_numpy()
    return rows[rows.x.between(*qx) & rows.y.between(*qy)].reset_index(drop=True)


class Runner:
    """Mines one workload repeatedly and checks every result."""

    def __init__(self, eng, spark, wl, work: str, cores: int):
        self.eng, self.spark, self.wl, self.work, self.cores = eng, spark, wl, work, cores
        self.attempted = self.failed = 0

    def mine(self, instances, want):
        """One timed mine call, checked against ``want``: (seconds, result or None)."""
        wl = self.wl
        self.attempted += 1
        ckpt = os.path.join(self.work, f"ckpt-{self.attempted}") if wl.checkpoint else None
        cfg = self.eng.ColocationConfig(
            wl.neighbor_distance, wl.min_prevalence, max_pattern_size=wl.max_pattern_size,
            checkpoint_dir=ckpt,
        )
        miner = self.eng.ColocationMiner(self.spark, cfg)
        t0 = time.perf_counter()
        try:
            if wl.plan == "subtrees":
                res = miner.mine_subtrees(instances, max_workers=self.cores)
            else:
                res = miner.mine(instances)
        except Exception:  # a failed call is counted, the run goes on
            traceback.print_exc()
            self.failed += 1
            return time.perf_counter() - t0, None
        dt = time.perf_counter() - t0
        if ckpt:
            shutil.rmtree(ckpt, ignore_errors=True)
        bad = mismatches(res, want)
        if bad:
            print(f"oracle mismatch: {bad[:5]}", file=sys.stderr)
            self.failed += 1
        return dt, res

    def window(self, instances, want, seconds: float, on_mine=None) -> list[float]:
        """Warm mines until ``seconds`` have passed (at least one)."""
        times = []
        end = time.perf_counter() + seconds
        while not times or time.perf_counter() < end:
            t0 = time.time()
            dt, res = self.mine(instances, want)
            times.append(dt)
            if on_mine is not None and res is not None:
                on_mine(t0, time.time(), res)
        return times


def main(argv=None) -> int:
    args = parse_args(argv)
    adopt_orphans()
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    import efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark as eng

    wl = WORKLOADS[args.workload]
    rows = wl.generate(args.seed)
    small = warmup_rows(rows)
    want, want_small = (
        expected(r, wl.neighbor_distance, wl.min_prevalence, wl.max_pattern_size, threads=args.cores)
        for r in (rows, small)
    )

    work = os.path.join(HERE, ".work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(eng, args, work)
        instances, warmup = (
            spark.createDataFrame(r, "feature string, id string, x double, y double").persist()
            for r in (rows, small)
        )
        instances.count()
        warmup.count()
        runner = Runner(eng, spark, wl, work, args.cores)
        runner.mine(warmup, want_small)
        warmup.unpersist()
        setup_s = time.perf_counter() - t0

        if not args.trace:
            times = runner.window(instances, want, args.seconds)
            metrics = {
                "setup_s": (setup_s, "s"),
                "mine_s": (statistics.median(times), "s"),
            }
        else:
            import layertrace as tr

            untraced = runner.window(instances, want, args.seconds / 2)
            tracer = tr.Tracer(spark.sparkContext, type(instances))
            log = tr.EventLog(spark, os.path.join(work, "eventlog"))
            mines, results = [], []
            tracer.install()
            log.start()
            try:
                runner.window(instances, want, args.seconds / 2, lambda a, b, r: (mines.append((a, b)), results.append(r)))
            finally:
                tracer.uninstall()
                events = log.stop()
            values = tr.analyse(events, tracer, mines, results, args.cores,
                                statistics.median(untraced))
            times = untraced
            metrics = {k: (values[k], u) for k, u in tr.metric_units().items()}
        rss = peak_rss_mb(spark)
        if args.trace:
            metrics["peak_rss_mb"] = (rss, "MB")
        instances.unpersist()
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            stop_processes()
            shutil.rmtree(work, ignore_errors=True)

    n = runner.attempted
    print(f"{wl.name} seed {args.seed}: {n} mine calls ({len(times)} warm untraced), "
          f"{runner.failed} failed")
    if not args.trace:
        print(f"  setup_s      {metrics['setup_s'][0]:10.3f} s   session, load, cold mine on "
              f"{len(small)} instances")
        print(f"  mine_s       {metrics['mine_s'][0]:10.3f} s   median of {len(times)} warm mines")
    print(f"  peak_rss_mb  {rss:10.1f} MB  driver JVM + Python")
    print(f"  error_rate   {runner.failed / n:10.3f}     {runner.failed} of {n} mine calls")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": n,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
