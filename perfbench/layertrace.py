"""Per-layer trace of mining calls, from the benchmark's own files.

The engine is not edited.  While a ``Tracer`` is installed it wraps the
miner's layer functions.  Each wrapper records a span (layer, thread, start,
end) and labels the Spark jobs it triggers through the job group of its own
thread, which also covers ``mine_subtrees``' pool threads.  An
``EventLog`` listener, attached only for the traced mines, records Spark's
job, stage and task events and the SQL plans; ``analyse`` joins the two.

Spark is lazy, so a layer's jobs run where its action fires: the in-memory
pair join, for example, runs inside the k=2 participation aggregate.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators import (
    pairs as pairs_mod,
)
from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.plans import (
    miner as miner_mod,
)
from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.sources import (
    bucketed as bucketed_mod,
)

Miner = miner_mod.ColocationMiner

#: job-group prefix that marks a job as started inside a traced layer
GROUP = "perfbench:"

#: named layers in report order, then the two residual rows
LAYERS = ("stats", "pairs", "edges", "extend", "materialize", "participation", "select")
ROWS = LAYERS[:1] + ("stats.hashcheck",) + LAYERS[1:] + ("other",)
LAYER_METRICS = (
    ("wall_s", "s"), ("self_s", "s"), ("jobs", "count"), ("stages", "count"),
    ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
    ("task_skew", "ratio"),
)
TOTAL_METRICS = (
    ("mine.wall_s", "s"), ("mine.samples", "count"), ("mine.jobs", "count"),
    ("mine.shuffle_mb", "MB"), ("mine.failed_tasks", "count"), ("mine.driver_gap_s", "s"),
    ("mine.executor_busy_share", "ratio"), ("trace.attributed_share", "ratio"),
    ("trace.overhead_s", "s"),
    ("pairs.candidate_ratio", "ratio"), ("pairs.probe_rows", "count"),
    ("pairs.emitted_rows", "count"), ("extend.kept_ratio", "ratio"),
    ("extend.join_rows", "count"), ("select.prune_ratio", "ratio"),
    ("select.generated", "count"),
)
LEVELS = (2, 3, 4, 5)
LEVEL_METRICS = (("rows", "count"), ("candidates", "count"), ("prevalent", "count"), ("wall_s", "s"))


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = {f"{r}.{m}": u for r in ROWS for m, u in LAYER_METRICS}
    out.update(TOTAL_METRICS)
    out.update({f"k{k}.{m}": u for k in LEVELS for m, u in LEVEL_METRICS})
    return out


@dataclass
class Span:
    layer: str
    thread: int
    start: float
    end: float
    #: time covered by directly nested spans of this thread
    child_s: float
    #: an enclosing span of the same thread has the same layer
    nested_in_same: bool


@dataclass
class _Frame:
    layer: str
    child_s: float = 0.0


@dataclass
class Tracer:
    """Wraps the layer functions while installed; collects spans."""

    sc: object
    #: the concrete DataFrame class of the session (the classic one)
    df_cls: type
    spans: list[Span] = field(default_factory=list)
    generated: int = 0
    filtered: int = 0
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)
    _saved: list = field(default_factory=list)

    # ------------------------------------------------------------ spans
    def _run(self, layer: str, fn, args, kwargs):
        stack = self._local.__dict__.setdefault("stack", [])
        nested = any(f.layer == layer for f in stack)
        frame = _Frame(layer)
        stack.append(frame)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", GROUP + layer)
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            stack.pop()
            if stack:
                stack[-1].child_s += t1 - t0
            with self._lock:
                self.spans.append(
                    Span(layer, threading.get_ident(), t0, t1, frame.child_s, nested)
                )

    def _wrap(self, layer: str, fn):
        def wrapper(*args, **kwargs):
            return self._run(layer, fn, args, kwargs)

        return wrapper

    # ---------------------------------------------------------- install
    def _patch(self, owner, name: str, replacement) -> None:
        self._saved.append((owner, name, owner.__dict__[name]))
        setattr(owner, name, replacement)

    def install(self) -> None:
        for layer, targets in (
            ("pairs", [(miner_mod, "neighbor_pairs"), (pairs_mod, "compute_bounds"),
                       (pairs_mod, "hot_cells_local")]),
            ("edges", [(Miner, "_edge_table"), (bucketed_mod, "write_bucketed")]),
            ("extend", [(Miner, "_table_k")]),
            ("materialize", [(Miner, "_write_level"), (self.df_cls, "localCheckpoint")]),
            ("participation", [(Miner, "_participation")]),
            ("select", [(Miner, "_select_prevalent")]),
        ):
            for owner, name in targets:
                self._patch(owner, name, self._wrap(layer, owner.__dict__[name]))

        stats = Miner.__dict__["_stats"]

        def traced_stats(*args, **kwargs):
            counts, rank, delta, join_check = self._run("stats", stats, args, kwargs)
            # joining the background id-hash check is stats work too
            return counts, rank, delta, self._wrap("stats", join_check)

        self._patch(Miner, "_stats", traced_stats)

        gen, filt = miner_mod.generate_candidates, miner_mod.filter_candidates

        def traced_generate(*args, **kwargs):
            out = self._run("select", gen, args, kwargs)
            with self._lock:
                self.generated += len(out)
            return out

        def traced_filter(*args, **kwargs):
            out = self._run("select", filt, args, kwargs)
            with self._lock:
                self.filtered += len(out)
            return out

        self._patch(miner_mod, "generate_candidates", traced_generate)
        self._patch(miner_mod, "filter_candidates", traced_filter)

        # Calls made inline by the plan bodies: their one collect() is the
        # k=2 participation aggregate; persist()/unpersist() of edges and
        # level tables are materialization.
        plan_codes = {Miner.mine.__code__, Miner.mine_subtrees.__code__}
        plan_codes.update(c for c in Miner.mine_subtrees.__code__.co_consts
                          if getattr(c, "co_name", None) == "run_subtree")
        for layer, name in (("participation", "collect"), ("materialize", "persist"),
                            ("materialize", "unpersist")):
            self._patch(self.df_cls, name, self._wrap_inline(layer, self.df_cls.__dict__[name],
                                                             plan_codes))

    def _wrap_inline(self, layer: str, fn, plan_codes):
        def wrapper(*args, **kwargs):
            if sys._getframe(1).f_code in plan_codes:
                return self._run(layer, fn, args, kwargs)
            return fn(*args, **kwargs)

        return wrapper

    def uninstall(self) -> None:
        while self._saved:
            owner, name, original = self._saved.pop()
            setattr(owner, name, original)


class EventLog:
    """Spark's own event-log listener, attached to a running context for a
    bounded stretch so untraced mines pay nothing for it."""

    def __init__(self, spark, directory: str, name: str = "trace"):
        if not re.fullmatch(r"[a-z0-9-]+", name):
            raise ValueError(f"event-log name must be [a-z0-9-]+ (Spark rewrites others): {name!r}")
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        jvm = sc._jvm
        os.makedirs(directory, exist_ok=True)
        conf = (
            self._sc.conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
            .set("spark.eventLog.overwrite", "true")
        )
        self.path = os.path.join(directory, name)
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            name, jvm.scala.Option.apply(None),
            jvm.java.net.URI("file:" + os.path.abspath(directory)), conf,
            self._sc.hadoopConfiguration(),
        )

    def start(self) -> None:
        self._listener.start()
        self._sc.addSparkListener(self._listener)

    def stop(self) -> list[dict]:
        """Detach, flush and return the recorded events."""
        # wait until the bus has delivered every event posted so far
        self._sc.listenerBus().waitUntilEmpty()
        self._sc.removeSparkListener(self._listener)
        self._listener.stop()
        with open(self.path) as f:
            return [json.loads(line) for line in f]


# ------------------------------------------------------------------ analysis
def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


_HASHCHECK = re.compile(r"xxhash64\(id#\d+")
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def analyse(events: list[dict], tracer: Tracer, mines: list[tuple[float, float]],
            results: list, cores: int, untraced_mine_s: float) -> dict[str, float]:
    """Per-mine layer metrics of the traced mines, as ``metric_units()``."""
    n = max(len(mines), 1)
    plans, plan_text = {}, {}
    jobs, stage_job, tasks = {}, {}, defaultdict(list)
    accum = defaultdict(float)
    for ev in events:
        kind = ev["Event"]
        if kind in (_SQL_START, _SQL_UPDATE):
            plans[ev["executionId"]] = ev["sparkPlanInfo"]
            plan_text[ev["executionId"]] = ev.get("physicalPlanDescription", "")
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id") or "",
                "sql": props.get("spark.sql.execution.id"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
            }
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            rd, wr = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
            tasks[ev["Stage ID"]].append((
                (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                wr.get("Shuffle Bytes Written", 0),
                m.get("Disk Bytes Spilled", 0),
                ev["Task End Reason"]["Reason"] != "Success",
            ))
            for a in info.get("Accumulables", []):
                if isinstance(a.get("Update"), (int, float, str)):
                    try:
                        accum[a["ID"]] += float(a["Update"])
                    except ValueError:
                        pass

    def layer_of(job: dict) -> str:
        if job["group"].startswith(GROUP):
            return job["group"][len(GROUP):]
        if job["sql"] is not None and _HASHCHECK.search(plan_text.get(int(job["sql"]), "")):
            return "stats.hashcheck"
        return "other"

    def in_mine(t: float) -> bool:
        return any(lo <= t <= hi for lo, hi in mines)

    jobs = {j: v for j, v in jobs.items() if v["end"] is not None and in_mine(v["start"])}
    by_layer = defaultdict(list)
    for jid, job in jobs.items():
        by_layer[layer_of(job)].append(jid)
    stages_of = defaultdict(list)
    for sid, jid in stage_job.items():
        if jid in jobs and sid in tasks:
            stages_of[jid].append(sid)

    wall = sum(hi - lo for lo, hi in mines)
    out: dict[str, float] = {}
    spans_by_layer = defaultdict(list)
    for s in tracer.spans:
        spans_by_layer[s.layer].append(s)
    for row in ROWS:
        jids = by_layer.get(row, [])
        row_tasks = [t for j in jids for sid in stages_of[j] for t in tasks[sid]]
        times = [t[0] for t in row_tasks]
        if row in LAYERS:
            outer = [s for s in spans_by_layer[row] if not s.nested_in_same]
            w = sum(s.end - s.start for s in outer)
            self_s = sum(s.end - s.start - s.child_s for s in spans_by_layer[row])
        elif row == "stats.hashcheck":
            w = self_s = sum(_union([(jobs[j]["start"], jobs[j]["end"])], lo, hi)
                             for j in jids for lo, hi in mines)
        else:
            named = [(s.start, s.end) for s in tracer.spans]
            w = self_s = wall - sum(_union(named, lo, hi) for lo, hi in mines)
        out[f"{row}.wall_s"] = w / n
        out[f"{row}.self_s"] = self_s / n
        out[f"{row}.jobs"] = len(jids) / n
        out[f"{row}.stages"] = sum(len(stages_of[j]) for j in jids) / n
        out[f"{row}.shuffle_write_mb"] = sum(t[2] for t in row_tasks) / 1e6 / n
        out[f"{row}.shuffle_read_mb"] = sum(t[1] for t in row_tasks) / 1e6 / n
        out[f"{row}.spill_mb"] = sum(t[3] for t in row_tasks) / 1e6 / n
        med = statistics.median(times) if times else 0.0
        out[f"{row}.task_skew"] = max(times) / med if med > 0 else 0.0

    all_tasks = [t for j in jobs for sid in stages_of[j] for t in tasks[sid]]
    job_spans = [(v["start"], v["end"]) for v in jobs.values()]
    named = [(s.start, s.end) for s in tracer.spans]
    out["mine.wall_s"] = wall / n
    out["mine.samples"] = float(len(mines))
    out["mine.jobs"] = len(jobs) / n
    out["mine.shuffle_mb"] = sum(t[2] for t in all_tasks) / 1e6 / n
    out["mine.failed_tasks"] = sum(t[4] for t in all_tasks) / n
    out["mine.driver_gap_s"] = (wall - sum(_union(job_spans, lo, hi) for lo, hi in mines)) / n
    out["mine.executor_busy_share"] = sum(t[0] for t in all_tasks) / (wall * cores) if wall else 0.0
    out["trace.attributed_share"] = (
        sum(_union(named, lo, hi) for lo, hi in mines) / wall if wall else 0.0
    )
    traced = statistics.median(hi - lo for lo, hi in mines) if mines else 0.0
    out["trace.overhead_s"] = traced - untraced_mine_s

    # useful-to-attempted ratios from the SQL-metric accumulators
    def rows_of(match) -> float:
        ids = set()
        for info in plans.values():
            for node in _plan_nodes(info):
                if match(node):
                    ids.update(m["accumulatorId"] for m in node.get("metrics", [])
                               if m["name"] == "number of output rows")
        return sum(accum[i] for i in ids) / n

    probe = rows_of(lambda nd: nd["nodeName"] == "Generate" and "_off#" in nd["simpleString"])
    emitted = rows_of(lambda nd: "Join" in nd["nodeName"] and "t_cx#" in nd["simpleString"])
    ext = rows_of(lambda nd: "Join" in nd["nodeName"] and "member_id#" in nd["simpleString"])
    kept = sum(lv.table_rows for r in results for lv in r.levels if lv.k >= 3) / n
    out["pairs.candidate_ratio"] = emitted / probe if probe else 0.0
    out["pairs.probe_rows"] = probe
    out["pairs.emitted_rows"] = emitted
    out["extend.kept_ratio"] = kept / ext if ext else 0.0
    out["extend.join_rows"] = ext
    out["select.prune_ratio"] = tracer.filtered / tracer.generated if tracer.generated else 0.0
    out["select.generated"] = tracer.generated / n

    for k in LEVELS:
        lvls = [lv for r in results for lv in r.levels if lv.k == k]
        out[f"k{k}.rows"] = sum(lv.table_rows for lv in lvls) / n
        out[f"k{k}.candidates"] = sum(lv.n_candidates for lv in lvls) / n
        out[f"k{k}.prevalent"] = sum(lv.n_prevalent for lv in lvls) / n
        out[f"k{k}.wall_s"] = sum(lv.seconds for lv in lvls) / n
    return out
