"""Unit tests for the wave-aware scaling harness's pure logic.

The campaign's acceptance rule decides which walls enter the
north-rule record (BENCH/scaling.py::decide_acceptance); a silent
regression there would corrupt every future measurement round, so the
rule's decision table is pinned here.  No Spark, no subprocesses —
pure-logic tests only (the heavy path is exercised by the campaign
itself, whose artifacts embed every decision).
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest

_BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH")


def _load(name):
    spec = importlib.util.spec_from_file_location(name, os.path.join(_BENCH, f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    sys.path.insert(0, _BENCH)  # scaling.py imports its sibling `control`
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path.remove(_BENCH)
    return mod


scaling = _load("scaling")


# ``wall`` is the leg's wall and ``ref`` the steady floor the retired
# witness path compared it against (None: no floor).  Neither may decide
# acceptance any more: only the two bracketing controls do.
@pytest.mark.parametrize(
    "pre,post,wall,ref,expect",
    [
        # both controls clean accepts any wall
        (True, True, 500.0, 96.1, True),
        (True, True, 100.0, None, True),
        # a wall at the old steady floor no longer rescues a dirty window
        (True, False, 100.0, 96.1, False),
        (False, False, 100.0, 96.1, False),
        # walls above the old floor, or without one, stay rejected
        (True, False, 108.0, 96.1, False),
        (True, False, 141.0, 96.1, False),
        (True, False, 1.0, None, False),
        (False, True, 1.0, None, False),
    ],
)
def test_acceptance_decision_table(pre, post, wall, ref, expect):
    accepted, reason = scaling.decide_acceptance(pre, post)
    assert accepted is expect, (wall, ref, reason)
    assert "witness" not in reason
    if accepted:
        assert reason == "both controls clean"


# The round-7 campaign artifact this harness produced: pin its shape so
# a refactor cannot silently drop the evidence fields the record cites.
def test_campaign_artifact_shape_and_consistency():
    path = os.path.join(_BENCH, "scaling_last_2_8.json")
    with open(path) as f:
        s = json.load(f)
    assert s["passes_north_rule"] is True
    assert s["scaling_efficiency"] == round((s["t2_sec"] / s["t8_sec"]) / 4, 3)
    assert s["t2_sec"] == min(s["accepted_runs_2"])
    assert s["t8_sec"] == min(s["accepted_runs_8"])
    assert s["witness_refs_sec"] == {"2": 350.8, "8": 96.1, "32": 44.0}
    for att in s["attempts"]:
        assert "ctl_pre" in att and "accepted" in att and "reason" in att
        if att["accepted"]:
            run = att["run"]
            ctl_ok = att["ctl_pre"]["clean"] and att["ctl_post"]["clean"]
            ref = att.get("witness_ref_sec")
            witnessed = ref is not None and run["wall_sec"] <= ref * (1 + s["witness_tol"])
            assert ctl_ok or witnessed, att["reason"]


def test_control_clean_requires_all_three_checks():
    control = _load("control")
    # the clean verdict must compose relative overhead, absolute wall,
    # and aggregate bandwidth — reconstruct it from a control dict
    sample = {
        "overhead": 0.05, "abs_slowdown": 0.10, "bw_ok": True,
        "tol": 0.12, "abs_tol": 0.25,
    }

    def verdict(d):
        return d["overhead"] <= d["tol"] and d["abs_slowdown"] <= d["abs_tol"] and d["bw_ok"]

    assert verdict(sample)
    assert not verdict({**sample, "overhead": 0.2})
    assert not verdict({**sample, "abs_slowdown": 0.3})
    assert not verdict({**sample, "bw_ok": False})
    # and the module constants feeding bw_ok are the calibrated ones
    assert control.BW_MIN_FRAC == pytest.approx(0.6)
    assert control._bw_ref(8) == pytest.approx(73.0)
    assert control._bw_ref(2) == pytest.approx(19.6)


# ---- bench.py's rerun-headline rule (late-r08: rerun tiebreak on clean
# controls — the control runs after the entry and cannot see a wave that
# lived inside the entry window; reproduction in the same-process rerun
# is what separates a transient from a plan-level regression) ----


def _bench_mod():
    import importlib.util as _ilu

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = _ilu.spec_from_file_location("bench_hl", os.path.join(root, "bench.py"))
    mod = _ilu.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_headline_dirty_control_takes_min():
    b = _bench_mod()
    w, tag, _ = b.headline_verdict(39.5, 10.8, ctl_clean=False, exp=12.2)
    assert (w, tag) == (10.8, "min")
    # and a slower rerun under a dirty control still keeps the best wall
    w, tag, _ = b.headline_verdict(8.7, 18.2, ctl_clean=False, exp=3.6)
    assert (w, tag) == (8.7, "min")


def test_headline_clean_control_transient_inside_entry_window():
    b = _bench_mod()
    # the observed decontaminate case: clean control, rerun back at the
    # steady reference -> transient, rerun becomes the headline
    w, tag, _ = b.headline_verdict(39.5, 10.8, ctl_clean=True, exp=12.2)
    assert (w, tag) == (10.8, "rerun")


def test_headline_clean_control_reproduced_slowness_fails_loudly():
    b = _bench_mod()
    # rerun still ~3x the reference: the slowness reproduces -> real
    # regression, the first wall stands (no warm-rerun masking)
    w, tag, _ = b.headline_verdict(39.5, 35.0, ctl_clean=True, exp=12.2)
    assert (w, tag) == (39.5, "first")
    # boundary: rerun exactly at the steady factor counts as recovered
    w, tag, _ = b.headline_verdict(30.0, b.RERUN_STEADY_FACTOR * 12.2, True, 12.2)
    assert tag == "rerun"


def test_bench_probe_pause_wrapper(tmp_path):
    """bench.py claims the watcher pause file for the suite duration and
    removes it ONLY if it created it (a pre-existing pause — e.g. an
    operator manually holding the window — must survive the run)."""
    import os

    b = _bench_mod()
    pause = str(tmp_path / "pause")
    b._SCALE_PAUSE = pause
    seen = []
    b._with_probe_pause(lambda: seen.append(os.path.exists(pause)))
    assert seen == [True] and not os.path.exists(pause)
    open(pause, "w").close()
    b._with_probe_pause(lambda: None)
    assert os.path.exists(pause)


# --- per-cluster-size shuffle sizing (round-8 A/B follow-up) ---
def test_shuffle_partitions_fixed_default():
    assert scaling.shuffle_partitions_for(8, {}) == 64
    assert scaling.shuffle_partitions_for(32, {"SPARK_GRAFT_SHUFFLE": "128"}) == 128


def test_shuffle_partitions_per_core_scales_with_cpus():
    env = {"SPARK_GRAFT_SHUFFLE_PER_CORE": "16"}
    assert scaling.shuffle_partitions_for(8, env) == 128
    assert scaling.shuffle_partitions_for(32, env) == 512
    # per-core wins over a stale fixed override
    env["SPARK_GRAFT_SHUFFLE"] = "64"
    assert scaling.shuffle_partitions_for(32, env) == 512


def test_per_core_shuffle_invalid_falls_back_fixed(capsys):
    """'0' is truthy as a string and used to configure 0 shuffle
    partitions (an invalid Spark conf); a non-integer raised ValueError
    mid-campaign.  Both now fall back to fixed sizing with a logged
    warning (round-8 ADVICE)."""
    for bad in ("0", "-4", "junk"):
        env = {"SPARK_GRAFT_SHUFFLE_PER_CORE": bad}
        assert scaling.per_core_shuffle(env) is None
        assert scaling.shuffle_partitions_for(32, env) == 64
    assert "SPARK_GRAFT_SHUFFLE_PER_CORE" in capsys.readouterr().err
    # empty/unset is plain fixed mode, no warning
    assert scaling.per_core_shuffle({"SPARK_GRAFT_SHUFFLE_PER_CORE": ""}) is None
    assert scaling.per_core_shuffle({}) is None
    assert capsys.readouterr().err == ""


def test_watch_single_ref_override_calibration_and_fallback(monkeypatch):
    """The watcher's latency gate reference: env override wins; a bad
    override recalibrates (best of two serial chases, so a loaded
    calibration window can only tighten the gate); a failed calibration
    falls back to the host constant instead of killing the watch
    (round-8 ADVICE)."""
    watch = _load("watch_8_32")
    pml = sys.modules["probe_mem_latency"]
    monkeypatch.setenv("SPARK_GRAFT_WATCH_LAT_SINGLE_NS", "200.5")
    assert watch.single_ref_ns() == 200.5
    monkeypatch.setenv("SPARK_GRAFT_WATCH_LAT_SINGLE_NS", "junk")
    vals = iter([300e-9, 250e-9])
    monkeypatch.setattr(pml, "chase", lambda: next(vals))
    assert watch.single_ref_ns() == pytest.approx(250.0)

    def _boom():
        raise RuntimeError("child died")

    monkeypatch.delenv("SPARK_GRAFT_WATCH_LAT_SINGLE_NS")
    monkeypatch.setattr(pml, "chase", _boom)
    assert watch.single_ref_ns() == watch.BEST_SINGLE_NS
