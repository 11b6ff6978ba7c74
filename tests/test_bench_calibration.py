"""Unit coverage for bench.py's calibration/summary math and the
round-close perf gate — pure-Python paths (no Spark session), so a
regression in the yardstick arithmetic can't hide behind a 4-minute
bench run."""

from __future__ import annotations

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

import bench  # noqa: E402


def test_calibration_summary_is_probe_mean():
    probes = [
        {"cpu_probe_sec": 0.55, "disk_probe_sec": 0.52, "env_factor": 1.0},
        {"cpu_probe_sec": 0.60, "disk_probe_sec": 0.60, "env_factor": 1.2},
        {"cpu_probe_sec": 0.50, "disk_probe_sec": 0.48, "env_factor": 0.8},
    ]
    s = bench._calibration_summary(probes)
    assert s["env_factor"] == pytest.approx(1.0, abs=1e-9)
    assert s["env_factor_min"] == 0.8
    assert s["env_factor_max"] == 1.2
    assert s["probes"] == probes
    assert s["ref"] == bench.CAL_REF
    # headline probe values come from the START probe (the one taken
    # before any query ran — comparable across rounds)
    assert s["cpu_probe_sec"] == 0.55


def test_contention_flag_spread():
    # a transient 3x+ spike in a non-first run flags
    assert bench._contention_flag([1.0, 1.1, 4.5], None)
    # run 0 is exempt (cold JIT/page-cache)
    assert not bench._contention_flag([4.5, 1.0, 1.1], None)
    # sub-0.75s absolute deltas never flag (tiny-query noise)
    assert not bench._contention_flag([0.1, 0.1, 0.5], None)


def test_contention_flag_uniform_load():
    # VERDICT r16 next-#3: all three runs equally inflated vs the
    # env-scaled pin — the spread test is blind to this, the pin is not
    assert bench._contention_flag([12.0, 12.1, 12.2], 1.2)
    # at-or-under 2x the pin stays unflagged (honest slow code must NOT
    # hide behind the contention annotation)
    assert not bench._contention_flag([2.3, 2.3, 2.4], 1.2)
    # without a pin the uniform trigger cannot fire
    assert not bench._contention_flag([12.0, 12.1, 12.2], None)
    # material-margin guard: 2x of a tiny pin is still noise
    assert not bench._contention_flag([0.5, 0.5, 0.5], 0.2)


def test_perf_gate_passes_within_2x(tmp_path, monkeypatch):
    from round_close import check_perf_gate
    import round_close

    monkeypatch.setattr(round_close, "REPO", str(tmp_path))
    with open(tmp_path / "BASELINE_QUERIES.json", "w") as fh:
        json.dump({"queries": {"q1": 1.0, "q2": 2.0}, "sf": 0.1}, fh)
    ok = check_perf_gate(
        {
            "queries": {"q1": 1.5, "q2": 3.0, "q_new": 99.0},
            "calibration": {"env_factor": 1.0},
        }
    )
    assert ok == []  # 4.5 vs 3.0 = 1.5x, and q_new (unpinned) is ignored


def test_perf_gate_fails_past_2x(tmp_path, monkeypatch):
    from round_close import check_perf_gate
    import round_close

    monkeypatch.setattr(round_close, "REPO", str(tmp_path))
    with open(tmp_path / "BASELINE_QUERIES.json", "w") as fh:
        json.dump({"queries": {"q1": 1.0}, "sf": 0.1}, fh)
    problems = check_perf_gate(
        {"queries": {"q1": 2.5}, "calibration": {"env_factor": 1.0}}
    )
    assert problems and "2x" in problems[0] or "2×" in problems[0]


def test_perf_gate_calibrates_before_comparing(tmp_path, monkeypatch):
    """A loaded box (env_factor 2.0) with raw walls 2x the pin is FINE —
    the gate compares calibrated seconds."""
    from round_close import check_perf_gate
    import round_close

    monkeypatch.setattr(round_close, "REPO", str(tmp_path))
    with open(tmp_path / "BASELINE_QUERIES.json", "w") as fh:
        json.dump({"queries": {"q1": 1.0}, "sf": 0.1}, fh)
    assert (
        check_perf_gate(
            {"queries": {"q1": 2.0}, "calibration": {"env_factor": 2.0}}
        )
        == []
    )


def test_perf_gate_skips_without_pin(tmp_path, monkeypatch):
    from round_close import check_perf_gate
    import round_close

    monkeypatch.setattr(round_close, "REPO", str(tmp_path))
    assert check_perf_gate({"queries": {"q1": 99.0}}) == []


def test_contention_flag_names_its_triggers():
    assert bench._contention_flag([1.0, 1.1, 4.5], None) == {"spread"}
    assert bench._contention_flag([12.0, 12.1, 12.2], 1.2) == {"uniform"}
    assert bench._contention_flag([12.0, 12.1, 40.0], 1.2) == {
        "spread", "uniform",
    }
    assert bench._contention_flag([1.0, 1.0, 1.0], 1.0) == set()


def test_uniform_only_flag_between_idle_probes_is_slow_vs_pin():
    """ADVICE bench.py:430: a steady >2x slowdown with idle probes on both
    sides has no load to blame — it must not be discounted as contended."""
    idle = bench.IDLE_ENV_FACTOR
    assert bench._flag_kind({"uniform"}, [1.0, idle]) == "slow_vs_pin"
    # either bracketing probe loaded: the load explanation stands
    assert bench._flag_kind({"uniform"}, [1.0, idle + 0.01]) == "contended"
    assert bench._flag_kind({"uniform"}, [2.4, 1.0]) == "contended"
    # a spread spike is transient load whatever the probes read
    assert bench._flag_kind({"spread"}, [1.0, 1.0]) == "contended"
    assert bench._flag_kind({"spread", "uniform"}, [1.0, 1.0]) == "contended"
    assert bench._flag_kind(set(), [1.0, 1.0]) is None


def test_trigger_split_keeps_the_flagged_set():
    """Naming the triggers must not change WHICH queries get flagged: the
    flagged set equals the single-rule flag (spread measured against
    min(runs ∪ pin), or best > 2x pin)."""
    import itertools

    def single_rule(runs, pin):
        best = min(runs + ([pin] if pin is not None else []))
        spread = max(runs[1:]) > 3 * best and max(runs[1:]) - best > 0.75
        uniform = (
            pin is not None and min(runs) > 2 * pin and min(runs) - pin > 0.75
        )
        return spread or uniform

    grid = [0.2, 0.5, 1.0, 1.5, 2.3, 3.5, 6.0, 12.0]
    for runs in itertools.product(grid, repeat=3):
        for pin in [None, 0.2, 0.6, 1.2, 4.0]:
            assert bool(bench._contention_flag(list(runs), pin)) == (
                single_rule(list(runs), pin)
            ), (runs, pin)
