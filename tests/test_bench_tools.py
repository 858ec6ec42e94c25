"""Tests for the bench instrumentation: the I/O calibration probe and
the A/B harness's table rendering (pure logic — the
worktree/bench plumbing is exercised by actually running experiments,
whose results live in BENCHLOG.md)."""

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def test_calibrate_io_probe_runs_and_is_bounded(tmp_path, monkeypatch):
    """The disk probe must return a positive sub-minute reading and
    leave no temp files behind (it runs inside every bench; a leak
    would accumulate 64 MiB per round)."""
    from bench import _calibrate_io

    monkeypatch.chdir(tmp_path)
    t = _calibrate_io(runs=1)
    assert 0 < t < 60
    assert not list(tmp_path.glob("*.ioprobe"))


def test_calibrate_io_probe_null_on_unwritable_cwd(monkeypatch):
    """An unwritable/full bench cwd must yield a null probe, not an
    uncaught OSError — by the time the probe runs, every query timing
    is already measured, and raising would discard the whole result
    line (r15 ADVICE). Root ignores directory modes, so the failure is
    injected at the tempfile seam instead of via chmod."""
    import tempfile

    import bench

    def boom(*a, **k):
        raise OSError(28, "No space left on device")

    monkeypatch.setattr(tempfile, "NamedTemporaryFile", boom)
    assert bench._calibrate_io(runs=1) is None


def test_ab_table_renders_pairs_and_queries():
    from scripts.ab_bench import table

    a = {
        "value": 8.022,
        "extras_total": 7.44,
        "calibration": 0.221,
        "calibration_spark": 0.555,
        "headline_per_calibration": 36.3,
        "headline_per_calibration_spark": 14.45,
        "queries": {"q_set_except": 0.151},
    }
    b = {
        "value": 6.165,
        "extras_total": 7.969,
        "calibration": 0.418,
        "calibration_spark": 0.484,
        "calibration_io": 0.175,
        "headline_per_calibration": 14.75,
        "headline_per_calibration_spark": 12.74,
        "headline_per_calibration_io": 35.23,
        "queries": {"q_set_except": 0.117},
    }
    md = table([a], [b], "r10", "HEAD", ["q_set_except", "q_missing"])
    assert "| metric | r10 p1 | HEAD p1 |" in md
    assert "| q_set_except (s) | 0.151 | 0.117 |" in md
    assert "| q_missing (s) | — | — |" in md  # absent query renders as —
    assert "| calibration_spark | 0.555 | 0.484 |" in md
    assert "| headline_per_calibration_spark | 14.45 | 12.74 |" in md
    assert "| calibration_io | — | 0.175 |" in md  # a missing key renders as —


def test_ab_table_quotes_extras_queries():
    """--queries must find a watch query in EITHER timing dict: the r13
    experiment's watch queries (q_survival_km, q_ks_test) live in
    extras, not headline."""
    from scripts.ab_bench import table

    a = {
        "value": 8.0,
        "queries": {"q_set_except": 0.151},
        "extras": {"q_survival_km": 1.127},
        "extras_per_calibration_io": 50.3,
    }
    b = {
        "value": 6.0,
        "queries": {"q_set_except": 0.117},
        "extras": {"q_survival_km": 1.38},
    }
    md = table([a], [b], "old", "new", ["q_set_except", "q_survival_km"])
    assert "| q_set_except (s) | 0.151 | 0.117 |" in md
    assert "| q_survival_km (s) | 1.127 | 1.380 |" in md
    # the new extras ratio row renders (and dashes where absent)
    assert "| extras_per_calibration_io | 50.30 | — |" in md
