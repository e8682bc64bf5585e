"""bench.py respike adjudication logic (VERDICT r11 #4): flagging,
interleave structure, and the noise/check verdict — with the isolated
subprocess runs stubbed out."""

from __future__ import annotations

import bench


def test_respike_flags_and_verdicts(monkeypatch):
    calls = []

    def fake_iso(cwd, name, reps=3, errs=None):
        calls.append((cwd, name))
        # current-code isolated runs land back at control speed -> noise
        return 1.0

    monkeypatch.setattr(bench, "_isolated_query_run", fake_iso)
    monkeypatch.setattr(bench, "_worktree_supports_only", lambda wt: True)
    timings = {"spiky": 3.2, "steady": 1.01, "small": 0.24}
    control = {
        "control_queries": {"spiky": 1.0, "steady": 1.0, "small": 0.1},
        "_worktree": "/fake/wt",
    }
    out = bench._respike(timings, control, reps=5)
    # steady: under 1.5x -> unflagged. small: over 1.5x but under the
    # 0.15s absolute floor -> unflagged. spiky: flagged, a/control/b.
    assert set(out) == {"spiky"}
    assert [c[1] for c in calls] == ["spiky"] * 3
    assert [c[0] for c in calls] == [bench._REPO, "/fake/wt", bench._REPO]
    assert out["spiky"]["verdict"] == "noise"
    assert out["spiky"]["respike_value"] == 1.0
    assert out["spiky"]["control_isolated"] == 1.0


def test_respike_floor_scales_with_control(monkeypatch):
    """The absolute floor is max(0.15 s, 0.3x control): r15's
    win_running_sum (0.554 s vs control 0.338 s, +0.216 s) slipped
    under the old fixed 0.3 s floor and now flags; 0.36 s vs 0.25 s
    stays under 1.5x and does not."""
    monkeypatch.setattr(bench, "_isolated_query_run", lambda *a, **k: 0.34)
    monkeypatch.setattr(bench, "_worktree_supports_only", lambda wt: False)
    out = bench._respike(
        {"win_running_sum": 0.554, "near": 0.36},
        {"control_queries": {"win_running_sum": 0.338, "near": 0.25}},
        5,
    )
    assert set(out) == {"win_running_sum"}


def test_respike_check_verdict_and_degraded_control(monkeypatch):
    def fake_iso(cwd, name, reps=3, errs=None):
        return 2.9  # stays ~3x control under isolation -> check

    monkeypatch.setattr(bench, "_isolated_query_run", fake_iso)
    # old control commit without SPARK_GRAFT_BENCH_ONLY support
    monkeypatch.setattr(bench, "_worktree_supports_only", lambda wt: False)
    out = bench._respike(
        {"q": 3.0}, {"control_queries": {"q": 1.0}, "_worktree": "/fake"}, 5
    )
    # ADVICE r12: without an isolated control the comparison is
    # cross-condition (isolated runs are systematically faster), so the
    # verdict must be distinct from a clean apples-to-apples "check".
    assert out["q"]["verdict"] == "check-degraded"
    assert out["q"]["control_isolated"] is None  # degraded leg recorded


def test_respike_check_verdict_with_isolated_control(monkeypatch):
    def fake_iso(cwd, name, reps=3, errs=None):
        # current code isolated = 2.9, control isolated = 1.0
        return 1.0 if cwd == "/fake/wt" else 2.9

    monkeypatch.setattr(bench, "_isolated_query_run", fake_iso)
    monkeypatch.setattr(bench, "_worktree_supports_only", lambda wt: True)
    out = bench._respike(
        {"q": 3.0},
        {"control_queries": {"q": 1.0}, "_worktree": "/fake/wt"},
        5,
    )
    # isolated-vs-isolated gap survived -> a clean "check"
    assert out["q"]["verdict"] == "check"
    assert out["q"]["control_isolated"] == 1.0


def test_respike_adjudicates_every_flag(monkeypatch):
    """r15 (VERDICT r14 #1): the old cap of 3 left five in-run
    regressions formally unadjudicated in r14 — every >1.5x flag must
    now carry an isolated verdict."""
    monkeypatch.setattr(bench, "_isolated_query_run", lambda *a, **k: 1.0)
    monkeypatch.setattr(bench, "_worktree_supports_only", lambda wt: False)
    timings = {f"q{i}": 5.0 + i for i in range(6)}
    control = {"control_queries": {f"q{i}": 1.0 for i in range(6)}}
    out = bench._respike(timings, control, 5)
    assert len(out) == 6  # no cap: all six flags adjudicated
    assert all(out[q]["verdict"] for q in timings)
