"""Guard tests for the bench-baseline merge tool (ADVICE r12 + r13):
the calibration-noise ratchet must stay closed."""

from __future__ import annotations

import json
import subprocess
import sys

ROOT = __file__.rsplit("/tests/", 1)[0]


def _run_merge(tmp_path, base_queries, detail):
    base = {"calib_sec": 0.2, "queries": dict(base_queries)}
    bp = tmp_path / "BENCH_BASELINE.json"
    dp = tmp_path / "BENCH_DETAIL.json"
    bp.write_text(json.dumps(base))
    dp.write_text(json.dumps(detail))
    # run the real tool against a COPY of the repo layout: point its ROOT
    # at tmp_path via a tiny shim (the tool derives paths from its file
    # location, so exercise it in-process with patched paths instead)
    sys.path.insert(0, f"{ROOT}/tools")
    import merge_bench_baseline as m

    old_root, m.ROOT = m.ROOT, str(tmp_path)
    old_argv = sys.argv
    sys.argv = ["merge_bench_baseline.py", str(dp)]
    try:
        m.main()
    finally:
        m.ROOT = old_root
        sys.argv = old_argv
        sys.path.remove(f"{ROOT}/tools")
    return json.loads(bp.read_text())


def _detail(queries, calib=1.0, par=1.0, median=1.0, stream=1.0):
    return {
        "queries": queries,
        "calib_ratio_vs_baseline": calib,
        "par_calib_ratio_vs_baseline": par,
        "run_median_ratio_vs_baseline": median,
        "stream_calib_ratio_vs_baseline": stream,
        "par_calib_sec": 0.5,
    }


def test_merge_lowers_only_at_parity_with_margin(tmp_path):
    # at parity, a >5% improvement lowers; a 3% one does not
    out = _run_merge(
        tmp_path,
        {"q_fast": 1.0, "q_wiggle": 1.0},
        _detail({"q_fast": 0.8, "q_wiggle": 0.97}),
    )
    assert out["queries"]["q_fast"] == 0.8
    assert out["queries"]["q_wiggle"] == 1.0


def test_merge_holds_lowering_without_parallel_parity(tmp_path):
    out = _run_merge(
        tmp_path, {"q": 1.0}, _detail({"q": 0.5}, par=1.3)
    )
    assert out["queries"]["q"] == 1.0  # held: host not at parity


def test_merge_holds_lowering_without_median_parity(tmp_path):
    # ALU probes at 1.0 but the workload-faithful median says 1.4 —
    # the r13 blind spot must block the ratchet too
    out = _run_merge(
        tmp_path, {"q": 1.0}, _detail({"q": 0.5}, median=1.4)
    )
    assert out["queries"]["q"] == 1.0


def test_merge_backfill_normalizes_by_median_and_clamps(tmp_path):
    # new row measured on a 1.4x-slow window: baseline = t / 1.4
    out = _run_merge(tmp_path, {}, _detail({"q_new": 1.4}, median=1.4))
    assert out["queries"]["q_new"] == 1.0
    # ...but a crazy ratio is clamped at 1.5 so one noisy first
    # recording cannot set an unreachable floor
    out2 = _run_merge(tmp_path, {}, _detail({"q_new2": 9.0}, median=3.0))
    assert out2["queries"]["q_new2"] == 6.0


def test_merge_never_pollutes_from_failed_rows(tmp_path):
    out = _run_merge(tmp_path, {"q": 1.0}, _detail({"q": -1.0}))
    assert out["queries"]["q"] == 1.0


def test_merge_anchors_par_calib_once(tmp_path):
    out = _run_merge(tmp_path, {}, _detail({"q": 1.0}))
    assert out["par_calib_sec"] == 0.5


def test_bench_sentinels_are_registry_names():
    """Every SENTINELS row must name a registry query: the summary line
    only keeps names it timed, so a renamed query would silently drop out
    of the cross-round overlap the sentinels exist for."""
    sys.path.insert(0, ROOT)
    try:
        import bench
    finally:
        sys.path.remove(ROOT)
    from spark_stream_analyzer_spark.plans.registry import queries

    missing = [s for s in bench.SENTINELS if s not in queries()]
    assert not missing, missing
