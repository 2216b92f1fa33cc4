"""bench.py's self-maintained regression gate (round-5 VERDICT item 6):
BENCH_PREV.json records warm per-query numbers per sf; the next run
flags >30% slowdowns with a visible absolute move. No Spark needed —
pure comparator mechanics."""

from __future__ import annotations

import importlib.util
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

_spec = importlib.util.spec_from_file_location(
    "bench", Path(__file__).resolve().parents[1] / "bench.py"
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def _with_baseline(monkeypatch, tmp_path, book):
    p = tmp_path / "BENCH_PREV.json"
    if book is not None:
        p.write_text(json.dumps(book))
    monkeypatch.setattr(bench, "_BASELINE_PATH", p)
    return p


def test_no_baseline_yields_none(monkeypatch, tmp_path):
    _with_baseline(monkeypatch, tmp_path, None)
    assert bench._regressions_vs_prior({"q1": 5.0}, 0.1) is None


def test_wrong_sf_yields_none(monkeypatch, tmp_path):
    _with_baseline(monkeypatch, tmp_path, {"0.01": {"queries": {"q1": 1.0}}})
    assert bench._regressions_vs_prior({"q1": 5.0}, 0.1) is None


def test_flags_only_real_drift(monkeypatch, tmp_path):
    prev = {
        "big_slow": 2.0,  # -> 3.0: +50% and +1.0s  => flagged
        "ratio_only": 0.1,  # -> 0.2: +100% but +0.1s => jitter, skipped
        "abs_only": 10.0,  # -> 10.5: +0.5s but +5%  => inside band
        "faster": 4.0,  # -> 2.0: improvement      => never flagged
        "memo:build": 1.0,  # memo lines skipped entirely
    }
    now = {
        "big_slow": 3.0,
        "ratio_only": 0.2,
        "abs_only": 10.5,
        "faster": 2.0,
        "memo:build": 9.0,
        "brand_new": 7.0,  # no prior number: skipped
    }
    _with_baseline(monkeypatch, tmp_path, {"0.1": {"queries": prev}})
    out = bench._regressions_vs_prior(now, 0.1)
    assert list(out["flagged"]) == ["big_slow"]
    assert out["flagged"]["big_slow"]["ratio"] == 1.5


def test_adjudication_confirms_and_clears(monkeypatch, spark):
    """_adjudicate_regressions re-runs flagged queries isolated and
    stamps confirmed/noise: a query that is STILL slow in the fresh
    session confirms; one that is fast again is noise. Uses the live
    test session (fresh_session monkeypatched, stop intercepted) with
    sleep-backed fake registry entries so the isolated sample is
    controlled."""
    import time as _t

    class _NoStop:
        def __init__(self, s):
            self._s = s

        def __getattr__(self, k):
            return getattr(self._s, k)

        def stop(self):
            pass

    from sentinel_landsat_database_creation_spark import session as _sess

    monkeypatch.setattr(
        _sess, "fresh_session", lambda *a, **k: _NoStop(spark)
    )

    def slow_fn(sp, sf):
        _t.sleep(0.6)
        return sp.range(1)

    def fast_fn(sp, sf):
        return sp.range(1)

    def broken_fn(sp, sf):
        raise RuntimeError("boom")

    monkeypatch.setattr(
        bench,
        "REGISTRY",
        {
            "still_slow": (slow_fn, None),
            "was_noise": (fast_fn, None),
            "breaks": (broken_fn, None),
        },
    )
    regressions = {
        "flagged": {
            # prev tiny -> the 0.6s sleep clears 1.3x and +0.3s: confirmed
            "still_slow": {"prev": 0.05, "now": 1.2, "ratio": 24.0},
            # prev large -> isolated run is fast again: noise
            "was_noise": {"prev": 0.5, "now": 1.0, "ratio": 2.0},
            "breaks": {"prev": 0.5, "now": 1.0, "ratio": 2.0},
        }
    }
    bench._adjudicate_regressions(regressions, "/root/testdata/sf0.001")
    f = regressions["flagged"]
    assert f["still_slow"]["adjudication"] == "confirmed"
    assert f["still_slow"]["isolated"] >= 0.5
    assert f["was_noise"]["adjudication"] == "noise"
    assert f["breaks"]["adjudication"] == "error"
    assert "boom" in f["breaks"]["error"]
    # the intercepted stop leaves the shared session alive
    assert spark.range(1).count() == 1


def test_adjudication_noop_without_flags(monkeypatch):
    # must not build any session when nothing is flagged
    from sentinel_landsat_database_creation_spark import session as _sess

    def _explode(*a, **k):
        raise AssertionError("fresh_session must not be called")

    monkeypatch.setattr(_sess, "fresh_session", _explode)
    regressions = {"flagged": {}}
    bench._adjudicate_regressions(regressions, "/root/testdata/sf0.001")
    assert regressions == {"flagged": {}}


def test_record_baseline_is_per_sf(monkeypatch, tmp_path):
    p = _with_baseline(monkeypatch, tmp_path, {"0.1": {"queries": {"a": 1.0}}})
    bench._record_baseline({"b": 2.0}, 0.01, (0.71, 0.72))
    book = json.loads(p.read_text())
    assert book["0.1"]["queries"] == {"a": 1.0}  # other sf untouched
    assert book["0.01"]["queries"] == {"b": 2.0}
    # the landing run's spins ride along as the next runs' reference
    assert book["calibration_spins"] == [0.71, 0.72]


def test_calibration_reference_derives_from_recorded_spins(
    monkeypatch, tmp_path
):
    """r13 VERDICT item 6: the guard's reference must track the
    committed baseline mechanically (median of the spins recorded by
    the run that landed it), not a hand-edited constant; the constant
    remains only as the pre-r14 fallback, and the env override still
    wins (it is the deliberate re-base path after a SLOWER placement
    flip, which the one-sided guard could otherwise never land)."""
    p = _with_baseline(monkeypatch, tmp_path, {"0.1": {"queries": {}}})
    monkeypatch.delenv("SPARK_GRAFT_CALIBRATION_REF", raising=False)
    # no recorded spins -> legacy constant
    assert bench._calibration_reference() == bench._CALIBRATION_REF_SEC
    # recorded spins -> their median
    bench._record_baseline({}, 0.1, (0.80, 0.84))
    assert abs(bench._calibration_reference() - 0.82) < 1e-9
    # env override wins over both
    monkeypatch.setenv("SPARK_GRAFT_CALIBRATION_REF", "0.5")
    assert bench._calibration_reference() == 0.5


def test_contention_guard_reads_load(monkeypatch):
    """The baseline-poisoning guard (round-7 VERDICT item 7): a busy
    1-minute loadavg at start yields a reason string (main() then
    refuses to overwrite BENCH_PREV.json), an idle one yields None,
    the env knob moves the bar, <= 0 disables, and a platform without
    getloadavg fails OPEN."""
    import os

    monkeypatch.delenv("SPARK_GRAFT_LOAD_GUARD", raising=False)
    monkeypatch.setattr(os, "getloadavg", lambda: (4.78, 6.0, 5.0))
    reason = bench._start_contended()
    assert reason is not None and "4.78" in reason

    monkeypatch.setattr(os, "getloadavg", lambda: (0.4, 1.0, 2.0))
    assert bench._start_contended() is None

    monkeypatch.setenv("SPARK_GRAFT_LOAD_GUARD", "0.2")
    assert bench._start_contended() is not None
    monkeypatch.setenv("SPARK_GRAFT_LOAD_GUARD", "0")
    assert bench._start_contended() is None

    monkeypatch.delenv("SPARK_GRAFT_LOAD_GUARD")

    def _boom():
        raise OSError("no loadavg here")

    monkeypatch.setattr(os, "getloadavg", _boom)
    assert bench._start_contended() is None


def test_calibration_guard_detects_steal(monkeypatch):
    """The steal-aware half of the baseline guard (r10 VERDICT item 2:
    the r10 committed baseline carried ~25% host inflation that
    loadavg never saw): a spin >5% (_CALIBRATION_TOL) over the reference
    yields a reason string, within-tolerance is None, the env knob
    re-bases for other hosts, and <= 0 disables."""
    monkeypatch.delenv("SPARK_GRAFT_CALIBRATION_REF", raising=False)
    ref = bench._CALIBRATION_REF_SEC
    # tolerance is 5% (quiet-host spin spread <= 1.3%; the single-
    # thread spin under-reads 32-thread steal ~2-3x)
    assert bench._calibration_contended(ref * 1.03) is None
    reason = bench._calibration_contended(ref * 1.10)
    assert reason is not None and "calibration spin" in reason

    monkeypatch.setenv("SPARK_GRAFT_CALIBRATION_REF", str(ref * 2))
    assert bench._calibration_contended(ref * 1.30) is None
    monkeypatch.setenv("SPARK_GRAFT_CALIBRATION_REF", "0")
    assert bench._calibration_contended(ref * 100) is None
    monkeypatch.setenv("SPARK_GRAFT_CALIBRATION_REF", "junk")
    assert bench._calibration_contended(ref * 1.30) is not None


def test_calibration_spin_is_quick_and_positive():
    """The spin itself must stay cheap (sub-second-scale) so running
    it before every bench is free relative to the run it guards."""
    s = bench._calibration_spin()
    assert 0.05 < s < 10.0


def test_calibration_guard_names_the_measurement_point(monkeypatch):
    """The end-of-run spin (r11: steal accrued DURING three clean-start
    solo runs, 222 -> 243 -> 277 s, and the third briefly poisoned the
    baseline) must be distinguishable in the reason string so the
    artifact says WHERE the run went hot."""
    monkeypatch.delenv("SPARK_GRAFT_CALIBRATION_REF", raising=False)
    ref = bench._CALIBRATION_REF_SEC
    r_start = bench._calibration_contended(ref * 2, "start")
    r_end = bench._calibration_contended(ref * 2, "end")
    assert "at start" in r_start and "at end" in r_end


def test_top_queries_line_shape():
    """The ``top_queries`` line (r14 VERDICT item 3): a partial dict
    that says what it holds. 120 long-named entries overflow the byte
    budget, so the line must report what it left out, show the costliest
    entries, keep memo lines out, and fit its body in the budget."""
    timings = {
        f"entry_{i:03d}_" + "x" * (i % 17): round(0.01 + 0.37 * i, 4)
        for i in range(120)
    }
    memo = {"memo:trainer": 9.5, "setup:lexicon": 3.25}
    timings.update(memo)
    line = bench._top_queries(timings, memo, "0.1")
    assert list(line) == [
        "metric", "n_total", "n_shown", "omitted_max_sec", "top_queries", "sf"
    ]
    assert line["metric"] == "top_queries" and line["sf"] == 0.1
    assert line["n_total"] == 120
    top = line["top_queries"]
    assert 0 < line["n_shown"] == len(top) < line["n_total"]
    assert not set(top) & set(memo)
    assert 0 < line["omitted_max_sec"] <= min(top.values())
    assert list(top.values()) == sorted(top.values(), reverse=True)
    body = json.dumps(top, separators=(",", ":"))
    assert len(body.encode()) <= bench.TOP_QUERIES_BUDGET

    small = bench._top_queries({"a": 1.234, "b": 0.5}, {}, "0.01")
    assert small["n_shown"] == small["n_total"] == 2
    assert small["omitted_max_sec"] == 0.0
    assert small["top_queries"] == {"a": 1.23, "b": 0.5}
