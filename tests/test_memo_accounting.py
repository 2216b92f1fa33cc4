"""Unit tests for the bench attribution stream (round-5 VERDICT item
3): every memo: and setup: span in memo.py must log its OWN wall
seconds — nested spans (RLock re-entry, e.g. the verified-pair table's
builder calling shingle_rows_materialized, or a setup: block whose
trainers miss their value memo) subtract their inner spans so the
logged lines sum to real elapsed time without double counting. Pure
Python — no Spark session."""

from __future__ import annotations

import sys
import time
from pathlib import Path
from types import SimpleNamespace

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from sentinel_landsat_database_creation_spark import memo


def _sleep(secs, inner=None):
    time.sleep(secs)
    if inner is not None:
        inner()


def _fake_df(plan_hash):
    """Just enough of a DataFrame for memo's key derivation."""
    plan = SimpleNamespace(semanticHash=lambda: plan_hash)
    qe = SimpleNamespace(analyzed=lambda: plan)
    return SimpleNamespace(
        sparkSession=SimpleNamespace(
            sparkContext=SimpleNamespace(applicationId="app-memo-test")
        ),
        _jdf=SimpleNamespace(queryExecution=lambda: qe),
    )


def test_flat_build_logs_own_time():
    memo.drain_build_log()
    t0 = time.perf_counter()
    with memo.timed("memo:flat"):
        _sleep(0.05)
    elapsed = time.perf_counter() - t0
    log = memo.drain_build_log()
    assert [label for label, _ in log] == ["memo:flat"]
    assert 0.04 <= log[0][1] <= elapsed + 0.01


def test_nested_build_subtracts_inner_span():
    memo.drain_build_log()

    def inner():
        with memo.timed("memo:inner"):
            _sleep(0.08)

    t0 = time.perf_counter()
    with memo.timed("memo:outer"):
        _sleep(0.05, inner=inner)
    elapsed = time.perf_counter() - t0
    log = dict(memo.drain_build_log())
    assert set(log) == {"memo:inner", "memo:outer"}
    # inner charged at least its own sleep; outer charged only ITS
    # span — the inner build's full wall time is subtracted, so the
    # two lines sum to the real elapsed total (load-robust bounds:
    # compare against measured elapsed, not absolute constants)
    assert log["memo:inner"] >= 0.07
    assert log["memo:outer"] <= elapsed - log["memo:inner"] + 0.01, (
        "outer must exclude the nested build's span"
    )
    assert abs((log["memo:inner"] + log["memo:outer"]) - elapsed) <= 0.02, (
        "lines must sum to the real elapsed total"
    )


def test_failed_build_logs_nothing_and_unwinds_stack():
    memo.drain_build_log()
    with pytest.raises(RuntimeError):
        with memo.timed("memo:bad"):
            raise RuntimeError("build failed")
    assert memo.drain_build_log() == []
    # the thread-local stack unwound: a following build logs normally
    with memo.timed("memo:after"):
        _sleep(0.01)
    log = memo.drain_build_log()
    assert [label for label, _ in log] == ["memo:after"]


def test_setup_time_shares_the_stream():
    memo.drain_build_log()
    with memo.timed("setup:fixture"):
        pass
    log = memo.drain_build_log()
    assert [label for label, _ in log] == ["setup:fixture"]
    assert memo.drain_build_log() == []  # drained


def test_setup_span_enclosing_memo_build_sums_to_elapsed():
    """A setup: block whose body misses a value memo (the ann_index
    landing training its quantizers) logs both lines, and they sum to
    the block's elapsed time whatever the call order inside it."""
    memo.drain_build_log()
    df = _fake_df(("setup-encloses-memo", time.time()))

    def build():
        _sleep(0.06)
        return [(0, [1, 2], 1)]

    t0 = time.perf_counter()
    with memo.timed("setup:landing"):
        _sleep(0.03)
        memo.value_memo(df, ("trainer", 2), build)
        _sleep(0.03)
    elapsed = time.perf_counter() - t0
    log = dict(memo.drain_build_log())
    assert set(log) == {"setup:landing", "memo:trainer"}
    assert log["memo:trainer"] >= 0.05
    assert log["setup:landing"] <= elapsed - log["memo:trainer"] + 0.01
    assert abs(sum(log.values()) - elapsed) <= 0.02


def test_failed_value_memo_build_logs_and_caches_nothing():
    memo.drain_build_log()
    df = _fake_df(("failing-build", time.time()))
    calls = []

    def boom():
        calls.append("boom")
        raise ValueError("guard tripped")

    def build():
        calls.append("build")
        return [(0, "a"), (1, "b")]

    with pytest.raises(ValueError):
        memo.value_memo(df, ("flaky", 1), boom)
    assert memo.drain_build_log() == []
    # nothing cached: the next call rebuilds, logs and caches
    first = memo.value_memo(df, ("flaky", 1), build)
    assert calls == ["boom", "build"]
    assert [label for label, _ in memo.drain_build_log()] == ["memo:flaky"]
    # now a hit: no build, no log, and a shallow copy of the entry
    first.append("caller mutation")
    again = memo.value_memo(df, ("flaky", 1), build)
    assert calls == ["boom", "build"]
    assert memo.drain_build_log() == []
    assert again == [(0, "a"), (1, "b")]
