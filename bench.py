#!/usr/bin/env python
"""Benchmark harness: runs the registry queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric", "value", "unit", "queries", "sf"}.

Execution is timed with the noop sink so measurements cover the full
Spark plan (scan -> shuffle -> sink) without driver-side collect costs.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from sentinel_landsat_database_creation_spark.plans.driver_queries import (  # noqa: E402
    REGISTRY,
)
from sentinel_landsat_database_creation_spark.session import (  # noqa: E402
    context_dead,
    get_spark,
)


def _revive_session():
    """Rebuild the session even when the backing JVM died (OOM-killed
    gateway). The guarded singleton reset + liveness probe live in
    session.py:fresh_session (round-4 ADVICE hardening, factored out
    per round-5 ADVICE so bench_scale.py shares it instead of
    duplicating raw private-attr resets)."""
    from sentinel_landsat_database_creation_spark.session import fresh_session

    return fresh_session("bench")


def _regressions_vs_prior(
    timings: dict[str, float], sf: float
) -> dict | None:
    """Compare each query's warm number to the previous recorded run at
    the same sf and flag >30% slowdowns — the documented host-variance
    band (README): drift inside it is noise, drift beyond it was
    adjudicated by hand in r4/r5 and now lands in the artifact itself
    (round-5 VERDICT item 6). The baseline is the committed
    BENCH_PREV.json this harness maintains itself (_record_baseline)
    because the driver's BENCH_r{N}.json keeps only a 2000-char stdout
    tail — the per-query breakdown is truncated away. memo:/setup:
    lines are one-time builds whose cost moves with cache state, not
    plan quality, so they are skipped. Returns None when no comparable
    prior record exists."""
    try:
        prev = json.loads(_BASELINE_PATH.read_text())[str(sf)]["queries"]
    except Exception:  # noqa: BLE001 — no baseline yet at this sf
        return None
    flagged = {}
    for name, now in timings.items():
        if name.startswith(("memo:", "setup:")):
            continue
        old = prev.get(name)
        # sub-0.3s numbers regress by whole scheduling jitters;
        # require both the ratio and a visible absolute move
        if old is None or old <= 0 or now <= old * 1.3 or now - old < 0.3:
            continue
        flagged[name] = {
            "prev": round(old, 4),
            "now": round(now, 4),
            "ratio": round(now / old, 2),
        }
    return {"baseline": _BASELINE_PATH.name, "flagged": flagged}


_BASELINE_PATH = Path(__file__).resolve().parent / "BENCH_PREV.json"

# Fixed single-thread calibration spin (r10 VERDICT item 2: the r10
# committed baseline carried ~25% host inflation on untouched
# plan-pinned entries — loadavg alone cannot see HYPERVISOR steal, the
# r9 1.8x episode, because a single runnable thread on a 32-cpu host
# keeps loadavg ~1 while every cycle is slower). The spin hashes a
# fixed 400 MiB through md5 on one thread: deterministic work whose
# wall time moves only with effective single-thread throughput.
# Measured on this host, verified-quiet (loadavg 0.03): 0.718 s median,
# spread < 1% across 5 runs — and notably STABLE (~0.72 s) even while a
# 32-thread Spark job held loadavg ~5, so it specifically detects
# steal/frequency pathology, complementing (not replacing) the loadavg
# guard. A run whose spin lands >5% (_CALIBRATION_TOL) over the
# committed reference must
# not become the comparison baseline; the spin and the reference are
# both recorded in the payload so the artifact itself proves whether
# the run was hot (r10 VERDICT item 6). Override the reference via
# SPARK_GRAFT_CALIBRATION_REF (different host); <= 0 disables.
#
# r13 re-base 0.718 -> 0.629: the host now runs the spin ~12% FASTER
# than the r11 reference state (5 quiet measurements 0.6275..0.6296,
# spread 0.3%, loadavg 0.11 — a hypervisor placement change, the
# inverse of the r9 slow episode). The guard is one-sided (only a
# SLOWER spin blocks), so the old reference could not refuse a
# baseline landed in the fast state — but a baseline measured at
# 0.63-class throughput must carry a 0.63-class reference, or a later
# return to the old 0.718-class normal would compare 12%-slower
# entries against fast-state numbers with the guard silently
# agreeing. The reference and the committed BENCH_PREV baseline move
# TOGETHER (both landed by the r13 round-closing solo run).
#
# r13-OPTIMIZATION-round re-base 0.629 -> 0.706: the return the
# comment above anticipated happened — the host is back at the old
# 0.718-class placement (5 quiet measurements 0.7004..0.7124, median
# 0.706, loadavg 0.15; every solo spin this session landed
# 0.69..0.72). With the 0.629 reference the guard refused EVERY quiet
# run of the session, so no post-optimization baseline could land at
# all. Moved together with the BENCH_PREV re-land by the round-closing
# solo run; per-entry numbers in that baseline are measured at
# 0.71-class throughput and the round record states so.
_CALIBRATION_REF_SEC = 0.706
# 5%: the quiet-host spin's natural spread is <= 1.3% across repeated
# measurements, and the single-thread spin UNDER-reads steal on a
# 32-thread workload ~2-3x (measured r11: a run whose per-entry
# numbers were 16% inflated showed spins of only +4..+14%), so 5% of
# spin drift is roughly the 10-15% workload band the regression gate
# cares about.
_CALIBRATION_TOL = 0.05


def _calibration_spin() -> float:
    """Seconds for the fixed single-thread md5 spin (one warm-up pass
    included so allocator/dispatch warm-up doesn't land in the
    measurement)."""
    import hashlib

    buf = bytes(range(256)) * 4096  # 1 MiB
    h = hashlib.md5()
    for _ in range(50):  # warm-up, unmeasured
        h.update(buf)
    t0 = time.perf_counter()
    h = hashlib.md5()
    for _ in range(400):
        h.update(buf)
    h.hexdigest()
    return time.perf_counter() - t0


def _calibration_reference() -> float:
    """The reference the guard actually compares against, resolved in
    one place so the payload records the SAME value the comparison
    used (r11 ADVICE). Resolution order:

    1. SPARK_GRAFT_CALIBRATION_REF (env re-base: a different host, or
       the one deliberate run that lands a baseline after a SLOWER
       placement flip — the guard is one-sided, so without the
       override no quiet run could ever land);
    2. the median of the quiet spins RECORDED IN the committed
       baseline itself (_record_baseline stores the landing run's
       start/end spins since r14): the reference then tracks whatever
       placement the committed baseline was measured at, with no
       hand-edited constant to re-base (r13 VERDICT item 6 — the
       0.718 -> 0.629 -> 0.706 constant churn was a guard one edit
       away from being re-based to whatever lets a baseline land);
    3. the committed constant, for baselines predating the recorded
       spins."""
    try:
        return float(
            os.environ.get(
                "SPARK_GRAFT_CALIBRATION_REF", _baseline_calibration_ref()
            )
        )
    except ValueError:
        return _baseline_calibration_ref()


def _baseline_calibration_ref() -> float:
    """Median of the committed baseline's recorded quiet spins, else
    the legacy constant."""
    try:
        spins = json.loads(_BASELINE_PATH.read_text())["calibration_spins"]
        spins = sorted(float(s) for s in spins)
        if spins:
            mid = len(spins) // 2
            return (
                spins[mid]
                if len(spins) % 2
                else (spins[mid - 1] + spins[mid]) / 2
            )
    except Exception:  # noqa: BLE001 — pre-r14 baseline or corrupt file
        pass
    return _CALIBRATION_REF_SEC


def _calibration_contended(
    calib: float, when: str = "start", ref: float | None = None
) -> str | None:
    """None if the spin is within tolerance of the committed reference,
    else the reason string (same contract as _start_contended). Called
    at run START and again at run END (r11: three back-to-back solo
    runs measured 222 -> 243 -> 277 s with CLEAN start guards — steal
    accrued DURING the runs, the r9 sustained-contention signature, and
    the third run briefly poisoned the baseline; the end spin is what
    catches mid-run degradation). ``ref`` lets main() resolve the
    reference ONCE before the run: _record_baseline rewrites the
    recorded spins mid-run, so a late re-resolution would compare (and
    record) a reference the guard never used."""
    if ref is None:
        ref = _calibration_reference()
    if ref <= 0:
        return None
    if calib > ref * (1 + _CALIBRATION_TOL):
        return (
            f"calibration spin at {when} {calib:.3f}s > {ref:.3f}s "
            f"* {1 + _CALIBRATION_TOL:g} (single-thread throughput "
            "degraded — hypervisor steal or frequency pathology)"
        )
    return None


# 1-minute loadavg above which a run is considered CONTENDED at start
# and must not become the committed comparison baseline (round-7
# VERDICT item 7: three r7 runs that overlapped pytest/probe sessions
# recorded 19/13/38 phantom regressions AND poisoned the committed
# baseline until a solo re-run replaced it — the measured contended
# starts were load 4-7 on this 32-cpu host, solo starts < ~1). The
# guard reads load BEFORE Spark spins up, so the bench's own work
# never trips it. Override via SPARK_GRAFT_LOAD_GUARD (e.g. a smaller
# host); <= 0 disables.
_LOAD_GUARD_DEFAULT = 2.0

# How many leading registry entries get an uncharged warm-up pass
# before the measured loop (see the comment at the call site: the
# shared-JVM JIT warm-up reaches ~20 entries deep on a freshly
# rotated prefix; measured r14). Override for experiments via
# SPARK_GRAFT_WARMUP_PREFIX; 1 reproduces the r7..r13 methodology.
try:
    _WARMUP_PREFIX = max(
        1, int(os.environ.get("SPARK_GRAFT_WARMUP_PREFIX", "20"))
    )
except ValueError:
    _WARMUP_PREFIX = 20


def _start_contended() -> str | None:
    """None if the host looks idle enough to record a baseline, else a
    short reason string recorded in the payload. Errors (platforms
    without getloadavg) fail OPEN — the adjudicator still guards the
    flags themselves."""
    try:
        limit = float(
            os.environ.get("SPARK_GRAFT_LOAD_GUARD", _LOAD_GUARD_DEFAULT)
        )
    except ValueError:
        limit = _LOAD_GUARD_DEFAULT
    if limit <= 0:
        return None
    try:
        load1 = os.getloadavg()[0]
    except OSError:
        return None
    if load1 > limit:
        return f"loadavg {load1:.2f} > {limit:g} at start"
    return None


def _adjudicate_regressions(regressions: dict, sf_dir: str) -> None:
    """Close the loop on flagged slowdowns instead of leaving them for
    hand adjudication (round-6 VERDICT item 2: seven r6 flags were
    almost-certainly same-host contention, but 'almost certainly' is
    what this gate exists to eliminate). Each flagged query re-runs in
    a FRESH session at the end of the run — one cold pass to land its
    session memos/fixtures, then a warm isolated sample (the r5
    memo-attribution work established isolated warm numbers match
    full-run warm numbers). The flag record gains:

      isolated:     the isolated warm seconds (memo lines subtracted)
      adjudication: 'confirmed' if the isolated number still clears the
                    same >1.3x-and->0.3s-absolute bar vs the prior
                    baseline (real plan/code drift), else 'noise'
                    (back-to-back-run contention).

    Cost is bounded: 2 executions per flagged query, only when flags
    exist."""
    flagged = regressions.get("flagged") or {}
    if not flagged:
        return
    from sentinel_landsat_database_creation_spark.memo import drain_build_log
    from sentinel_landsat_database_creation_spark.session import fresh_session

    try:
        spark = fresh_session("bench-adjudicate")
    except Exception as exc:  # noqa: BLE001 — leave flags unadjudicated
        regressions["adjudication_error"] = f"{type(exc).__name__}: {exc}"[:200]
        return
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = sf_dir.rstrip("/")
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    spark.createDataFrame([(1,)], "x int").mapInPandas(
        lambda it: it, "x int"
    ).count()
    drain_build_log()
    for name, rec in flagged.items():
        fn = REGISTRY[name][0]
        try:
            # 4 uncharged passes (memos/fixtures + JIT tiering), then
            # MEDIAN of 3 measured samples. The warm-up depth is
            # evidence-driven: the baseline numbers come from queries
            # running mid-session fully JIT-warm, and a fresh session
            # measured 1.48/1.43/1.30/1.17/1.05/1.04... on consecutive
            # executions of an UNCHANGED pinned plan — fewer warm-ups
            # left ~30% of residual JIT in the sample and 'confirmed' a
            # regression that converges to its baseline.
            for _ in range(4):
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            drain_build_log()
            samples = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                s = time.perf_counter() - t0
                for _label, secs in drain_build_log():
                    s -= secs
                samples.append(max(s, 0.0))
            iso = sorted(samples)[1]
        except Exception as exc:  # noqa: BLE001 — adjudication must not
            # fail the bench; record and move on
            rec["adjudication"] = "error"
            rec["error"] = f"{type(exc).__name__}: {exc}"[:200]
            continue
        rec["isolated"] = round(iso, 4)
        prev = rec["prev"]
        rec["adjudication"] = (
            "confirmed"
            if iso > prev * 1.3 and iso - prev >= 0.3
            else "noise"
        )
    spark.stop()


def _record_baseline(
    timings: dict[str, float], sf: float, spins: tuple[float, float]
) -> None:
    """Persist this run's warm per-query numbers as the next run's
    comparison baseline, keyed by sf so a local sf0.01 iteration loop
    never clobbers the sf0.1 record the per-round driver run compares
    against. The file is committed with the round's work, making the
    baseline the prior ROUND's last run.

    The landing run's own (start, end) calibration spins are recorded
    alongside (host-level, not per-sf): they BECOME the guard's
    reference for subsequent runs (_baseline_calibration_ref), so the
    reference and the baseline move together mechanically instead of
    via a hand-edited constant."""
    try:
        book = json.loads(_BASELINE_PATH.read_text())
    except Exception:  # noqa: BLE001 — first run / corrupt: start fresh
        book = {}
    book[str(sf)] = {"queries": timings}
    book["calibration_spins"] = [round(s, 4) for s in spins]
    _BASELINE_PATH.write_text(json.dumps(book, indent=1, sort_keys=True) + "\n")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    contended = _start_contended()  # must read load BEFORE Spark starts
    calibration = _calibration_spin()  # ... and spin before Spark too
    # resolve the guard's reference ONCE, before anything can rewrite
    # the recorded-spin source (_record_baseline), so the payload
    # records exactly what both spins were compared against
    calibration_ref = _calibration_reference()
    if contended is None:
        contended = _calibration_contended(calibration, ref=calibration_ref)
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen once on the smallest table, and the Python
    # worker pool once with a no-op mapInPandas, so per-query times
    # measure the plan — not first-job startup or first-worker spawn
    # (which otherwise lands on an arbitrary pandas-UDF query).
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    spark.createDataFrame([(1,)], "x int").mapInPandas(
        lambda it: it, "x int"
    ).count()

    # Median-of-N per query beats the ±30% host noise documented in the
    # README; default 1 rep keeps the driver's per-round run cheap.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "1")))

    from sentinel_landsat_database_creation_spark.memo import drain_build_log

    timings: dict[str, float] = {}
    memo_timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    failed_timings: dict[str, float] = {}
    restarts = 0
    drain_build_log()  # discard warm-up noise

    # The documented contract is WARM-state plan costs (per-query
    # numbers must not swing with registry order), but JIT/codegen
    # warm-up used to land on whichever queries ran first — invisible
    # while the prefix order was stable, a spray of spurious 2-4x
    # "regressions" the round the registry rotated (r7). One uncharged
    # cold pass of the first registry entry absorbed the bulk of it —
    # but the r14 rotation MEASURED the residual: with the single
    # first-entry pass, entries ~2-20 of the freshly rotated prefix
    # still carried 1.2-2.6x of shared-JVM warm-up (catalog_event_
    # labels 0.70 -> 1.85 in TWO independent runs, isolated median
    # 0.7-class; the same mechanism retroactively explains every r13
    # committed-baseline "outlier" — all sat early in the r13 prefix).
    # C2 compilation of the shared planner/codegen infrastructure
    # takes tens of seconds of jobs, not one. The uncharged pass now
    # covers the first _WARMUP_PREFIX entries; their memo builds still
    # land in their memo: lines (wall time conserved), failures are
    # left for the measured loop to surface. Old-methodology numbers
    # are kept in OPTIMIZATION_r14.md per the measurement-change rule.
    for _wfn, _ in list(REGISTRY.values())[:_WARMUP_PREFIX]:
        try:
            _wfn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 — the measured loop will surface it
            pass
    for label, secs in drain_build_log():
        memo_timings[label] = memo_timings.get(label, 0.0) + secs
    for name, (fn, _) in REGISTRY.items():
        # One query killing the JVM (e.g. an OOM under accumulated
        # session state) must not cascade into failures for every query
        # after it: detect a dead SparkContext and rebuild the session
        # before each query. The restart count is surfaced in the JSON
        # so a "passing" bench can't silently hide crash-looping.
        if context_dead(spark):
            try:
                spark = _revive_session()
            except Exception as exc:  # noqa: BLE001 — revival itself broke:
                # surface it once and stop instead of erroring every
                # remaining query against a dead gateway.
                errors["__session__"] = f"{type(exc).__name__}: {exc}"[:200]
                break
            restarts += 1
        # label the jobs (guide §1.5) so a UI/event-log reading of a
        # bench run maps stages back to registry entries; thread-local,
        # zero timing effect
        try:
            spark.sparkContext.setJobDescription(f"bench: {name}")
        except Exception:  # noqa: BLE001 — labeling must never fail a run
            pass
        samples: list[float] = []
        for _rep in range(reps):
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — one bad query must not
                # void the whole round's benchmark record; the failure is
                # surfaced in the JSON (and the correctness gate catches the
                # wrong-answer case independently).
                errors[name] = f"{type(exc).__name__}: {exc}"[:200]
                # A failed query's partial elapsed time (possibly a drain
                # timeout) must not pollute the headline total.
                failed_timings[name] = round(time.perf_counter() - t0, 4)
                # Drain builds triggered by the failed attempt NOW
                # (round-5 ADVICE): leaving them in the log would make
                # the next query's drain subtract another query's build
                # seconds from its own sample. Folded into memo_timings
                # only — the failed sample is already excluded from the
                # headline, so nothing is double-subtracted.
                for label, secs in drain_build_log():
                    memo_timings[label] = memo_timings.get(label, 0.0) + secs
                break
            sample = time.perf_counter() - t0
            # Attribution robustness (round-5 VERDICT): shared one-time
            # builds (memoized checkpoint tables, fixture writes) are
            # charged to their own "memo:<tag>" bench lines and
            # subtracted from whichever query happened to trigger them,
            # so per-query numbers are warm-state plan costs that don't
            # swing with registry order. The headline total still
            # includes the memo lines — wall time is conserved.
            for label, secs in drain_build_log():
                memo_timings[label] = memo_timings.get(label, 0.0) + secs
                sample -= secs
            samples.append(max(sample, 0.0))
        if samples:
            timings[name] = round(sorted(samples)[len(samples) // 2], 4)

    memo_timings = {k: round(v, 4) for k, v in memo_timings.items()}
    # second spin AFTER the measured loop: steal that accrued DURING
    # the run inflates the recorded numbers even when the start looked
    # clean (the measured r11 222->243->277 s sequence) — a hot end
    # disqualifies the run from becoming the baseline exactly like a
    # hot start
    calibration_end = _calibration_spin()
    if contended is None:
        contended = _calibration_contended(
            calibration_end, "end", ref=calibration_ref
        )
    regressions = _regressions_vs_prior(timings, float(sf))
    if errors:
        pass  # a crash-looping run must not become the next baseline
    elif contended is not None:
        # nor a contended one: its inflated numbers would both spray
        # phantom flags next run AND mask real regressions behind an
        # inflated bar — the run still measures and adjudicates, it
        # just refuses to become the comparison record
        pass
    else:
        _record_baseline(
            dict(timings), float(sf), (calibration, calibration_end)
        )
    if regressions is not None:
        # fresh_session below replaces the live singleton, so the main
        # session is done measuring by this point
        _adjudicate_regressions(regressions, sf_dir)
    timings.update(memo_timings)
    total = round(sum(timings.values()), 4)
    payload = {
        "metric": "registry_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        # always recorded, even on green runs: the artifact itself
        # proves whether the host was hot (r10 VERDICT item 6)
        "calibration_sec": round(calibration, 4),
        "calibration_end_sec": round(calibration_end, 4),
        # the env-resolved reference the guard COMPARED AGAINST (r11
        # ADVICE: the constant alone misreports on re-based hosts) —
        # resolved once at run start, before _record_baseline could
        # rewrite the recorded-spin source it derives from
        "calibration_ref_sec": calibration_ref,
        "calibration_ref_overridden": "SPARK_GRAFT_CALIBRATION_REF"
        in os.environ,
    }
    if regressions is not None:
        payload["regressions"] = regressions
    if contended is not None:
        payload["baseline_skipped"] = contended
    if reps > 1:
        payload["reps"] = reps
    if restarts:
        payload["session_restarts"] = restarts
    if errors:
        payload["errors"] = errors
        payload["failed_timings"] = failed_timings
    # post-loop session work (baseline re-lands, adjudication session
    # teardown) must not run under the last entry's label (r13 ADVICE)
    try:
        spark.sparkContext.setJobDescription(None)
    except Exception:  # noqa: BLE001 — labeling must never fail a run
        pass
    print(json.dumps(payload))
    # Per-query visibility inside the driver's 2000-char stdout tail
    # (r13 VERDICT item 2: PERF per_query has been empty since r03
    # because only the tail survives). The FULL set cannot fit: the 100
    # query names alone are 1555 chars, and the most aggressive
    # complete encoding (integer deciseconds, no wrapper) measures
    # 2117 chars against the ~1865 available next to the summary line.
    # So emit the most informative prefix that fits: entries sorted by
    # descending warm seconds, as many as fit a fixed byte budget. The
    # omitted entries are the sub-noise-floor crowd (the regression
    # gate itself ignores moves under 0.3 s absolute), and the line
    # says exactly what it holds ("top_queries" + n_total/n_shown +
    # the max omitted value) so a partial dict can never be misread as
    # the full run. The complete per-query record remains in the first
    # payload line and in the committed BENCH_PREV.json.
    by_cost = sorted(
        ((n, t) for n, t in timings.items() if n not in memo_timings),
        key=lambda kv: -kv[1],
    )
    top: dict[str, float] = {}
    budget = 1500  # bytes for the top_queries dict body
    used = 0
    for n, t in by_cost:
        cost = len(n) + len(f"{t:.2f}") + 6
        if used + cost > budget:
            break
        top[n] = round(t, 2)
        used += cost
    print(
        json.dumps(
            {
                "metric": "top_queries",
                "n_total": len(timings) - len(memo_timings),
                "n_shown": len(top),
                "omitted_max_sec": (
                    round(by_cost[len(top)][1], 2)
                    if len(top) < len(by_cost)
                    else 0.0
                ),
                "top_queries": top,
                "sf": float(sf),
            },
            separators=(",", ":"),
        )
    )
    # The driver captures only the tail of stdout; at 82+ queries the full
    # line above can be cut mid-stream ("parsed": null in BENCH_r03). Emit a
    # compact summary line LAST so the tail always ends with parseable JSON.
    print(
        json.dumps(
            {
                "metric": "registry_total",
                "value": total,
                "n": len(timings) - len(memo_timings),
                "n_failed": len(errors),
                "restarts": restarts,
                "n_regressed": (
                    len(regressions["flagged"]) if regressions else 0
                ),
                "n_confirmed": (
                    sum(
                        1
                        for r in regressions["flagged"].values()
                        if r.get("adjudication") == "confirmed"
                    )
                    if regressions
                    else 0
                ),
                "sf": float(sf),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
