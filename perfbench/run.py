#!/usr/bin/env python3
"""The repository's benchmark: one seeded workload, one process, one
client, closed loop (the next pass starts when the last one ends).

    python3 perfbench/run.py --workload scene_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. Set-up starts a session from
``session.get_spark`` with the repository defaults (local[nproc], the
deliberate 1 GB heap), writes one input shard per pass and computes each
shard's reference output with NumPy. The first pass runs in the fresh
session; warm passes follow until ``--seconds`` have been spent in
passes. Every pass's output is checked against its shard's reference.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs a few
untraced warm passes, then traced passes with an eager checkpoint at
every layer boundary and Spark's event log on, and prints the per-layer
metrics plus the tracing overhead. Human-readable lines go first; the
last line of stdout is one JSON object. Artifacts (host record, spans,
per-pass results) land in ``.perfbench/artifacts/``; inputs and
outputs live in ``.perfbench/work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "sentinel_landsat_database_creation_spark"

import host  # noqa: E402

# Nominal warm-pass seconds on a 4-core host. --seconds buys
# ceil(seconds / nominal) warm passes (at least MIN_WARM): a fixed count
# per --seconds rather than a wall-clock loop, because passes
# keep speeding up for several passes as the JIT warms, and a sample
# count that flips between runs would move the median.
NOMINAL_PASS_S = 10.0
MIN_WARM = 2
TRACED = 2  # untraced and traced warm passes, alternating, in a traced run


def pass_plan(seconds: float, trace: bool) -> list[bool]:
    """Traced flag of every pass after the first. One input shard is
    written per pass, so no pass reads an input an earlier pass
    memoized."""
    if trace:
        # alternate, so the JIT's warm-up trend hits both sides alike
        return [False, True] * TRACED
    return [False] * max(MIN_WARM, math.ceil(seconds / NOMINAL_PASS_S))


def declared_metrics(kind: str) -> dict[str, str]:
    """Name -> unit of BENCHMARK.json's ``end_to_end`` or ``per_layer``
    metrics, in the order declared there."""
    with open(ROOT / "BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("scene_ingest", "corpus_curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: Path, trace: bool) -> dict:
    """Keep every file the JVM and the Python workers write inside the
    checkout, and size local mode to the cores this process may use."""
    for sub in ("tmp", "spark-local", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # no hsperfdata file in the system temp dir either
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # the console progress bar is stderr noise; it changes no plan
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work / 'eventlog'}",
            "spark.eventLog.compress": "false",
        }
    return conf


def stop_session(spark) -> None:
    """Stop the context and end the JVM (its Python workers end with it).
    Each step runs even if an earlier one failed (an interrupted py4j
    call leaves the gateway unusable)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    for step in (spark.stop, gw.shutdown, proc.stdin.close if proc else None):
        try:
            if step is not None:
                step()
        except Exception:  # noqa: BLE001 - the JVM is ended below either way
            pass
    if proc is not None:
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its session and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_process = time.perf_counter() - host.process_age_s()
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "loadavg_start": host.loadavg()}
    spin0 = host.calibration_spin()
    record["spin_start_s"] = spin0

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    state = ROOT / ".perfbench"
    work = state / "work"
    shutil.rmtree(work, ignore_errors=True)
    (state / "artifacts").mkdir(parents=True, exist_ok=True)
    conf = prepare_env(work, bool(args.trace))
    sys.path.insert(0, str(ROOT))
    try:
        return _run(args, record, work, state, conf, t_process, spin0)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, record, work, state, conf, t_process, spin0) -> int:
    import gen
    import workloads
    from sentinel_landsat_database_creation_spark.operators.dedup import (
        drain_memo_build_log,
    )
    from sentinel_landsat_database_creation_spark.session import (
        context_dead, get_spark,
    )
    from spans import NullTracer, Tracer, task_metrics_by_span

    wl = workloads.WORKLOADS[args.workload]
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    app_id = spark.sparkContext.applicationId
    try:
        plan = pass_plan(args.seconds, bool(args.trace))
        shards = wl["setup"](spark, str(work / "inputs"), args.seed, 1 + len(plan))
        # the start spin is the harness's host record, not set-up work
        setup_s = time.perf_counter() - t_process - spin0
        drain_memo_build_log()

        passes = []
        tracer = Tracer(spark) if args.trace else None

        def one(i, tr):
            out = str(work / "out" / f"pass{i}")
            rec = {"i": i, "shard": i, "traced": tr.on, "ok": True, "err": None}
            if tr.on:
                tr.pass_id = f"p{i}"
            t = time.perf_counter()
            try:
                with tr.span("pass"):
                    wl["pass"](spark, shards[i], out, tr)
            except Exception as e:  # noqa: BLE001 - a failed pass is counted
                rec["ok"], rec["err"] = False, f"{type(e).__name__}: {e}"[:500]
            rec["s"] = time.perf_counter() - t
            rec["memo"] = drain_memo_build_log()
            if tr.on and rec["ok"]:
                try:
                    tr.flush()
                except Exception as e:  # noqa: BLE001
                    rec["ok"], rec["err"] = False, f"counts: {type(e).__name__}: {e}"[:500]
                drain_memo_build_log()  # builds the counts caused
            rec["out"] = out
            passes.append(rec)
            return not context_dead(spark)

        alive = one(0, NullTracer())
        for i, traced in enumerate(plan, start=1):
            if alive:
                alive = one(i, tracer if traced else NullTracer())
            else:  # every pass planned after a dead session fails
                passes.append({"i": i, "shard": i, "traced": traced, "ok": False,
                               "err": "session dead", "s": None, "memo": [],
                               "out": str(work / "out" / f"pass{i}")})
        jvm_rss_mb = host.vm_hwm_mb(jvm_pid)
        aux = {}
        if args.trace and args.workload == "scene_ingest":
            aux = tiffcodec_rates(shards[0]["files_by_codec"])
    finally:
        stop_session(spark)

    # ---- checks (outside every timed region) ---------------------------
    for p in passes:
        shard = shards[p["shard"]]
        # a traced pass's boundary counts feed the checks as well
        counts = {c["name"]: c["value"] for c in tracer.counts
                  if c["pass"] == f"p{p['i']}"} if p["traced"] else {}
        if p["ok"]:
            try:
                bad, info = wl["check"](shard, p["out"], counts)
            except Exception as e:  # noqa: BLE001 - an unreadable output fails
                bad, info = [f"check raised {type(e).__name__}: {e}"], {}
            p["info"] = info
            if bad:
                p["ok"], p["err"] = False, "; ".join(bad)[:500]
        p["out_mb"] = sum(workloads.dir_bytes(d) for d in wl["sink"](p["out"])) / 1e6
        shutil.rmtree(p["out"], ignore_errors=True)
    record["spin_end_s"] = host.calibration_spin()
    record["loadavg_end"] = host.loadavg()
    record["shard_digests"] = [s["digest"] for s in shards]
    record["sizes"] = gen.SIZES[args.workload]
    record["passes"] = [
        {k: v for k, v in p.items() if k not in ("out",)} for p in passes
    ]
    failed = sum(not p["ok"] for p in passes)
    attempted = len(passes)
    for p in passes:
        if not p["ok"]:
            print(f"pass {p['i']} FAILED: {p['err']}", file=sys.stderr)

    items = wl["items"](shards[0]["ref"])
    units = declared_metrics("per_layer" if args.trace else "end_to_end")
    if args.trace:
        metrics = per_layer(args, tracer, passes, shards, session_start_s,
                            aux, state, app_id, task_metrics_by_span, record, units)
    else:
        metrics = {k: v for k, v in end_to_end(passes, items, setup_s, jvm_rss_mb).items()
                   if k in units}
        record["end_to_end"] = metrics
        record["failed_ratio"] = failed / attempted
        warm = [p for p in passes[1:] if p["s"] is not None]
        print(f"workload {args.workload}: {items} {wl['item_unit']} per pass, "
              f"{len(warm)} warm passes, seed {args.seed}")
        for k, unit in units.items():
            note = f" (median of {len(warm)} warm passes)" if k == "pass_s" else ""
            print(f"  {k} = {metrics[k]:.6g} {unit}{note}")
        print(f"  failed_ratio = {failed / attempted:.6g} ratio ({failed}/{attempted} passes)")
    print(f"host: loadavg {record['loadavg_start']} spin start "
          f"{record['spin_start_s']:.4f} s end {record['spin_end_s']:.4f} s")
    art = state / "artifacts" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(art, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def end_to_end(passes, items, setup_s, jvm_rss_mb) -> dict:
    warm = [p["s"] for p in passes[1:] if p["s"] is not None] or [passes[0]["s"]]
    pass_s = statistics.median(warm)
    return {
        "setup_s": setup_s,
        "first_pass_s": passes[0]["s"],
        "pass_s": pass_s,
        "items_per_s": items / pass_s,
        "jvm_peak_rss_mb": jvm_rss_mb,
        "output_mb": statistics.median(p["out_mb"] for p in passes),
    }


def tiffcodec_rates(files_by_codec: dict[str, list[str]], min_s: float = 0.3) -> dict:
    """Single-thread decode_gray_np throughput per codec over one shard's
    band files, in decoded MB/s."""
    from sentinel_landsat_database_creation_spark.sources import tiffcodec

    out = {}
    for codec, paths in files_by_codec.items():
        bufs = []
        for path in paths:
            with open(path, "rb") as f:
                bufs.append(f.read())
        done, t = 0, time.perf_counter()
        while bufs:
            for b in bufs:
                h, w, _px = tiffcodec.decode_gray_np(b)
                done += h * w * 4
            el = time.perf_counter() - t
            if el >= min_s:
                break
        out[f"tiffcodec.{codec}_mb_s"] = done / 1e6 / el if bufs else 0.0
    return out


def per_layer(args, tracer, passes, shards, session_start_s, aux, state,
              app_id, task_metrics_by_span, record, units) -> dict:
    """Per-layer metrics: the median over traced passes of each span's
    wall time, boundary counts and event-log task metrics, plus the
    tracing overhead (traced minus untraced warm-pass median)."""
    spans = tracer.self_times()
    # a plain file named after the application, or a rolling-log
    # directory of events_<n>_<app> files
    logs = sorted(
        (f for f in (state / "work" / "eventlog").rglob("*")
         if f.is_file() and (f.name == app_id or f.name.startswith("events_"))),
        key=lambda f: int(f.name.split("_")[1]) if f.name.startswith("events_") else 0,
    )
    tasks = task_metrics_by_span([str(f) for f in logs])
    traced = [p for p in passes if p["traced"] and p["ok"]]
    untraced = [p["s"] for p in passes[1:] if not p["traced"] and p["s"] is not None]
    per_pass = []
    for p in traced:
        pid = f"p{p['i']}"
        sp = [s for s in spans if s["pass"] == pid]
        wall = {}
        for s in sp:
            wall[s["name"]] = wall.get(s["name"], 0.0) + s["wall"]
        cnt = {c["name"]: c["value"] for c in tracer.counts if c["pass"] == pid}
        plan = sum(x["ms"] for x in tracer.plan_ms if x["pass"] == pid) / 1e3
        tm = {}
        for s in sp:
            for k, v in tasks.get(s["id"], {}).items():
                tm[k] = tm.get(k, 0.0) + v
        root = [s for s in sp if s["name"] == "pass"][0]
        rows = lambda k: float(cnt.get(f"{k}.rows", 0))  # noqa: E731
        cand = rows("crops.slice")
        lsh_cand = float(cnt.get("dedup.lsh_candidates", 0))
        info = p.get("info", {})
        memo = p.get("memo", [])
        m = {
            "raster.list_s": wall.get("raster.list", 0.0),
            "raster.decode_s": wall.get("raster.decode", 0.0),
            "raster.decoded_mpx": float(cnt.get("raster.decoded_px", 0)) / 1e6,
            "raster.input_mb": float(cnt.get("raster.input_bytes", 0)) / 1e6,
            "catalog.s": wall.get("catalog", 0.0),
            "catalog.rows": rows("catalog.S2") + rows("catalog.L8"),
            "pairing.s": wall.get("pairing", 0.0),
            "pairing.pairs": rows("pairing"),
            "stacking.s": wall.get("stacking", 0.0),
            "stacking.kept_ratio": rows("stacking") / rows("pairing") if rows("pairing") else 0.0,
            "crops.candidates": cand,
            "crops.slice_s": wall.get("crops.slice", 0.0),
            "crops.quality_ratio": float(cnt.get("crops.quality_ok", 0)) / cand if cand else 0.0,
            "crops.suppress_s": wall.get("crops.suppress", 0.0),
            "crops.kept_ratio": rows("crops.suppress") / cand if cand else 0.0,
            "crops.reslice_s": wall.get("crops.reslice", 0.0),
            "sink.write_s": wall.get("sink.write", 0.0),
            "sink.mb": p["out_mb"],
            "dedup.exact_s": wall.get("dedup.exact", 0.0),
            "dedup.lsh_s": wall.get("dedup.lsh", 0.0),
            "dedup.lsh_candidates": lsh_cand,
            "dedup.lsh_precision": rows("dedup.lsh") / lsh_cand if lsh_cand else 0.0,
            "dedup.containment_s": wall.get("dedup.containment", 0.0),
            "dedup.containment_candidates": rows("dedup.containment"),
            "dedup.planted_recall": float(info.get("planted_recall", 0.0)),
            "memo.builds": float(len(memo)),
            "memo.build_s": sum(s for _l, s in memo),
            "ann.train_s": shards[0].get("model", {}).get("train_s", 0.0),
            "ann.write_s": wall.get("ann.write", 0.0),
            "ann.probe_s": wall.get("ann.probe", 0.0),
            "ann.recall_at_10": float(info.get("recall_at_10", 0.0)),
            "spark.plan_s": plan,
            "spark.tasks": float(tm.get("tasks", 0)),
            "spark.run_s": tm.get("run_s", 0.0),
            "spark.cpu_s": tm.get("cpu_s", 0.0),
            "spark.gc_s": tm.get("gc_s", 0.0),
            "spark.shuffle_mb": tm.get("shuffle_mb", 0.0),
            "spark.spill_mb": tm.get("spill_mb", 0.0),
            "spark.python_mb": tm.get("python_mb", 0.0),
            "trace.pass_s": root["wall"],
            "trace.residual_s": root["self"],
        }
        per_pass.append(m)
    # with no successful traced pass every metric reads 0 and the run
    # reports correct=false
    out = dict.fromkeys(units, 0.0)
    for n in per_pass[0] if per_pass else ():
        out[n] = statistics.median(m[n] for m in per_pass)
    out["session.start_s"] = session_start_s
    for k in ("tiffcodec.raw_mb_s", "tiffcodec.lzw_mb_s", "tiffcodec.deflate_mb_s"):
        out[k] = aux.get(k, 0.0)
    t_med = statistics.median(p["s"] for p in traced) if traced else 0.0
    out["trace.overhead_s"] = t_med - statistics.median(untraced) if untraced and traced else 0.0
    record["per_pass_layers"] = per_pass
    tracer.dump(str(state / "artifacts" /
                    f"{args.workload}-seed{args.seed}-spans.json"),
                {"task_metrics": tasks})
    print(f"workload {args.workload}: per-layer medians over {len(traced)} traced passes")
    for n, unit in units.items():
        print(f"  {n} = {out[n]:.6g} {unit}")
    return {n: out[n] for n in units}


if __name__ == "__main__":
    sys.exit(main())
