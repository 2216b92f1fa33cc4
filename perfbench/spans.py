"""Spans around the calls into each layer, for the traced run.

A span records name, start, end, parent and the pass it belongs to.
While a span is open every Spark job it submits carries the span's id
as its job description, so the event log attributes task metrics to the
span. Spans stay in memory and are written out when the run ends.

``NullTracer`` is what the untraced run uses: no checkpoints, no job
descriptions, no counts.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class NullTracer:
    on = False

    @contextmanager
    def span(self, name: str):
        yield

    def boundary(self, name: str, df):
        return df

    def later(self, name: str, fn) -> None:
        pass


class Tracer:
    """Records spans for one run. ``boundary`` materializes a layer's
    output with an eager local checkpoint, so the layer's work happens
    inside its own span instead of in whichever later layer first
    triggers it. Row counts of those boundaries, and any other count a
    pass asks for with ``later``, are taken by ``flush`` after the pass
    ends, so counting jobs never land inside a span."""

    on = True

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.counts: list[dict] = []
        self.plan_ms: list[dict] = []
        self._stack: list[int] = []
        self._pending: list[tuple] = []
        self.pass_id: str | None = None

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "pass": self.pass_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobDescription(f"span:{sid}")
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            sc.setJobDescription(f"span:{self._stack[-1]}" if self._stack else None)

    def later(self, name: str, fn) -> None:
        """Record ``fn()`` as count ``name`` of this pass, at flush."""
        self._pending.append((self.pass_id, name, fn))

    def boundary(self, name: str, df):
        out = df.localCheckpoint(eager=True)
        self.plan_ms.append(
            {"pass": self.pass_id, "name": name, "ms": plan_phase_ms(df)}
        )
        self.later(f"{name}.rows", out.count)
        return out

    def flush(self) -> None:
        for pid, name, fn in self._pending:
            self.counts.append({"pass": pid, "name": name, "value": fn()})
        self._pending.clear()

    # -- analysis ---------------------------------------------------------

    def self_times(self) -> list[dict]:
        """Each span's duration minus the part its children cover.
        Children run sequentially inside their parent, so the covered
        part is the union of their intervals clipped to the parent."""
        out = []
        for s in self.spans:
            kids = sorted(
                (max(k["start"], s["start"]), min(k["end"], s["end"]))
                for k in self.spans
                if k["parent"] == s["id"]
            )
            covered, cur = 0.0, None
            for a, b in kids:
                if cur is None or a > cur[1]:
                    if cur:
                        covered += cur[1] - cur[0]
                    cur = [a, b]
                else:
                    cur[1] = max(cur[1], b)
            if cur:
                covered += cur[1] - cur[0]
            wall = s["end"] - s["start"]
            out.append({**s, "wall": wall, "self": wall - covered})
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": self.self_times(),
                    "counts": self.counts,
                    "plan_ms": self.plan_ms,
                    **extra,
                },
                f,
                indent=1,
                default=str,
            )


def plan_phase_ms(df) -> float:
    """Analysis + optimization + physical planning milliseconds of the
    DataFrame's query execution (QueryPlanningTracker phases)."""
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        total = 0.0
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            if opt.isDefined():
                total += float(opt.get().durationMs())
        return total
    except Exception:  # noqa: BLE001 - a missing tracker reads as 0 ms
        return 0.0


_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def task_metrics_by_span(event_logs: list[str]) -> dict[int, dict]:
    """Sum task metrics per span id from Spark JSON event-log files (in
    order): jobs carry ``span:<id>`` in spark.job.description, stages
    map to jobs, tasks to stages."""
    stage_span: dict[int, int] = {}
    per: dict[int, dict] = {}
    for line in _lines(event_logs):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            if desc.startswith("span:"):
                sid = int(desc[5:])
                for st in ev.get("Stage IDs", []):
                    stage_span[st] = sid
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev.get("Stage ID"))
            if sid is None:
                continue
            m = ev.get("Task Metrics") or {}
            acc = per.setdefault(
                sid,
                {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                 "shuffle_mb": 0.0, "spill_mb": 0.0, "python_mb": 0.0},
            )
            acc["tasks"] += 1
            acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
            for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                if a.get("Name") in (_PY_SENT, _PY_RECV):
                    acc["python_mb"] += float(a.get("Update") or 0) / 1e6
    return per


def _lines(paths: list[str]):
    for p in paths:
        with open(p) as f:
            yield from f
