"""Spans, method wrappers and Spark event-log attribution for the traced run.

A span is (id, name, start, end, parent). Spans live in memory and are
written out once, when the benchmark ends. Wrappers are installed around
the engine's public entry points from this file only; nothing in the
engine is edited. Each wrapper sets a Spark job description ``span:<id>``
so the event log's task metrics can be attributed to the span that ran
them. Jobs launched from a streaming thread carry the stream's own
description; those are attributed to the innermost span open at their
submission time.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import statistics
import threading
import time


class Tracer:
    """In-memory span recorder. One logical caller: the stack is global,
    not per thread, because ``foreachBatch`` callbacks run on a py4j
    thread while the caller thread blocks in ``awaitTermination``."""

    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self.enabled = True

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            rec = {"id": sid, "name": name, "parent": parent,
                   "start": time.time(), "end": None, **attrs}
            self.spans.append(rec)
            self._stack.append(sid)
        sc = self.spark.sparkContext if self.spark is not None else None
        prev_desc = sc.getLocalProperty("spark.job.description") if sc else None
        if sc:
            sc.setJobDescription(f"span:{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if sc:
                sc.setJobDescription(prev_desc)
            with self._lock:
                self._stack.remove(sid)

    # -- derived views ----------------------------------------------------

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it covered by its children."""
        s = self.spans[sid]
        ivs = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in self.children(sid)
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return (s["end"] - s["start"]) - covered

    def descendants(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(k["id"] for k in kids)
        return out

    def find(self, name: str, within: int | None = None) -> list[dict]:
        pool = self.spans if within is None else self.descendants(within)
        return [s for s in pool if s["name"] == name]


class Patches:
    """Installs span wrappers around attributes and restores them."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name, when=None, attrs=None) -> None:
        """Wrap ``owner.attr``; ``name`` is a span name or a callable of
        the call's arguments; ``when`` gates the span on the open stack;
        ``attrs`` computes extra span fields from the arguments."""
        orig = getattr(owner, attr)
        tracer = self.tracer

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if when is not None and not when():
                return orig(*args, **kwargs)
            label = name(*args, **kwargs) if callable(name) else name
            extra = attrs(*args, **kwargs) if attrs is not None else {}
            with tracer.span(label, **extra):
                return orig(*args, **kwargs)

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()


def inside(tracer: Tracer, name: str):
    """Predicate: a span called ``name`` is currently open."""
    def pred() -> bool:
        return any(tracer.spans[i]["name"] == name for i in tracer._stack)
    return pred


# -- Spark event log --------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def read_event_log(log_dir: str) -> dict:
    """Parse the (single-application) event log into stage and task
    records. The log is complete only after the session has stopped."""
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    props = ev.get("Properties") or {}
                    stages[info["Stage ID"]] = {
                        "desc": props.get("spark.job.description") or "",
                        "submitted": (info.get("Submission Time") or 0) / 1000.0,
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    acc = {}
                    for a in info.get("Accumulables", []):
                        nm = a.get("Name")
                        if nm in (PY_SENT, PY_RECV):
                            acc[nm] = acc.get(nm, 0) + int(a.get("Update") or 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    inp = m.get("Input Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "in_rows": inp.get("Records Read", 0),
                        "in_bytes": inp.get("Bytes Read", 0),
                        "sh_read": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "sh_bytes": sw.get("Shuffle Bytes Written", 0),
                        "sh_records": sw.get("Shuffle Records Written", 0),
                        "py_sent": acc.get(PY_SENT, 0),
                        "py_recv": acc.get(PY_RECV, 0),
                    })
    return {"stages": stages, "tasks": tasks}


def attribute(log: dict, tracer: Tracer) -> None:
    """Attach to every span the tasks of the stages it ran: by the
    ``span:<id>`` description when the stage carries one, else by the
    innermost span open when the stage was submitted."""
    owner: dict[int, int | None] = {}
    for sid_stage, st in log["stages"].items():
        sid = None
        if st["desc"].startswith("span:"):
            sid = int(st["desc"][5:])
        else:
            best = None
            for s in tracer.spans:
                if s["end"] is None:
                    continue
                if s["start"] <= st["submitted"] <= s["end"]:
                    if best is None or s["start"] >= best["start"]:
                        best = s
            sid = best["id"] if best else None
        owner[sid_stage] = sid
    for s in tracer.spans:
        s["tasks"] = []
    for t in log["tasks"]:
        sid = owner.get(t["stage"])
        if sid is not None:
            tracer.spans[sid]["tasks"].append(t)


def tasks_under(tracer: Tracer, sid: int) -> list[dict]:
    out = list(tracer.spans[sid].get("tasks", []))
    for d in tracer.descendants(sid):
        out.extend(d.get("tasks", []))
    return out


def total(tasks: list[dict], field: str) -> float:
    return float(sum(t[field] for t in tasks))


def task_skew(tasks: list[dict]) -> float:
    """Longest over median task in the busiest stage that reads a
    shuffle (the stage after the Exchange)."""
    by_stage: dict[int, list[dict]] = {}
    for t in tasks:
        if t["sh_read"] > 0:
            by_stage.setdefault(t["stage"], []).append(t)
    if not by_stage:
        return 0.0
    busiest = max(by_stage.values(), key=lambda ts: sum(t["run_ms"] for t in ts))
    runs = [max(t["run_ms"], 1) for t in busiest]
    return max(runs) / statistics.median(runs)


def render_table(rows: list[tuple[str, float]], wall: float) -> str:
    """Per-layer self-time table, one traced step, with shares of wall."""
    width = max([len(r[0]) for r in rows] + [5])
    out = [f"{'layer':<{width}}  {'self_s':>9}  {'share':>6}"]
    for name, sec in rows:
        share = sec / wall if wall > 0 else 0.0
        out.append(f"{name:<{width}}  {sec:9.4f}  {share:6.1%}")
    acc = sum(s for _n, s in rows)
    out.append(f"{'sum':<{width}}  {acc:9.4f}  {acc / wall if wall else 0:6.1%}")
    out.append(f"{'traced wall':<{width}}  {wall:9.4f}")
    return "\n".join(out)
