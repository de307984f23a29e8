"""The traced run: per-layer metrics and the self-time table.

Untraced and traced steps alternate for ``--seconds`` in one session, so
``trace.overhead_s`` is the median traced step wall minus the median
untraced one (the event log is on for both). Wrappers from ``tracing`` go
around the engine's entry points; the Spark event log gives task metrics;
a StreamingQueryListener gives micro-batch durations and state size.

Each per-layer metric names the end-to-end metric it should move, and on
which workload (LAYER_MAP). Everywhere else the prediction is no change.
A layer the workload does not run reports 0.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from datetime import datetime

from tracing import (
    Patches,
    attribute,
    inside,
    read_event_log,
    render_table,
    task_skew,
    tasks_under,
    total,
)

# per-layer metric -> unit; the keys are BENCHMARK.json's per_layer names
PER_LAYER = {
    "scan.self_s": "s", "scan.rows": "count", "scan.bytes": "bytes",
    "extract.self_s": "s",
    "exchange.self_s": "s", "exchange.shuffle_bytes": "bytes",
    "exchange.shuffle_records": "count",
    "rollup.tier_1h_self_s": "s", "rollup.cascade_self_s": "s",
    "pipeline.obs_s": "s", "pipeline.tier_1h_s": "s", "pipeline.tier_1d_s": "s",
    "pipeline.tier_30d_s": "s", "pipeline.blocks_s": "s", "pipeline.velocity_s": "s",
    "pipeline.recount_s": "s",
    "blocks.groups": "count", "blocks.python_bytes_sent": "bytes",
    "blocks.bytes_per_point": "bytes/point",
    "tables.write_s": "s", "tables.files_written": "count",
    "tables.bytes_per_point": "bytes/point",
    "checkpoint.complete_parts_s": "s", "checkpoint.append_s": "s",
    "checkpoint.files_read": "count",
    "tier_maintenance.compute_s": "s", "tier_maintenance.write_s": "s",
    "tier_maintenance.commit_gc_s": "s", "tier_maintenance.metrics_s": "s",
    "tier_maintenance.stream_overhead_s": "s", "tier_maintenance.rewrite_ratio": "ratio",
    "query.plan_s": "s", "query.exec_s": "s", "query.rows_scanned": "count",
    "query.files_read": "count",
    "kalman_stream.add_batch_ms": "ms", "kalman_stream.commit_ms": "ms",
    "kalman_stream.state_rows": "count", "kalman_stream.state_bytes": "bytes",
    "kalman_stream.python_bytes_sent": "bytes",
    "kalman_stream.python_bytes_received": "bytes",
    "kalman_stream.groups": "count", "kalman_stream.rows_dropped": "count",
    "spark.gc_s": "s", "spark.spill_bytes": "bytes", "spark.task_skew": "ratio",
    "trace.overhead_s": "s", "trace.coverage": "ratio",
}

# metric prefix -> (layer, end-to-end metric it should move, workload)
LAYER_MAP = {
    "scan": ("operators.extract (scan)", "pts_per_cpu_s", "cascade"),
    "extract": ("operators.extract", "pts_per_cpu_s", "cascade"),
    "exchange": ("Spark Exchange", "pts_per_cpu_s", "cascade"),
    "rollup": ("operators.rollup", "pts_per_cpu_s", "cascade"),
    "pipeline": ("plans.pipeline", "pts_per_cpu_s", "ingest"),
    "blocks": ("codecs.blocks", "pts_per_cpu_s", "ingest"),
    "tables": ("sources.tables", "pts_per_cpu_s", "ingest"),
    "checkpoint": ("plans.checkpoint", "pts_per_cpu_s (resume_s)", "ingest"),
    "tier_maintenance": ("streaming.tier_maintenance, fold",
                         "pts_per_cpu_s (fold_*)", "serve"),
    "query": ("streaming.tier_maintenance + operators.rollup, read",
              "pts_per_cpu_s (query_*)", "serve"),
    "kalman_stream": ("streaming.kalman_stream", "pts_per_cpu_s (kalman_fold_*)", "serve"),
    "spark": ("Spark runtime", "all", "all"),
    "trace": ("the trace itself", "none", "all"),
}

PIPELINE_STAGES = ("obs", "tier_1h", "tier_1d", "tier_30d", "blocks", "velocity")
PREFIX_REPS = 3


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class ProgressLog:
    """StreamingQueryListener collecting every progress and termination."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                log.terminated += 1

        self.progress: list[dict] = []
        self.terminated = 0
        self.listener = Listener()


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class TracedRun:
    def __init__(self, wl, tracer, spark) -> None:
        self.wl, self.tracer, self.spark = wl, tracer, spark
        self.untraced: list[dict] = []
        self.traced: list[dict] = []
        self.prefix: dict[str, list[float]] = {}
        self.fs: dict = {}
        self.streams = None

    def _install(self) -> Patches:
        from mintpy_spark.plans import checkpoint, pipeline
        from mintpy_spark.sources import tables
        from mintpy_spark.streaming import tier_maintenance as tm

        p = Patches(self.tracer)
        name = self.wl.name
        if name == "ingest":
            p.wrap(pipeline, "run_pipeline", "pipeline.run_pipeline")
            p.wrap(pipeline, "run_stage", lambda *a, **k: f"pipeline.{a[4]}")
            p.wrap(tables.TableStore, "write_partitions", "tables.write_partitions")
            p.wrap(checkpoint.CheckpointTable, "complete_parts", "checkpoint.complete_parts",
                   attrs=lambda self, *a, **k: {"files": len(self._files())})
            p.wrap(checkpoint.CheckpointTable, "append", "checkpoint.append")
        if name == "serve":
            in_fold = inside(self.tracer, "tier_maintenance.apply_delta")
            df_cls = type(self.spark.range(1))
            writer_cls = type(self.spark.range(1).write)
            p.wrap(tm.TierMaintainer, "apply_delta", "tier_maintenance.apply_delta")
            p.wrap(df_cls, "localCheckpoint", "tier_maintenance.compute", when=in_fold)
            p.wrap(writer_cls, "parquet", "tier_maintenance.write", when=in_fold)
            p.wrap(tm.TierMaintainer, "_commit", "tier_maintenance.commit_gc")
            p.wrap(tm.TierMaintainer, "_gc", "tier_maintenance.commit_gc")
            p.wrap(df_cls, "count", "tier_maintenance.metrics", when=in_fold)
            p.wrap(checkpoint.CheckpointTable, "append", "tier_maintenance.metrics",
                   when=in_fold)
        return p

    def run(self, seconds: float) -> None:
        """Untraced and traced steps alternate until ``seconds`` have
        passed; the wrappers are installed for the traced steps only."""
        if self.wl.name == "serve":
            self.streams = ProgressLog()
            self.spark.streams.addListener(self.streams.listener)
        t_end = time.perf_counter() + seconds
        while True:
            # which of the pair goes first alternates, so neither is
            # always the one that runs warmer
            if len(self.traced) % 2:
                self._traced_step()
                self.untraced.append(self.wl.step(self.tracer))
            else:
                self.untraced.append(self.wl.step(self.tracer))
                self._traced_step()
            if time.perf_counter() >= t_end:
                break
        if self.wl.name == "cascade":
            self.tracer.enabled = True
            try:
                self._prefix_runs()
            finally:
                self.tracer.enabled = False
        if self.streams is not None:
            # maintain_tiers + run_filter per step, traced or not
            want = 2 * (len(self.traced) + len(self.untraced))
            t_wait = time.time() + 10
            while self.streams.terminated < want and time.time() < t_wait:
                time.sleep(0.1)
            self.spark.streams.removeListener(self.streams.listener)
        if self.wl.name == "ingest":
            self.fs = _store_stats(self.wl.stores[-1])
        if self.wl.name == "serve":
            self.fs = _rewrite_ratio(self.wl)

    def _traced_step(self) -> None:
        patches = self._install()
        self.tracer.enabled = True
        try:
            with self.tracer.span("step"):
                self.traced.append(self.wl.step(self.tracer))
        finally:
            self.tracer.enabled = False
            patches.restore()

    def _prefix_runs(self) -> None:
        """Interleaved reps of each cumulative prefix into a noop sink."""
        plans = self.wl.prefixes()
        for name in plans:
            self.prefix[name] = []
        for _ in range(PREFIX_REPS):
            for name, df in plans.items():
                with self.tracer.span(f"prefix.{name}") as sp:
                    df.write.format("noop").mode("overwrite").save()
                self.prefix[name].append(_dur(sp))

    # -- after the session stopped ----------------------------------------

    def metrics(self, log_dir: str, args) -> dict:
        tr = self.tracer
        attribute(read_event_log(log_dir), tr)
        roots = [s for s in tr.spans if s["name"] == "step"]
        m = {k: 0.0 for k in PER_LAYER}

        def per_step(fn) -> float:
            return _med(fn(r) for r in roots)

        def sum_dur(root, name) -> float:
            return sum(_dur(s) for s in tr.find(name, root["id"]))

        def tasks(root):
            return tasks_under(tr, root["id"])

        m["scan.rows"] = per_step(lambda r: total(tasks(r), "in_rows"))
        m["scan.bytes"] = per_step(lambda r: total(tasks(r), "in_bytes"))
        m["exchange.shuffle_bytes"] = per_step(lambda r: total(tasks(r), "sh_bytes"))
        m["exchange.shuffle_records"] = per_step(lambda r: total(tasks(r), "sh_records"))
        m["spark.gc_s"] = per_step(lambda r: total(tasks(r), "gc_ms") / 1000.0)
        m["spark.spill_bytes"] = per_step(lambda r: total(tasks(r), "spill"))
        m["spark.task_skew"] = per_step(lambda r: task_skew(tasks(r)))
        m["trace.overhead_s"] = (_med(s["step_s"] for s in self.traced)
                                 - _med(s["step_s"] for s in self.untraced))
        wall = _med(_dur(r) for r in roots)
        name = self.wl.name

        if name == "cascade":
            best = {k: _med(v) for k, v in self.prefix.items()}
            order = ["scan", "extract", "exchange", "rollup.tier_1h", "rollup.cascade"]
            rows, prev = [], 0.0
            for k in order:
                rows.append((k, best[k] - prev))
                prev = best[k]
            m["scan.self_s"], m["extract.self_s"], m["exchange.self_s"] = (
                rows[0][1], rows[1][1], rows[2][1])
            m["rollup.tier_1h_self_s"], m["rollup.cascade_self_s"] = rows[3][1], rows[4][1]
            m["trace.coverage"] = best["rollup.cascade"] / wall
        else:
            rows = _self_rows(tr, roots)
            m["trace.coverage"] = per_step(lambda r: 1.0 - tr.self_time(r["id"]) / _dur(r))

        if name == "ingest":
            for st in PIPELINE_STAGES:
                m[f"pipeline.{st}_s"] = per_step(
                    lambda r, st=st: sum(sum_dur(c, f"pipeline.{st}")
                                         for c in tr.find("ingest.cold", r["id"])))
            m["pipeline.recount_s"] = per_step(lambda r: sum(
                tr.self_time(s["id"]) for st in PIPELINE_STAGES
                for s in tr.find(f"pipeline.{st}", r["id"])))
            m["tables.write_s"] = per_step(lambda r: sum_dur(r, "tables.write_partitions"))
            m["checkpoint.complete_parts_s"] = per_step(
                lambda r: sum_dur(r, "checkpoint.complete_parts"))
            m["checkpoint.append_s"] = per_step(lambda r: sum_dur(r, "checkpoint.append"))
            m["checkpoint.files_read"] = per_step(lambda r: sum(
                s["files"] for s in tr.find("checkpoint.complete_parts", r["id"])))
            m["blocks.python_bytes_sent"] = per_step(lambda r: sum(
                total(tasks_under(tr, s["id"]), "py_sent")
                for s in tr.find("pipeline.blocks", r["id"])))
            pts = self.wl.points
            m["blocks.groups"] = self.fs["blocks_rows"]
            m["blocks.bytes_per_point"] = self.fs["blocks_bytes"] / pts
            m["tables.files_written"] = self.fs["files"]
            m["tables.bytes_per_point"] = self.fs["bytes"] / pts

        if name == "serve":
            for key in ("compute", "write", "commit_gc", "metrics"):
                m[f"tier_maintenance.{key}_s"] = per_step(
                    lambda r, key=key: sum_dur(r, f"tier_maintenance.{key}"))
            m["tier_maintenance.stream_overhead_s"] = per_step(
                lambda r: sum_dur(r, "tier_maintenance.maintain_tiers")
                - sum_dur(r, "tier_maintenance.apply_delta"))
            m["tier_maintenance.rewrite_ratio"] = self.fs["rewrite_ratio"]
            m["query.plan_s"] = _med(_dur(s) for s in tr.find("query.plan"))
            m["query.exec_s"] = _med(_dur(s) for s in tr.find("query.exec"))
            queries = tr.find("query")
            m["query.rows_scanned"] = _med(
                total(tasks_under(tr, q["id"]), "in_rows") for q in queries)
            m["query.files_read"] = _med(s["files"] for s in tr.find("query.plan"))
            m.update(self._kalman(roots))
            m["kalman_stream.rows_dropped"] = float(self.wl.rows_dropped)

        detail = self._report(rows, wall, m, args)
        return {k: (float(v), PER_LAYER[k]) for k, v in m.items()} if detail else {}

    def _kalman(self, roots) -> dict:
        tr = self.tracer
        runs = [s for r in roots for s in tr.find("kalman_stream.run_filter", r["id"])]
        per_run = []
        for s in runs:
            prog = [p for p in self.streams.progress
                    if s["start"] <= _epoch(p["timestamp"]) <= s["end"]]
            prog = [p for p in prog if p.get("numInputRows", 0) > 0] or prog
            if not prog:
                continue
            dm = [p.get("durationMs", {}) for p in prog]
            ops = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
            tasks = tasks_under(tr, s["id"])
            per_run.append({
                "kalman_stream.add_batch_ms": sum(d.get("addBatch", 0) for d in dm),
                "kalman_stream.commit_ms": sum(v for d in dm for k, v in d.items()
                                               if "ommit" in k),
                "kalman_stream.state_rows": ops[-1]["numRowsTotal"] if ops else 0,
                "kalman_stream.state_bytes": ops[-1]["memoryUsedBytes"] if ops else 0,
                "kalman_stream.groups": sum(o["numRowsUpdated"] for o in ops),
                "kalman_stream.python_bytes_sent": total(tasks, "py_sent"),
                "kalman_stream.python_bytes_received": total(tasks, "py_recv"),
            })
        if not per_run:
            return {}
        return {k: _med(r[k] for r in per_run) for k in per_run[0]}

    def _report(self, rows, wall: float, m: dict, args) -> bool:
        """Print the self-time table and the coverage check; write spans."""
        cov = sum(sec for _n, sec in rows) / wall if wall else 0.0
        print(f"per-layer self time, {self.wl.name}, one traced step "
              f"(median of {len([s for s in self.tracer.spans if s['name'] == 'step'])}):")
        print(render_table(rows, wall))
        if abs(1.0 - cov) <= 0.10:
            print(f"layers account for {cov:.1%} of the traced wall (within 10%)")
        else:
            print(f"GAP: layers account for {cov:.1%} of the traced wall; "
                  f"{(1 - cov) * wall:+.4f} s unattributed")
        out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                               ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.wl.name}-seed{args.seed}.json")
        spans = [{k: v for k, v in s.items() if k != "tasks"} | {"n_tasks": len(s.get("tasks", []))}
                 for s in self.tracer.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, "table": rows, "wall_s": wall, "coverage": cov,
                       "metrics": m, "layer_map": LAYER_MAP,
                       "prefix_samples_s": self.prefix}, f, indent=1)
        print(f"spans written to {path}", file=sys.stderr)
        return True


def _self_rows(tr, roots) -> list[tuple[str, float]]:
    """Mean self time per span name over the traced steps; the step's own
    self time is the unattributed glue."""
    acc: dict[str, float] = {}
    for r in roots:
        acc["(unattributed)"] = acc.get("(unattributed)", 0.0) + tr.self_time(r["id"])
        for s in tr.descendants(r["id"]):
            acc[s["name"]] = acc.get(s["name"], 0.0) + tr.self_time(s["id"])
    n = max(len(roots), 1)
    return sorted(((k, v / n) for k, v in acc.items()), key=lambda kv: -kv[1])


def _store_stats(store: str) -> dict:
    import pyarrow.parquet as pq

    files = nbytes = blocks_rows = blocks_bytes = 0
    for dirpath, _dirs, names in os.walk(store):
        if "_checkpoint" in dirpath:
            continue
        for f in names:
            if not f.endswith(".parquet"):
                continue
            full = os.path.join(dirpath, f)
            size = os.path.getsize(full)
            files += 1
            nbytes += size
            if os.sep + "blocks" + os.sep in full:
                blocks_bytes += size
                blocks_rows += pq.ParquetFile(full).metadata.num_rows
    return {"files": files, "bytes": nbytes, "blocks_rows": blocks_rows,
            "blocks_bytes": blocks_bytes}


def _rewrite_ratio(wl) -> dict:
    """Tier rows written per delta row, median over the folded deltas."""
    from mintpy_spark.plans.checkpoint import CheckpointTable

    t = CheckpointTable(os.path.join(wl.store, "_maintenance_metrics")).load().to_pandas()
    per_batch = t[t["part_id"] > 0].groupby("part_id")["row_count"].sum()
    return {"rewrite_ratio": _med(per_batch / wl.size["delta"])}
