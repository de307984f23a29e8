"""Engine benchmark: the ``cascade``, ``ingest`` and ``serve`` workloads.

Run from the repository root:

    python3 perfbench/run.py --workload {cascade,ingest,serve} --seed N \\
        --seconds S --trace {0,1} [--scale {full,smoke}]

One process, one SparkSession at local[<cpus available>]. The seed makes
every input; the same seed gives the same inputs. After set-up and an
untimed warm-up, the workload's closed loop (one caller) runs for
``--seconds`` seconds; every timed output is then checked, outside the
timed region.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` (operations that raised or answered
wrong) and ``metrics``. With ``--trace 0`` the metrics are the end-to-end
metrics of BENCHMARK.json. With ``--trace 1`` the session also writes a
Spark event log, spans are recorded around the engine's entry points, and
the metrics are the per-layer ones; the per-layer self-time table is
printed above the JSON line and the spans are written to
``.perfbench/traces/``. The line before the JSON line carries the
per-operation detail: every operation's p50 and tail, with the tail's
percentile and sample count.

All generated tables, stores, stream checkpoints and Spark local dirs live
in one per-run directory under ``.perfbench/`` in the checkout; it is
removed on exit, after a failure too. The exit code is 0 only when every
check passed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
MIN_FREE_BYTES = 2 << 30
DRIVER_MEM = "3g"


def tail_percentile(n: int) -> float:
    """Highest of p50/p90/p99/p99.9 with at least ten samples beyond it;
    100 (the maximum) when even the median has fewer."""
    for p in (99.9, 99.0, 90.0, 50.0):
        if n * (1 - p / 100.0) >= 10:
            return p
    return 100.0


def summarize(samples: list[float]) -> dict:
    xs = sorted(samples)
    pct = tail_percentile(len(xs))
    idx = min(len(xs) - 1, max(0, math.ceil(pct / 100.0 * len(xs)) - 1))
    return {"p50": statistics.median(xs), "tail": xs[idx], "tail_pct": pct,
            "n": len(xs)}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(run_dir: str, trace: bool):
    from mintpy_spark.session import get_spark

    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    extra = {
        "spark.local.dir": local,
        "spark.driver.memory": DRIVER_MEM,
        # a fixed, pre-touched heap: the Spark driver's peak RSS then follows
        # what the workload keeps outside the heap, not when the heap grew
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
            # a fixed set of compiler threads, whose CPU tree_cpu_s subtracts
            " -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log = os.path.join(run_dir, "eventlog")
        os.makedirs(log)
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = f"file://{log}"
        extra["spark.eventLog.rolling.enabled"] = "false"
        extra["spark.eventLog.compress"] = "false"
    spark = get_spark(app_name="perfbench", master=f"local[{cpus()}]",
                      shuffle_partitions=2 * cpus(), extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass  # ended while listing
    out, todo = [], [pid]
    while todo:
        ppid = todo.pop()
        kids = [c for c, p in parent.items() if p == ppid]
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it started,
    and wait until each has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    procs = _descendants(gw.proc.pid) + [gw.proc.pid]
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()  # the JVM exits when its stdin closes
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while any(_alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> list[str]:
    """The fields of a /proc stat file after the command name."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def _jit_cpu_s(pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(("C1 Compiler", "C2 Compiler")):
                    continue
            total += sum(int(x) for x in _stat(f"/proc/{pid}/task/{tid}/stat")[11:13])
        except OSError:
            continue  # ended since the listing
    return total / CLK_TCK


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process, the JVM and the Python
    workers under it, less the JIT compiler's (time the hypervisor gave
    to other guests is in none of them). The JIT's share falls from job to
    job while a session warms up; leaving it out keeps a step's CPU time
    from depending on how many steps ran before it."""
    from pyspark import SparkContext

    own = os.times()
    total = own.user + own.system
    root = SparkContext._gateway.proc.pid
    for pid in [root] + _descendants(root):
        try:
            total += sum(int(x) for x in _stat(f"/proc/{pid}/stat")[11:15]) / CLK_TCK
            total -= _jit_cpu_s(pid)
        except OSError:
            continue  # ended since the listing
    return total


def run_loop(wl, tracer, seconds: float, steps: list[dict]) -> None:
    """Closed loop: steps back to back for ``seconds``. A step is started
    only while it can be expected to end within half a step of the
    deadline, so the measured span stays close to ``seconds``."""
    t_end = time.perf_counter() + seconds
    while True:
        c0 = tree_cpu_s()
        with tracer.span("step"):
            steps.append(wl.step(tracer))
        steps[-1]["cpu_s"] = tree_cpu_s() - c0
        typical = statistics.median(s["step_s"] for s in steps)
        if time.perf_counter() + typical / 2 >= t_end:
            return


def end_to_end(steps: list[dict], setup_s: float, rss_mb: float) -> dict:
    """The metrics BENCHMARK.json lists as end-to-end; every workload
    reports each of them. Throughput is counted against the CPU time the
    step used (this process, the JVM and the Python workers): on a shared host the wall
    time of the same step swings by a quarter with the time the hypervisor
    gives to other guests, its CPU time by a few per cent. Wall times are
    in the per-operation line."""
    cpu = statistics.median(s["cpu_s"] for s in steps)
    return {
        "setup_s": (setup_s, "s"),
        "pts_per_cpu_s": (steps[0]["points"] / cpu, "1/cpu_s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def per_operation(name: str, steps: list[dict]) -> dict:
    """Each operation's metrics under its own name: a median, and the tail
    with its percentile and sample count."""
    out: dict = {}

    def timing(metric: str, samples: list[float]) -> None:
        s = summarize(samples)
        out[f"{metric}_p50_s"] = {"value": s["p50"], "unit": "s", "n": s["n"]}
        out[f"{metric}_tail_s"] = {"value": s["tail"], "unit": "s", "n": s["n"],
                                   "percentile": s["tail_pct"]}

    rate = steps[0]["points"] / statistics.median(s["rollup_s"] for s in steps)
    out["step_cpu_s"] = {"value": statistics.median(s["cpu_s"] for s in steps),
                         "unit": "cpu_s", "n": len(steps)}
    if name in ("cascade", "ingest"):
        out[f"{name}_pts_per_s"] = {"value": rate, "unit": "1/s"}
        timing(name, [s["rollup_s"] for s in steps])
    if name == "ingest":
        out["resume_s"] = {"value": summarize([s["resume_s"] for s in steps])["p50"],
                           "unit": "s", "n": len(steps)}
    if name == "serve":
        timing("fold", [s["rollup_s"] for s in steps])
        timing("kalman_fold", [s["kalman_s"] for s in steps])
        timing("query", [x for s in steps for x in s["query_s"]])
    return out


def bench(args, run_dir: str) -> dict:
    from tracing import Tracer
    from workloads import WORKLOADS, Check

    trace = bool(args.trace)
    phases: dict[str, float] = {}
    t0 = time.perf_counter()
    spark = start_spark(run_dir, trace)
    phases["session_s"] = time.perf_counter() - t0
    try:
        tracer = Tracer(spark)
        tracer.enabled = False
        wl = WORKLOADS[args.workload](spark, os.path.join(run_dir, "data"), args.seed, args.scale)
        reps = []
        for rep in range(wl.setup_reps):
            t = time.perf_counter()
            wl.setup(rep)
            reps.append(time.perf_counter() - t)
        setup_s = phases["session_s"] + statistics.median(reps)
        chk = Check()
        steps: list[dict] = []
        try:
            t = time.perf_counter()
            wl.warm_up(tracer)  # untimed
            phases["warmup_s"] = time.perf_counter() - t
            t = time.perf_counter()
            if trace:
                from layers import TracedRun

                traced = TracedRun(wl, tracer, spark)
                traced.run(args.seconds)
            else:
                run_loop(wl, tracer, args.seconds, steps)
                rss_mb = jvm_peak_rss_mb(spark)
            phases["loop_s"] = time.perf_counter() - t
            t = time.perf_counter()
            wl.check(chk)
            phases["check_s"] = time.perf_counter() - t
        except Exception:  # an operation raised: counted, reported, no metrics
            traceback.print_exc()
            chk.op(False, "an operation raised")
            return {"correct": False, "attempted": chk.attempted, "failed": chk.failed,
                    "metrics": {}}
    finally:
        stop_spark(spark)
    if trace:
        metrics = traced.metrics(os.path.join(run_dir, "eventlog"), args)
    else:
        metrics = end_to_end(steps, setup_s, rss_mb)
        ops = per_operation(wl.name, steps)
        ops["fail_ratio"] = {"value": chk.failed / max(chk.attempted, 1), "unit": "ratio",
                             "attempted": chk.attempted}
        print(json.dumps({"operations": ops, "steps_s": [s["step_s"] for s in steps],
                          "steps_cpu_s": [s["cpu_s"] for s in steps],
                          "setup_reps_s": reps, "phases": phases}))
    for note in chk.notes:
        print(f"CHECK FAILED: {note}", file=sys.stderr)
    return {
        "correct": chk.failed == 0,
        "attempted": max(chk.attempted, 1),
        "failed": chk.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def free_bytes(path: str) -> int:
    st = os.statvfs(path)
    return st.f_bavail * st.f_frsize


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["cascade", "ingest", "serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "smoke"], default="full")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "mintpy_spark")):
        print(f"perfbench: no engine source (mintpy_spark/) under {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    if free_bytes(WORK) < MIN_FREE_BYTES:
        print(f"perfbench: under {MIN_FREE_BYTES >> 30} GiB free at {WORK}", file=sys.stderr)
        return 3
    # the engine and the jobs' entry functions, for this process and for
    # the Python workers Spark starts
    for d in (ROOT, os.path.join(ROOT, "jobs"), HERE):
        if d not in sys.path:
            sys.path.insert(0, d)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=WORK)
    try:
        result = bench(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
