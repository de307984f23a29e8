"""Smoke-size self-test of the benchmark.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: all) it runs the benchmark at ``--scale smoke``
untraced and traced, and asserts that every metric BENCHMARK.json names is
emitted with its unit, that every per-operation metric is emitted, and that
every output check passed. It also runs the benchmark in a directory that
holds only BENCHMARK.json and the benchmark's files, where it must fail
without printing a result. Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

OPERATIONS = {
    "cascade": ["cascade_pts_per_s", "cascade_p50_s", "cascade_tail_s"],
    "ingest": ["ingest_pts_per_s", "ingest_p50_s", "ingest_tail_s", "resume_s"],
    "serve": ["fold_p50_s", "fold_tail_s", "kalman_fold_p50_s", "kalman_fold_tail_s",
              "query_p50_s", "query_tail_s"],
}


def run(cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--scale", "smoke"]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=300)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
    return p.returncode, p.stdout.strip().splitlines()


def check_result(line: str, names: dict[str, str], what: str) -> None:
    res = json.loads(line)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, what
    assert res["correct"] is True and res["failed"] == 0, f"{what}: {res}"
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, what
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == names, f"{what}: metrics {sorted(got)} != {sorted(names)}"
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{what}: {k}"


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    workloads = argv or [w["name"] for w in spec["workloads"]]

    for w in workloads:
        rc, out = run(ROOT, w, 0)
        assert rc == 0, f"{w} untraced: exit {rc}"
        check_result(out[-1], e2e, f"{w} untraced")
        ops = json.loads(out[-2])["operations"]
        for name in OPERATIONS[w] + ["step_cpu_s", "fail_ratio"]:
            assert name in ops and ops[name]["unit"], f"{w}: no {name}"
        assert ops["fail_ratio"]["value"] == 0, f"{w}: fail_ratio {ops['fail_ratio']}"
        for name, v in ops.items():
            if name.endswith("_tail_s"):
                assert "percentile" in v and v["n"] >= 1, f"{w}: {name} {v}"
        for m in e2e:
            assert json.loads(out[-1])["metrics"][m]["value"] > 0, f"{w}: {m} is 0"
        print(f"ok  {w} untraced")

        rc, out = run(ROOT, w, 1)
        assert rc == 0, f"{w} traced: exit {rc}"
        check_result(out[-1], layers, f"{w} traced")
        assert any(line.startswith("per-layer self time") for line in out), f"{w}: no table"
        print(f"ok  {w} traced")

    # without the engine's source the benchmark must refuse to run
    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(work, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="selftest-bare-", dir=work)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        rc, out = run(bare, workloads[0], 0)
        assert rc != 0 and not out, f"bare checkout: exit {rc}, output {out}"
        print("ok  bare checkout refused")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
