#!/usr/bin/env bash
# One-command verification gate: no Structured-Streaming state in the engine
# (no .applyInPandasWithState(, .withWatermark( or import GroupState under
# mintpy_spark/ or jobs/; per-key streaming folds through streaming/seqfold.py),
# no table-store .commit( or .expire( under mintpy_spark/ or jobs/ outside the
# store (sources/tables.py) and the shared fold step
# (streaming/tier_maintenance.py), no recursion .fold( call under
# mintpy_spark/ or jobs/ outside the one runner (operators/seqstate.py
# fold_groups, which batch and stream both call), no lineage row dict
# ("row_count": under mintpy_spark/ or jobs/) outside the one lineage writer
# (plans/checkpoint.py CheckpointTable.record), no top-level def or class
# under mintpy_spark/ (outside __init__.py and the fixture generator
# datagen.py) that only tests reach: each must be @_q-registered or named
# (a Name, an Attribute or an import alias) by reached code, which is all
# module-level code, everything in jobs/, tools/, perfbench/, bench.py and
# __spark_entry__.py, and transitively every definition these name; then
# the full pytest suite, the cascade, ingest and serve benchmarks' smoke
# self-tests (their output checks: sum(cnt) at 30d ==
# pages; text_sha == sha1(text), cnt/vsum per tier, n over blocks; stored
# tiers == build_tiers, streaming Kalman levels == batch kalman_level, 0 rows
# dropped), then the full-registry oracle sweep at sf0.01 (--fast: only the
# queries that certify the table store's commits: the five streaming
# sequential folds' *_realtime_check queries, the tier fold's
# tier_realtime_read_check, the dedup index's dedup_index_realtime_check and
# the lineage table's checkpoint_lineage_audit; plus
# tier_refresh_incremental_1d, the oracle of the one-aggregation tier fold,
# kalman_level_filter, holt_winters_weekly, welford_online_var and
# token_bucket_admission, the oracles of the batch operators that run the
# one fold runner, and kalman_level_adaptive, whose per-key filter is the
# same LocalLevel recursion).
# Run before stamping closing numbers in BASELINE.md — "N/N green" claims
# must cite this script's output.
#
#   bash tools/ci.sh            # everything (~25 min on local[32])
#   bash tools/ci.sh --fast     # pytest, the self-tests and the store oracles
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== no Structured-Streaming state under mintpy_spark/ and jobs/ =="
if grep -rnE --include='*.py' '\.applyInPandasWithState\(|\.withWatermark\(|import GroupState' \
    mintpy_spark/ jobs/; then
  echo "Structured-Streaming state found above; fold per-key state through streaming/seqfold.py" >&2
  exit 1
fi

echo "== table-store commits only in the store and the fold step =="
if grep -rnE --include='*.py' '\.(commit|expire)\(' mintpy_spark/ jobs/ \
    | grep -vE '^mintpy_spark/(sources/tables|streaming/tier_maintenance)\.py:'; then
  echo "store commit/expire found above; fold through StoreFold.apply_delta (streaming/tier_maintenance.py)" >&2
  exit 1
fi

echo "== recursion .fold( calls only in the one runner =="
if grep -rnE --include='*.py' '\.fold\(' mintpy_spark/ jobs/ \
    | grep -vE '^mintpy_spark/operators/seqstate\.py:'; then
  echo "recursion .fold( call found above; run it through operators/seqstate.py fold_groups" >&2
  exit 1
fi

echo "== lineage rows built only in the one writer =="
if grep -rnE --include='*.py' '"row_count":' mintpy_spark/ jobs/ \
    | grep -vE '^mintpy_spark/plans/checkpoint\.py:'; then
  echo "lineage row dict found above; record it through CheckpointTable.record (plans/checkpoint.py)" >&2
  exit 1
fi

echo "== every definition under mintpy_spark/ is reached outside tests/ =="
python3 - <<'PY'
import ast
import pathlib
import sys

roots = [p for d in ("jobs", "tools", "perfbench") for p in pathlib.Path(d).glob("**/*.py")]
roots += [pathlib.Path("bench.py"), pathlib.Path("__spark_entry__.py")]
defs, reached = {}, []  # defs: (module, name) -> node; reached: nodes whose names count
for mod in sorted(pathlib.Path("mintpy_spark").glob("**/*.py")):
    for node in ast.parse(mod.read_text()).body:
        registered = any(isinstance(d, ast.Call) and getattr(d.func, "id", "") == "_q"
                         for d in getattr(node, "decorator_list", []))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)) \
                and not registered and mod.name not in ("__init__.py", "datagen.py"):
            defs[(str(mod), node.name)] = node
        else:
            reached.append(node)
reached += [ast.parse(p.read_text()) for p in roots]


def names(node):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield from n.name.split(".")


seen = set()
while reached:
    seen.update(names(reached.pop()))
    for key in [k for k in defs if k[1] in seen]:
        reached.append(defs.pop(key))
for mod, name in sorted(defs):
    print(f"{mod}: {name}")
if defs:
    sys.exit(f"{len(defs)} definitions above are reached only from tests; give each a caller or delete it")
PY

echo "== pytest =="
python -m pytest tests/ -q

echo "== cascade benchmark self-test (smoke) =="
python3 perfbench/selftest.py cascade

echo "== ingest benchmark self-test (smoke) =="
python3 perfbench/selftest.py ingest

echo "== serve benchmark self-test (smoke) =="
python3 perfbench/selftest.py serve

if [[ "${1:-}" == "--fast" ]]; then
  echo "== table-store commits vs oracle (sf0.01) =="
  python tools/check_oracle.py kalman_realtime_check sessionize_realtime_check \
    holt_winters_realtime_check welford_realtime_check token_bucket_realtime_check \
    tier_realtime_read_check dedup_index_realtime_check checkpoint_lineage_audit \
    tier_refresh_incremental_1d kalman_level_filter holt_winters_weekly \
    welford_online_var token_bucket_admission kalman_level_adaptive
else
  echo "== full-registry oracle sweep (sf0.01) =="
  python tools/check_oracle.py
fi

echo "CI GREEN"
