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
# (plans/checkpoint.py CheckpointTable.record), no inline copy of an
# engine decision under mintpy_spark/ or jobs/ outside the function that
# owns it (the 1h/1d bucket F.date_trunc("hour"|"day", ...) outside
# functions/timefn.py bucket_start; the whitespace tokenizer
# F.filter(F.split(..., " "), ...) outside functions/scalars.py
# nonempty_tokens; the md5-prefix hash F.substring(F.md5(...)) or its
# 16**15 range outside functions/scalars.py portable_hash60 and
# HASH60_SPACE), no top-level def or class under mintpy_spark/ (outside
# __init__.py and the fixture generator datagen.py) that only tests reach:
# each must be @_q-registered or named by reached code, a Name or an
# Attribute resolved through the naming file's imports in scope
# (`from m import f`; `import m as a` then `a.f`; re-exports followed), so
# a same-named method or function elsewhere does not count. Reached code
# is all module-level code, everything in jobs/, tools/, perfbench/,
# bench.py and __spark_entry__.py, and transitively every definition these
# name; then the full pytest suite, the cascade, ingest and serve
# benchmarks' smoke self-tests (their output checks: sum(cnt) at 30d ==
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

echo "== each engine decision spelled only by its owner =="
spelled=0
owned() {  # owner module, spelling (grep -E), what to call instead
  if grep -rnE --include='*.py' "$2" mintpy_spark/ jobs/ | grep -v "^$1:"; then
    echo "spelled above outside $1; call $3" >&2
    spelled=1
  fi
}
owned mintpy_spark/functions/timefn.py 'F\.date_trunc\("(hour|day)"' "bucket_start"
owned mintpy_spark/functions/scalars.py 'F\.filter\(F\.split\(.*, " "\)' \
  "nonempty_tokens (or operators/dedup.py tokens for the distinct set)"
owned mintpy_spark/functions/scalars.py 'F\.substring\(F\.md5\(|16 ?\*\* ?15' \
  "portable_hash60 and its range HASH60_SPACE"
if (( spelled )); then exit 1; fi

echo "== every definition under mintpy_spark/ is reached outside tests/ =="
python3 - <<'PY'
import ast
import pathlib
import sys

SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Lambda)


def imports(scope):
    """{local name: dotted target} bound by the imports of one scope's own
    body (a nested def or class binds its imports in its own scope)."""
    out, todo = {}, list(ast.iter_child_nodes(scope))
    while todo:
        n = todo.pop()
        if isinstance(n, ast.Import):
            for a in n.names:
                out[a.asname or a.name.split(".")[0]] = a.name if a.asname else a.name.split(".")[0]
        elif isinstance(n, ast.ImportFrom) and n.module and not n.level:
            for a in n.names:
                out[a.asname or a.name] = f"{n.module}.{a.name}"
        elif not isinstance(n, SCOPES):
            todo.extend(ast.iter_child_nodes(n))
    return out


def dotted(node):
    """'a.b.c' for a Name or an Attribute chain over a Name, else None."""
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        base = dotted(node.value)
        return base and f"{base}.{node.attr}"
    return None


def refs(node, scope):
    """Every dotted name under node, with the imports in scope there."""
    if isinstance(node, SCOPES):
        scope = {**scope, **imports(node)}
    name = dotted(node)
    if name:
        yield name, scope
    for child in ast.iter_child_nodes(node):
        yield from refs(child, scope)


engine = sorted(pathlib.Path("mintpy_spark").glob("**/*.py"))
roots = [p for d in ("jobs", "tools", "perfbench") for p in pathlib.Path(d).glob("**/*.py")]
roots += [pathlib.Path("bench.py"), pathlib.Path("__spark_entry__.py")]
binds, tops = {}, {}  # module -> its module-level imports, module -> its top-level names
defs, reached = {}, []  # defs: (module, name) -> node; reached: (module, node) whose names count
for path in engine + roots:
    parts = list(path.with_suffix("").parts)
    mod = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
    tree = ast.parse(path.read_text())
    binds[mod], tops[mod] = imports(tree), {getattr(n, "name", None) for n in tree.body}
    for node in tree.body:
        registered = any(isinstance(d, ast.Call) and getattr(d.func, "id", "") == "_q"
                         for d in getattr(node, "decorator_list", []))
        if path in engine and isinstance(node, SCOPES[:3]) and not registered \
                and path.name not in ("__init__.py", "datagen.py"):
            defs[(mod, node.name)] = node
        else:
            reached.append((mod, node))


def resolve(full):
    """A dotted name -> the (module, name) it lands on, through re-exports."""
    parts = full.split(".")
    for i in range(len(parts) - 1, 0, -1):
        mod, name = ".".join(parts[:i]), parts[i]
        if mod in binds:
            if name in binds[mod] and (mod, name) not in defs and name not in tops[mod]:
                return resolve(".".join([binds[mod][name], *parts[i + 1:]]))
            return mod, name
    return None


while reached:
    mod, node = reached.pop()
    for name, scope in refs(node, binds[mod]):
        head, _, rest = name.partition(".")
        if head in scope:
            full = scope[head]
        elif head in tops[mod]:
            full = f"{mod}.{head}"
        else:
            continue
        key = resolve(f"{full}.{rest}" if rest else full)
        if key in defs:
            reached.append((key[0], defs.pop(key)))
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
