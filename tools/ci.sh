#!/usr/bin/env bash
# One-command verification gate: no Structured-Streaming state in the engine
# (no .applyInPandasWithState(, .withWatermark( or import GroupState under
# mintpy_spark/ or jobs/; per-key streaming folds through streaming/seqfold.py),
# no table-store .commit( or .expire( under mintpy_spark/ or jobs/ outside the
# store (sources/tables.py), the shared fold step (streaming/tier_maintenance.py)
# and forget (operators/forget.py),
# the full pytest suite, the cascade, ingest and serve benchmarks' smoke
# self-tests (their output checks: sum(cnt) at 30d ==
# pages; text_sha == sha1(text), cnt/vsum per tier, n over blocks; stored
# tiers == build_tiers, streaming Kalman levels == batch kalman_level, 0 rows
# dropped), then the full-registry oracle sweep at sf0.01 (--fast: only the
# queries that certify the table store's commits: the five streaming
# sequential folds' *_realtime_check queries, the tier fold's
# tier_realtime_read_check, the dedup index's dedup_index_realtime_check and
# the lineage table's checkpoint_lineage_audit).
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

echo "== table-store commits only in the store, the fold step and forget =="
if grep -rnE --include='*.py' '\.(commit|expire)\(' mintpy_spark/ jobs/ \
    | grep -vE '^mintpy_spark/(sources/tables|streaming/tier_maintenance|operators/forget)\.py:'; then
  echo "store commit/expire found above; fold through StoreFold.apply_delta (streaming/tier_maintenance.py)" >&2
  exit 1
fi

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
    tier_realtime_read_check dedup_index_realtime_check checkpoint_lineage_audit
else
  echo "== full-registry oracle sweep (sf0.01) =="
  python tools/check_oracle.py
fi

echo "CI GREEN"
