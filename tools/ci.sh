#!/usr/bin/env bash
# One-command verification gate: full pytest suite, the cascade, ingest and
# serve benchmarks' smoke self-tests (their output checks: sum(cnt) at 30d ==
# pages; text_sha == sha1(text), cnt/vsum per tier, n over blocks; stored
# tiers == build_tiers, streaming Kalman levels == batch kalman_level, 0 rows
# dropped), then the full-registry oracle sweep at sf0.01 (--fast: only the
# five streaming sequential folds' *_realtime_check queries).
# Run before stamping closing numbers in BASELINE.md — "N/N green" claims
# must cite this script's output.
#
#   bash tools/ci.sh            # everything (~25 min on local[32])
#   bash tools/ci.sh --fast     # pytest, the self-tests and the fold oracles
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== pytest =="
python -m pytest tests/ -q

echo "== cascade benchmark self-test (smoke) =="
python3 perfbench/selftest.py cascade

echo "== ingest benchmark self-test (smoke) =="
python3 perfbench/selftest.py ingest

echo "== serve benchmark self-test (smoke) =="
python3 perfbench/selftest.py serve

if [[ "${1:-}" == "--fast" ]]; then
  echo "== streaming sequential folds vs oracle (sf0.01) =="
  python tools/check_oracle.py kalman_realtime_check sessionize_realtime_check \
    holt_winters_realtime_check welford_realtime_check token_bucket_realtime_check
else
  echo "== full-registry oracle sweep (sf0.01) =="
  python tools/check_oracle.py
fi

echo "CI GREEN"
