#!/usr/bin/env bash
# One-command verification gate: full pytest suite, the ingest benchmark's
# smoke self-test (its output checks: text_sha == sha1(text), cnt/vsum per
# tier, n over blocks), then the full-registry oracle sweep at sf0.01.
# Run before stamping closing numbers in BASELINE.md — "N/N green" claims
# must cite this script's output.
#
#   bash tools/ci.sh            # everything (~25 min on local[32])
#   bash tools/ci.sh --fast     # pytest + ingest self-test only
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== pytest =="
python -m pytest tests/ -q

echo "== ingest benchmark self-test (smoke) =="
python3 perfbench/selftest.py ingest

if [[ "${1:-}" != "--fast" ]]; then
  echo "== full-registry oracle sweep (sf0.01) =="
  python tools/check_oracle.py
fi

echo "CI GREEN"
