#!/usr/bin/env bash
# The full pre-ship gate, one command — what CI should run.
# Order: cheapest signal first, so a red fails fast.
#
#   bash tools/gate.sh    # pytest + benchmark tests + oracle + plans + determinism
#
# Timing is not gated here: `python3 perfbench/run.py` is the benchmark.
# Exit nonzero on the first failing stage.
set -euo pipefail
cd "$(dirname "$0")/.."
# summaries go to private temp files, so gates run side by side (say on
# two checkouts) never grep each other's
selfcheck_out="$(mktemp)"
det_out="$(mktemp)"
trap 'rm -f "$selfcheck_out" "$det_out"' EXIT

echo "== 1/5 pytest =="
python -m pytest tests/ -x -q

echo "== 2/5 benchmark tests (perfbench) =="
python -m pytest perfbench/tests -q

echo "== 3/5 oracle selfcheck (sf0.01, all queries) =="
python tools/selfcheck.py /root/testdata/sf0.01 2>/dev/null | tail -3 | tee "$selfcheck_out"
grep -q ", 0 fail" "$selfcheck_out"

echo "== 4/5 plan audit =="
python tools/plancheck.py /root/testdata/sf0.001 2>/dev/null | tail -2

echo "== 5/5 re-execution determinism =="
python tools/determinism.py 2>/dev/null | tail -2 | tee "$det_out"
grep -q ", 0 flaky, 0 errors" "$det_out"

echo "GATE GREEN"
