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

echo "== 1/5 pytest =="
python -m pytest tests/ -x -q

echo "== 2/5 benchmark tests (perfbench) =="
python -m pytest perfbench/tests -q

echo "== 3/5 oracle selfcheck (sf0.01, all queries) =="
python tools/selfcheck.py /root/testdata/sf0.01 2>/dev/null | tail -3 | tee /tmp/gate_selfcheck.txt
grep -q ", 0 fail" /tmp/gate_selfcheck.txt

echo "== 4/5 plan audit =="
python tools/plancheck.py /root/testdata/sf0.001 2>/dev/null | tail -2

echo "== 5/5 re-execution determinism =="
python tools/determinism.py 2>/dev/null | tail -2 | tee /tmp/gate_det.txt
grep -q ", 0 flaky, 0 errors" /tmp/gate_det.txt

echo "GATE GREEN"
