#!/usr/bin/env bash
# Snapshot gate — run on the EXACT tree you are about to leave as the
# round snapshot. Round 4 shipped a one-missing-import compile break that
# voided the whole round's recorded results (VERDICT r4 item 1); this
# script is the institutional fix. All five stages must pass:
#
#   1. sbt compile          (the driver's build)
#   2. perfbench build      (src/main compiled with the benchmark harness,
#                            plus the harness's Python unit tests — a
#                            renamed or re-signatured function the
#                            benchmark calls fails here, not at the next
#                            benchmark run)
#   3. sbt test             (full ScalaTest suite)
#   4. graft.Verify sf0.01  (result parquet + oracle dump)
#   5. tools/check.py       (local mirror of the DuckDB oracle compare)
#
# Usage: tools/gate.sh  [sfdir]   (default /root/testdata/sf0.01)
set -euo pipefail
cd "$(dirname "$0")/.."

SF="${1:-/root/testdata/sf0.01}"
OUT="$(mktemp -d /tmp/graft-gate.XXXXXX)"
trap 'rm -rf "$OUT"' EXIT

if ! git diff --quiet || ! git diff --cached --quiet; then
  echo "gate: WARNING — uncommitted changes; the gate only certifies HEAD" >&2
fi

echo "gate: [1/5] sbt compile"
sbt -batch compile > "$OUT/compile.log" 2>&1 || {
  tail -30 "$OUT/compile.log"; echo "gate: FAIL compile"; exit 1; }

echo "gate: [2/5] perfbench build + unit tests"
{ python3 perfbench/build.py && python3 -m unittest discover -s perfbench/tests; } \
  > "$OUT/perfbench.log" 2>&1 || {
  tail -30 "$OUT/perfbench.log"; echo "gate: FAIL perfbench"; exit 1; }

echo "gate: [3/5] sbt test"
sbt -batch test > "$OUT/test.log" 2>&1 || {
  tail -40 "$OUT/test.log"; echo "gate: FAIL test"; exit 1; }

echo "gate: [4/5] graft.Verify $SF"
sbt -batch "runMain graft.Verify $SF $OUT/verify" > "$OUT/verify.log" 2>&1 || {
  tail -30 "$OUT/verify.log"; echo "gate: FAIL verify"; exit 1; }

echo "gate: [5/5] tools/check.py"
python3 tools/check.py "$OUT/verify" "$SF" || { echo "gate: FAIL oracle"; exit 1; }

echo "gate: PASS — snapshot is certifiable"
