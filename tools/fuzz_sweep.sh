#!/bin/bash
# Randomized-data oracle sweep: generate N seeded fuzz corpora, dump
# every oracled query once per corpus (one JVM), grade each against
# DuckDB with the same parity gate the driver uses. Every seed is
# graded even when VerifySweep exits non-zero (a query failed on some
# corpus); the script exits non-zero if the sweep or any seed failed.
# Usage: tools/fuzz_sweep.sh [N_SEEDS] (default 5)
set -e -o pipefail
N=${1:-5}
ROOT=/tmp/graft_fuzz
OUT=/tmp/graft_fuzz_out
rm -rf "$ROOT" "$OUT"
python3 tools/gen_fuzz.py "$ROOT" "$N"
sweep=0
SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.VerifySweep $ROOT $OUT" || sweep=$?
fails=0
for d in "$ROOT"/s*; do
  s=$(basename "$d")
  echo "== seed $s =="
  python3 tools/check.py "$d" "$OUT/$s" | tail -3 || fails=$((fails+1))
done
echo "fuzz sweep: $((N-fails))/$N seeds fully green"
if [ "$sweep" -ne 0 ]; then
  echo "fuzz sweep: VerifySweep exited $sweep"
fi
[ "$sweep" -eq 0 ] && [ "$fails" -eq 0 ]
