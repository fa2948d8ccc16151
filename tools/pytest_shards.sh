#!/bin/bash
# Run the test suite as N parallel shards (one pytest process per shard,
# each with its own local[4] Spark JVM). The suite is session-fixture
# heavy and single-process pytest takes hours on this box; sharding by
# file is safe because every fixture is per-process and the Spark UI is
# disabled (no port contention). Usage: tools/pytest_shards.sh [N] [outdir]
set -u
N=${1:-6}
OUT=${2:-/tmp/pytest_shards}
mkdir -p "$OUT"
cd "$(dirname "$0")/.."

mapfile -t FILES < <(ls tests/test_*.py)
for ((i=0; i<N; i++)); do
  SHARD=()
  for ((j=i; j<${#FILES[@]}; j+=N)); do SHARD+=("${FILES[$j]}"); done
  ( python -m pytest "${SHARD[@]}" -q -p no:cacheprovider --continue-on-collection-errors > "$OUT/shard_$i.log" 2>&1; echo $? > "$OUT/shard_$i.rc" ) &
done
wait
RC=0
for ((i=0; i<N; i++)); do
  r=$(cat "$OUT/shard_$i.rc")
  tail -1 "$OUT/shard_$i.log"
  [ "$r" != "0" ] && RC=1 && echo "shard $i FAILED (rc=$r)"
done
echo "overall rc=$RC"
exit $RC
