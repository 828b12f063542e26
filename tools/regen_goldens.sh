#!/usr/bin/env bash
# End-of-round golden regeneration, in order, stopping at the first failure:
#   1. tools/plan_shapes.py           check mode: prints every changed shape
#   2. tools/plan_shapes.py --write   re-pins tools/plan_shapes.json
#   3. the same --sf1 pair, when .cache/sf1 holds the 10x replica
#      (python tools/scale_corpus.py 10 creates it). Without the replica,
#      a changed shape of a HEAVY_SF1 query stops the run before step 2,
#      naming the queries: their sf1 goldens would otherwise go stale.
#   4. tools/record_fingerprints.py   refreshes tools/fingerprints.json
# Review the printed shape changes before committing the rewritten files.
#
#   bash tools/regen_goldens.sh
set -euo pipefail
cd "$(dirname "$0")/.."
PY="${PYTHON:-python}"

log="$(mktemp)"
trap 'rm -f "$log"' EXIT
"$PY" tools/plan_shapes.py | tee "$log"
if [ ! -e .cache/sf1/lineitem.parquet ]; then
  heavy="$(sed -n 's/^CHANGED \(.*\):$/\1/p' "$log" | "$PY" -c '
import sys
from tools.plan_shapes import HEAVY_SF1
print(" ".join(n for n in sys.stdin.read().split() if n in HEAVY_SF1))')"
  if [ -n "$heavy" ]; then
    echo "stop: HEAVY_SF1 shapes changed ($heavy) but .cache/sf1 has no 10x" \
      "replica to re-pin tools/plan_shapes_sf1.json; run python tools/scale_corpus.py 10" >&2
    exit 1
  fi
fi
"$PY" tools/plan_shapes.py --write
if [ -e .cache/sf1/lineitem.parquet ]; then
  "$PY" tools/plan_shapes.py --sf1
  "$PY" tools/plan_shapes.py --sf1 --write
else
  echo "skip --sf1: .cache/sf1 has no 10x replica (python tools/scale_corpus.py 10)"
fi
"$PY" tools/record_fingerprints.py
