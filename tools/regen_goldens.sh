#!/usr/bin/env bash
# End-of-round golden regeneration, in order, stopping at the first failure:
#   1. tools/plan_shapes.py           check mode: prints every changed shape
#   2. tools/plan_shapes.py --write   re-pins tools/plan_shapes.json
#   3. the same --sf1 pair, when .cache/sf1 holds the 10x replica
#      (python tools/scale_corpus.py 10 creates it)
#   4. tools/record_fingerprints.py   refreshes tools/fingerprints.json
# Review the printed shape changes before committing the rewritten files.
#
#   bash tools/regen_goldens.sh
set -euo pipefail
cd "$(dirname "$0")/.."
PY="${PYTHON:-python}"

"$PY" tools/plan_shapes.py
"$PY" tools/plan_shapes.py --write
if [ -e .cache/sf1/lineitem.parquet ]; then
  "$PY" tools/plan_shapes.py --sf1
  "$PY" tools/plan_shapes.py --sf1 --write
else
  echo "skip --sf1: .cache/sf1 has no 10x replica (python tools/scale_corpus.py 10)"
fi
"$PY" tools/record_fingerprints.py
