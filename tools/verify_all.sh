#!/usr/bin/env bash
# One-shot verification ladder (what a round's end-state must pass):
#  1. driver-mimic oracle sweep at sf0.01 (exact compare, all queries)
#  2. every query under a PLAIN SparkSession (the driver's convention)
#  3. full pytest suite, then the benchmark's own self-tests (no Spark)
#  4. bench (sf0.1, min-of-3 cold; run ALONE — CPU contention skews it)
# Optional: MULT=3 scale smoke + full sweep against the scaled dir.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 1/4 oracle sweep sf0.01 =="
python tools/check_oracles.py

echo "== 2/4 plain-session probe =="
python - <<'PY'
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master('local[4]')
         .config('spark.sql.shuffle.partitions','8')
         .config('spark.ui.enabled','false').getOrCreate())
import __spark_entry__ as e
assert len(e.entry(spark).collect()) > 0
for name, fn in e.queries().items():
    fn(spark, '/root/testdata/sf0.001').collect()
print('plain-session probe: all queries ok')
PY

echo "== 3/4 pytest (incl. coverage-index lint) =="
python -m pytest tests/ -q
python -m pytest perfbench/tests -q

echo "== 4/4 bench (alone!) =="
python bench.py
