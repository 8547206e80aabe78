#!/usr/bin/env bash
# Run the benchmark via spark-submit --py-files (north_rule packaging path):
# the engine ships as a zip to executors, exactly as it would on a cluster.
#
#   scripts/submit_bench.sh [cpus]
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CPUS="${1:-${SPARK_GRAFT_CPUS:-$(nproc)}}"
ZIP="$(mktemp -d)/geopull_spark.zip"
(cd "$REPO" && python -c "
import shutil, sys
shutil.make_archive('${ZIP%.zip}', 'zip', root_dir='.', base_dir='geopull_spark')
")
SPARK_SUBMIT="$(python -c 'import pyspark, os; print(os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit"))')"
export SPARK_GRAFT_CPUS="$CPUS"
exec "$SPARK_SUBMIT" \
  --master "local[$CPUS]" \
  --py-files "$ZIP" \
  --conf spark.sql.shuffle.partitions=$((CPUS * 4)) \
  "$REPO/bench.py"
