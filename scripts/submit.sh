#!/usr/bin/env bash
# Package the engine and spark-submit a job with --py-files (north-rule
# submission path). Usage:
#   scripts/submit.sh jobs/materialize_features.py [job args...]
# Cluster config (master, executors) comes from SPARK_SUBMIT_OPTS /
# spark-defaults; defaults to local[$SPARK_GRAFT_CPUS or *] for the sandbox.
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
JOB="${1:?usage: submit.sh <job.py> [args...]}"
shift

ZIP="$REPO/.bench_tmp/cfe_spark.zip"
mkdir -p "$REPO/.bench_tmp"
rm -f "$ZIP"
(cd "$REPO" && python -c "
import zipfile, pathlib
z = zipfile.ZipFile('$ZIP', 'w', zipfile.ZIP_DEFLATED)
for p in sorted(pathlib.Path('combinedfeatureextraction_spark').rglob('*.py')):
    z.write(p, p.as_posix())
z.close()
print('packaged', '$ZIP')
")

MASTER="${SPARK_MASTER:-local[${SPARK_GRAFT_CPUS:-*}]}"
# The jobs build their session with session.get_spark, which keeps this
# master and sets the other confs. Two must be given here, because the
# driver JVM is already running when get_spark is called: the driver
# memory (in local mode that JVM runs the executors too; spark-submit's
# 1g default OOMs the 23M-row window sort), and the file:// filesystem
# without .crc sidecars (session.py says why), since spark-submit caches
# the local filesystem before get_spark's conf arrives.
exec spark-submit \
  --master "$MASTER" \
  --driver-memory "${CFE_DRIVER_MEM:-8g}" \
  --conf spark.hadoop.fs.file.impl=org.apache.hadoop.fs.RawLocalFileSystem \
  --py-files "$ZIP" \
  "$JOB" "$@"
