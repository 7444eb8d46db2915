#!/bin/sh
# Build the --py-files artifact for cluster submission:
#   sh jobs/package.sh && spark-submit --py-files /tmp/ezmsg_sigproc_spark.zip \
#       jobs/rollup_job.py --pages <iceberg/parquet path> --out <lake root>
cd "$(dirname "$0")/.." || exit 1
rm -f /tmp/ezmsg_sigproc_spark.zip
python - <<'PY'
import zipfile, pathlib
root = pathlib.Path('.')
with zipfile.ZipFile('/tmp/ezmsg_sigproc_spark.zip', 'w') as z:
    for pattern in ('ezmsg_sigproc_spark/**/*.py', 'ezmsg_sigproc_spark/jvm/*.java'):
        for p in root.glob(pattern):
            z.write(p, p.as_posix())
print('wrote /tmp/ezmsg_sigproc_spark.zip')
PY
