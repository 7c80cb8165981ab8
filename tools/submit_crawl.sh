#!/usr/bin/env bash
# Run the crawl benchmark exactly as it would ship to a cluster:
#   spark-submit --py-files <packaged lib> bench.py --crawl-only
#
# Usage: tools/submit_crawl.sh [MASTER] [extra bench env...]
#   MASTER defaults to local[$SPARK_GRAFT_CPUS] (default: the host's CPUs).
# On a real cluster, point MASTER at yarn/k8s and the same artifact runs
# unchanged — bench.py only touches the packaged hypercane_spark library.
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
MASTER="${1:-local[${CPUS},8]}"

ZIP="$(mktemp -d)/hypercane_spark.zip"
(cd "$REPO" && python - "$ZIP" <<'PY'
import os, sys, zipfile
zf = zipfile.ZipFile(sys.argv[1], "w", zipfile.ZIP_DEFLATED)
for root, _dirs, files in os.walk("hypercane_spark"):
    if "__pycache__" in root:
        continue
    for f in files:
        if f.endswith(".py"):
            p = os.path.join(root, f)
            zf.write(p, p)
zf.close()
PY
)

exec spark-submit \
  --master "$MASTER" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.shuffle.partitions="${CPUS}" \
  --py-files "$ZIP" \
  "$REPO/bench.py" --crawl-only
