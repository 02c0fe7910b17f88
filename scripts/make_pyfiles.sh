#!/usr/bin/env bash
# Package xorf_spark for cluster submission:
#   ./scripts/make_pyfiles.sh [out.zip]      (default: dist/xorf_spark.zip)
#   spark-submit --py-files dist/xorf_spark.zip your_job.py
# The archive is the one ship_package adds (dataflow.zip_package).
set -euo pipefail
out="$(realpath -m "${1:-$(dirname "$0")/../dist/xorf_spark.zip}")"
cd "$(dirname "$0")/.."
mkdir -p "$(dirname "$out")"
rm -f "$out"
PYTHONDONTWRITEBYTECODE=1 python - "$out" <<'PY'
import sys

sys.path.insert(0, ".")
from xorf_spark.dataflow import zip_package

zip_package(sys.argv[1])
print(f"wrote {sys.argv[1]}")
PY
