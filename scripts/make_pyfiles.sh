#!/usr/bin/env bash
# Package xorf_spark for cluster submission:
#   ./scripts/make_pyfiles.sh [out.zip]      (default: dist/xorf_spark.zip)
#   spark-submit --py-files dist/xorf_spark.zip your_job.py
set -euo pipefail
out="$(realpath -m "${1:-$(dirname "$0")/../dist/xorf_spark.zip}")"
cd "$(dirname "$0")/.."
mkdir -p "$(dirname "$out")"
rm -f "$out"
python - "$out" <<'PY'
import os, sys, zipfile
with zipfile.ZipFile(sys.argv[1], "w", zipfile.ZIP_DEFLATED) as z:
    for root, _dirs, files in os.walk("xorf_spark"):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                z.write(p, p)
print(f"wrote {sys.argv[1]}")
PY
