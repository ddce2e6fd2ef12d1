"""Build bib_dedupe_spark.zip for `spark-submit --py-files` deployment.

Usage: python scripts/package.py [out.zip]   (default /tmp/bib_dedupe_spark.zip)

The zip contains the package rooted at `bib_dedupe_spark/` so executors
(and the driver) can import it when the zip is on their PYTHONPATH —
the standard cluster deployment for this engine:

    spark-submit --master <cluster> \
        --py-files bib_dedupe_spark.zip \
        scripts/submit_job.py --input records.parquet --output out/
"""
from __future__ import annotations

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build(out_path: str) -> str:
    pkg = os.path.join(REPO, "bib_dedupe_spark")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            # package data (everything under data/, which the code reads
            # at run time) must ship alongside the code
            in_data = os.path.relpath(root, pkg).split(os.sep)[0] == "data"
            for name in files:
                if not (in_data or name.endswith(".py")):
                    continue
                full = os.path.join(root, name)
                zf.write(full, os.path.relpath(full, REPO))
    return out_path


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/bib_dedupe_spark.zip"
    print(build(out))
