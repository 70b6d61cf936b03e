"""Build the --py-files artifact for spark-submit (north_rule launch mode).

Produces dist/data_quality_spark.zip containing the package, importable by
executors via `spark-submit --py-files dist/data_quality_spark.zip`.

Launch recipe (multi-executor cluster):

    spark-submit \
      --py-files dist/data_quality_spark.zip \
      --driver-memory 4g --executor-memory 8g \
      run_quality_filter.py --input <pages path> --out <out dir>

(The models — langid profiles, perplexity LM — are deterministic module-level
constants built at import, so shipping the zip ships the models: every
executor's python workers reconstruct identical bytes, no broadcast needed.)
"""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "data_quality_spark"


def build(out_dir: str | None = None) -> str:
    out_dir = out_dir or os.path.join(REPO, "dist")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{PKG}.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(os.path.join(REPO, PKG)):
            if "__pycache__" in root:
                continue
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                z.write(full, os.path.relpath(full, REPO))
    return out


if __name__ == "__main__":
    print(build())
