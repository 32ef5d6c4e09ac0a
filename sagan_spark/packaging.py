"""Ship the sagan_spark package to executors (spark-submit --py-files story).

The match/replay closures reference module-level functions, so executor
Python workers must be able to import ``sagan_spark``. On a real cluster
the job is launched with ``spark-submit --py-files sagan_spark.zip``
(build the zip with ``python -m sagan_spark.packaging``). For ad-hoc
sessions (driver started anywhere), ``ensure_shipped`` builds the zip
once and registers it via ``sc.addPyFile`` — the same mechanism
--py-files uses, so local behavior matches cluster behavior.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_SHIPPED_CONTEXTS: set[int] = set()


def build_zip(out_path: str | None = None) -> str:
    """Zip the package (pure .py files) for --py-files / addPyFile."""
    if out_path is None:
        out_path = os.path.join(tempfile.gettempdir(), "sagan_spark_pyfiles.zip")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(_PKG_DIR):
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join("sagan_spark", os.path.relpath(full, _PKG_DIR))
                zf.write(full, rel)
    return out_path


def ensure_shipped(spark: SparkSession) -> None:
    # keyed by SparkContext, which every session of it shares (foreachBatch
    # hands each micro-batch a new session object)
    key = id(spark.sparkContext)
    if key in _SHIPPED_CONTEXTS:
        return
    spark.sparkContext.addPyFile(build_zip())
    _SHIPPED_CONTEXTS.add(key)


if __name__ == "__main__":
    print(build_zip(os.path.join(os.getcwd(), "sagan_spark.zip")))
