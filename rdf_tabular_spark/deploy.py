"""Executor-side code shipping (the programmatic twin of
``spark-submit --py-files``, north-rule launch requirement).

Python UDF closures (``mapInPandas`` extractors, the Python record
framers) are pickled *by reference* to this package, so executor worker
processes must be able to ``import rdf_tabular_spark`` themselves. Under
``spark-submit --py-files rdf_tabular_spark.zip`` that is automatic; for a
plain driver process launched from an arbitrary cwd (the test driver, a
notebook) we ship the package once per SparkContext via ``addPyFile``.

Idempotent and cheap: one small zip per process, guarded by a sentinel on
the SparkContext.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SENTINEL = "_rdf_tabular_spark_pyfiles_shipped"


def build_package_zip(dest: str | None = None) -> str:
    """Zip this package (py files only) for --py-files / addPyFile."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if dest is None:
        dest = os.path.join(
            tempfile.gettempdir(), f"rdf_tabular_spark-{os.getpid()}.zip")
    if not os.path.exists(dest):
        tmp = dest + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for root, _, files in os.walk(pkg_dir):
                for fname in sorted(files):
                    if fname.endswith(".py"):
                        full = os.path.join(root, fname)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        z.write(full, rel)
        os.replace(tmp, dest)
    return dest


def ensure_py_files(spark: SparkSession) -> None:
    """Make this package importable on executors (idempotent)."""
    sc = spark.sparkContext
    if getattr(sc, _SENTINEL, False):
        return
    sc.addPyFile(build_package_zip())
    setattr(sc, _SENTINEL, True)
