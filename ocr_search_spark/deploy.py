"""Ship the package to executor Python workers.

On a real cluster this is ``spark-submit --py-files ocr_search_spark.zip``
(BASELINE.json north_rule). When the engine is driven through a library
API from an arbitrary SparkSession (e.g. the correctness driver), the
executors' Python workers may not have the package importable — pandas
UDFs defined at module level are pickled *by reference* and need the
module present on the worker. ``ensure_shipped`` zips the package once
per session and registers it via ``SparkContext.addPyFile`` — the same
mechanism --py-files uses, so local[:] and cluster behave identically.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

_PKG_DIR = Path(__file__).resolve().parent
_SHIPPED: set[str] = set()


def package_zip() -> str:
    """Build (idempotently) a zip of this package for --py-files/addPyFile.

    The zip is keyed on a digest of the (relpath, size, mtime_ns) listing
    of the package sources, so two checkouts never share one zip and an
    added, edited or deleted module always yields a fresh one."""
    srcs = sorted(_PKG_DIR.rglob("*.py"))
    listing = hashlib.sha256()
    for p in srcs:
        st = p.stat()
        listing.update(f"{p.relative_to(_PKG_DIR)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    out = os.path.join(
        tempfile.gettempdir(), f"ocr_search_spark_pyfiles-{listing.hexdigest()[:16]}.zip"
    )
    if os.path.exists(out):
        return out
    # Unique staging name (mkstemp) so concurrent drivers (bench + checker)
    # can never interleave writes into one .tmp; os.replace stays atomic.
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(out), prefix="ocr_search_spark_pyfiles.", suffix=".tmp"
    )
    try:
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(
            fh, "w", zipfile.ZIP_DEFLATED
        ) as zf:
            for p in srcs:
                zf.write(
                    p, arcname=str(Path("ocr_search_spark") / p.relative_to(_PKG_DIR))
                )
        os.replace(tmp, out)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise
    return out


def ensure_shipped(spark: SparkSession) -> None:
    """Make `ocr_search_spark` importable on executor Python workers."""
    key = spark.sparkContext.applicationId
    if key in _SHIPPED:
        return
    # Local mode fast path: workers inherit the JVM env; prepending the
    # package root to PYTHONPATH covers sessions created after import.
    root = str(_PKG_DIR.parent)
    pypath = os.environ.get("PYTHONPATH", "")
    if root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = root + (os.pathsep + pypath if pypath else "")
    spark.sparkContext.addPyFile(package_zip())
    _SHIPPED.add(key)
