"""Per-application scratch directories for the index stores that
registered queries write and read back within one call.

A directory is named ``<tmp>/<name><md5(sf_dir)[:12]>_<applicationId><suffix>``:
stable per (fixture, Spark app), so repeated runs in one session
reuse ONE directory (writers overwrite), while the applicationId makes
it private to the app — two concurrent runs over the same fixture
cannot overwrite a store the other's returned DataFrame still reads.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_REAPED: set[str] = set()


def reap_at_exit(path: str) -> None:
    """Per-application dirs would otherwise accumulate in the temp dir
    forever (each Spark app gets a fresh applicationId). Register a
    process-exit rmtree once per path: within the app's lifetime
    repeated calls still reuse ONE directory, and the host is clean
    after the process ends."""
    if path in _REAPED:
        return
    _REAPED.add(path)
    atexit.register(shutil.rmtree, path, ignore_errors=True)


def scratch_dir(spark: SparkSession, sf_dir: str, name: str, suffix: str = "") -> str:
    """The app-private scratch path for ``name`` over ``sf_dir``,
    registered for removal at process exit."""
    path = os.path.join(
        tempfile.gettempdir(),
        "{}{}_{}{}".format(
            name,
            hashlib.md5(sf_dir.encode()).hexdigest()[:12],
            spark.sparkContext.applicationId,
            suffix,
        ),
    )
    reap_at_exit(path)
    return path
