"""Remote object-store sink (reference Swift remote store,
destination/file/remote_store/swift.py:32-61, base.py:24-28).

The reference uploads finished local files to Swift under
``<file_name_prefix>/<date>/<basename>``. Spark-first there is no
"upload" step: executors write parquet/csv parts DIRECTLY to the
object store through the Hadoop FileSystem connectors — the store is
just a URI scheme (``file://`` in tests, ``s3a://`` / ``swift://`` /
``abfss://`` on a cluster with the connector jars on the classpath).
No driver staging, no local disk proportional to data size, writes
parallel per partition — which is the only upload shape that works
at 100 TB.

Layout parity: ``<base_uri>/<file_name_prefix>/<date>/<table>.<fmt>``
mirrors the reference object names, so an operator browsing the
container sees the same structure. Re-running with the same frozen
``now`` overwrites the same object prefix — idempotent re-upload
(the reference gets this from Swift object overwrite semantics).
"""

from __future__ import annotations

import re
import threading
from contextlib import nullcontext
from urllib.parse import urlparse

from pyspark.sql import DataFrame

from osarchiver_spark.sinks.base import _DatedFileSink

# global s3a keys (NOT already bucket-scoped) that can be rewritten to
# Hadoop's per-bucket form so they never touch other sinks' buckets
_S3A_GLOBAL = re.compile(r"^fs\.s3a\.(?!bucket\.)(?P<rest>.+)$")

# held across set -> write -> restore of transient keys: concurrent
# writes (one table's sink fan-out) would otherwise interleave their
# set/restore on the shared Hadoop conf and leak or unset values. The
# Archiver runs the next table's sinks on its lookahead thread beside
# the caller's source rewrite, which does not take this lock: a
# rewrite to the same scheme can see the keys while they are set
_TRANSIENT_CONF_LOCK = threading.Lock()


class RemoteStoreSink(_DatedFileSink):
    """Direct-to-object-store archive writes: a dated file sink rooted
    at ``<base_uri>/<file_name_prefix>``.

    store_options: like the reference, ``opt_``-prefixed keys pass
    through to the underlying connector — here they become Hadoop
    configuration entries (e.g. ``opt_fs.s3a.endpoint``) applied at
    write time. Hadoop conf is SESSION-GLOBAL, so two sinks must not
    clobber each other: s3a keys are rewritten to Hadoop's per-bucket
    form (``fs.s3a.bucket.<bucket>.*`` — scoped to this sink's bucket
    by construction), and any remaining scheme-generic keys are set
    for the duration of the write and restored to their prior values
    afterwards, under one process-wide lock so concurrent writes
    cannot interleave their set/restore.
    """

    def __init__(
        self,
        base_uri: str,
        file_name_prefix: str = "",
        fmt: str = "parquet",
        compression: str | None = None,
        store_options: dict[str, str] | None = None,
    ):
        if fmt not in ("parquet", "csv"):
            raise ValueError(f"unsupported remote format {fmt!r}")
        self.base_uri = base_uri.rstrip("/")
        prefix = file_name_prefix.strip("/")
        super().__init__(f"{self.base_uri}/{prefix}" if prefix else self.base_uri, compression)
        self.fmt = self.ext = fmt
        self.options = {"header": True} if fmt == "csv" else {}
        self.store_options = {
            k.removeprefix("opt_"): v
            for k, v in (store_options or {}).items()
            if k.startswith("opt_")
        }

    def scoped_store_options(self) -> tuple[dict[str, str], dict[str, str]]:
        """Partition store_options into (bucket-scoped, transient).

        Bucket-scoped keys are safe to leave set: Hadoop's s3a
        connector resolves ``fs.s3a.bucket.<bucket>.X`` only for that
        bucket, so this sink's endpoint/credentials can't bleed into
        another sink's writes. Anything not expressible per-bucket is
        applied transiently (set before the write, restored after).
        """
        bucket = urlparse(self.base_uri)
        scoped: dict[str, str] = {}
        transient: dict[str, str] = {}
        for k, v in self.store_options.items():
            m = _S3A_GLOBAL.match(k)
            if m and bucket.scheme == "s3a" and bucket.netloc:
                scoped[f"fs.s3a.bucket.{bucket.netloc}.{m.group('rest')}"] = v
            else:
                transient[k] = v
        return scoped, transient

    def write(self, table: str, df: DataFrame) -> None:
        hconf = df.sparkSession.sparkContext._jsc.hadoopConfiguration()
        scoped, transient = self.scoped_store_options()
        for k, v in scoped.items():
            hconf.set(k, v)
        with _TRANSIENT_CONF_LOCK if transient else nullcontext():
            prior = {k: hconf.get(k) for k in transient}
            for k, v in transient.items():
                hconf.set(k, v)
            try:
                super().write(table, df)
            finally:
                for k, old in prior.items():
                    if old is None:
                        hconf.unset(k)
                    else:
                        hconf.set(k, old)
