"""JDBC destination + source-delete: the reference's database half,
executable.

The reference archives INTO a database with idempotent upsert
(osarchiver/destination/db/db.py:374-414, `INSERT ... ON DUPLICATE
KEY UPDATE pk=pk`) and deletes archived rows from the SOURCE in
bounded chunks (source/db.py:279-321, `DELETE ... WHERE pk IN (...)
LIMIT n`). `sources/jdbc.py` already builds the keyset-parallel
retention scan; this module adds the write half:

- :class:`JdbcArchiveSink` — the DB twin of ParquetArchiveSink:
  schema-drift check against the live destination table, pk
  anti-join insert-if-absent (the upsert-as-no-op restated for
  engines without ON DUPLICATE KEY), distributed batched INSERTs via
  Spark's JDBC writer;
- :func:`delete_rows_chunked` — chunked source delete driven by a
  keys DataFrame (``toLocalIterator`` pages the keys through the
  driver one chunk at a time — the reference's own pagination
  discipline; memory is chunk-bounded, never a full collect; the
  DELETEs are PREPARED statements, so key values never interpolate
  into SQL text);
- :func:`jdbc_execute` / :func:`ddl_for_schema` — direct-statement
  plumbing (DDL, DELETE) through java.sql.DriverManager, since the
  Spark JDBC writer only speaks INSERT/CREATE.

Identifier quoting is dialect-aware: backticks for
``jdbc:mysql``/``jdbc:mariadb`` URLs (the reference's engine rejects
double quotes without ANSI_QUOTES), ANSI double quotes elsewhere.

Environment note: executing any of this needs a JDBC driver jar on
the DRIVER classpath (``spark.driver.extraClassPath`` — ``spark.jars``
alone reaches executors but not java.sql.DriverManager in the
driver). The integration test (tests/test_jdbc_integration.py) runs
the full loop — keyset read + retention pushdown + idempotent upsert
+ chunked delete — against a file-backed DuckDB via its JDBC driver;
no network database exists in this container (rechecked r11), so
MySQL-dialect statements are exercised only as rendered text
(unit-tested), not against a live server.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from osarchiver_spark.plans.schema_drift import check_schema_drift
from osarchiver_spark.sinks.base import Sink, key_lists

_DDL_TYPES: dict[type, str] = {
    T.LongType: "BIGINT",
    T.IntegerType: "INTEGER",
    T.ShortType: "SMALLINT",
    T.ByteType: "TINYINT",
    T.DoubleType: "DOUBLE",
    T.FloatType: "FLOAT",
    T.StringType: "VARCHAR",
    T.BooleanType: "BOOLEAN",
    T.DateType: "DATE",
    T.TimestampType: "TIMESTAMP",
    T.TimestampNTZType: "TIMESTAMP",
}

#: key types the prepared-statement delete can bind via setObject
#: (py4j auto-converts these Python scalars to JVM types)
_BINDABLE_KEY_TYPES = (
    T.LongType, T.IntegerType, T.ShortType, T.ByteType,
    T.StringType, T.BooleanType, T.DoubleType, T.FloatType,
)


def quote_char(url: str) -> str:
    """Identifier quote for the engine behind ``url``: MySQL/MariaDB
    reject ANSI double quotes unless ANSI_QUOTES is set, so they get
    backticks; everything else gets the standard double quote."""
    u = url.lower()
    if u.startswith(("jdbc:mysql:", "jdbc:mariadb:")):
        return "`"
    return '"'


def _q(name: str, q: str) -> str:
    return f"{q}{name.replace(q, q + q)}{q}"


def ddl_for_schema(
    table: str, schema: T.StructType, primary_key: list[str], q: str = '"'
) -> str:
    """CREATE TABLE IF NOT EXISTS from a Spark schema (ANSI types; the
    reference reads the source's SHOW CREATE TABLE instead — Spark's
    schema IS the contract here). Decimal keeps precision/scale;
    ``q`` is the engine's identifier quote (see :func:`quote_char`)."""
    cols = []
    for f in schema.fields:
        if isinstance(f.dataType, T.DecimalType):
            sql_t = f"DECIMAL({f.dataType.precision},{f.dataType.scale})"
        else:
            sql_t = _DDL_TYPES.get(type(f.dataType))
            if sql_t is None:
                raise ValueError(
                    f"ddl_for_schema: no JDBC DDL mapping for column "
                    f"{f.name!r} of type {f.dataType.simpleString()}"
                )
        nn = "" if f.nullable else " NOT NULL"
        cols.append(f"{_q(f.name, q)} {sql_t}{nn}")
    pk = ", ".join(_q(k, q) for k in primary_key)
    return (
        f"CREATE TABLE IF NOT EXISTS {_q(table, q)} ("
        + ", ".join(cols)
        + (f", PRIMARY KEY ({pk})" if primary_key else "")
        + ")"
    )


def _connect(
    spark: SparkSession,
    url: str,
    driver: str | None = None,
    user: str = "",
    password: str = "",
):
    """DriverManager connection on the driver JVM. ``driver`` forces
    Class.forName registration (jars loaded via spark.jars are not
    SPI-visible to DriverManager); credentials use the two-arg
    overload so they never ride inside SQL text."""
    jvm = spark.sparkContext._jvm
    if driver:
        jvm.java.lang.Class.forName(driver)
    dm = jvm.java.sql.DriverManager
    if user or password:
        return dm.getConnection(url, user, password)
    return dm.getConnection(url)


def jdbc_execute(
    spark: SparkSession,
    url: str,
    sql: str,
    driver: str | None = None,
    user: str = "",
    password: str = "",
) -> None:
    """Execute one non-query statement (DDL) through
    java.sql.DriverManager on the driver JVM."""
    conn = _connect(spark, url, driver, user, password)
    try:
        stmt = conn.createStatement()
        try:
            stmt.execute(sql)
        finally:
            stmt.close()
    finally:
        conn.close()


def _read_jdbc(spark: SparkSession, url: str, dbtable: str, driver: str | None):
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", dbtable)
    if driver:
        reader = reader.option("driver", driver)
    return reader


def _table_exists(
    spark: SparkSession, url: str, table: str, driver: str | None, q: str
) -> bool:
    """Existence probe that does NOT swallow real faults: a failed
    table SELECT only means "missing" if a trivial no-table SELECT
    against the same database still succeeds — a connection/auth
    error must propagate, or a transient fault would silently skip
    the insert-if-absent anti-join and blind-append duplicates."""
    try:
        _read_jdbc(
            spark, url, f"(SELECT 1 AS one FROM {_q(table, q)} WHERE 1=0) t", driver
        ).load().collect()
        return True
    except Exception as probe_err:
        try:
            _read_jdbc(spark, url, "(SELECT 1 AS one) t", driver).load().collect()
        except Exception:
            raise probe_err  # the DATABASE is unreachable, not the table
        return False


def _widen_small_ints(schema: T.StructType) -> T.StructType:
    """Drift-compare in the domain JDBC reads round-trip into:
    SMALLINT/TINYINT come back as IntegerType (generic + MySQL
    dialects widen), and some engines surface BIGINT as
    DECIMAL(20,0) (DuckDB). Without the widening, every re-archival
    of such a column would false-positive as drift."""

    def widen(dt: T.DataType) -> T.DataType:
        if isinstance(dt, (T.ShortType, T.ByteType)):
            return T.IntegerType()
        if isinstance(dt, T.DecimalType) and (dt.precision, dt.scale) == (20, 0):
            return T.LongType()  # the unsigned-BIGINT carrier, not a
            # business DECIMAL (those keep their true precision/scale)
        return dt

    fields = [
        T.StructField(f.name, widen(f.dataType), f.nullable)
        for f in schema.fields
    ]
    return T.StructType(fields)


class JdbcArchiveSink(Sink):
    """Archive tables into a database with insert-if-absent semantics
    (reference destination/db/db.py:374-414). First write creates the
    table from the DataFrame schema (primary key declared); later
    writes drift-check against the LIVE destination schema, anti-join
    away already-archived pks, and append the remainder through
    Spark's batched JDBC writer — re-running an archival is a no-op,
    the same invariant ParquetArchiveSink pins for object storage.

    The pk anti-join reads ONLY the key columns from the destination
    (Spark pushes the projection into the SELECT) and, for a single
    numeric pk, keyset-partitions that read across
    ``read_partitions`` connections — the dest-side scan stays
    bounded as the archive grows."""

    def __init__(
        self,
        url: str,
        primary_keys: dict[str, str | list[str]],
        driver: str | None = None,
        batch_size: int = 10_000,
        user: str = "",
        password: str = "",
        read_partitions: int = 8,
    ):
        self.url = url
        self.primary_keys = key_lists(primary_keys)
        self.driver = driver
        self.batch_size = batch_size
        self.user = user
        self.password = password
        self.read_partitions = read_partitions
        self.q = quote_char(url)

    def _reader(self, dbtable: str):
        return (
            lambda spark: _read_jdbc(spark, self.url, dbtable, self.driver)
            .option("user", self.user)
            .option("password", self.password)
        )

    def _existing_keys(self, spark: SparkSession, table: str, pk: list[str], df):
        """The destination's pk set, keyset-partitioned when the pk is
        a single numeric column (bounds from a one-row aggregate)."""
        qn = _q(table, self.q)
        reader = self._reader(f"(SELECT {', '.join(_q(k, self.q) for k in pk)} FROM {qn}) t")(spark)
        if len(pk) == 1 and isinstance(
            df.schema[pk[0]].dataType,
            (T.LongType, T.IntegerType, T.ShortType, T.ByteType),
        ):
            kq = _q(pk[0], self.q)
            bounds = (
                self._reader(
                    f"(SELECT min({kq}) AS lo, max({kq}) AS hi FROM {qn}) b"
                )(spark)
                .load()
                .first()
            )
            if bounds and bounds["lo"] is not None:
                reader = (
                    reader.option("partitionColumn", pk[0])
                    .option("lowerBound", str(int(bounds["lo"])))
                    .option("upperBound", str(int(bounds["hi"]) + 1))
                    .option("numPartitions", str(self.read_partitions))
                )
        return reader.load()

    def write(self, table: str, df: DataFrame) -> None:
        spark = df.sparkSession
        pk = self.primary_keys[table]
        if not _table_exists(spark, self.url, table, self.driver, self.q):
            jdbc_execute(
                spark,
                self.url,
                ddl_for_schema(table, df.schema, pk, self.q),
                self.driver,
                self.user,
                self.password,
            )
        else:
            existing = self._reader(_q(table, self.q))(spark).load()
            check_schema_drift(
                _widen_small_ints(df.schema), _widen_small_ints(existing.schema)
            )
            # insert-if-absent: drop rows whose pk already landed (the
            # ON DUPLICATE KEY UPDATE pk=pk no-op upsert, restated)
            df = df.join(
                self._existing_keys(spark, table, pk, df), on=pk, how="left_anti"
            )
        writer = (
            df.write.format("jdbc")
            .option("url", self.url)
            .option("dbtable", _q(table, self.q))
            .option("user", self.user)
            .option("password", self.password)
            .option("batchsize", str(self.batch_size))
            .mode("append")
        )
        if self.driver:
            writer = writer.option("driver", self.driver)
        writer.save()

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return self._reader(_q(table, self.q))(spark).load()


def delete_rows_chunked(
    spark: SparkSession,
    url: str,
    table: str,
    primary_key: str,
    keys: DataFrame,
    chunk_size: int = 10_000,
    driver: str | None = None,
    user: str = "",
    password: str = "",
) -> int:
    """Delete the rows whose pk appears in ``keys`` from the SOURCE
    database, ``chunk_size`` keys per DELETE statement — the
    reference's bounded-chunk delete loop (source/db.py:279-321),
    with the key list streamed through the driver via
    ``toLocalIterator`` (one partition in memory at a time; the
    chunked statements bound both DB transaction size and driver
    memory). Returns the number of keys submitted.

    Each chunk executes as ONE prepared ``DELETE ... WHERE pk IN
    (?, ..., ?)`` — values bind as parameters, never interpolate into
    SQL text, so engine-specific string escaping (MySQL backslashes)
    and date/number formatting cannot corrupt the statement. Key
    types must be numeric/string/boolean (``setObject``-bindable);
    others raise up front. Only the DELETE itself runs through the
    driver — producing ``keys`` (retention scan, archive verification
    anti-join) stays fully distributed."""
    key_type = keys.schema[primary_key].dataType
    if isinstance(key_type, T.DecimalType) and key_type.scale == 0:
        # several JDBC dialects surface integer pks as DECIMAL(p,0)
        # (DuckDB reports BIGINT as decimal(20,0)); normalize to long
        # so the values bind as plain integers
        from pyspark.sql import functions as F

        keys = keys.withColumn(primary_key, F.col(primary_key).cast("long"))
        key_type = keys.schema[primary_key].dataType
    if not isinstance(key_type, _BINDABLE_KEY_TYPES):
        raise ValueError(
            f"delete_rows_chunked: pk type {key_type.simpleString()} is not "
            f"prepared-statement bindable; cast the key column first"
        )
    q = quote_char(url)
    conn = _connect(spark, url, driver, user, password)
    n = 0
    chunk: list = []
    try:
        def flush():
            nonlocal chunk
            if not chunk:
                return
            sql = (
                f"DELETE FROM {_q(table, q)} WHERE {_q(primary_key, q)} IN ("
                + ", ".join(["?"] * len(chunk))
                + ")"
            )
            stmt = conn.prepareStatement(sql)
            try:
                for i, v in enumerate(chunk, start=1):
                    stmt.setObject(i, v)
                stmt.executeUpdate()
            finally:
                stmt.close()
            chunk = []

        for row in keys.select(primary_key).toLocalIterator():
            chunk.append(row[0])
            n += 1
            if len(chunk) >= chunk_size:
                flush()
        flush()
    finally:
        conn.close()
    return n
