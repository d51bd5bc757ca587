"""Table sources.

The reference reads text lines via the default ``TextInputFormat``
(selected by the *absence* of ``setInputFormatClass`` in
``WordCount.java:30-42``). Our engine's primary storage is parquet
(columnar scan + predicate pushdown + column pruning via Catalyst);
text/CSV/JSON line sources live in :mod:`.textfiles`.

Each table file is resolved once per session. Reading parquet runs a
Spark job to infer the schema from the file footer, so the raw frame of
``spark.read.parquet`` is memoised and every later :func:`load_table`
of the same file in the same ``SparkSession`` returns that frame
without a job.

- **What:** only the raw read. Everything built on top of it, such as
  the ``events`` normalisation, is rebuilt per call and is analysed
  under the session's current conf.
- **Key:** the file's qualified path, modification time and length,
  from Hadoop ``FileSystem.getFileStatus``. ``/x`` and ``file:///x``
  therefore share one entry, and a remote path resolves the same way.
- **Lifetime:** the memo is an attribute of the ``SparkSession``
  object and dies with it. ``spark.newSession()`` and a session built
  after ``stop()`` resolve afresh.
- **Staleness:** a rewritten file is read again, unless the rewrite
  keeps the same length within the filesystem's mtime resolution;
  such a rewrite is not seen. Spark's own file index has the same
  contract.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def raw_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table file as ``spark.read.parquet`` reads it, resolved once
    per session and file version (see the module docstring)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = table_path(sf_dir, name)
    jpath = getattr(spark._jvm, "org.apache.hadoop.fs.Path")(path)
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    status = jpath.getFileSystem(hadoop_conf).getFileStatus(jpath)
    key = status.getPath().toString()
    version = (status.getModificationTime(), status.getLen())
    # Two threads racing on one miss cost a duplicate read, nothing more.
    memo = spark.__dict__.setdefault("_resolved_tables", {})
    hit = memo.get(key)
    if hit is None or hit[0] != version:
        hit = memo[key] = (version, spark.read.parquet(path))
    return hit[1]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan; Catalyst prunes columns and pushes filters.

    The raw read is memoised per session, keyed by the file's qualified
    path, mtime and length: a later call for the same file returns the
    same frame and runs no schema-inference job, a rewritten file is
    read again (a same-length rewrite within the mtime resolution is
    not seen), and a new session starts empty."""
    if name == "events":
        return _load_events(spark, sf_dir)
    return raw_table(spark, sf_dir, name)


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize the events table to (``ts``: TIMESTAMP_NTZ in µs,
    ``ts_ns``: epoch nanoseconds as long) regardless of how the
    parquet file stores time. Two generations of driver testdata
    exist:

    - TIMESTAMP(NANOS): Spark's reader rejects it outright
      ([PARQUET_TYPE_ILLEGAL]), so read nanos as long (legacy conf)
      and rebuild ``ts`` truncated to microseconds — exactly what
      DuckDB's reader does.
    - timestamp[us] (isAdjustedToUTC=false): Spark reads TIMESTAMP_NTZ
      directly (and DuckDB a naive TIMESTAMP — same instant); derive
      ``ts_ns`` from it.
    - timestamp[us/ms] (isAdjustedToUTC=true): Spark reads TIMESTAMP
      (LTZ, an instant); take ``unix_micros`` — which reads the
      instant directly, independent of the session timezone — and
      rebuild the UTC wall-clock NTZ from it (a bare NTZ cast would
      silently read the session-LOCAL wall clock, making correctness
      rest on the session-TZ=UTC pin).

    The three dtypes are branched EXPLICITLY — an unrecognized ts
    dtype raises instead of falling through to a wrong default. All
    downstream arithmetic is timezone-free epoch math, and ``ts_ns``
    keeps integer time math (second-truncated gaps etc.)
    engine-portable.

    Only the raw read is memoised: the conf is set and the dtype
    branch runs on every call, so the expressions are analysed under
    the session's current time zone.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = raw_table(spark, sf_dir, "events")
    ts_dtype = dict(df.dtypes)["ts"]
    ns_from_ntz = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"
    ).cast("long")
    if ts_dtype == "bigint":  # TIMESTAMP(NANOS) as long
        return df.withColumn("ts_ns", F.col("ts").cast("long")).withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts_ns div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    if ts_dtype == "timestamp_ntz":
        return df.withColumn("ts_ns", ns_from_ntz)
    if ts_dtype == "timestamp":  # instant-adjusted (LTZ) parquet
        return df.withColumn(
            "ts_ns", (F.unix_micros("ts") * 1000).cast("long")
        ).withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts_ns div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    raise TypeError(f"events.ts: unsupported parquet dtype {ts_dtype!r}")


def register_views(spark: SparkSession, sf_dir: str, names: Iterable[str]) -> None:
    """Register the named tables, the ones a SQL query reads, as temp
    views for the SQL API."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
