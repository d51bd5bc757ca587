"""Lakehouse table-format connectors (Delta Lake / Iceberg), plus the
Avro format and a JDBC V2 catalog that work with the bundled jars.

Delta and Iceberg need their runtime jars on the Spark classpath;
this container ships none of them, so their readers are import-gated
stubs that fail loudly with setup instructions instead of failing
obscurely at plan time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_DELTA_HINT = (
    "Delta Lake requires the delta-spark package and "
    "spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension; "
    "not available in this environment."
)
_ICEBERG_HINT = (
    "Iceberg requires the iceberg-spark-runtime jar and a catalog "
    "config (spark.sql.catalog.*); not available in this environment."
)


def read_delta(spark: SparkSession, path: str) -> DataFrame:
    try:
        import delta  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(_DELTA_HINT) from exc
    return spark.read.format("delta").load(path)


def read_iceberg(spark: SparkSession, table: str) -> DataFrame:
    if not spark.conf.get("spark.sql.catalog.iceberg", None):
        raise NotImplementedError(_ICEBERG_HINT)
    return spark.read.table(table)


_AVRO_HINT = (
    "Avro classes absent: Spark 4.1's spark-sql jar ships "
    "org.apache.spark.sql.avro.*, and older/pruned distributions need "
    "the spark-avro jar (org.apache.spark:spark-avro_2.13:<version>) "
    "via --packages / spark.jars.packages."
)
_AVRO_CLASS = "org.apache.spark.sql.avro.AvroFileFormat"


def avro_format(spark: SparkSession) -> str:
    """Usable format string for the Avro data source.

    The pip pyspark 4.1 distribution ships the Avro classes inside
    spark-sql but NOT the spark-avro jar whose META-INF service entry
    registers the short name — so `format("avro")` fails with the
    'built-in but external' error while the fully-qualified class
    name resolves fine (DataSource lookup falls back to class names —
    and the class name works identically on clusters that DO carry
    the jar, so it is safe everywhere). Raise the setup hint only
    when the classes are truly absent."""
    try:
        spark._jvm.java.lang.Class.forName(_AVRO_CLASS)
        return _AVRO_CLASS
    except Exception as exc:
        raise NotImplementedError(_AVRO_HINT) from exc


_JDBC_CATALOG = "jdbccat"
_JDBC_URL = "jdbc:derby:memory:hwcs_v2;create=true"


def jdbc_catalog(spark: SparkSession) -> str:
    """Configure (idempotently) and return the name of a REAL V2
    catalog available in this container with zero extra jars:
    Spark's JDBCTableCatalog over the embedded Derby that pyspark
    bundles for the Hive metastore. Unlocks the DataFrameWriterV2
    lifecycle (createOrReplace/append/overwrite/replace) and SQL DDL
    against `jdbccat.ns.*`.

    One SHARED in-memory database, always: Spark caches the catalog
    instance per session at first use, so callers must NOT vary the
    URL per dataset (the cached instance would keep the first URL
    while a foreachBatch clone resolves the new one — reads and
    writes silently split). Vary the TABLE name instead; the `ns`
    namespace is pre-created."""
    spark.conf.set(
        f"spark.sql.catalog.{_JDBC_CATALOG}",
        "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog",
    )
    spark.conf.set(f"spark.sql.catalog.{_JDBC_CATALOG}.url", _JDBC_URL)
    spark.conf.set(
        f"spark.sql.catalog.{_JDBC_CATALOG}.driver",
        "org.apache.derby.jdbc.EmbeddedDriver",
    )
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {_JDBC_CATALOG}.ns")
    return _JDBC_CATALOG
