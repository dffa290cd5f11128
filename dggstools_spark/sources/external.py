"""S5/S9: external storage — JDBC/PostGIS sink+source and S3 (s3a) source.

Spark-native twins of the reference's external IO (utils/storage.py:18-30
``geodataframe_to_postgis`` = gdf.to_postgis over SQLAlchemy; S3 rasters via
GDAL VSI paths in its manual tests): the cell table goes through
``df.write.jdbc`` (any JDBC database, PostGIS included — geometry columns
are the lon/lat/planar value columns; PostGIS-specific geometry types are a
server-side ``ALTER`` away) plus a one-row ``<table>_attrs`` companion
carrying the gdf.attrs JSON, mirroring the parquet ``_meta`` sidecar of
cells_io.  S3 reads are plain ``s3a://`` URIs through the same
``read_cells``/``spark.read`` paths — no custom code needed beyond
credential wiring.

Both are CLASSPATH-GATED, not stubbed: availability probes check the JVM
for the JDBC driver / s3a connector and raise actionable errors naming the
missing jar.  The JDBC path is exercised for real in tests against the
Derby driver Spark already ships; PostGIS differs only by url/driver
string.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

POSTGRES_DRIVER = "org.postgresql.Driver"
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
S3A_IMPL = "org.apache.hadoop.fs.s3a.S3AFileSystem"


def _jvm_class_available(spark: SparkSession, class_name: str) -> bool:
    try:
        # goes through the JVM's application classloader, same one the JDBC
        # DriverRegistry / Hadoop FileSystem factory will use
        spark._jvm.java.lang.Class.forName(class_name)  # type: ignore[union-attr]
        return True
    except Exception:
        return False


def require_jdbc_driver(spark: SparkSession, driver: str) -> None:
    if not _jvm_class_available(spark, driver):
        raise RuntimeError(
            f"JDBC driver {driver} is not on the Spark classpath; add the "
            f"driver jar via spark.jars / --jars (e.g. postgresql-*.jar for "
            f"PostGIS) and retry")


def require_s3a(spark: SparkSession) -> None:
    if not _jvm_class_available(spark, S3A_IMPL):
        raise RuntimeError(
            "s3a connector not on the Spark classpath; add hadoop-aws and "
            "aws-java-sdk-bundle jars (matching the Hadoop version) via "
            "spark.jars / --jars and retry")


def configure_s3a(spark: SparkSession, access_key: str | None = None,
                  secret_key: str | None = None,
                  endpoint: str | None = None) -> None:
    """Wire s3a credentials/endpoint into the live Hadoop conf.  With no
    explicit keys the connector's DefaultAWSCredentialsProviderChain applies
    (env vars, instance profile), which is the right setup on a cluster."""
    require_s3a(spark)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    if access_key:
        hconf.set("fs.s3a.access.key", access_key)
    if secret_key:
        hconf.set("fs.s3a.secret.key", secret_key)
    if endpoint:
        hconf.set("fs.s3a.endpoint", endpoint)


def read_parquet_uri(spark: SparkSession, uri: str, **s3_opts) -> DataFrame:
    """S9: read parquet from any Hadoop-FS URI; for s3a:// the connector is
    verified (and optionally configured) first so a missing jar fails with
    an actionable message instead of a deep ClassNotFound at action time."""
    if uri.startswith("s3a://") or uri.startswith("s3://"):
        configure_s3a(spark, **s3_opts)
        uri = "s3a://" + uri.split("://", 1)[1]
    return spark.read.parquet(uri)


def write_cells_jdbc(cells: DataFrame, attrs: dict, url: str, table: str,
                     driver: str, mode: str = "errorifexists",
                     **options) -> None:
    """S5: cell table -> JDBC database (PostGIS: url=jdbc:postgresql://...,
    driver=POSTGRES_DRIVER).  Writes the rows via the native parallel JDBC
    writer (one connection per partition — repartition to control fan-in)
    plus a one-row ``<table>_attrs`` metadata companion, the JDBC twin of
    cells_io's _meta sidecar (reference gpkg_metadata, storage.py:51-66)."""
    spark = cells.sparkSession
    require_jdbc_driver(spark, driver)
    writer_opts = {"driver": driver, **options}
    cells.write.mode(mode).options(**writer_opts).jdbc(url, table)
    meta = spark.createDataFrame([(json.dumps(attrs),)], "attrs_json string")
    meta.coalesce(1).write.mode("overwrite").options(**writer_opts) \
        .jdbc(url, f"{table}_attrs")


def read_cells_jdbc(spark: SparkSession, url: str, table: str, driver: str,
                    partition_column: str | None = None,
                    num_partitions: int | None = None,
                    lower_bound=None, upper_bound=None,
                    **options) -> tuple[DataFrame, dict]:
    """S5 source: (cells df, attrs dict).  Pass partition_column/bounds for
    a parallel read (one JDBC cursor per partition); default is a single
    cursor, fine for dimension-sized tables only."""
    require_jdbc_driver(spark, driver)
    reader = spark.read.format("jdbc") \
        .option("url", url).option("dbtable", table).option("driver", driver)
    for k, v in options.items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (reader.option("partitionColumn", partition_column)
                  .option("numPartitions", int(num_partitions or 8))
                  .option("lowerBound", lower_bound)
                  .option("upperBound", upper_bound))
    df = reader.load()
    meta = spark.read.format("jdbc").option("url", url) \
        .option("dbtable", f"{table}_attrs").option("driver", driver).load()
    attrs = json.loads(meta.first()["attrs_json"])
    return df, attrs
