"""Per-partition lineage + checkpointed, resumable batch writes (north rule:
"per-partition lineage rows and checkpointed resumability so any failed tile
batch replays deterministically").

Storage layout (plain parquet here; Iceberg tables on a real cluster):

    <root>/data/batch_key=<k>/...   cell rows, partitioned by batch key
    <root>/_lineage/                (batch_key, partition_id, n_rows,
                                     checksum, written_at)
    <root>/_batches/                (batch_key, n_rows, status)

``checkpointed_write`` is idempotent per batch key: completed batches are
skipped on replay, half-written batches are overwritten (dynamic partition
overwrite, set per write so the session's other writes keep static
overwrite), so a failed run re-executed from the top converges to the same
table state deterministically.

``run_batches`` returns ``{batch_key: wrote}``: every key already committed
before the call maps to False, every key this call committed maps to True.
The written keys come from the lineage read-back, not from a separate pass
over the input, so the upstream (typically a pandas-UDF encode) is evaluated
once per call.  Read-backs use the schema just written, so ``batch_key``
stays a string even when every key is digits ("00" is not read back as 0)."""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F


def completed_batches(spark: SparkSession, root: str) -> set[str]:
    try:
        df = spark.read.parquet(f"{root}/_batches")
    except Exception:
        return set()
    return {r.batch_key for r in
            df.filter(F.col("status") == "done").select("batch_key").distinct().collect()}


def checkpointed_write(df: DataFrame, root: str, batch_key: str,
                       key_cols: list[str]) -> bool:
    """Idempotently write one batch; returns False if already complete.

    Order per batch: data (partition overwrite) -> lineage -> commit marker.
    A crash before the marker leaves the batch uncommitted; the replay
    overwrites the same partition and re-appends lineage (lineage rows carry
    written_at, so replays are auditable)."""
    spark = df.sparkSession
    if batch_key in completed_batches(spark, root):
        return False
    tagged = df.withColumn("batch_key", F.lit(batch_key))
    # lineage + marker from a read-back of the COMMITTED partition: the
    # (possibly expensive) upstream is evaluated exactly once, and
    # n_rows/checksum/partition_id describe what is actually on disk rather
    # than a separate re-evaluation of the pipeline
    written = _write_data(tagged, root).filter(F.col("batch_key") == batch_key)
    lin = _lineage_agg(written, key_cols).localCheckpoint(eager=True)
    lin.write.mode("append").parquet(f"{root}/_lineage")
    n = lin.agg(F.coalesce(F.sum("n_rows"), F.lit(0))).first()[0]
    # a JVM row in one file: a Python-list createDataFrame would start
    # Python workers for one marker
    marker = spark.range(1, numPartitions=1).select(
        F.lit(batch_key).alias("batch_key"), F.lit(n).cast("long").alias("n_rows"),
        F.lit("done").alias("status"))
    marker.write.mode("append").parquet(f"{root}/_batches")
    return True


def _write_data(tagged: DataFrame, root: str) -> DataFrame:
    """Write ``tagged`` into ``<root>/data`` by dynamic partition overwrite
    (replaces only the batch keys it contains) and return a read-back of
    the whole table with the schema just written."""
    path = f"{root}/data"
    tagged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic") \
        .partitionBy("batch_key").parquet(path)
    return tagged.sparkSession.read.schema(tagged.schema).parquet(path)


def _lineage_agg(tagged: DataFrame, key_cols: list[str]) -> DataFrame:
    """(batch_key, partition_id, n_rows, checksum, written_at) from a
    batch_key-tagged DataFrame (one row per physical partition).  The
    xor-fold checksum is order-insensitive and overflow-free (ANSI mode
    forbids a plain sum of 64-bit hashes)."""
    return tagged.withColumn("_pid", F.spark_partition_id()).groupBy(
        "batch_key", "_pid").agg(
        F.count("*").alias("n_rows"),
        F.expr(f"bit_xor(xxhash64({', '.join(key_cols)}))").alias("checksum"),
    ).withColumnRenamed("_pid", "partition_id") \
     .withColumn("written_at", F.lit(int(time.time())))


def run_batches(df: DataFrame, root: str, batch_col: str,
                key_cols: list[str]) -> dict[str, bool]:
    """Partition a DataFrame into batches by ``batch_col`` (e.g. the cell
    prefix) and checkpoint-write them; resumable from any point.

    ONE partitioned write job covers every pending batch (data partitioned
    by batch key, lineage + commit markers from single aggregations) — no
    per-batch driver loop, so 10^4 tile batches cost one shuffle, not 10^4
    jobs.  Rows whose key is already committed, or null, are not written.
    A crash mid-write leaves all pending batches uncommitted; the replay
    dynamic-partition-overwrites exactly those, so convergence is
    deterministic.  The read-back covers every uncommitted partition on
    disk, so a partition a crashed run wrote under a key this input no
    longer produces is committed too.  Returns done keys as False and the
    keys written now as True (module docstring)."""
    spark = df.sparkSession
    done = completed_batches(spark, root)
    tagged = df.withColumn("batch_key", F.col(batch_col).cast("string"))
    pending = F.col("batch_key").isNotNull()
    if done:
        pending &= ~F.col("batch_key").isin(sorted(done))
    written = _write_data(tagged.filter(pending), root).filter(pending)
    lin = _lineage_agg(written, key_cols).localCheckpoint(eager=True)
    lin.write.mode("append").parquet(f"{root}/_lineage")
    markers = lin.groupBy("batch_key").agg(F.sum("n_rows").alias("n_rows")) \
        .withColumn("status", F.lit("done"))
    markers.write.mode("append").parquet(f"{root}/_batches")
    wrote = {r.batch_key for r in lin.select("batch_key").distinct().collect()}
    return dict.fromkeys(done, False) | dict.fromkeys(wrote, True)
