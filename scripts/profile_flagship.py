"""Isolate the anti-scaling cause: run flagship variants in one JVM and print
stage timings.  Usage: python scripts/profile_flagship.py <cpus> [opts]
opts: shm (spark.local.dir=/dev/shm), heap=<g>, expr (expression encode)"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

cpus = int(sys.argv[1])
opts = set(sys.argv[2:])
os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
heap = next((o.split("=")[1] for o in opts if o.startswith("heap=")), "48g")
os.environ["SPARK_DRIVER_MEMORY"] = heap

from pyspark.sql import SparkSession, functions as F

builder_extra = {}
if "shm" in opts:
    builder_extra["spark.local.dir"] = "/dev/shm/spark-local"

from dggstools_spark import session as sess_mod

_orig = sess_mod.get_spark

def get_spark_patched(*a, **kw):
    import dggstools_spark.session as m
    spark = None
    b = SparkSession.builder
    # reuse the canonical builder then add extras
    spark = _orig(*a, **kw)
    return spark

if builder_extra:
    # simplest: set via SparkSession config before creation
    b = SparkSession.builder
    for k, v in builder_extra.items():
        b = b.config(k, v)

spark = sess_mod.get_spark("profile")
spark.sparkContext.setLogLevel("ERROR")
for k, v in builder_extra.items():
    print("NOTE: builder extras require pre-config; applied?", k, spark.conf.get(k, "unset"))

docs = spark.read.parquet("/tmp/dggs_bench_docs.parquet")
n = docs.count()
print(f"cpus={cpus} heap={heap} opts={opts} n={n}")

from dggstools_spark.functions.encode import cellid_from_lonlat_udf
from dggstools_spark.functions import encode_sql

def t(label, df):
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    print(f"{label}: {dt:.2f}s ({n/dt/1e6:.2f} M docs/s)")
    return dt

narrow = docs.select("doc_id", "lon", "lat", F.size("spans").alias("n_spans"))

if "expr" in opts:
    base = encode_sql.spark_encode(narrow, "lon", "lat", 8)
else:
    enc = cellid_from_lonlat_udf(8)
    base = narrow.withColumn("cellid", enc("lon", "lat"))
base = base.withColumn("tile", F.substring("cellid", 1, 5))

for rnd in range(3):
    t(f"r{rnd} scan+encode only", base.select("cellid"))
for rnd in range(3):
    agg = (base.groupBy("tile", "cellid").agg(F.count("*").alias("n"), F.sum("n_spans").alias("s"))
           .groupBy("tile").agg(F.sum("n").alias("n_docs"), F.sum("s").alias("s"), F.count("*").alias("c")))
    t(f"r{rnd} full flagship", agg)
spark.stop()
