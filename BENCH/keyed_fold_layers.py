"""Time the keyed sketch layers in one checkout: local[4], 200k rows,
20,000 HLL keys, one warm-up then 3 timed runs each into the noop sink.

    PYTHONPATH=<checkout> python BENCH/keyed_fold_layers.py <out.json>

Run it in a parent checkout and in the change, alternating, one at a
time.
"""
import json
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from sprout_spark.sketch import HyperLogLog
from sprout_spark.spark.aggregate import build_grouped_sketches, grouped_estimate, merge_groups
from sprout_spark.spark.sharded import build_sharded_bloom

spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false").getOrCreate())
fac = lambda: HyperLogLog(p=10)
rows = spark.range(0, 200_000).select(
    (F.col("id") % 20_000).cast("string").alias("g"), (F.col("id") * 7 % 50_000).alias("v"))
sk = build_grouped_sketches(rows, "g", "v", fac, combine="map").localCheckpoint(eager=True)
# 200k sketch rows over 20k keys: ten payloads per key to merge
partials = sk.select("key", "sketch", "rows").crossJoin(spark.range(10).select()).localCheckpoint(eager=True)
cases = {
    "merge_groups_200k_rows_20k_keys": lambda: merge_groups(partials, "key"),
    "grouped_shuffle_build_20k_keys": lambda: build_grouped_sketches(rows, "g", "v", fac),
    "grouped_salted_build_20k_keys": lambda: build_grouped_sketches(rows, "g", "v", fac, salt=4),
    "grouped_map_build_20k_keys": lambda: build_grouped_sketches(rows, "g", "v", fac, combine="map"),
    "grouped_estimate_20k_keys": lambda: grouped_estimate(sk, lambda s: s.estimate()),
    "sharded_bloom_200k_keys_16_shards": lambda: build_sharded_bloom(rows, "v", 16, 50_000),
}
for df in (c() for c in cases.values()):  # warm-up
    df.write.format("noop").mode("overwrite").save()
res = {}
for name, c in cases.items():
    ts = []
    for _ in range(3):
        t0 = time.perf_counter()
        c().write.format("noop").mode("overwrite").save()
        ts.append(round(time.perf_counter() - t0, 3))
    res[name] = ts
    print(name, ts, flush=True)
json.dump(res, open(sys.argv[1], "w"), indent=1)
spark.stop()
