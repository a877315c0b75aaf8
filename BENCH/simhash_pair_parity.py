"""Dump both SimHash pair functions' rows over a documents table, for
comparing two checkouts (row count and a digest of the sorted rows per
signature, shingle_k and guard setting).

    PYTHONPATH=<checkout> python BENCH/simhash_pair_parity.py <sf_dir> <out.json>

Run it once per checkout and compare the two JSON files key by key.
"""
import hashlib
import json
import sys

from pyspark.sql import SparkSession

from sprout_spark.operators.dedup import (
    simhash_near_dup_pairs,
    simhash_near_dup_pairs_portable,
)

GUARDS = [(None, "star"), (4096, "star")] + [
    (cap, mode) for cap in (4, 2) for mode in ("star", "drop", "split")
]

sf_dir, out = sys.argv[1], sys.argv[2]
spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
res = {}
for name, fn in (("murmur", simhash_near_dup_pairs), ("md5", simhash_near_dup_pairs_portable)):
    for k in (1, 3):
        for cap, mode in GUARDS:
            df = fn(docs, "doc_id", "text", max_bucket=cap, oversize_mode=mode, shingle_k=k)
            rows = sorted(tuple(r) for r in df.collect())
            res[f"{name}/k={k}/max_bucket={cap}/{mode}"] = {
                "n": len(rows),
                "sha": hashlib.sha1(repr(rows).encode()).hexdigest(),
                "schema": df.schema.simpleString(),
            }
json.dump(res, open(out, "w"), indent=1, sort_keys=True)
spark.stop()
