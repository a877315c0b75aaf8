"""On-disk compatibility check for the persisted stores.

    python store_compat.py write ROOT OUT   # fill stores under ROOT, dump reads
    python store_compat.py read  ROOT OUT   # reopen them, dump the same reads

Run `write` with one checkout on PYTHONPATH and `read` with another, then
compare the two JSON files key by key: every store must read back the
same. `read` then also puts, compacts and appends into the stores with
the reading checkout (keys `after_*`), to show its writers accept them.
"""
import json
import os
import sys

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

mode, root, out = sys.argv[1:4]
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

from sprout_spark.sketch import BloomFilter, HyperLogLog, ScalableBloomFilter
from sprout_spark.sources.kv_store import BloomGatedKVStore
from sprout_spark.streaming.novelty import StreamingNoveltyFilter
from sprout_spark.spark.rollup import SketchRollup
from sprout_spark.spark.sql import SketchCatalog
from sprout_spark.spark.sharded import build_sharded_bloom
from sprout_spark.sources.corpus_shards import write_shards, read_shards, read_manifest
from sprout_spark.operators.similarity import (
    build_srp_index, build_ivf_index, read_ivf_centroids, append_to_srp_index,
    append_to_ivf_index)

W = mode == "write"
res = {}


def kv_rows(kv):
    probes = spark.range(0, 700, 7).select(F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"))
    probes = probes.unionByName(spark.createDataFrame([("ghost",), (None,)], "k string"))
    return sorted((r["k"] or "", None if r["value"] is None else bytes(r["value"]).decode())
                  for r in kv.get(probes, "k").collect())


def kv_batch(lo, hi, tag):
    return spark.range(lo, hi).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        F.concat(F.lit(tag), F.col("id").cast("string")).cast("binary").alias("v"))


KV_OPTS = {"b": {"expected_keys": 5000}, "s": {"gate": "sharded", "gate_shards": 4},
           "sbf": {"factory": lambda: ScalableBloomFilter(err_rate=0.01, initial_capacity=64)}}
for gate, opts in KV_OPTS.items():
    for compact in (False, True):
        p = os.path.join(root, f"kv_{gate}_{int(compact)}")
        kv = BloomGatedKVStore(spark, p, n_buckets=8, **opts)
        if W:
            kv.put(kv_batch(0, 400, "a"), "k", "v")
            kv.put(kv_batch(200, 600, "b"), "k", "v")
            if compact:
                kv.compact(n_files=2)
                kv.put(kv_batch(500, 650, "c"), "k", "v")
        res[f"kv_{gate}_{int(compact)}"] = {
            "epoch": kv.last_epoch, "rows": kv_rows(kv),
            "sketch": None if kv.sketch is None else kv.sketch.to_bytes().hex()[:64] + str(len(kv.sketch.to_bytes())),
            "gate_dir": kv.gate_dir}

# novelty
for compact in (False, True):
    p = os.path.join(root, f"nov_{int(compact)}")
    flt = StreamingNoveltyFilter("k", lambda: BloomFilter(5000, 0.01), p, n_buckets=8)
    if W:
        flt(kv_batch(0, 300, "x").select("k"), 0)
        flt(kv_batch(200, 500, "x").select("k"), 1)
        if compact:
            flt.compact(spark, n_files=2)
            flt(kv_batch(450, 600, "x").select("k"), 2)
    res[f"nov_{int(compact)}"] = {
        "epoch": flt.last_epoch,
        "keys": sorted(r["k"] for r in flt.novel_keys(spark).collect()),
        "sketch": flt.sketch.to_bytes().hex()}

# rollup with a compacted base (plus an expired one)
for variant in ("compact", "expire"):
    p = os.path.join(root, f"rollup_{variant}")
    def batch(lo, hi):
        return spark.range(lo, hi).select(
            (F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(hours=(F.col("id") % 72).cast("int"))).alias("ts"),
            (F.col("id") % 97).cast("string").alias("u"),
            F.when(F.col("id") % 3 == 0, "a").otherwise("b").alias("tool"))
    if W:
        r = SketchRollup(p, factory=lambda: HyperLogLog(p=10), grain="day", dims=["tool"])
        r.append(batch(0, 500), "ts", "u", tag="t0")
        r.append(batch(500, 900), "ts", "u", tag="t1")
        if variant == "compact":
            r.compact(spark)
        else:
            r.expire(spark, "2024-01-02")
        r.append(batch(900, 1000), "ts", "u", tag="t2")
    r = SketchRollup(p, factory=lambda: HyperLogLog(p=10))
    res[f"rollup_{variant}"] = {
        "epoch": r.last_epoch, "epochs": r.epochs, "base": r.base, "tags": r.tags,
        "windows": sorted((x["wstart"], x["tool"], x["rows"], bytes(x["sketch"]).hex())
                          for x in r.windows(spark).collect()),
        "est": r.estimate(spark, lambda s: s.estimate())}

# catalog
p = os.path.join(root, "catalog")
if W:
    cat = SketchCatalog(spark, "cmp")
    bf = BloomFilter(1000, 0.01)
    bf.update_values(["k%d" % i for i in range(300)])
    cat.put("bf", bf)
    keys = spark.range(0, 2000).select(F.col("id").alias("k"))
    cat.put_sharded("sh", build_sharded_bloom(keys, "k", n_shards=4, expected_distinct=2000))
    cat.save(p)
    cat.save(p)  # second generation, sweeps the first
cat = SketchCatalog.load(spark, p)
probe = spark.range(0, 3000, 3).select(F.col("id").alias("k"))
res["catalog"] = {
    "names": cat.names(), "bf": cat.get("bf").to_bytes().hex(),
    "sh_hits": cat.might_contain("sh", probe, "k").where("might_contain").count(),
    "manifest": json.load(open(os.path.join(p, "manifest.json"))),
    "files": sorted(d for d in os.listdir(p))}

# shard sink
p = os.path.join(root, "shards")
if W:
    docs = spark.range(0, 500).select(F.col("id").alias("doc_id"), F.concat(F.lit("t"), F.col("id").cast("string")).alias("text"))
    write_shards(docs, "doc_id", p, n_shards=4)
res["shards"] = {"manifest": read_manifest(p),
                 "rows": sorted(tuple(r) for r in read_shards(spark, p).select("doc_id", "shard", "pos").collect())}

# ANN indexes
rng = np.random.RandomState(5)
vecs = [(i, rng.normal(size=8).astype(np.float32).tolist()) for i in range(120)]
emb = spark.createDataFrame(vecs, "id bigint, vec array<float>")
cents = np.random.RandomState(9).normal(size=(4, 8))
ps, pi = os.path.join(root, "srp"), os.path.join(root, "ivf")
if W:
    build_srp_index(emb, "id", "vec", dim=8, n_planes=6, n_tables=3, path=ps)
    build_ivf_index(emb, "id", "vec", 8, cents, path=pi)
res["srp"] = {"meta": json.load(open(os.path.join(ps, "_srp_meta.json"))),
              "rows": sorted(tuple(r) for r in spark.read.parquet(ps).collect())}
res["ivf"] = {"cents": read_ivf_centroids(pi).tolist(),
              "rows": sorted((r["id"], r["cell"]) for r in spark.read.parquet(pi).collect())}
if not W:
    # the change's writers accept the parent's stores: a further put,
    # compact, novelty batch and index appends all run
    for gate in ("b", "s", "sbf"):
        kv = BloomGatedKVStore(spark, os.path.join(root, f"kv_{gate}_1"), n_buckets=8, **KV_OPTS[gate])
        kv.put(kv_batch(640, 700, "d"), "k", "v")
        kv.compact(n_files=2)
        res[f"after_kv_{gate}"] = kv_rows(kv)
    flt = StreamingNoveltyFilter("k", lambda: BloomFilter(5000, 0.01), os.path.join(root, "nov_1"), n_buckets=8)
    flt(kv_batch(590, 620, "x").select("k"), 3)
    res["after_nov"] = flt.compact(spark, n_files=2)
    more = spark.createDataFrame(vecs[:5], "id bigint, vec array<float>").withColumn("id", F.col("id") + 1000)
    append_to_srp_index(more, "id", "vec", dim=8, n_planes=6, n_tables=3, path=ps)
    append_to_ivf_index(more, "id", "vec", 8, cents, path=pi)
    res["after_ann"] = [spark.read.parquet(ps).count(), spark.read.parquet(pi).count()]
json.dump(res, open(out, "w"), indent=0, sort_keys=True, default=str)
spark.stop()
print("done", mode)
