"""Dump the rows of every keyed sketch table (grouped builds, sharded
builds, a fanin-2 tree merge, rollup reads) for comparing two
checkouts: row count and a digest of the sorted rows per entry point
and sketch family.

    PYTHONPATH=<checkout> python BENCH/keyed_fold_parity.py dump <sf_dir> <out.json> \\
        [shuffle_partitions] [coalesce:on|off]
    python BENCH/keyed_fold_parity.py compare <parent.json> <change.json> <out.json>

Run ``dump`` once per checkout with the same arguments, then
``compare``. Bloom, HLL, CMS and BottomK merge by OR / max / add /
min-k, so their rows must be byte-equal; t-digest, KLL and Misra-Gries
(and stage-concatenating SBF merges) depend on merge order and are
reported, not required.
"""
import hashlib
import json
import sys
import tempfile

ORDER_FREE = ("bloom", "hll", "cms", "bottomk")


def _digest(df) -> dict:
    try:
        rows = df.collect()
    except Exception as e:  # the same failure at both checkouts is parity
        return {"error": type(e).__name__}
    rows = sorted(
        tuple(v.hex() if isinstance(v, (bytes, bytearray)) else v for v in r)
        for r in rows
    )
    return {
        "n": len(rows),
        "sha": hashlib.sha1(repr(rows).encode()).hexdigest(),
        "schema": df.schema.simpleString(),
    }


def dump(sf_dir: str, out: str, partitions: int, coalesce: bool) -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from sprout_spark.sketch import (
        KLL,
        BloomFilter,
        BottomKSample,
        CountMinSketch,
        HyperLogLog,
        MisraGries,
        TDigest,
    )
    from sprout_spark.spark.aggregate import (
        build_grouped_sketches,
        partial_sketches,
        tree_merge,
    )
    from sprout_spark.spark.rollup import SketchRollup
    from sprout_spark.spark.sharded import build_sharded_bloom, build_sharded_sbf

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", str(partitions))
        .config("spark.sql.adaptive.coalescePartitions.enabled", str(coalesce).lower())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "ts",
        "event_type",
        "user_id",
        F.col("value").cast("double").alias("value"),
        (F.col("event_id") % 5 + 1).alias("w"),
        (F.col("user_id") % 997).alias("bucket"),
    )
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey")
    n_orders = lineitem.distinct().count()
    families = {
        "bloom": ("user_id", lambda: BloomFilter(5_000, 0.01, enforce_capacity=False)),
        "hll": ("user_id", lambda: HyperLogLog(p=12)),
        "cms": ("user_id", lambda: CountMinSketch(0.01, 0.01)),
        "bottomk": ("user_id", lambda: BottomKSample(k=64)),
        "tdigest": ("value", lambda: TDigest(100)),
        "kll": ("value", lambda: KLL(k=200)),
        "mg": ("user_id", lambda: MisraGries(k=16)),
    }
    weighted = ("cms", "tdigest", "kll", "mg")
    res = {}
    for key in ("event_type", "bucket"):
        for fam, (val, factory) in families.items():
            plans = {"shuffle": {}, "salted": {"salt": 8}, "map": {"combine": "map"}}
            for mode, kw in plans.items():
                df = build_grouped_sketches(events, key, val, factory, **kw)
                res[f"grouped/{key}/{mode}/{fam}"] = _digest(df)
            if fam in weighted:
                for mode, kw in plans.items():
                    df = build_grouped_sketches(
                        events, key, val, factory, weight_col="w", **kw
                    )
                    res[f"grouped_weighted/{key}/{mode}/{fam}"] = _digest(df)
    for salt in (0, 4):
        res[f"sharded/bloom/salt={salt}"] = _digest(
            build_sharded_bloom(lineitem, "l_orderkey", 8, n_orders, salt=salt)
        )
        res[f"sharded/sbf/salt={salt}"] = _digest(
            build_sharded_sbf(lineitem, "l_orderkey", 8, salt=salt)
        )
    spread = events.repartition(16, "event_id")
    for fam, (val, factory) in families.items():
        res[f"tree_merge/fanin=2/{fam}"] = _digest(
            tree_merge(partial_sketches(spread, val, factory), 16, fanin=2)
        )
    for fam in ("hll", "cms", "tdigest"):
        val, factory = families[fam]
        with tempfile.TemporaryDirectory() as td:
            r = SketchRollup(
                f"{td}/r", factory=factory, grain="day", dims=["event_type"]
            )
            r.append(events.where(F.col("event_id") % 2 == 0), "ts", val)
            r.append(events.where(F.col("event_id") % 2 == 1), "ts", val)
            res[f"rollup/windows/{fam}"] = _digest(r.windows(spark))
            res[f"rollup/by_dims/{fam}"] = _digest(r.by_dims(spark))
            d = r.downsample(spark, f"{td}/month", "month")
            res[f"rollup/downsample/{fam}"] = _digest(d.windows(spark))
    json.dump(res, open(out, "w"), indent=1, sort_keys=True)
    spark.stop()


def compare(parent_path: str, change_path: str, out: str) -> None:
    parent, change = (json.load(open(p)) for p in (parent_path, change_path))
    differ = sorted(k for k in parent if parent[k] != change.get(k))
    must = [k for k in differ if any(f"/{f}" in k for f in ORDER_FREE)]
    json.dump(
        {
            "keys": len(parent),
            "identical_keys": len(parent) - len(differ),
            "differ": differ,
            "order_free_differ": must,
            "parent": parent,
            "change": change,
        },
        open(out, "w"),
        indent=1,
        sort_keys=True,
    )
    print(f"{len(parent) - len(differ)}/{len(parent)} identical; "
          f"order-free families differing: {must or 'none'}")


if __name__ == "__main__":
    if sys.argv[1] == "compare":
        compare(*sys.argv[2:5])
    else:
        dump(
            sys.argv[2],
            sys.argv[3],
            int(sys.argv[4]) if len(sys.argv) > 4 else 8,
            (sys.argv[5] if len(sys.argv) > 5 else "on") == "on",
        )
