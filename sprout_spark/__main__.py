"""CLI — parity with the reference's ``sprout`` command
(/root/reference/cli/bloom.go:57-113): new / set / get / reset / stats
against a serialized filter file, plus ``build`` to run a distributed
build from parquet.

    python -m sprout_spark new   -path /tmp/f.bloom [-capacity N] [-err E] [-scalable]
    python -m sprout_spark set   -path /tmp/f.bloom KEY [KEY...]
    python -m sprout_spark get   -path /tmp/f.bloom KEY [KEY...]
    python -m sprout_spark reset -path /tmp/f.bloom
    python -m sprout_spark stats -path /tmp/f.bloom
    python -m sprout_spark build -path /tmp/f.bloom -input DIR/t.parquet -column c

State persists between invocations through the file (the role the
reference's mmap'd file plays; bloom.go:410-425 / cli/bloom.go:66).
"""

from __future__ import annotations

import argparse
import json
import sys

from .sketch import BloomFilter, ScalableBloomFilter, sketch_from_bytes
from .sources.commit import atomic_write

# the reference CLI hardcodes capacity=100, err=0.001 (cli/bloom.go:104-113);
# we keep its defaults overridable
DEFAULT_CAPACITY = 100
DEFAULT_ERR = 0.001


def _load(path: str):
    with open(path, "rb") as f:
        return sketch_from_bytes(f.read())


def _save(sk, path: str) -> None:
    atomic_write(path, sk.to_bytes())  # a crash keeps the old filter file


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="sprout_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("-path", required=True)

    sp = sub.add_parser("new")
    common(sp)
    sp.add_argument("-capacity", type=int, default=DEFAULT_CAPACITY)
    sp.add_argument("-err", type=float, default=DEFAULT_ERR)
    sp.add_argument("-scalable", action="store_true")

    for name in ("set", "get"):
        sp = sub.add_parser(name)
        common(sp)
        sp.add_argument("keys", nargs="+")
        sp.add_argument(
            "-int",
            dest="as_int",
            action="store_true",
            help="treat keys as integers (canonical LE-int64 encoding, "
            "matching filters built from integer columns)",
        )

    for name in ("reset", "stats"):
        sp = sub.add_parser(name)
        common(sp)

    sp = sub.add_parser("build")
    common(sp)
    sp.add_argument("-input", required=True, help="parquet path")
    sp.add_argument("-column", required=True)
    sp.add_argument(
        "-capacity",
        type=int,
        default=0,
        help="expected key count; 0 = derive from the input's row count, "
        "which costs an extra full count() action before the build — "
        "pass a capacity hint to skip that scan on large inputs",
    )
    sp.add_argument("-err", type=float, default=DEFAULT_ERR)
    sp.add_argument("-cpus", type=int, default=4)

    args = p.parse_args(argv)

    def parse_keys(a):
        return [int(k) for k in a.keys] if getattr(a, "as_int", False) else a.keys

    if args.cmd == "new":
        sk = (
            ScalableBloomFilter(args.capacity, args.err)
            if args.scalable
            else BloomFilter(args.capacity, args.err)
        )
        _save(sk, args.path)
        print(f"created {sk.TYPE} filter at {args.path}")
    elif args.cmd == "set":
        sk = _load(args.path)
        sk.update_values(parse_keys(args))
        _save(sk, args.path)
        print(f"added {len(args.keys)} key(s)")
    elif args.cmd == "get":
        sk = _load(args.path)
        for k, hit in zip(args.keys, sk.contains_values(parse_keys(args))):
            print(f"{k}\t{'true' if hit else 'false'}")
    elif args.cmd == "reset":
        sk = _load(args.path)
        sk.clear()
        _save(sk, args.path)
        print("reset")
    elif args.cmd == "stats":
        sk = _load(args.path)
        print(json.dumps(sk.stats()))
    elif args.cmd == "build":
        from pyspark.sql import SparkSession

        from .spark.aggregate import build_sketch

        spark = (
            SparkSession.builder.master(f"local[{args.cpus}]")
            .appName("sprout-spark-cli")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        df = spark.read.parquet(args.input)
        cap = args.capacity or df.count()
        sk = build_sketch(
            df, args.column, lambda: BloomFilter(cap + 10, args.err)
        )
        _save(sk, args.path)
        stats = sk.stats()
        if dict(df.dtypes).get(args.column) in ("int", "bigint", "smallint"):
            stats["note"] = "integer key column: probe with 'get -int'"
        print(json.dumps(stats))
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
