"""The key-run fold behind every keyed sketch table: no grouped Python
operator in any keyed plan, and the same rows as a plain-Python fold
when runs cross Arrow batch boundaries."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from sprout_spark.hashing import pack_arrow
from sprout_spark.sketch import CountMinSketch, HyperLogLog
from sprout_spark.sketch.base import merge_serialized
from sprout_spark.spark.aggregate import (
    build_grouped_sketches,
    grouped_estimate,
    merge_groups,
    partial_sketches,
    tree_merge,
)
from sprout_spark.spark.sharded import build_sharded_sketch, shard_id

GROUPED_NODES = ("FlatMapGroupsInArrow", "FlatMapGroupsInPandas")


def _hll():
    return HyperLogLog(p=10)


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_keyed_plans_hold_no_grouped_python_node(spark):
    df = spark.range(0, 2_000).select(
        (F.col("id") % 37).cast("string").alias("g"),
        (F.col("id") % 500).alias("v"),
    )
    grouped = build_grouped_sketches(df, "g", "v", _hll)
    partials = partial_sketches(df.repartition(8), "v", _hll)
    plans = {
        "merge_groups": merge_groups(
            grouped.withColumn("key", F.substring("key", 1, 1)), "key"
        ),
        "tree_merge": tree_merge(partials, 8, fanin=2),
        "grouped_shuffle": grouped,
        "grouped_salted": build_grouped_sketches(df, "g", "v", _hll, salt=4),
        "grouped_map": build_grouped_sketches(df, "g", "v", _hll, combine="map"),
        "sharded": build_sharded_sketch(df, "v", 4, _hll),
        "sharded_salted": build_sharded_sketch(df, "v", 4, _hll, salt=3),
        "grouped_estimate": grouped_estimate(grouped, lambda s: s.estimate()),
    }
    for name, plan_df in plans.items():
        plan = _executed_plan(plan_df)
        assert not [n for n in GROUPED_NODES if n in plan], (name, plan)


@pytest.fixture
def tiny_batches(spark):
    """Three rows per Arrow batch, so key runs cross batch boundaries."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    yield
    spark.conf.set(key, old)


def _hll_of(values) -> bytes:
    sk = _hll()
    sk.update_arrow(pa.array(values, pa.int64()))
    return sk.to_bytes()


def _sketch_rows(spark, keys: list, parts: int = 4):
    """One HLL row per entry of ``keys`` (a tuple of key values), with
    ``rows`` = its index, spread over ``parts`` partitions."""
    rows = [
        (*k, _hll_of([i, i * 7, i % 5]), i) for i, k in enumerate(keys)
    ]
    names = [f"k{j}" for j in range(len(keys[0]))] if keys else ["k0"]
    schema = ", ".join(f"{n} string" for n in names)
    schema += ", sketch binary, rows bigint"
    return spark.createDataFrame(rows, schema).repartition(parts), rows, names


def _ref_merge(rows, n_keys: int) -> dict:
    groups: dict = {}
    for r in rows:
        groups.setdefault(tuple(r[:n_keys]), []).append(r)
    return {
        k: (merge_serialized([r[n_keys] for r in rs]), sum(r[n_keys + 1] for r in rs))
        for k, rs in groups.items()
    }


def _got(df, keys) -> dict:
    return {
        tuple(r[k] for k in keys): (bytes(r["sketch"]), r["rows"])
        for r in df.collect()
    }


def test_merge_groups_null_keys_across_batches(spark, tiny_batches):
    keys = [(k,) for k in ([None, "a", "b", None, "c"] * 12)]
    df, rows, names = _sketch_rows(spark, keys)
    got = _got(merge_groups(df, *names), names)
    assert got == _ref_merge(rows, 1)
    assert (None,) in got


def test_merge_groups_two_keys_null_dims_across_batches(spark, tiny_batches):
    days = ["2024-01-01", "2024-01-02"]
    tools = [None, "search", None, "code", "search"]
    keys = [(days[i % 2], tools[i % 5]) for i in range(70)]
    df, rows, names = _sketch_rows(spark, keys)
    got = _got(merge_groups(df, *names), names)
    assert got == _ref_merge(rows, 2)
    assert ("2024-01-01", None) in got


def test_one_key_spanning_many_batches(spark, tiny_batches):
    keys = [("hot",)] * 100 + [("cold",), ("warm",)] * 3
    df, rows, names = _sketch_rows(spark, keys, parts=2)
    assert _got(merge_groups(df, *names), names) == _ref_merge(rows, 1)

    vals = spark.range(0, 300).select(
        F.when(F.col("id") % 10 == 0, F.lit("cold"))
        .otherwise(F.lit("hot"))
        .alias("g"),
        (F.col("id") * 13 % 97).alias("v"),
    )
    want: dict = {}
    for r in vals.collect():
        want.setdefault(r["g"], []).append(r["v"])
    for kw in ({}, {"salt": 4}, {"combine": "map"}):
        got = _got(build_grouped_sketches(vals, "g", "v", _hll, **kw), ["key"])
        assert got == {(g,): (_hll_of(v), len(v)) for g, v in want.items()}, kw

    shards = vals.select("v", shard_id(F.col("v"), 2).alias("s")).collect()
    by_shard: dict = {}
    for r in shards:
        by_shard.setdefault(r["s"], []).append(r["v"])
    for salt in (0, 3):
        got = {
            r["shard"]: (bytes(r["sketch"]), r["rows"], r["n_shards"])
            for r in build_sharded_sketch(vals, "v", 2, _hll, salt=salt).collect()
        }
        assert got == {
            s: (_hll_of(v), len(v), 2) for s, v in by_shard.items()
        }, salt


def test_grouped_builds_null_keys_across_batches(spark, tiny_batches):
    df = spark.createDataFrame(
        [(None if i % 4 == 0 else f"g{i % 3}", i % 11) for i in range(90)],
        "g string, v bigint",
    ).repartition(3)
    want: dict = {}
    for r in df.collect():
        want.setdefault(r["g"], []).append(r["v"])
    expect = {(g,): (_hll_of(v), len(v)) for g, v in want.items()}
    for kw in ({}, {"salt": 4}, {"combine": "map"}):
        got = _got(build_grouped_sketches(df, "g", "v", _hll, **kw), ["key"])
        assert got == expect, kw


def test_empty_input(spark, tiny_batches):
    df, _, names = _sketch_rows(spark, [("a",)])
    empty = df.where(F.lit(False))
    assert merge_groups(empty, *names).collect() == []
    no_partials = spark.createDataFrame(
        [], "part_id bigint, sketch binary, rows bigint"
    )
    assert tree_merge(no_partials, 8, fanin=2).collect() == []
    vals = spark.createDataFrame([], "g string, v bigint")
    for kw in ({}, {"salt": 4}, {"combine": "map"}):
        assert build_grouped_sketches(vals, "g", "v", _hll, **kw).collect() == []
    assert build_sharded_sketch(vals, "v", 4, _hll, salt=2).collect() == []
    est = grouped_estimate(
        build_grouped_sketches(vals, "g", "v", _hll), lambda s: s.estimate()
    )
    assert est.collect() == []
    assert est.schema.simpleString() == "struct<key:string,estimate:double>"


def test_weighted_grouped_build_across_batches(spark, tiny_batches):
    def cms():
        return CountMinSketch(0.01, 0.01)

    df = spark.createDataFrame(
        [
            (None if i % 7 == 0 else f"g{i % 2}", f"t{i % 5}", i % 4)
            for i in range(80)
        ],
        "g string, tool string, w bigint",
    ).repartition(3)
    want: dict = {}
    for r in df.collect():
        want.setdefault(r["g"], []).append((r["tool"], r["w"]))
    expect = {}
    for g, pairs in want.items():
        sk = cms()
        sk.add_packed(
            *pack_arrow(pa.array([p[0] for p in pairs])),
            np.array([p[1] for p in pairs], dtype=np.int64),
        )
        expect[(g,)] = (sk.to_bytes(), len(pairs))
    for kw in ({}, {"salt": 4}, {"combine": "map"}):
        got = _got(
            build_grouped_sketches(df, "g", "tool", cms, weight_col="w", **kw),
            ["key"],
        )
        assert got == expect, kw
