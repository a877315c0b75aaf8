"""The shared commit protocol (sources/commit.py) as the persisted stores
use it: fsync'd atomic replaces, compaction over committed epochs only,
crashed writes invisible, and one pass over the probe keys per gated
read."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from sprout_spark.sketch import BloomFilter
from sprout_spark.sources.kv_store import BloomGatedKVStore
from sprout_spark.spark import fastpath
from sprout_spark.streaming.novelty import StreamingNoveltyFilter


def _counted_keys(spark, lo: int, hi: int, col: str = "k"):
    """String keys k<lo>..k<hi-1> over 4 partitions, behind a counting
    ``mapInArrow``: the accumulator counts partition evaluations."""
    passes = spark.sparkContext.accumulator(0)

    def count(batches):
        passes.add(1)
        yield from batches

    df = (
        spark.range(lo, hi, numPartitions=4)
        .select(F.concat(F.lit("k"), F.col("id").cast("string")).alias(col))
        .mapInArrow(count, f"{col} string")
    )
    return df, passes


def _write_orphan_epoch(spark, root: str, epoch: int, rows, schema, n_buckets: int):
    """An epoch dir as a crashed write leaves it: parquet landed, no
    commit. ``rows`` carry the store's columns without the bucket."""
    key = schema.split()[0]
    spark.createDataFrame(rows, schema).withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    ).write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(root, f"epoch={epoch}")
    )


def test_ann_sidecars_fsynced_before_replace(spark, tmp_path, monkeypatch):
    """Both ANN index sidecars are written through the atomic write: the
    tmp file is fsynced before it is renamed over the sidecar, so a power
    loss cannot leave an empty ``_srp_meta.json`` / ``_ivf_meta.json``."""
    from sprout_spark.operators.similarity import build_ivf_index, build_srp_index

    rng = np.random.RandomState(3)
    emb = spark.createDataFrame(
        [(i, rng.normal(size=8).astype(np.float32).tolist()) for i in range(40)],
        "id bigint, vec array<float>",
    )
    events = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        events.append(("fsync", os.fstat(fd).st_ino))
        return real_fsync(fd)

    def replace(src, dst):
        events.append(("replace", os.stat(src).st_ino, os.path.basename(dst)))
        return real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    build_srp_index(
        emb, "id", "vec", dim=8, n_planes=4, n_tables=2, path=str(tmp_path / "srp")
    )
    cents = rng.normal(size=(3, 8))
    build_ivf_index(emb, "id", "vec", 8, cents, path=str(tmp_path / "ivf"))
    for name in ("_srp_meta.json", "_ivf_meta.json"):
        (i,) = [
            i for i, e in enumerate(events) if e[0] == "replace" and e[2] == name
        ]
        assert ("fsync", events[i][1]) in events[:i], (name, events)
    assert (tmp_path / "srp" / "_srp_meta.json").stat().st_size > 0
    assert (tmp_path / "ivf" / "_ivf_meta.json").stat().st_size > 0


def test_kv_compact_counts_no_orphan_rows_before_first_commit(spark, tmp_path):
    """A crashed first put leaves an ``epoch=0`` dir and no commit:
    compact() has no committed rows to fold and returns 0, not the
    orphan's row count."""
    kv_path = str(tmp_path / "kv")
    kv = BloomGatedKVStore(spark, kv_path, n_buckets=4, expected_keys=100)
    _write_orphan_epoch(
        spark, kv_path, 0, [("a", b"1"), ("b", b"2"), ("c", b"3")],
        "key string, value binary", 4,
    )
    assert kv.last_epoch == -1
    assert kv.compact() == 0


def test_novelty_compact_counts_no_orphan_rows_before_first_commit(
    spark, tmp_path
):
    """The novelty store's twin of the KV case: an uncommitted first
    epoch dir is no seen key, for compact() as for novel_keys()."""
    state = str(tmp_path / "nov")
    flt = StreamingNoveltyFilter("k", lambda: BloomFilter(100, 0.01), state)
    _write_orphan_epoch(
        spark, flt.seen_dir, 0, [("a",), ("b",), ("c",)], "k string", 64
    )
    assert flt.last_epoch == -1
    assert flt.compact(spark) == 0
    assert flt.novel_keys(spark).count() == 0


def test_kv_crashed_put_invisible_and_replaced(spark, tmp_path):
    """An ``epoch=N+1`` dir written after the last commit (a put that
    crashed before its ``state.bin`` replace) is invisible to get, and
    the next put replaces it instead of merging with it."""
    p = str(tmp_path / "kv")
    kv = BloomGatedKVStore(spark, p, n_buckets=4, expected_keys=1000)
    kv.put(
        spark.createDataFrame([("a", b"1"), ("b", b"2")], "k string, v binary"),
        "k",
        "v",
    )
    _write_orphan_epoch(
        spark, p, 1, [("b", b"stale"), ("c", b"orphan")],
        "key string, value binary", 4,
    )
    probes = spark.createDataFrame([("a",), ("b",), ("c",)], "k string")

    def values(store):
        return {
            r["k"]: None if r["value"] is None else bytes(r["value"])
            for r in store.get(probes, "k").collect()
        }

    assert values(kv) == {"a": b"1", "b": b"2", "c": None}
    assert kv.put(
        spark.createDataFrame([("c", b"3")], "k string, v binary"), "k", "v"
    ) == 1
    assert values(kv) == {"a": b"1", "b": b"2", "c": b"3"}
    # the orphan's rows are gone from the epoch dir, not shadowed
    assert spark.read.parquet(os.path.join(p, "epoch=1")).count() == 1
    kv2 = BloomGatedKVStore(spark, p, n_buckets=4, expected_keys=1000)
    assert values(kv2) == {"a": b"1", "b": b"2", "c": b"3"}


@pytest.mark.parametrize(
    "gate, cap",
    [("broadcast", None), ("sharded", None), ("sharded", 0)],
    ids=["broadcast", "sharded-broadcast-probe", "sharded-cogroup-probe"],
)
def test_kv_get_evaluates_probe_keys_once(spark, tmp_path, monkeypatch, gate, cap):
    """get() collects the suspects' buckets and then joins the same
    suspects: the keys and the gate probe are pinned once, so the probe
    input is evaluated once per partition, not once per job."""
    if cap is not None:
        monkeypatch.setitem(fastpath.CAPS, "sharded_probe.bytes", cap)
    opts = (
        {"expected_keys": 1000}
        if gate == "broadcast"
        else {"gate": "sharded", "gate_shards": 4}
    )
    kv = BloomGatedKVStore(spark, str(tmp_path / "kv"), n_buckets=8, **opts)
    kv.put(
        spark.range(0, 200).select(
            F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
            F.col("id").cast("string").cast("binary").alias("v"),
        ),
        "k",
        "v",
    )
    probes, passes = _counted_keys(spark, 100, 300)
    got = {
        r["k"]: None if r["value"] is None else bytes(r["value"])
        for r in kv.get(probes, "k").collect()
    }
    assert passes.value == 4
    assert got == {
        f"k{i}": (str(i).encode() if i < 200 else None) for i in range(100, 300)
    }


def test_novelty_batch_evaluates_input_once(spark, tmp_path):
    """A gated novelty batch (bucket collect, anti-join, epoch write)
    reads its micro-batch once per partition."""
    flt = StreamingNoveltyFilter(
        "k", lambda: BloomFilter(1000, 0.01), str(tmp_path / "nov"), n_buckets=8
    )
    first, _ = _counted_keys(spark, 0, 200)
    flt(first, 0)
    batch, passes = _counted_keys(spark, 100, 300)
    flt(batch, 1)
    assert passes.value == 4
    got = [r["k"] for r in flt.novel_keys(spark).collect()]
    assert len(got) == len(set(got)) and set(got) == {f"k{i}" for i in range(300)}
