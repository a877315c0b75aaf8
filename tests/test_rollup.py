"""Persisted sketch rollup tables (spark/rollup.py): per-window
correctness, blind-append mergeability, range bounds, config pinning,
compaction, torn-write hygiene, and single-writer locking."""

import datetime as dt
import json
import math
import os

import pytest
from pyspark.sql import functions as F

from sprout_spark.sketch import CountMinSketch, HyperLogLog
from sprout_spark.spark.rollup import SketchRollup


def _events(spark, n=3000, with_null=True):
    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    for i in range(n):
        ts = base + dt.timedelta(minutes=7 * i)  # spans ~14.5 days
        rows.append((i, ts, i % 401))
    if with_null:
        rows.append((n, None, 999999))
    return spark.createDataFrame(rows, "event_id bigint, ts timestamp, user_id bigint")


def _hll():
    return HyperLogLog(p=12)


_BOUND = 3 * 1.04 / math.sqrt(1 << 12)


def test_rollup_windows_match_exact(spark, tmp_path):
    df = _events(spark)
    r = SketchRollup(str(tmp_path / "r1"), factory=_hll, grain="day")
    n = r.append(df, "ts", "user_id")
    assert n == 15  # 14.5 days of windows
    exact = {
        str(row["w"]): (row["n"], row["d"])
        for row in df.where(F.col("ts").isNotNull())
        .groupBy(F.date_trunc("day", "ts").alias("w"))
        .agg(F.count("*").alias("n"), F.countDistinct("user_id").alias("d"))
        .collect()
    }
    got = r.windows(spark).collect()
    assert len(got) == len(exact) == 15
    for row in got:
        en, ed = exact[row["wstart"]]
        assert row["rows"] == en  # NULL-ts row never landed anywhere
        from sprout_spark.sketch.base import sketch_from_bytes

        est = sketch_from_bytes(row["sketch"]).estimate()
        assert abs(est - ed) <= _BOUND * ed + 1


def test_rollup_blind_append_equals_one_shot(spark, tmp_path):
    df = _events(spark, with_null=False)
    two = SketchRollup(str(tmp_path / "two"), factory=_hll, grain="day")
    two.append(df.where(F.col("event_id") % 2 == 0), "ts", "user_id")
    two.append(df.where(F.col("event_id") % 2 == 1), "ts", "user_id")
    one = SketchRollup(str(tmp_path / "one"), factory=_hll, grain="day")
    one.append(df, "ts", "user_id")
    a = {r["wstart"]: r for r in two.windows(spark).collect()}
    b = {r["wstart"]: r for r in one.windows(spark).collect()}
    assert set(a) == set(b)
    for w in a:
        assert a[w]["rows"] == b[w]["rows"]
        # HLL registers are max-merged: epoch-split == one-shot BYTE-for-byte
        assert a[w]["sketch"] == b[w]["sketch"], w


def test_rollup_range_bounds_and_query(spark, tmp_path):
    df = _events(spark, with_null=False)
    r = SketchRollup(str(tmp_path / "rng"), factory=_hll, grain="day")
    r.append(df, "ts", "user_id")
    t0, t1 = "2024-03-04", "2024-03-09 00:00:00"  # bare date normalizes
    sel = r.windows(spark, t0, t1).collect()
    starts = sorted(row["wstart"] for row in sel)
    assert starts[0] == "2024-03-04 00:00:00"  # t0 inclusive
    assert starts[-1] == "2024-03-08 00:00:00"  # t1 exclusive
    exact = (
        df.where(
            (F.col("ts") >= "2024-03-04") & (F.col("ts") < "2024-03-09")
        )
        .agg(
            F.countDistinct("user_id").alias("d"), F.count("*").alias("n")
        )
        .collect()[0]
    )
    est, rows = r.estimate(spark, lambda s: s.estimate(), t0, t1)
    assert rows == exact["n"]
    assert abs(est - exact["d"]) <= _BOUND * exact["d"] + 1
    # unbounded query covers everything
    full = r.query(spark)
    total_d = df.select("user_id").distinct().count()
    assert abs(full.estimate() - total_d) <= _BOUND * total_d + 1
    # empty range -> pristine sketch, zero rows
    est0, rows0 = r.estimate(spark, lambda s: s.estimate(), "2030-01-01", "2031-01-01")
    assert rows0 == 0 and est0 == 0


def test_rollup_pin_refusals(spark, tmp_path):
    p = str(tmp_path / "pin")
    r = SketchRollup(p, factory=_hll, grain="day")
    r.append(_events(spark, n=100, with_null=False), "ts", "user_id")
    with pytest.raises(ValueError, match="mismatch"):
        SketchRollup(p, factory=lambda: HyperLogLog(p=10))
    with pytest.raises(ValueError, match="grain"):
        SketchRollup(p, grain="hour")
    ro = SketchRollup(p)  # open without factory: read-only windows OK
    assert ro.windows(spark).count() > 0
    with pytest.raises(ValueError, match="factory"):
        ro.append(_events(spark, n=10), "ts", "user_id")
    with pytest.raises(ValueError, match="factory"):
        ro.query(spark)
    # unknown manifest version refuses
    mp = os.path.join(p, "manifest.json")
    man = json.load(open(mp))
    man["version"] = 99
    json.dump(man, open(mp, "w"))
    with pytest.raises(ValueError, match="version"):
        SketchRollup(p)


def test_rollup_compact_and_post_compact_append(spark, tmp_path):
    df = _events(spark, with_null=False)
    r = SketchRollup(str(tmp_path / "cmp"), factory=_hll, grain="day")
    r.append(df.where(F.col("event_id") % 3 == 0), "ts", "user_id")
    r.append(df.where(F.col("event_id") % 3 == 1), "ts", "user_id")
    before = {
        row["wstart"]: (row["rows"], row["sketch"])
        for row in r.windows(spark).collect()
    }
    n = r.compact(spark)
    assert n == len(before)
    assert r.epochs == [] and r.base is not None
    # answers unchanged, folded epoch dirs swept
    after = {
        row["wstart"]: (row["rows"], row["sketch"])
        for row in r.windows(spark).collect()
    }
    assert after == before
    assert not [d for d in os.listdir(r.path) if d.startswith("epoch=")]
    # post-compact appends merge with the base
    r.append(df.where(F.col("event_id") % 3 == 2), "ts", "user_id")
    full = {row["wstart"]: row["rows"] for row in r.windows(spark).collect()}
    exact = {
        str(row["w"]): row["n"]
        for row in df.groupBy(F.date_trunc("day", "ts").alias("w"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert full == exact
    # a reopened handle sees the compacted + appended state identically
    r2 = SketchRollup(r.path, factory=_hll)
    assert {row["wstart"]: row["rows"] for row in r2.windows(spark).collect()} == exact


def test_rollup_torn_append_ignored_and_swept(spark, tmp_path):
    df = _events(spark, n=200, with_null=False)
    r = SketchRollup(str(tmp_path / "torn"), factory=_hll, grain="day")
    r.append(df.where(F.col("event_id") % 2 == 0), "ts", "user_id")
    committed = r.windows(spark).agg(F.sum("rows")).collect()[0][0]
    # a torn append: parquet landed, manifest never swapped
    orphan = os.path.join(r.path, "epoch=99")
    df.where(F.col("event_id") % 2 == 1).withColumn(
        "wstart", F.date_trunc("day", "ts").cast("string")
    ).groupBy("wstart").agg(F.count("*").alias("rows")).withColumn(
        "sketch", F.lit(b"junk")
    ).write.parquet(orphan)
    assert r.windows(spark).agg(F.sum("rows")).collect()[0][0] == committed
    r.append(df.where(F.col("event_id") % 2 == 1), "ts", "user_id")
    assert not os.path.exists(orphan)  # swept by the next mutation


def test_rollup_single_writer_and_staleness(spark, tmp_path):
    import fcntl

    df = _events(spark, n=100, with_null=False)
    p = str(tmp_path / "lock")
    r = SketchRollup(p, factory=_hll, grain="day")
    lf = open(os.path.join(p, ".lock"), "w")
    fcntl.flock(lf, fcntl.LOCK_EX | fcntl.LOCK_NB)
    with pytest.raises(RuntimeError, match="another writer"):
        r.append(df, "ts", "user_id")
    fcntl.flock(lf, fcntl.LOCK_UN)
    lf.close()
    r.append(df, "ts", "user_id")
    stale = SketchRollup(p, factory=_hll)
    r.append(df, "ts", "user_id")  # advances the store under `stale`
    with pytest.raises(RuntimeError, match="advanced"):
        stale.append(df, "ts", "user_id")


def _tool_events(spark, n=2500):
    """Events with a low-cardinality dim column; tool names include
    JSON-hostile content (quotes, braces, commas) and NULLs so the
    composite-key round-trip is exercised, not assumed."""
    tools = ["search", 'qu"ote', "br{ace},x", None, "tab\there"]
    base = dt.datetime(2024, 3, 1)
    rows = [
        (i, base + dt.timedelta(minutes=11 * i), i % 307, tools[i % 5])
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, tool string"
    )


def test_rollup_dims_windows_filters_and_nulls(spark, tmp_path):
    df = _tool_events(spark)
    r = SketchRollup(
        str(tmp_path / "dim"), factory=_hll, grain="day", dims=["tool"]
    )
    r.append(df, "ts", "user_id")
    exact = {
        (str(row["w"]), row["tool"]): (row["n"], row["d"])
        for row in df.groupBy(
            F.date_trunc("day", "ts").alias("w"), "tool"
        )
        .agg(F.count("*").alias("n"), F.countDistinct("user_id").alias("d"))
        .collect()
    }
    got = r.windows(spark).collect()
    assert len(got) == len(exact)
    from sprout_spark.sketch.base import sketch_from_bytes

    for row in got:
        en, ed = exact[(row["wstart"], row["tool"])]
        assert row["rows"] == en
        est = sketch_from_bytes(row["sketch"]).estimate()
        assert abs(est - ed) <= _BOUND * ed + 1
    # pushed dim-equality filter: only that tool's windows come back
    sel = r.windows(spark, where={"tool": 'qu"ote'}).collect()
    assert sel and all(row["tool"] == 'qu"ote' for row in sel)
    assert sum(row["rows"] for row in sel) == sum(
        n for (_, t), (n, _) in exact.items() if t == 'qu"ote'
    )
    # where={dim: None} addresses the NULL-dim group
    nul = r.windows(spark, where={"tool": None}).collect()
    assert nul and all(row["tool"] is None for row in nul)
    assert sum(row["rows"] for row in nul) == sum(
        n for (_, t), (n, _) in exact.items() if t is None
    )
    with pytest.raises(ValueError, match="unknown dimension"):
        r.windows(spark, where={"nope": "x"})
    # dim-filtered range estimate
    t0, t1 = "2024-03-04", "2024-03-09"
    ex = (
        df.where(
            (F.col("ts") >= t0) & (F.col("ts") < t1) & (F.col("tool") == "search")
        )
        .agg(F.countDistinct("user_id").alias("d"), F.count("*").alias("n"))
        .collect()[0]
    )
    est, rows = r.estimate(
        spark, lambda s: s.estimate(), t0, t1, where={"tool": "search"}
    )
    assert rows == ex["n"]
    assert abs(est - ex["d"]) <= _BOUND * ex["d"] + 1


def test_rollup_dims_by_dims_split_equality_and_estimate_by(spark, tmp_path):
    df = _tool_events(spark)
    two = SketchRollup(
        str(tmp_path / "d2"), factory=_hll, grain="day", dims=["tool"]
    )
    two.append(df.where(F.col("event_id") % 2 == 0), "ts", "user_id")
    two.append(df.where(F.col("event_id") % 2 == 1), "ts", "user_id")
    one = SketchRollup(
        str(tmp_path / "d1"), factory=_hll, grain="day", dims=["tool"]
    )
    one.append(df, "ts", "user_id")
    a = {row["tool"]: row for row in two.by_dims(spark).collect()}
    b = {row["tool"]: row for row in one.by_dims(spark).collect()}
    assert set(a) == set(b)
    for t in a:
        assert a[t]["rows"] == b[t]["rows"]
        # register-max merge: epoch-split == one-shot byte-for-byte
        assert a[t]["sketch"] == b[t]["sketch"], t
    exact = {
        row["tool"]: (row["d"], row["n"])
        for row in df.groupBy("tool")
        .agg(F.countDistinct("user_id").alias("d"), F.count("*").alias("n"))
        .collect()
    }
    got = {
        row["tool"]: row
        for row in two.estimate_by(spark, lambda s: s.estimate()).collect()
    }
    assert set(got) == set(exact)
    for t, (d, n) in exact.items():
        assert got[t]["rows"] == n
        assert abs(got[t]["estimate"] - d) <= _BOUND * d + 1
    # compaction preserves the dimensioned answers
    two.compact(spark)
    assert {
        row["tool"]: (row["rows"], row["sketch"])
        for row in two.by_dims(spark).collect()
    } == {t: (row["rows"], row["sketch"]) for t, row in a.items()}


def test_rollup_dims_pin_and_reserved_refusals(spark, tmp_path):
    p = str(tmp_path / "dpin")
    r = SketchRollup(p, factory=_hll, grain="day", dims=["tool"])
    r.append(_tool_events(spark, n=100), "ts", "user_id")
    with pytest.raises(ValueError, match="dims"):
        SketchRollup(p, dims=["source"])
    with pytest.raises(ValueError, match="dims"):
        SketchRollup(p, dims=[])
    reopened = SketchRollup(p)  # dims come from the manifest
    assert reopened.dims == ["tool"]
    assert reopened.by_dims(spark).count() > 0
    with pytest.raises(ValueError, match="shadows"):
        SketchRollup(str(tmp_path / "bad"), factory=_hll, dims=["rows"])
    with pytest.raises(ValueError, match="duplicate"):
        SketchRollup(str(tmp_path / "dup"), factory=_hll, dims=["t", "t"])
    flat = SketchRollup(str(tmp_path / "flat"), factory=_hll, grain="day")
    with pytest.raises(ValueError, match="without dims"):
        flat.by_dims(spark)


def test_rollup_append_tag_idempotent(spark, tmp_path):
    df = _events(spark, n=400, with_null=False)
    p = str(tmp_path / "tag")
    r = SketchRollup(p, factory=_hll, grain="day")
    n1 = r.append(df, "ts", "user_id", tag="batch-0")
    assert n1 > 0
    before = {row["wstart"]: row["rows"] for row in r.windows(spark).collect()}
    # same tag again: skipped, nothing changes
    assert r.append(df, "ts", "user_id", tag="batch-0") == 0
    assert {row["wstart"]: row["rows"] for row in r.windows(spark).collect()} == before
    # the tag rides the manifest: a fresh handle (post-crash restart) skips too
    r2 = SketchRollup(p, factory=_hll)
    assert r2.append(df, "ts", "user_id", tag="batch-0") == 0
    # tags survive compaction — a late replay after compact still skips
    r2.compact(spark)
    assert r2.append(df, "ts", "user_id", tag="batch-0") == 0
    assert {row["wstart"]: row["rows"] for row in r2.windows(spark).collect()} == before
    # a new tag appends normally
    assert r2.append(df, "ts", "user_id", tag="batch-1") > 0
    assert {row["wstart"]: row["rows"] for row in r2.windows(spark).collect()} == {
        w: n * 2 for w, n in before.items()
    }


def test_rollup_stream_ingest_equals_batch_and_restart(spark, tmp_path):
    from sprout_spark.spark.rollup import stream_rollup

    df = _events(spark, n=1200, with_null=False)
    src = str(tmp_path / "src")
    df.repartition(6).write.parquet(src)
    batch = spark.read.parquet(src)

    one = SketchRollup(str(tmp_path / "one"), factory=_hll, grain="day")
    one.append(batch, "ts", "user_id")
    truth = {
        row["wstart"]: (row["rows"], row["sketch"])
        for row in one.windows(spark).collect()
    }

    p = str(tmp_path / "streamed")
    r = SketchRollup(p, factory=_hll, grain="day")
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    ckpt = str(tmp_path / "ckpt")
    q = stream_rollup(
        stream, r, "ts", "user_id", ckpt, trigger={"availableNow": True}
    )
    assert q.awaitTermination(300), "stream did not finish"
    assert len(r.epochs) >= 3  # really ran multiple micro-batches
    got = {
        row["wstart"]: (row["rows"], row["sketch"])
        for row in r.windows(spark).collect()
    }
    # streamed == one-shot batch, byte-for-byte (register-max merge)
    assert got == truth
    # restart over the same checkpoint with a FRESH handle: no new
    # data -> no change; a replayed micro-batch skips on its tag
    r2 = SketchRollup(p, factory=_hll)
    q2 = stream_rollup(
        stream, r2, "ts", "user_id", ckpt, trigger={"availableNow": True}
    )
    assert q2.awaitTermination(300), "stream did not finish"
    assert {
        row["wstart"]: (row["rows"], row["sketch"])
        for row in r2.windows(spark).collect()
    } == truth
    # a manual replay of an already-committed micro-batch is a no-op
    sink = r2.stream_sink("ts", "user_id")
    sink(batch, 0)
    assert {
        row["wstart"]: (row["rows"], row["sketch"])
        for row in r2.windows(spark).collect()
    } == truth


def test_rollup_weighted_cms(spark, tmp_path):
    rows = []
    base = dt.datetime(2024, 3, 1)
    for i in range(500):
        rows.append((base + dt.timedelta(hours=i % 40), f"t{i % 7}", (i % 5) + 1))
    df = spark.createDataFrame(rows, "ts timestamp, tool string, w bigint")
    r = SketchRollup(
        str(tmp_path / "wcms"),
        factory=lambda: CountMinSketch(0.001, 1e-6),
        grain="day",
    )
    r.append(df, "ts", "tool", weight_col="w")
    sk = r.query(spark)
    exact = {
        row["tool"]: row["s"]
        for row in df.groupBy("tool").agg(F.sum("w").alias("s")).collect()
    }
    total = sum(exact.values())
    for t, true in exact.items():
        est = sk.estimate(t)
        assert true <= est <= true + math.ceil(0.001 * total)


def test_rollup_cms_frequency_family(spark, tmp_path):
    # frequency family through the rollup: counter-sum merge across
    # blind epochs; range estimates never under, over by <= ceil(eps*N)
    df = _events(spark, with_null=False).withColumn(
        "etype", (F.col("event_id") % 5).cast("string")
    )
    r = SketchRollup(
        str(tmp_path / "cms"),
        factory=lambda: CountMinSketch(0.001, 1e-6),
        grain="day",
    )
    r.append(df.where(F.col("event_id") % 2 == 0), "ts", "etype")
    r.append(df.where(F.col("event_id") % 2 == 1), "ts", "etype")
    t0, t1 = "2024-03-03", "2024-03-07"
    in_range = df.where((F.col("ts") >= t0) & (F.col("ts") < t1))
    exact = {
        row["etype"]: row["n"]
        for row in in_range.groupBy("etype").agg(F.count("*").alias("n")).collect()
    }
    cms, nrows = r.estimate(spark, lambda s: s, t0, t1)
    assert nrows == sum(exact.values()) == cms.total
    import math as _m

    bound = int(_m.ceil(cms.eps * cms.total))
    for k, n in exact.items():
        est = cms.estimate(k)
        assert n <= est <= n + bound, (k, n, est)


def test_rollup_compact_bounded_fan(spark, tmp_path):
    # n_files bounds the compaction write fan without changing answers
    df = _events(spark, with_null=False)
    r = SketchRollup(str(tmp_path / "fan"), factory=_hll, grain="day")
    r.append(df, "ts", "user_id")
    before = {
        row["wstart"]: (row["rows"], row["sketch"])
        for row in r.windows(spark).collect()
    }
    n = r.compact(spark, n_files=4)
    assert n == len(before)
    files = [
        f
        for f in os.listdir(os.path.join(r.path, r.base))
        if f.endswith(".parquet")
    ]
    assert 1 <= len(files) <= 4
    after = {
        row["wstart"]: (row["rows"], row["sketch"])
        for row in r.windows(spark).collect()
    }
    assert after == before
    with pytest.raises(ValueError, match="n_files"):
        r.compact(spark, n_files=0)


def test_rollup_downsample_hour_to_day_equals_direct(spark, tmp_path):
    """The hierarchy step: hour partials fold into a NEW day-grain
    rollup that is BYTE-identical to a direct day-grain build (HLL
    register-max is order-invariant), row counts exact; the source is
    untouched and the destination reopens from its manifest."""
    df = _events(spark, with_null=False)
    hr = SketchRollup(str(tmp_path / "hr"), factory=_hll, grain="hour")
    hr.append(df.where(F.col("event_id") % 2 == 0), "ts", "user_id")
    hr.append(df.where(F.col("event_id") % 2 == 1), "ts", "user_id")
    day = hr.downsample(spark, str(tmp_path / "day"), "day")
    direct = SketchRollup(str(tmp_path / "direct"), factory=_hll, grain="day")
    direct.append(df, "ts", "user_id")
    a = {r["wstart"]: r for r in day.windows(spark).collect()}
    b = {r["wstart"]: r for r in direct.windows(spark).collect()}
    assert set(a) == set(b) and len(a) == 15
    for w in a:
        assert a[w]["rows"] == b[w]["rows"]
        assert a[w]["sketch"] == b[w]["sketch"], w
    # source untouched; destination reopens from disk with the same pin
    assert len(hr.windows(spark).collect()) > 15
    reopened = SketchRollup(str(tmp_path / "day"), factory=_hll)
    assert reopened.grain == "day" and reopened.pin == hr.pin
    est, nrows = reopened.estimate(spark, lambda s: s.estimate())
    assert nrows == df.count()


def test_rollup_downsample_range_dims_and_refusals(spark, tmp_path):
    """[t0, t1) limits the fold to in-range source windows; dims carry
    over; non-nesting grains, finer grains, occupied destinations, and
    bad fan refuse loudly."""
    df = _events(spark, with_null=False).withColumn(
        "tool", F.concat(F.lit("t"), (F.col("event_id") % 3).cast("string"))
    )
    hr = SketchRollup(
        str(tmp_path / "hd"), factory=_hll, grain="hour", dims=["tool"]
    )
    hr.append(df, "ts", "user_id")
    t0, t1 = "2024-03-03", "2024-03-05"
    day = hr.downsample(spark, str(tmp_path / "dd"), "day", t0=t0, t1=t1)
    assert day.dims == ["tool"]
    got = day.windows(spark).collect()
    assert {r["wstart"][:10] for r in got} == {"2024-03-03", "2024-03-04"}
    exact = {
        (str(row["w"]), row["tool"]): row["n"]
        for row in df.where((F.col("ts") >= t0) & (F.col("ts") < t1))
        .groupBy(F.date_trunc("day", "ts").alias("w"), "tool")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {(r["wstart"], r["tool"]): r["rows"] for r in got} == exact
    wk = SketchRollup(str(tmp_path / "wk"), factory=_hll, grain="week")
    with pytest.raises(ValueError, match="straddle"):
        wk.downsample(spark, str(tmp_path / "x1"), "month")
    with pytest.raises(ValueError, match="straddle"):
        hr.downsample(spark, str(tmp_path / "x2"), "minute")  # finer
    with pytest.raises(ValueError, match="already holds"):
        hr.downsample(spark, str(tmp_path / "dd"), "day")
    with pytest.raises(ValueError, match="grain"):
        hr.downsample(spark, str(tmp_path / "x3"), "fortnight")
    with pytest.raises(ValueError, match="n_files"):
        hr.downsample(spark, str(tmp_path / "x4"), "day", n_files=0)


def test_rollup_expire_retention(spark, tmp_path):
    """expire(before) drops windows below the cutoff and keeps the rest
    byte-identical (it doubles as a compact); tags survive so a late
    replay of an expired batch still skips; post-expire appends work;
    the aging pair (downsample then expire) leaves history queryable at
    the coarse grain."""
    df = _events(spark, with_null=False)
    r = SketchRollup(str(tmp_path / "re"), factory=_hll, grain="day")
    r.append(df.where(F.col("event_id") % 2 == 0), "ts", "user_id", tag="b0")
    r.append(df.where(F.col("event_id") % 2 == 1), "ts", "user_id", tag="b1")
    before_rows = {x["wstart"]: x for x in r.windows(spark).collect()}
    coarse = r.downsample(spark, str(tmp_path / "hist"), "month")
    cutoff = "2024-03-08"
    n = r.expire(spark, cutoff)
    after = {x["wstart"]: x for x in r.windows(spark).collect()}
    assert n == len(after) == sum(1 for w in before_rows if w >= f"{cutoff} 00:00:00")
    for w, row in after.items():
        assert w >= f"{cutoff} 00:00:00"
        assert row["sketch"] == before_rows[w]["sketch"]
        assert row["rows"] == before_rows[w]["rows"]
    # tag replay still skips after expire (no re-admission)
    assert r.append(df.where(F.col("event_id") % 2 == 0), "ts", "user_id", tag="b0") == 0
    # the coarse rollup still answers history the fine one expired
    hist = {x["wstart"] for x in coarse.windows(spark).collect()}
    assert "2024-03-01 00:00:00" in hist
    # post-expire appends land normally
    extra = spark.createDataFrame(
        [(10**6, __import__("datetime").datetime(2024, 3, 20, 5, 0, 0), 7)],
        "event_id bigint, ts timestamp, user_id bigint",
    )
    assert r.append(extra, "ts", "user_id") == 1
    assert "2024-03-20 00:00:00" in {x["wstart"] for x in r.windows(spark).collect()}
    with pytest.raises(ValueError, match="n_files"):
        r.expire(spark, cutoff, n_files=0)
