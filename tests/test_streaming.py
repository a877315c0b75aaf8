"""Structured Streaming sketch accumulation tests: streamed build must
equal the batch build; restart resumes idempotently; per-key stateful
sketches track exact answers."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from sprout_spark.sketch import BloomFilter, HyperLogLog, sketch_from_bytes
from sprout_spark.spark.aggregate import build_sketch
from sprout_spark.streaming.accumulate import (
    StreamingSketchAccumulator,
    grouped_stream_sketches,
    stream_sketch,
)


@pytest.fixture(scope="module")
def stream_dir(spark, transcripts_path, tmp_path_factory):
    """Split the transcripts fixture into several files for a file stream."""
    base = str(tmp_path_factory.mktemp("stream") / "transcripts")
    df = spark.read.parquet(transcripts_path)
    df.repartition(6).write.parquet(base)
    return base


def test_stream_equals_batch(spark, transcripts_path, stream_dir, tmp_path):
    batch = spark.read.parquet(transcripts_path)
    n = batch.count()
    factory = lambda: BloomFilter(n + 10, 0.01)
    truth = build_sketch(batch, "conv_id", factory)

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(stream_dir)
    )
    q, acc = stream_sketch(
        stream,
        "conv_id",
        factory,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    assert q.awaitTermination(300), "stream did not finish"
    assert acc.sketch.count == n
    assert (acc.sketch.bits == truth.bits).all()  # streamed == batch, bitwise
    assert acc.last_epoch >= 1  # really ran multiple micro-batches


def test_stream_restart_is_idempotent(spark, transcripts_path, stream_dir, tmp_path):
    batch = spark.read.parquet(transcripts_path)
    n = batch.count()
    factory = lambda: BloomFilter(n + 10, 0.01)
    state = str(tmp_path / "state2")
    ckpt = str(tmp_path / "ckpt2")

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(stream_dir)
    )
    q, acc = stream_sketch(
        stream, "conv_id", factory, state, ckpt, trigger={"availableNow": True}
    )
    assert q.awaitTermination(300), "stream did not finish"
    first_bits = acc.sketch.bits.copy()
    first_count = acc.sketch.count

    # restart over the same checkpoint: no new data -> no change; and a
    # replayed epoch would be skipped by the epoch guard
    q2, acc2 = stream_sketch(
        stream, "conv_id", factory, state, ckpt, trigger={"availableNow": True}
    )
    assert q2.awaitTermination(300), "stream did not finish"
    assert acc2.sketch.count == first_count == n
    assert (acc2.sketch.bits == first_bits).all()


def test_epoch_guard_skips_replay(spark, transcripts_path, tmp_path):
    batch = spark.read.parquet(transcripts_path)
    n = batch.count()
    acc = StreamingSketchAccumulator(
        "conv_id", lambda: BloomFilter(n + 10, 0.01), str(tmp_path / "state3")
    )
    acc(batch, 0)
    count_after_first = acc.sketch.count
    acc(batch, 0)  # replay of epoch 0 must be a no-op
    assert acc.sketch.count == count_after_first == n
    acc(batch, 1)  # a new epoch merges
    assert acc.sketch.count == 2 * n
    # reload from disk picks up the persisted state
    acc2 = StreamingSketchAccumulator(
        "conv_id", lambda: BloomFilter(n + 10, 0.01), str(tmp_path / "state3")
    )
    assert acc2.last_epoch == 1 and acc2.sketch.count == 2 * n


def test_grouped_stream_sketches(spark, transcripts_path, stream_dir, tmp_path):
    batch = spark.read.parquet(transcripts_path)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "3")
        .parquet(stream_dir)
    )
    out = grouped_stream_sketches(
        stream.where(F.col("tool") != ""),
        "tool",
        "conv_id",
        lambda: HyperLogLog(p=12),
        lambda s: s.estimate(),
    )
    q = (
        out.writeStream.format("memory")
        .queryName("tool_distinct")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt4"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish"
    res = spark.sql(
        "SELECT key, max(rows) AS rows, last(estimate) AS est "
        "FROM tool_distinct GROUP BY key"
    ).collect()
    exact_rows = {
        r["tool"]: r["cnt"]
        for r in batch.where(F.col("tool") != "")
        .groupBy("tool")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    exact_distinct = {
        r["tool"]: r["d"]
        for r in batch.where(F.col("tool") != "")
        .groupBy("tool")
        .agg(F.countDistinct("conv_id").alias("d"))
        .collect()
    }
    got_rows = {r["key"]: r["rows"] for r in res}
    assert got_rows == exact_rows  # every row reached exactly one state
    for tool, d in exact_distinct.items():
        est = [r["est"] for r in res if r["key"] == tool][0]
        assert abs(est - d) / max(d, 1) <= max(3 * 1.04 / (1 << 6), 0.1)


def test_stream_novelty_filter_exact(spark, transcripts_path, stream_dir, tmp_path):
    """Streaming bloom-gated dedup: accumulated novel keys == the exact
    distinct key set, across micro-batches with heavy cross-batch
    repetition (every conv_id repeats across turns and files)."""
    from sprout_spark.streaming.novelty import stream_novelty_filter

    batch = spark.read.parquet(transcripts_path)
    exact = {r["conv_id"] for r in batch.select("conv_id").distinct().collect()}
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(stream_dir)
    )
    q, flt = stream_novelty_filter(
        stream,
        "conv_id",
        lambda: BloomFilter(len(exact) + 10, 0.01),
        state_dir=str(tmp_path / "nstate"),
        checkpoint_dir=str(tmp_path / "nckpt"),
        trigger={"availableNow": True},
    )
    assert q.awaitTermination(300), "stream did not finish"
    got = [r["conv_id"] for r in flt.novel_keys(spark).collect()]
    assert len(got) == len(set(got))  # each key novel exactly once
    assert set(got) == exact


def test_stream_novelty_filter_restart(spark, transcripts_path, stream_dir, tmp_path):
    """Restart over the same checkpoint: replays are idempotent — no key
    is emitted twice, and the key set stays exact."""
    from sprout_spark.streaming.novelty import stream_novelty_filter

    batch = spark.read.parquet(transcripts_path)
    exact = {r["conv_id"] for r in batch.select("conv_id").distinct().collect()}
    state, ckpt = str(tmp_path / "rstate"), str(tmp_path / "rckpt")

    def run():
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", "2")
            .parquet(stream_dir)
        )
        q, flt = stream_novelty_filter(
            stream,
            "conv_id",
            lambda: BloomFilter(len(exact) + 10, 0.01),
            state_dir=state,
            checkpoint_dir=ckpt,
            trigger={"availableNow": True},
        )
        assert q.awaitTermination(300), "stream did not finish"
        return flt

    flt1 = run()
    flt2 = run()  # nothing new to read; replayed epochs must be no-ops
    got = [r["conv_id"] for r in flt2.novel_keys(spark).collect()]
    assert len(got) == len(set(got))
    assert set(got) == exact
    assert flt2.last_epoch == flt1.last_epoch


def test_novelty_compact_preserves_keys_and_resumes(
    spark, transcripts_path, stream_dir, tmp_path
):
    """Offline compaction folds per-epoch dirs into one without changing
    the key set, and a restarted stream keeps deduping against it."""
    import os

    from sprout_spark.streaming.novelty import stream_novelty_filter

    batch = spark.read.parquet(transcripts_path)
    exact = {r["conv_id"] for r in batch.select("conv_id").distinct().collect()}
    state, ckpt = str(tmp_path / "cstate"), str(tmp_path / "cckpt")

    def run():
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", "2")
            .parquet(stream_dir)
        )
        q, flt = stream_novelty_filter(
            stream,
            "conv_id",
            lambda: BloomFilter(len(exact) + 10, 0.01),
            state_dir=state,
            checkpoint_dir=ckpt,
            trigger={"availableNow": True},
        )
        assert q.awaitTermination(300), "stream did not finish"
        return flt

    flt = run()
    n_dirs_before = len(os.listdir(os.path.join(state, "seen")))
    assert n_dirs_before > 1  # several epochs landed
    n = flt.compact(spark, n_files=2)
    assert n == len(exact)
    entries = os.listdir(os.path.join(state, "seen"))
    assert not [d for d in entries if d.startswith("epoch=")]  # all folded
    assert "manifest.json" in entries  # the compaction commit point
    got = {r["conv_id"] for r in flt.novel_keys(spark).collect()}
    assert got == exact
    # restart after compaction: still nothing new, nothing duplicated
    flt2 = run()
    rows = [r["conv_id"] for r in flt2.novel_keys(spark).collect()]
    assert len(rows) == len(set(rows)) and set(rows) == exact


def test_novelty_replay_after_partial_commit_keeps_fp_keys(
    spark, transcripts_path, tmp_path
):
    """Crash-window regression: an epoch dir written WITHOUT its _save
    commit must be invisible to the anti-join when the epoch replays —
    otherwise bloom-false-positive novel keys from that batch are lost.
    Simulated by writing a stale epoch dir beyond the watermark."""
    import os

    from sprout_spark.streaming.novelty import StreamingNoveltyFilter

    batch = spark.read.parquet(transcripts_path)
    n = batch.select("conv_id").distinct().count()
    flt = StreamingNoveltyFilter(
        "conv_id", lambda: BloomFilter(n + 10, 0.01), str(tmp_path / "pstate")
    )
    half = batch.limit(batch.count() // 2)
    flt(half, 0)  # committed epoch 0
    committed = {r["conv_id"] for r in flt.novel_keys(spark).collect()}

    # simulate the crash: epoch=1's parquet landed but _save(1) never ran
    stale = batch.select("conv_id").distinct()
    stale.write.mode("overwrite").parquet(
        os.path.join(str(tmp_path / "pstate"), "seen", "epoch=1")
    )
    assert flt.last_epoch == 0
    # the stale dir must NOT count as seen
    visible = {r["conv_id"] for r in flt.novel_keys(spark).collect()}
    assert visible == committed
    # replaying epoch 1 with the full batch recovers every remaining key
    flt(batch, 1)
    got = [r["conv_id"] for r in flt.novel_keys(spark).collect()]
    assert len(got) == len(set(got)) == n


def test_novelty_seen_store_bucketed_and_anti_join_pruned(
    spark, transcripts_path, tmp_path
):
    """The scale contract for the seen store: epoch dirs are hash-bucketed
    (bucket=K partition dirs on disk), and a batch's exact anti-join reads
    ONLY the bucket directories its suspects hash into — runtime-verified
    via input_file_name over the pruned read, plus a PartitionFilters
    assertion on the plan."""
    import os

    from pyspark.sql import functions as F

    from sprout_spark.plans.explain import formatted_plan
    from sprout_spark.streaming.novelty import StreamingNoveltyFilter

    batch = spark.read.parquet(transcripts_path)
    n = batch.select("conv_id").distinct().count()
    state = str(tmp_path / "bstate")
    flt = StreamingNoveltyFilter(
        "conv_id", lambda: BloomFilter(n + 10, 0.01), state, n_buckets=8
    )
    flt(batch, 0)  # epoch 0 commits the full key set, bucketed

    # on-disk layout: hive-style bucket dirs inside the epoch dir
    epoch_dir = os.path.join(state, "seen", "epoch=0")
    bucket_dirs = [d for d in os.listdir(epoch_dir) if d.startswith("bucket=")]
    assert len(bucket_dirs) > 1  # really partitioned, not one blob

    # a suspects slice hitting a strict subset of buckets
    some = batch.select("conv_id").distinct().limit(5)
    hit = sorted(
        r["b"]
        for r in some.select(
            F.pmod(F.xxhash64("conv_id"), F.lit(8)).cast("int").alias("b")
        )
        .distinct()
        .collect()
    )
    assert len(hit) < len(bucket_dirs)
    pruned = flt._store.read(spark, flt.last_epoch, buckets=hit)
    # plan-level: the bucket filter reaches the scan as a partition filter
    assert "PartitionFilters" in formatted_plan(pruned)
    # runtime-level: only matching bucket dirs are ever read
    files = [
        r["f"]
        for r in pruned.select(F.input_file_name().alias("f")).distinct().collect()
    ]
    assert files  # the pruned read does return data
    for f in files:
        assert any(f"bucket={b}/" in f for b in hit), f
    # and the pruned slice still answers the anti-join exactly
    got = {r["conv_id"] for r in some.join(pruned, "conv_id", "left_anti").collect()}
    assert got == set()  # all 5 keys are seen -> all filtered


def test_novelty_n_buckets_pinned(spark, transcripts_path, tmp_path):
    """Restarting a seen store with a different n_buckets must fail loud:
    pruning against the wrong layout would silently re-admit seen keys."""
    from sprout_spark.streaming.novelty import StreamingNoveltyFilter

    state = str(tmp_path / "pinstate")
    StreamingNoveltyFilter("conv_id", lambda: BloomFilter(100, 0.01), state)
    with pytest.raises(ValueError, match="n_buckets"):
        StreamingNoveltyFilter(
            "conv_id", lambda: BloomFilter(100, 0.01), state, n_buckets=16
        )


def test_stream_novelty_filter_sbf_growth_and_restart(
    spark, transcripts_path, stream_dir, tmp_path
):
    """The unbounded-stream sizing story the docstring advertises: run the
    novelty filter with a ScalableBloomFilter factory sized far below the
    stream's distinct count, forcing capacity growth across epochs; the
    key set stays exact and a restart over the same checkpoint is a
    no-op (growth state survives via the sketch wire format).

    VERDICT r4 #2: epochs now FOLD one schedule-ε stage each instead of
    stage-merging fresh SBF partials, so no stage ever overloads (no
    warning) and the gate's compound configured FPR stays ≤ the
    configured ε for a strict SBF across arbitrarily many epochs."""
    import warnings

    from sprout_spark.sketch import ScalableBloomFilter
    from sprout_spark.streaming.novelty import stream_novelty_filter

    batch = spark.read.parquet(transcripts_path)
    exact = {r["conv_id"] for r in batch.select("conv_id").distinct().collect()}
    state, ckpt = str(tmp_path / "sbfstate"), str(tmp_path / "sbfckpt")
    err = 0.01

    def run():
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", "2")
            .parquet(stream_dir)
        )
        q, flt = stream_novelty_filter(
            stream,
            "conv_id",
            # initial capacity far below the ~1000 distinct conv_ids:
            # the SBF must grow stages across micro-batches; strict=True
            # pre-scales ε₀ so the COMPOUND FPR stays under err
            lambda: ScalableBloomFilter(
                initial_capacity=64, err_rate=err, strict=True
            ),
            state_dir=state,
            checkpoint_dir=ckpt,
            trigger={"availableNow": True},
            n_buckets=8,
        )
        assert q.awaitTermination(300), "stream did not finish"
        return flt

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any stage-overload warning fails
        flt1 = run()
    assert len(flt1.sketch.stages) > 1  # growth actually happened
    # the gate's compound configured FPR holds across all epochs, and no
    # stage was pushed past its sized capacity
    assert flt1.sketch.prob() <= err + 1e-12
    assert all(st.count <= st.capacity for st in flt1.sketch.stages)
    assert flt1.sketch.prob_observed() <= err + 1e-12
    got = [r["conv_id"] for r in flt1.novel_keys(spark).collect()]
    assert len(got) == len(set(got))
    assert set(got) == exact
    flt2 = run()  # restart: replays must be no-ops, growth state intact
    rows = [r["conv_id"] for r in flt2.novel_keys(spark).collect()]
    assert len(rows) == len(set(rows)) and set(rows) == exact
    assert flt2.last_epoch == flt1.last_epoch
    assert len(flt2.sketch.stages) == len(flt1.sketch.stages)


def test_windowed_stream_sketches_match_batch_windows(
    spark, transcripts_path, stream_dir, tmp_path
):
    """Event-time windowed HLL over a file stream: per-window estimates
    must match the exact per-window distinct counts within the HLL
    bound, windows must cover exactly the batch window set, and rows
    must partition exactly (every row in exactly one tumbling window)."""
    from sprout_spark.sketch import HyperLogLog
    from sprout_spark.streaming.accumulate import windowed_stream_sketches

    batch = spark.read.parquet(transcripts_path)
    exact = {
        str(r["w"]["start"]): (r["d"], r["n"])
        for r in batch.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.countDistinct("conv_id").alias("d"), F.count("*").alias("n")
        )
        .collect()
    }
    assert len(exact) > 1  # the fixture really spans several windows

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(stream_dir)
    )
    # generous lateness bound: files replay in arbitrary order, and this
    # test checks exact window ASSIGNMENT (no row discarded, every row in
    # exactly one window); the eviction/too-late path has its own test
    out = windowed_stream_sketches(
        stream,
        "ts",
        "conv_id",
        lambda: HyperLogLog(p=12),
        lambda s: s.estimate(),
        window_duration="1 hour",
        watermark_delay="90 days",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("winsk")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish"
    # update mode re-emits a window each time it changes: keep the LAST
    # emission per window (rows is monotone within a window's updates)
    rows = spark.sql("SELECT * FROM winsk").collect()
    final = {}
    for r in rows:
        if r["key"] not in final or r["rows"] >= final[r["key"]][1]:
            final[r["key"]] = (r["estimate"], r["rows"])
    assert set(final) == set(exact)
    for w, (d, n) in exact.items():
        est, nrows = final[w]
        assert nrows == n, w  # every row reached exactly one window
        assert abs(est - d) / max(d, 1) <= max(3 * 1.04 / (1 << 6), 0.1), w


def test_windowed_stream_sketches_fold_late_data(spark, tmp_path):
    """A late row arriving within the watermark folds into its window:
    the final registers equal the batch build over the COMPLETE window
    (mergeability makes late data exactly safe, not approximately)."""
    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from sprout_spark.sketch import HyperLogLog
    from sprout_spark.streaming.accumulate import windowed_stream_sketches

    import datetime as dt

    schema = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("k", StringType()),
        ]
    )
    t0 = dt.datetime(2026, 1, 1, 10, 0, 0)
    on_time = [(t0 + dt.timedelta(minutes=m), f"k{m}") for m in range(0, 50, 5)]
    late = [(t0 + dt.timedelta(minutes=2), "late-key")]
    src = str(tmp_path / "latesrc")
    # file 1: on-time rows; file 2: a row 48 minutes late but within the
    # 2-hour watermark -> must still land in the 10:00 window
    spark.createDataFrame(on_time, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src + "/f1")
    spark.createDataFrame(late, schema).coalesce(1).write.parquet(src + "/f2")
    allrows = spark.createDataFrame(on_time + late, schema)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    out = windowed_stream_sketches(
        stream,
        "ts",
        "k",
        lambda: HyperLogLog(p=10),
        lambda s: s.estimate(),
        window_duration="1 hour",
        watermark_delay="2 hours",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("latewin")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "lateckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish"
    rows = spark.sql("SELECT * FROM latewin").collect()
    final = {}
    for r in rows:
        if r["key"] not in final or r["rows"] >= final[r["key"]][1]:
            final[r["key"]] = (r["estimate"], r["rows"])
    wkey = str(t0.replace(minute=0))
    assert wkey in final
    est, n = final[wkey]
    assert n == len(on_time) + 1  # the late row folded in
    exact = allrows.select("k").distinct().count()
    assert abs(est - exact) / exact <= 0.2


def test_windowed_stream_sketches_evict_after_watermark(spark, tmp_path):
    """Bounded state on unbounded streams: once the watermark passes a
    window's end + delay, the window emits a final row and its state is
    evicted (EventTimeTimeout) — the un-finalized last window proves
    finality comes from the watermark, not stream end."""
    import datetime as dt

    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from sprout_spark.sketch import HyperLogLog
    from sprout_spark.streaming.accumulate import windowed_stream_sketches

    schema = StructType(
        [StructField("ts", TimestampType()), StructField("k", StringType())]
    )
    t0 = dt.datetime(2026, 1, 1, 10, 0, 0)
    early = [(t0 + dt.timedelta(minutes=m), f"e{m}") for m in (0, 10, 20)]
    late_batch = [(dt.datetime(2026, 1, 1, 13, 0, 0), "x")]
    src = str(tmp_path / "evsrc")
    spark.createDataFrame(early, schema).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(late_batch, schema).coalesce(1).write.parquet(
        src + "/f2"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    out = windowed_stream_sketches(
        stream, "ts", "k",
        lambda: HyperLogLog(p=10), lambda s: s.estimate(),
        window_duration="1 hour", watermark_delay="10 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("evwin")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "evckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish"
    rows = spark.sql("SELECT * FROM evwin").collect()
    w10 = [r for r in rows if r["key"] == str(t0)]
    w13 = [r for r in rows if r["key"] == "2026-01-01 13:00:00"]
    # the 10:00 window was finalized by the 13:00 batch's watermark
    finals = [r for r in w10 if r["final"]]
    assert len(finals) == 1
    assert finals[0]["rows"] == 3
    assert abs(finals[0]["estimate"] - 3) <= 0.5
    # the last window never finalizes (stream just ends) — update only
    assert w13 and all(not r["final"] for r in w13)


def test_novelty_refuses_legacy_unbucketed_store(spark, transcripts_path, tmp_path):
    """review r4: a pre-bucketing seen store (flat epoch dirs, no
    buckets.json) must fail loud on restart — reading it through the
    bucketed schema would re-admit every seen key as novel."""
    import os

    from sprout_spark.streaming.novelty import StreamingNoveltyFilter

    state = str(tmp_path / "legacy")
    seen = os.path.join(state, "seen")
    os.makedirs(seen)
    batch = spark.read.parquet(transcripts_path)
    batch.select("conv_id").distinct().write.parquet(
        os.path.join(seen, "epoch=0")
    )
    with pytest.raises(ValueError, match="legacy"):
        StreamingNoveltyFilter(
            "conv_id", lambda: BloomFilter(100, 0.01), state
        )
