"""Distributed E2E tests (SURVEY.md §5.2 item 5): build at several
parallelism levels → identical sketches; probe recall/FPR through Spark;
grouped + salted builds."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from sprout_spark.sketch import (
    KLL,
    BloomFilter,
    BottomKSample,
    CountMinSketch,
    HyperLogLog,
    ScalableBloomFilter,
    TDigest,
    sketch_from_bytes,
)
from sprout_spark.spark.aggregate import (
    build_grouped_sketches,
    build_sketch,
    grouped_estimate,
    partial_sketches,
    tree_merge,
)
from sprout_spark.spark.probe import bloom_semi_join, cms_estimate, might_contain


@pytest.fixture(scope="module")
def transcripts(spark, transcripts_path):
    return spark.read.parquet(transcripts_path)


def test_bloom_build_parallelism_invariant(spark, transcripts):
    """Merged bloom bitset must be identical at 2, 8, 32 partitions."""
    n = transcripts.count()
    bitsets = []
    for parts in (2, 8, 32):
        df = transcripts.repartition(parts)
        bf = build_sketch(df, "conv_id", lambda: BloomFilter(n + 10, 0.001), fanin=4)
        assert isinstance(bf, BloomFilter)
        assert bf.count == n
        bitsets.append(bf.bits)
    assert (bitsets[0] == bitsets[1]).all()
    assert (bitsets[1] == bitsets[2]).all()


def test_bloom_probe_recall_and_fpr(spark, transcripts):
    n = transcripts.count()
    bf = build_sketch(transcripts, "conv_id", lambda: BloomFilter(n + 10, 0.01))
    # recall: every stored conv_id probes true
    probed = transcripts.select(
        might_contain(spark, bf, F.col("conv_id")).alias("seen")
    )
    assert probed.where(~F.col("seen")).count() == 0
    # FPR: absent ids probe mostly false
    absent = spark.range(20000).select(
        F.concat(F.lit("absent-"), F.col("id")).alias("conv_id")
    )
    fp = absent.where(might_contain(spark, bf, F.col("conv_id"))).count()
    assert fp / 20000 <= 0.01 + 1.96 * math.sqrt(0.01 * 0.99 / 20000)


def test_sbf_distributed_build(spark, transcripts):
    sbf = build_sketch(
        transcripts.repartition(8),
        "conv_id",
        lambda: ScalableBloomFilter(
            500, 0.01 / 8, merge_mode="concat", strict=True
        ),
        fanin=4,
    )
    assert isinstance(sbf, ScalableBloomFilter)
    assert sbf.count() == transcripts.count()
    stored = [r["conv_id"] for r in transcripts.select("conv_id").distinct().collect()]
    assert sbf.contains_values(stored).all()
    assert sbf.prob() <= 0.01


def test_hll_distributed_matches_exact(spark, transcripts):
    hll = build_sketch(
        transcripts.repartition(16), "conv_id", lambda: HyperLogLog(p=14), fanin=4
    )
    exact = transcripts.select("conv_id").distinct().count()
    assert abs(hll.estimate() - exact) / exact <= 3 * 1.04 / math.sqrt(1 << 14)
    # parallelism invariance of registers
    hll2 = build_sketch(transcripts.repartition(3), "conv_id", lambda: HyperLogLog(p=14))
    assert (hll.registers == hll2.registers).all()


def test_cms_distributed_bounds(spark, transcripts):
    tool_rows = transcripts.where(F.col("tool") != "")
    cms = build_sketch(tool_rows.repartition(8), "tool", lambda: CountMinSketch(0.001, 0.01))
    exact = dict(
        (r["tool"], r["cnt"])
        for r in tool_rows.groupBy("tool").agg(F.count("*").alias("cnt")).collect()
    )
    n = sum(exact.values())
    assert cms.total == n
    for tool, cnt in exact.items():
        est = cms.estimate(tool)
        assert cnt <= est <= cnt + cms.eps * n
    # probe column form
    est_col = tool_rows.select(
        "tool", cms_estimate(spark, cms, F.col("tool")).alias("est")
    ).distinct()
    for r in est_col.collect():
        assert r["est"] >= exact[r["tool"]]


def test_quantile_sketches_distributed(spark, transcripts):
    lens = transcripts.select(F.length("text").cast("double").alias("len"))
    exact = np.array([r["len"] for r in lens.collect()])
    s = np.sort(exact)

    td = build_sketch(lens.repartition(8), "len", lambda: TDigest(200), fanin=4)
    kll = build_sketch(lens.repartition(8), "len", lambda: KLL(200), fanin=4)
    assert td.count == len(exact) and kll.n == len(exact)
    for q in [0.05, 0.5, 0.95]:
        for est in (td.quantile(q), kll.quantile(q)):
            rank = np.searchsorted(s, est, side="right") / len(s)
            assert abs(rank - q) <= 0.03, (q, est)


def test_tree_merge_multilevel(spark, transcripts):
    # fanin=2 over 32 partitions → 5 merge levels
    df = transcripts.repartition(32)
    n = transcripts.count()
    partials = partial_sketches(df, "conv_id", lambda: BloomFilter(n + 10, 0.01))
    merged = tree_merge(partials, 32, fanin=2)
    rows = merged.collect()
    assert len(rows) == 1
    bf = sketch_from_bytes(rows[0]["sketch"])
    assert bf.count == n
    assert rows[0]["rows"] == n


def test_bloom_semi_join_exact(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n_orders = orders.count()
    bf = build_sketch(orders, "o_custkey", lambda: BloomFilter(n_orders + 10, 0.01))
    got = bloom_semi_join(spark, customer, "c_custkey", orders, "o_custkey", bf)
    exact = customer.join(
        orders, customer["c_custkey"] == orders["o_custkey"], "left_semi"
    )
    assert sorted(r["c_custkey"] for r in got.select("c_custkey").collect()) == sorted(
        r["c_custkey"] for r in exact.select("c_custkey").collect()
    )


def test_grouped_salted_sketches(spark, transcripts):
    # per-tool HLL of distinct conv_ids, salted 8 ways; salting must not
    # change results (mergeability makes it exact)
    tool_rows = transcripts.where(F.col("tool") != "")
    plain = build_grouped_sketches(
        tool_rows, "tool", "conv_id", lambda: HyperLogLog(p=12), salt=0
    )
    salted = build_grouped_sketches(
        tool_rows, "tool", "conv_id", lambda: HyperLogLog(p=12), salt=8
    )
    e1 = {
        r["key"]: r["estimate"]
        for r in grouped_estimate(plain, lambda s: s.estimate()).collect()
    }
    e2 = {
        r["key"]: r["estimate"]
        for r in grouped_estimate(salted, lambda s: s.estimate()).collect()
    }
    assert e1 == e2
    exact = {
        r["tool"]: r["cnt"]
        for r in tool_rows.groupBy("tool")
        .agg(F.countDistinct("conv_id").alias("cnt"))
        .collect()
    }
    for tool, cnt in exact.items():
        assert abs(e1[tool] - cnt) / max(cnt, 1) <= max(
            3 * 1.04 / math.sqrt(1 << 12), 0.05
        )


def test_grouped_quantile_sketches(spark, transcripts):
    lens = transcripts.select("role", F.length("text").cast("double").alias("len"))
    g = build_grouped_sketches(lens, "role", "len", lambda: TDigest(100), salt=4)
    med = {
        r["key"]: r["estimate"]
        for r in grouped_estimate(g, lambda s: s.quantile(0.5)).collect()
    }
    exact = {
        r["role"]: r["m"]
        for r in lens.groupBy("role")
        .agg(F.expr("percentile(len, 0.5)").alias("m"))
        .collect()
    }
    for role in exact:
        lo, hi = (
            lens.where(F.col("role") == role)
            .agg(
                F.expr("percentile(len, 0.45)").alias("lo"),
                F.expr("percentile(len, 0.55)").alias("hi"),
            )
            .collect()[0]
        )
        assert lo <= med[role] <= hi, role


def test_bottomk_distributed_parallelism_invariant(spark, transcripts):
    from sprout_spark.sketch import BottomKSample

    samples = []
    for parts in (2, 32):
        s = build_sketch(
            transcripts.repartition(parts),
            "conv_id",
            lambda: BottomKSample(k=128),
            fanin=4,
        )
        samples.append(s.sample())
    assert samples[0] == samples[1]  # same sample at any parallelism
    assert len(samples[0]) == 128
    stored = {
        r["conv_id"].encode()
        for r in transcripts.select("conv_id").distinct().collect()
    }
    assert all(b in stored for b in samples[0])


def test_tree_merge_many_partitions_shape(spark):
    """256 partials through a fanin-8 tree (3 levels) — the shape a
    1000-executor job takes, with tiny sketches to keep it fast."""
    from sprout_spark.sketch import HyperLogLog

    df = spark.range(0, 100_000, 1, 256).select(
        F.concat(F.lit("k"), F.col("id")).alias("k")
    )
    hll = build_sketch(df, "k", lambda: HyperLogLog(p=12), fanin=8)
    assert hll.count == 100_000
    import math
    assert abs(hll.estimate() - 100_000) / 100_000 <= 3 * 1.04 / math.sqrt(1 << 12)


def test_quantile_rank_probe_column(spark, transcripts):
    from sprout_spark.spark.probe import quantile_rank

    lens = transcripts.select(F.length("text").cast("double").alias("len"))
    td = build_sketch(lens, "len", lambda: TDigest(200))
    ranked = lens.withColumn("r", quantile_rank(spark, td, F.col("len")))
    rows = ranked.collect()
    exact = np.sort(np.array([r["len"] for r in rows]))
    n = len(exact)
    for r in rows[:200]:
        true_rank = np.searchsorted(exact, r["len"], side="right") / n
        lo_rank = np.searchsorted(exact, r["len"], side="left") / n
        assert lo_rank - 0.02 <= r["r"] <= true_rank + 0.02
    # KLL path of the same probe
    kll = build_sketch(lens, "len", lambda: KLL(200))
    ranked2 = lens.withColumn("r", quantile_rank(spark, kll, F.col("len"))).collect()
    for r in ranked2[:50]:
        true_rank = np.searchsorted(exact, r["len"], side="right") / n
        lo_rank = np.searchsorted(exact, r["len"], side="left") / n
        assert lo_rank - 0.03 <= r["r"] <= true_rank + 0.03


def test_probe_int_column_with_nulls_no_false_negatives(spark):
    """Regression: int64 key column containing NULLs must not corrupt the
    canonical key encoding on the probe side (pandas would widen to
    float64; the Arrow-native probe must not)."""
    df = spark.createDataFrame([(i,) for i in range(1000)], "user_id bigint")
    bf = build_sketch(df, "user_id", lambda: BloomFilter(2000, 0.01))
    probe_df = spark.createDataFrame(
        [(1,), (2,), (None,), (999,), (555,)], "user_id bigint"
    )
    got = {
        (r["user_id"], r["seen"])
        for r in probe_df.select(
            "user_id", might_contain(spark, bf, F.col("user_id")).alias("seen")
        ).collect()
    }
    assert (1, True) in got and (2, True) in got
    assert (999, True) in got and (555, True) in got
    # the NULL probes as the canonical empty key, never inserted -> False
    # (w.h.p.; geometry makes a false positive on one key ~eps)
    null_row = [s for u, s in got if u is None]
    assert null_row == [False]


def test_build_with_null_keys_consistent(spark):
    """NULL keys hash as the empty key on both build and probe sides."""
    df = spark.createDataFrame(
        [("a",), (None,), ("b",)], "k string"
    )
    bf = build_sketch(df, "k", lambda: BloomFilter(100, 0.01))
    assert bf.count == 3
    assert bf.contains("a") and bf.contains("b") and bf.contains("")
    dfi = spark.createDataFrame([(7,), (None,)], "k bigint")
    bfi = build_sketch(dfi, "k", lambda: BloomFilter(100, 0.01))
    assert bfi.contains(7) and bfi.contains("")


def test_register_sql_probe(spark, transcripts):
    from sprout_spark.spark.probe import register_sql_probe

    n = transcripts.count()
    bf = build_sketch(transcripts, "conv_id", lambda: BloomFilter(n + 10, 0.01))
    register_sql_probe(spark, "seen_conv", bf)
    transcripts.createOrReplaceTempView("transcripts_v")
    hits = spark.sql(
        "SELECT count(*) AS c FROM transcripts_v WHERE seen_conv(conv_id)"
    ).collect()[0]["c"]
    assert hits == n  # full recall through the SQL surface
    misses = spark.sql(
        "SELECT count(*) AS c FROM (SELECT concat('nope-', id) AS k "
        "FROM range(10000)) WHERE seen_conv(k)"
    ).collect()[0]["c"]
    assert misses / 10000 <= 0.02


def test_oversized_bloom_partials_warn():
    """P x full-width-filter merge volume past ~1 GiB must steer the
    caller to the population-sized paths (VERDICT r1 scale audit #2).
    Unit-level: actually running such a build would need ~16 GiB of
    shuffle — the warning exists precisely so nobody does that."""
    import warnings

    from sprout_spark.sketch import BloomFilter, HyperLogLog
    from sprout_spark.spark.aggregate import _warn_if_partials_oversized

    big = lambda: BloomFilter(600_000_000, 0.001, enforce_capacity=False)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        _warn_if_partials_oversized(big, 16)
        assert any("build_sharded_bloom" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        _warn_if_partials_oversized(lambda: BloomFilter(10_000, 0.01), 64)
        _warn_if_partials_oversized(lambda: HyperLogLog(p=12), 100_000)
        assert not w


def test_grouped_sketches_integer_group_key(spark):
    """ADVICE r2: a non-string group key must not blow up inside the
    applyInArrow kernel (the key is cast to string before grouping; the
    kernel then emits it as a string cell)."""
    from sprout_spark.sketch import HyperLogLog
    from sprout_spark.spark.aggregate import build_grouped_sketches, grouped_estimate

    df = spark.range(0, 5_000).select(
        (F.col("id") % 4).alias("g"), (F.col("id") % 700).alias("v")
    )
    for salt in (0, 4):  # both the plain and the salted two-phase path
        g = build_grouped_sketches(df, "g", "v", lambda: HyperLogLog(p=12), salt=salt)
        est = {
            r["key"]: r["estimate"]
            for r in grouped_estimate(g, lambda s: s.estimate()).collect()
        }
        assert set(est) == {"0", "1", "2", "3"}
        exact = {
            str(r["g"]): r["d"]
            for r in df.groupBy("g").agg(F.countDistinct("v").alias("d")).collect()
        }
        for k, e in est.items():
            assert abs(e - exact[k]) / exact[k] <= 0.05


def test_register_sketch_sql_all_probe_kinds(spark, transcripts):
    """The full SQL surface: one prefix registers membership, frequency,
    and rank functions, each matching its DataFrame-API twin."""
    import numpy as np

    from sprout_spark.sketch import CountMinSketch, TDigest
    from sprout_spark.spark.sql import register_sketch_sql

    n = transcripts.count()
    bf = build_sketch(transcripts, "conv_id", lambda: BloomFilter(n + 10, 0.01))
    assert register_sketch_sql(spark, "s", bf) == ["s_might_contain"]
    cms = build_sketch(
        transcripts, "role", lambda: CountMinSketch(eps=0.001, delta=1e-4)
    )
    assert register_sketch_sql(spark, "r", cms) == ["r_cms_estimate"]
    td = build_sketch(transcripts, "turn_idx", lambda: TDigest())
    assert register_sketch_sql(spark, "t", td) == ["t_quantile_rank"]

    transcripts.createOrReplaceTempView("tsql")
    got = spark.sql(
        "SELECT count(*) AS hits, min(r_cms_estimate(role)) AS min_freq, "
        "avg(t_quantile_rank(turn_idx)) AS mid "
        "FROM tsql WHERE s_might_contain(conv_id)"
    ).collect()[0]
    assert got["hits"] == n  # membership: full recall
    true_min = transcripts.groupBy("role").count().agg(
        F.min("count")
    ).collect()[0][0]
    assert got["min_freq"] >= true_min  # CMS never undercounts
    assert 0.3 <= got["mid"] <= 0.7  # average rank fraction near the middle
    with pytest.raises(ValueError, match="no Arrow probe kernel"):
        from sprout_spark.sketch import HyperLogLog

        register_sketch_sql(spark, "h", HyperLogLog(p=8))


def test_build_sketches_timestamp_column_matches_single(spark, transcripts):
    """Regression: the multi-sketch packed fast-path must route timestamp
    columns through the same int64 cast as build_sketch (pack_arrow
    rejects timestamps; this crashed in every executor)."""
    from sprout_spark.sketch import HyperLogLog
    from sprout_spark.spark.aggregate import build_sketches

    multi = build_sketches(
        spark.read.parquet(transcripts_path_of(transcripts)),
        {"ts_distinct": ("ts", lambda: HyperLogLog(p=12))},
    )["ts_distinct"]
    single = build_sketch(
        spark.read.parquet(transcripts_path_of(transcripts)),
        "ts",
        lambda: HyperLogLog(p=12),
    )
    assert (multi.registers == single.registers).all()


def transcripts_path_of(transcripts):
    # module fixture exposes the DataFrame; reuse its source path
    return transcripts.inputFiles()[0].rsplit("/", 1)[0]


_FAMILIES = {
    "bloom": lambda: BloomFilter(200_000, 0.01),
    "hll": lambda: HyperLogLog(p=12),
    "cms": lambda: CountMinSketch(0.001, 0.01),
    "bottomk": lambda: BottomKSample(k=128),
}


def _entry_point_build(entry, df, factory, spark, tmp_path):
    from sprout_spark.sketch import merge_serialized
    from sprout_spark.spark.aggregate import build_sketches, build_weighted_sketch
    from sprout_spark.spark.checkpoint import build_sketch_resumable
    from sprout_spark.spark.sharded import build_sharded_sketch

    if entry == "build_sketch":
        return build_sketch(df, "conv_id", factory, fanin=4)
    if entry == "build_sketches":
        return build_sketches(df, {"s": ("conv_id", factory)}, fanin=4)["s"]
    if entry == "build_weighted_sketch":
        unit = df.withColumn("w", F.lit(1))
        return build_weighted_sketch(unit, "conv_id", "w", factory, fanin=4)
    if entry == "build_sketch_resumable":
        return build_sketch_resumable(
            df, "conv_id", factory, str(tmp_path / "ckpt"), spark, fanin=4
        )
    shards = build_sharded_sketch(df, "conv_id", 4, factory, salt=2)
    rows = shards.collect()
    assert len(rows) == 4  # one merged row per shard
    return sketch_from_bytes(merge_serialized([r["sketch"] for r in rows]))


@pytest.mark.parametrize("parts", [2, 8])
@pytest.mark.parametrize(
    "entry,family",
    [
        (entry, family)
        for entry in (
            "build_sketch",
            "build_sketches",
            "build_weighted_sketch",
            "build_sketch_resumable",
            "build_sharded_sketch",
        )
        for family in sorted(_FAMILIES)
        # the weighted build takes only sketches with a weighted update
        # (CMS here; test_build_weighted_sketch_rejects_unweightable)
        if entry != "build_weighted_sketch" or family == "cms"
    ],
)
def test_entry_points_byte_equal_driver_build(
    spark, transcripts, tmp_path, entry, family, parts
):
    """Every build entry point shares one partial emitter, merge kernel
    and driver fold, so each must give the payload bytes of a driver-side
    ``factory(); update_arrow(whole column)`` build at any parallelism."""
    factory = _FAMILIES[family]
    expect = factory()
    expect.update_arrow(
        transcripts.select("conv_id").toArrow().column(0).combine_chunks()
    )
    df = transcripts.repartition(parts)
    got = _entry_point_build(entry, df, factory, spark, tmp_path)
    assert got.to_bytes() == expect.to_bytes()


def test_build_sketches_zero_partition_input(spark):
    """A zero-partition input emits no partial rows; every requested
    name must still come back, as its factory's empty sketch."""
    from sprout_spark.spark.aggregate import build_sketches

    df = spark.range(10).select(F.col("id").cast("string").alias("k"))
    df = df.where("false")
    assert df.rdd.getNumPartitions() == 0
    bloom = lambda: BloomFilter(100, 0.01)
    hll = lambda: HyperLogLog(p=10)
    got = build_sketches(df, {"b": ("k", bloom), "h": ("k", hll)})
    assert sorted(got) == ["b", "h"]
    assert got["b"].to_bytes() == bloom().to_bytes()
    assert got["h"].to_bytes() == hll().to_bytes()
    assert build_sketch(df, "k", bloom).to_bytes() == bloom().to_bytes()


def test_sketch_catalog_two_live_filters(spark, transcripts):
    """SketchCatalog: several live sketches behind three stable SQL
    names, addressed by a name argument — two blooms plus a CMS and a
    t-digest live at once, puts roll in replacements, drops fail loud."""
    import pytest
    from pyspark.sql import functions as F

    from sprout_spark.sketch import BloomFilter, CountMinSketch, TDigest
    from sprout_spark.spark.aggregate import build_sketch
    from sprout_spark.spark.sql import SketchCatalog

    df = transcripts
    n = df.count()
    convs = build_sketch(df, "conv_id", lambda: BloomFilter(n + 10, 0.01))
    tools = build_sketch(
        df.where(F.col("tool").isNotNull()), "tool",
        lambda: BloomFilter(n + 10, 0.01),
    )
    freqs = build_sketch(df, "tool", lambda: CountMinSketch(0.001, 0.01))
    digest = build_sketch(df, "turn_idx", lambda: TDigest())
    cat = (
        SketchCatalog(spark, prefix="cat")
        .put("convs", convs)
        .put("tools", tools)
        .put("freqs", freqs)
        .put("lat", digest)
    )
    assert cat.names() == ["convs", "freqs", "lat", "tools"]
    df.createOrReplaceTempView("tcat")

    # two different blooms through ONE function name, same query
    n_conv = spark.sql(
        "SELECT count(*) AS n FROM tcat WHERE cat_might_contain('convs', conv_id)"
    ).collect()[0]["n"]
    assert n_conv == df.count()  # zero false negatives on its own keys
    miss = spark.sql(
        "SELECT cat_might_contain('tools', 'definitely-not-a-tool-xyz') AS m"
    ).collect()[0]["m"]
    assert miss is False or miss == False  # noqa: E712

    # both names in one expression — per-batch dispatch, not last-put-wins
    both = spark.sql(
        "SELECT cat_might_contain('convs', conv_id) AS a, "
        "cat_might_contain('tools', conv_id) AS b FROM tcat LIMIT 50"
    ).collect()
    assert all(r["a"] for r in both)
    assert not any(r["b"] for r in both)  # conv ids are not tool names

    # frequency + rank kinds live alongside
    est = spark.sql(
        "SELECT cat_cms_estimate('freqs', tool) AS e FROM tcat "
        "WHERE tool IS NOT NULL LIMIT 5"
    ).collect()
    assert all(r["e"] >= 1 for r in est)
    rk = spark.sql(
        "SELECT cat_quantile_rank('lat', cast(2 AS double)) AS r"
    ).collect()[0]["r"]
    assert 0.0 <= rk <= 1.0

    # unknown / dropped names fail loud, never read as "not seen"
    with pytest.raises(Exception, match="unknown sketch name"):
        spark.sql("SELECT cat_might_contain('nope', 'x')").collect()
    cat.drop("tools")
    with pytest.raises(Exception, match="unknown sketch name"):
        spark.sql("SELECT cat_might_contain('tools', 'x')").collect()
    # surviving entries still answer after the rebind
    again = spark.sql(
        "SELECT count(*) AS n FROM tcat WHERE cat_might_contain('convs', conv_id)"
    ).collect()[0]["n"]
    assert again == n_conv


def test_build_weighted_sketch_cms_bounds_and_parallelism(spark, transcripts):
    """Weighted CMS build: per-key estimates bound the exact weighted
    sums (never under, over by <= eps*N where N = total weight), the
    result is parallelism-invariant, and NULL weights add zero."""
    df = transcripts.select(
        "tool", F.length("text").cast("long").alias("w")
    ).where(F.col("tool") != "")
    from sprout_spark.spark.aggregate import build_weighted_sketch

    cms = build_weighted_sketch(
        df.repartition(8), "tool", "w", lambda: CountMinSketch(0.0005, 0.01)
    )
    exact = {
        r["tool"]: r["s"]
        for r in df.groupBy("tool").agg(F.sum("w").alias("s")).collect()
    }
    n = sum(exact.values())
    assert cms.total == n
    for tool, s in exact.items():
        est = cms.estimate(tool)
        assert s <= est <= s + cms.eps * n, tool
    # parallelism invariance (weights make ordering irrelevant too)
    cms2 = build_weighted_sketch(
        df.repartition(2), "tool", "w", lambda: CountMinSketch(0.0005, 0.01)
    )
    assert (cms.counts == cms2.counts).all()
    # NULL weights count zero (row observed, nothing added)
    nulled = spark.createDataFrame(
        [("a", 5), ("a", None), ("b", 2)], "k string, w int"
    )
    c3 = build_weighted_sketch(nulled, "k", "w", lambda: CountMinSketch(0.01, 0.01))
    assert c3.estimate("a") == 5 and c3.estimate("b") == 2 and c3.total == 7


def test_build_weighted_sketch_quantiles_and_parallelism(spark, transcripts):
    """VERDICT r4 #7: the weighted partial path extends to the numeric
    quantile sketches. Token-length quantiles weighted by a per-row
    sample weight track the exact weighted distribution within each
    sketch's rank bound, at BOTH 2 and 16 build partitions (the
    distributed merge preserves the weighted semantics)."""
    import numpy as np
    from pyspark.sql import functions as F

    from sprout_spark.sketch import KLL, TDigest
    from sprout_spark.spark.aggregate import build_weighted_sketch

    df = transcripts.select(
        F.size(F.split(F.col("text"), r"\s+")).cast("double").alias("v"),
        (F.col("turn_idx") % 7 + 1).cast("long").alias("w"),
    )
    rows = df.collect()
    v = np.array([r["v"] for r in rows])
    w = np.array([r["w"] for r in rows], dtype=float)
    order = np.argsort(v)
    v, w = v[order], w[order]
    cumw = np.cumsum(w) / w.sum()

    for parts in (2, 16):
        d = df.repartition(parts)
        td = build_weighted_sketch(d, "v", "w", lambda: TDigest(200))
        kll = build_weighted_sketch(d, "v", "w", lambda: KLL(200))
        assert kll.n == int(w.sum())
        for q in (0.1, 0.5, 0.9):
            for sk, tol in ((td, 0.015), (kll, 0.03)):
                est = sk.quantile(q)
                # token lengths are heavily tied: the estimate's exact
                # weighted rank is the closed band [rank(<est), rank(<=est)]
                le = w[v <= est].sum() / w.sum()
                lt = w[v < est].sum() / w.sum()
                assert lt - tol <= q <= le + tol, (
                    parts, type(sk).__name__, q, lt, le)


def test_build_weighted_sketch_rejects_unweightable(spark, transcripts):
    """A sketch with neither weighted interface fails loud, not silent."""
    import pytest

    from sprout_spark.sketch import HyperLogLog
    from sprout_spark.spark.aggregate import build_weighted_sketch

    with pytest.raises(ValueError, match="weighted partial"):
        build_weighted_sketch(
            transcripts, "turn_idx", "turn_idx", lambda: HyperLogLog(p=12)
        )


def test_build_grouped_sketches_weighted(spark, transcripts):
    """Grouped WEIGHTED builds: per-role token-length t-digests weighted
    by a per-row weight track each group's exact weighted distribution;
    salted and unsalted builds agree within bound; weighted CMS per
    group never under-counts; unweightable sketches fail at the driver."""
    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    from sprout_spark.sketch import CountMinSketch, HyperLogLog, TDigest
    from sprout_spark.sketch.base import sketch_from_bytes
    from sprout_spark.spark.aggregate import build_grouped_sketches

    df = transcripts.select(
        "role",
        F.size(F.split(F.col("text"), r"\s+")).cast("double").alias("v"),
        (F.col("turn_idx") % 5 + 1).cast("long").alias("w"),
    )
    rows = df.collect()
    by_role = {}
    for r in rows:
        by_role.setdefault(r["role"], []).append((r["v"], r["w"]))

    for salt in (0, 4):
        got = {
            r["key"]: sketch_from_bytes(r["sketch"])
            for r in build_grouped_sketches(
                df, "role", "v", lambda: TDigest(200), salt=salt,
                weight_col="w",
            ).collect()
        }
        assert set(got) == set(by_role)
        for role, pairs in by_role.items():
            v = np.array([p[0] for p in pairs])
            w = np.array([p[1] for p in pairs], dtype=float)
            order = np.argsort(v)
            v, w = v[order], w[order]
            est = got[role].quantile(0.5)
            le = w[v <= est].sum() / w.sum()
            lt = w[v < est].sum() / w.sum()
            assert lt - 0.02 <= 0.5 <= le + 0.02, (salt, role, lt, le)
    # weighted CMS per group: estimate >= exact weighted count per key
    cms_rows = build_grouped_sketches(
        transcripts.select("role", "tool",
                           (F.col("turn_idx") % 3 + 1).alias("w")),
        "role", "tool", lambda: CountMinSketch(0.001, 0.01), weight_col="w",
    ).collect()
    assert len(cms_rows) == len(by_role)
    with pytest.raises(ValueError, match="weighted partial"):
        build_grouped_sketches(
            df, "role", "v", lambda: HyperLogLog(p=12), weight_col="w"
        )


def test_build_weighted_sketch_misra_gries(spark, transcripts):
    """Weighted MG through the distributed build: per-tool weight volume
    heavy hitters, est <= true <= est + deficit for every tool."""
    from pyspark.sql import functions as F

    from sprout_spark.sketch.misra_gries import MisraGries
    from sprout_spark.spark.aggregate import build_weighted_sketch

    df = transcripts.where(F.col("tool") != "").select(
        "tool", (F.col("turn_idx") % 5 + 1).cast("long").alias("w")
    )
    mg = build_weighted_sketch(df, "tool", "w", lambda: MisraGries(k=16))
    exact = {
        r["tool"]: r["s"]
        for r in df.groupBy("tool").agg(F.sum("w").alias("s")).collect()
    }
    assert mg.total == sum(exact.values())
    for tool, true_w in exact.items():
        est = mg.estimate(tool)
        assert est <= true_w <= est + mg.deficit, (tool, est, true_w)


def test_grouped_map_combine_byte_equal(spark, transcripts):
    """combine='map' (map-side partials, sketch-only shuffle) must
    produce byte-identical per-key sketches to the row-shuffling build
    for the idempotent sketches — HLL registers are maxes and CMS
    counters are sums, so the merged state is plan-shape-independent."""
    tool_rows = transcripts.where(F.col("tool") != "")
    for fac in (lambda: HyperLogLog(p=12), lambda: CountMinSketch(0.01, 0.01)):
        shuf = {
            r["key"]: (bytes(r["sketch"]), r["rows"])
            for r in build_grouped_sketches(
                tool_rows, "tool", "conv_id", fac, salt=8
            ).collect()
        }
        mapc = {
            r["key"]: (bytes(r["sketch"]), r["rows"])
            for r in build_grouped_sketches(
                tool_rows, "tool", "conv_id", fac, combine="map"
            ).collect()
        }
        assert shuf == mapc


def test_grouped_map_combine_null_keys_and_weighted(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "g": ["a", "a", None, "b", None, "a"],
            "v": [1, 2, 3, 4, 5, 1],
            "w": [2, 1, 1, 3, 1, 1],
        }
    )
    df = spark.createDataFrame(pdf).repartition(3)
    got = build_grouped_sketches(
        df, "g", "v", lambda: CountMinSketch(0.001, 0.001), combine="map",
        weight_col="w",
    )
    rows = {r["key"]: r["rows"] for r in got.collect()}
    # NULL keys are their own group (groupBy parity), rows counted
    assert rows == {"a": 3, "b": 1, None: 2}
    ests = {
        r["key"]: r["estimate"]
        for r in grouped_estimate(got, lambda s: float(s.estimate(1))).collect()
    }
    # weighted: key 'a' saw v=1 with weights 2+1=3 (tiny CMS -> exact)
    assert ests["a"] == 3.0


def test_grouped_map_combine_quantiles_within_bounds(spark, transcripts):
    """t-digest merge is order-sensitive, so map-combine is not
    byte-equal — but the estimate must stay within the same bound the
    salted build is held to."""
    lens = transcripts.select("role", F.length("text").cast("double").alias("len"))
    g = build_grouped_sketches(
        lens, "role", "len", lambda: TDigest(100), combine="map"
    )
    med = {
        r["key"]: r["estimate"]
        for r in grouped_estimate(g, lambda s: s.quantile(0.5)).collect()
    }
    for role, est in med.items():
        lo, hi = (
            lens.where(F.col("role") == role)
            .agg(
                F.expr("percentile(len, 0.40)").alias("lo"),
                F.expr("percentile(len, 0.60)").alias("hi"),
            )
            .first()
        )
        assert lo <= est <= hi


def test_grouped_map_combine_rejects_bad_mode(spark, transcripts):
    with pytest.raises(ValueError, match="combine"):
        build_grouped_sketches(
            transcripts, "tool", "conv_id", lambda: HyperLogLog(p=12),
            combine="reduce",
        )
