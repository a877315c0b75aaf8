"""Statistical bound + merge-law tests for HLL / CMS / t-digest / KLL
(SURVEY.md §2.3 acceptance criteria, §5.2 items 3-4).
"""

import math

import numpy as np
import pytest

from sprout_spark.sketch import (
    KLL,
    CountMinSketch,
    HyperLogLog,
    TDigest,
    sketch_from_bytes,
)


def keys(prefix, n, start=0):
    return [f"{prefix}-{i:08d}" for i in range(start, start + n)]


# ------------------------------------------------------------------- HLL


@pytest.mark.parametrize("n", [100, 5000, 200_000])
def test_hll_estimate_within_bound(n):
    h = HyperLogLog(p=14)
    h.update_values(keys("u", n))
    est = h.estimate()
    tol = 3 * 1.04 / math.sqrt(h.m)
    assert abs(est - n) / n <= tol, (n, est)


@pytest.mark.parametrize("f", [2.5, 3.0, 3.5, 4.0, 4.5, 5.0])
def test_hll_crossover_band_within_2_sigma(f):
    """The 2.5m-5m band is where raw-HLL-with-linear-counting-only has its
    bias hump; the Ertl estimator must hold ±2σ through it (VERDICT r1
    item 10 acceptance)."""
    p = 14
    n = int((1 << p) * f)
    h = HyperLogLog(p=p)
    h.update_values(keys("x", n))
    tol = 2 * 1.04 / math.sqrt(h.m)
    assert abs(h.estimate() - n) / n <= tol, (n, h.estimate())


def test_hll_duplicates_dont_inflate():
    h = HyperLogLog(p=12)
    ks = keys("d", 1000)
    for _ in range(5):
        h.update_values(ks)
    est = h.estimate()
    assert abs(est - 1000) / 1000 <= 3 * 1.04 / math.sqrt(h.m)
    assert h.count == 5000  # rows observed, not distinct


def test_hll_merge_equals_single_build_bitwise():
    ks = keys("m", 30_000)
    parts = [ks[i::3] for i in range(3)]

    def build(part):
        h = HyperLogLog(p=14)
        h.update_values(part)
        return h

    ab = build(parts[0]).merge(build(parts[1])).merge(build(parts[2]))
    ba = build(parts[2]).merge(build(parts[0])).merge(build(parts[1]))
    whole = build(ks)
    assert (ab.registers == whole.registers).all()  # max-merge == single build
    assert (ab.registers == ba.registers).all()
    assert ab.estimate() == whole.estimate()


def test_hll_roundtrip():
    h = HyperLogLog(p=10)
    h.update_values(keys("r", 500))
    back = sketch_from_bytes(h.to_bytes())
    assert isinstance(back, HyperLogLog)
    assert (back.registers == h.registers).all()
    assert back.estimate() == h.estimate()


def _bit_length_loop(x):
    """The masked 6-step loop the frexp form replaced (test oracle)."""
    x = x.copy()
    bl = np.zeros(x.shape, dtype=np.uint64)
    for s in (32, 16, 8, 4, 2, 1):
        m = x >= (np.uint64(1) << np.uint64(s))
        bl[m] += np.uint64(s)
        x[m] >>= np.uint64(s)
    bl[x > 0] += np.uint64(1)
    return bl


def test_hll_bit_length_matches_loop():
    from sprout_spark.sketch.hll import _bit_length_u64

    edges = [0]
    for k in range(64):
        edges += [2**k - 1, 2**k, 2**k + 1]
    edges = np.array(sorted(set(edges)), dtype=np.uint64)
    rand = np.random.default_rng(5).integers(
        0, 2**64 - 1, 1_000_000, dtype=np.uint64, endpoint=True
    )
    for x in (edges, rand, rand >> np.uint64(17)):
        got = _bit_length_u64(x)
        assert got.dtype == np.uint64
        assert (got == _bit_length_loop(x)).all()
    assert [int(v) for v in _bit_length_u64(edges)] == [
        int(v).bit_length() for v in edges
    ]


# ------------------------------------------------------------------- CMS


def test_cms_never_undercounts_and_bound():
    rng = np.random.RandomState(42)
    # zipf-ish frequencies over 200 distinct tools
    tools = [f"tool-{i:03d}" for i in range(200)]
    freqs = (10000 / (np.arange(200) + 1) ** 1.5).astype(int) + 1
    c = CountMinSketch(eps=0.001, delta=0.01)
    vals, counts = [], {}
    for t, f in zip(tools, freqs):
        counts[t] = int(f)
    stream = np.repeat(np.arange(200), freqs)
    rng.shuffle(stream)
    # feed in batches with weights=1
    svals = [tools[i] for i in stream]
    c.update_values(svals)
    n = len(svals)
    assert c.total == n
    est = c.estimate_values(tools)
    exact = np.array([counts[t] for t in tools])
    assert (est >= exact).all()  # never under-counts
    assert (est <= exact + c.eps * n).all()  # eps-N over-count bound


def test_cms_weighted_updates():
    c = CountMinSketch(eps=0.01, delta=0.01)
    c.update_values(["a", "b"], weights=[10, 3])
    assert c.estimate("a") >= 10
    assert c.total == 13


def test_cms_merge_equals_single_build():
    svals = keys("x", 2000) + keys("x", 1000)  # some repeats
    parts = [svals[0::2], svals[1::2]]

    def build(p):
        c = CountMinSketch(eps=0.01, delta=0.05)
        c.update_values(p)
        return c

    ab = build(parts[0]).merge(build(parts[1]))
    ba = build(parts[1]).merge(build(parts[0]))
    whole = build(svals)
    assert (ab.counts == whole.counts).all()
    assert (ab.counts == ba.counts).all()
    assert ab.total == whole.total == len(svals)


def test_cms_heavy_hitters():
    c = CountMinSketch(eps=0.001, delta=0.01)
    c.update_values(["hot"] * 500 + [f"cold-{i}" for i in range(500)])
    hh = c.heavy_hitters(["hot", "cold-1", "cold-2"], threshold=0.1)
    assert [t for t, _ in hh] == ["hot"]


def test_cms_roundtrip():
    c = CountMinSketch(eps=0.01, delta=0.05)
    c.update_values(keys("r", 100))
    back = sketch_from_bytes(c.to_bytes())
    assert (back.counts == c.counts).all() and back.total == c.total


# ------------------------------------------------------------------- t-digest


def _rank_of(sorted_vals, x):
    return np.searchsorted(sorted_vals, x, side="right") / len(sorted_vals)


@pytest.mark.parametrize("dist", ["uniform", "lognormal", "bimodal"])
def test_tdigest_rank_error(dist):
    rng = np.random.RandomState(42)
    if dist == "uniform":
        data = rng.uniform(0, 1000, 100_000)
    elif dist == "lognormal":
        data = rng.lognormal(4, 1, 100_000)
    else:
        data = np.concatenate([rng.normal(0, 1, 50_000), rng.normal(100, 5, 50_000)])
    td = TDigest(delta=200)
    for i in range(0, len(data), 10_000):  # arrow-batch-sized updates
        td.update_array(data[i : i + 10_000])
    s = np.sort(data)
    for q in [0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99]:
        est = td.quantile(q)
        rank_err = abs(_rank_of(s, est) - q)
        # k1 scale: tails much tighter than 1/delta; generous global band
        assert rank_err <= 0.01, (dist, q, rank_err)
    for q in [0.001, 0.999]:
        est = td.quantile(q)
        assert abs(_rank_of(s, est) - q) <= 0.002, (dist, q)


def test_tdigest_merge_within_bound():
    rng = np.random.RandomState(7)
    data = rng.lognormal(4, 1, 60_000)
    parts = np.array_split(data, 8)

    def build(p):
        td = TDigest(delta=200)
        td.update_array(p)
        return td

    merged = build(parts[0])
    for p in parts[1:]:
        merged = merged.merge(build(p))
    assert merged.count == len(data)
    s = np.sort(data)
    for q in [0.05, 0.5, 0.95, 0.99]:
        est = merged.quantile(q)
        assert abs(_rank_of(s, est) - q) <= 0.015, q
    # exact extremes survive merge
    assert merged.min == data.min() and merged.max == data.max()


def test_tdigest_centroid_budget():
    td = TDigest(delta=200)
    rng = np.random.RandomState(3)
    td.update_array(rng.uniform(0, 1, 50_000))
    assert len(td.means) <= 200


def test_tdigest_cdf_and_roundtrip():
    td = TDigest(delta=100)
    td.update_array(np.arange(10_000, dtype=float))
    assert abs(td.cdf(5000) - 0.5) < 0.02
    back = sketch_from_bytes(td.to_bytes())
    assert back.count == td.count
    assert back.quantile(0.5) == td.quantile(0.5)


# ------------------------------------------------------------------- KLL


def test_kll_rank_error():
    rng = np.random.RandomState(42)
    data = rng.lognormal(4, 1, 100_000)
    kll = KLL(k=200)
    for i in range(0, len(data), 10_000):
        kll.update_array(data[i : i + 10_000])
    assert kll.n == len(data)
    assert kll.num_retained() < 3000  # sublinear space
    s = np.sort(data)
    for q in [0.01, 0.25, 0.5, 0.75, 0.99]:
        est = kll.quantile(q)
        assert abs(_rank_of(s, est) - q) <= 0.025, q
    # rank() inverse within bound
    for x in np.percentile(data, [10, 50, 90]):
        assert abs(kll.rank(x) - _rank_of(s, x)) <= 0.025


def test_kll_merge_within_bound():
    rng = np.random.RandomState(11)
    data = rng.uniform(0, 1, 80_000)
    parts = np.array_split(data, 16)

    def build(p):
        k = KLL(k=200)
        k.update_array(p)
        return k

    merged = build(parts[0])
    for p in parts[1:]:
        merged = merged.merge(build(p))
    assert merged.n == len(data)
    s = np.sort(data)
    for q in [0.1, 0.5, 0.9]:
        est = merged.quantile(q)
        assert abs(_rank_of(s, est) - q) <= 0.03, q


def test_kll_exact_when_small():
    kll = KLL(k=200)
    kll.update_array(np.arange(100, dtype=float))
    assert kll.quantile(0.0) == 0.0
    assert kll.quantile(1.0) == 99.0
    assert abs(kll.quantile(0.5) - 49.5) <= 1.0


def test_kll_roundtrip():
    kll = KLL(k=128)
    rng = np.random.RandomState(5)
    kll.update_array(rng.normal(0, 1, 20_000))
    back = sketch_from_bytes(kll.to_bytes())
    assert back.n == kll.n
    assert back.num_retained() == kll.num_retained()
    for q in [0.1, 0.5, 0.9]:
        assert back.quantile(q) == kll.quantile(q)


# ------------------------------------------------------------------- bottom-k


def test_bottomk_deterministic_and_mergeable():
    from sprout_spark.sketch import BottomKSample

    ks = keys("s", 50_000)
    whole = BottomKSample(k=256)
    whole.update_values(ks)

    parts = [ks[i::5] for i in range(5)]
    merged = None
    for p in parts:
        s = BottomKSample(k=256)
        s.update_values(p)
        merged = s if merged is None else merged.merge(s)
    # distributed sample == sequential sample, exactly
    assert merged.sample() == whole.sample()
    assert len(merged.sample()) == 256
    assert merged.count == whole.count == 50_000
    # sample items are real input keys
    input_set = {k.encode() for k in ks}
    assert all(b in input_set for b in merged.sample())


def test_bottomk_distinct_estimator_bound():
    from sprout_spark.sketch import BottomKSample

    s = BottomKSample(k=1024)
    n = 100_000
    s.update_values(keys("d", n) + keys("d", 30_000))  # repeats don't inflate
    est = s.estimate_distinct()
    assert abs(est - n) / n <= 4 * s.relative_error()


def test_bottomk_exact_when_small():
    from sprout_spark.sketch import BottomKSample

    s = BottomKSample(k=1024)
    s.update_values(keys("x", 100))
    assert s.estimate_distinct() == 100.0
    assert len(s.sample()) == 100


def test_bottomk_roundtrip():
    from sprout_spark.sketch import BottomKSample, sketch_from_bytes

    s = BottomKSample(k=64)
    s.update_values(keys("r", 5000))
    back = sketch_from_bytes(s.to_bytes())
    assert back.sample() == s.sample()
    assert back.estimate_distinct() == s.estimate_distinct()
    assert back.count == s.count


# ----------------------------------------------------------------- Misra-Gries


def _zipf_stream(n, n_keys, seed=3):
    rng = np.random.RandomState(seed)
    # heavy skew: key i with prob ~ 1/(i+1)^1.3
    p = 1.0 / np.arange(1, n_keys + 1) ** 1.3
    p /= p.sum()
    return [f"k{i}" for i in rng.choice(n_keys, size=n, p=p)]


def test_mg_never_overcounts_and_deficit_bound():
    from collections import Counter

    from sprout_spark.sketch import MisraGries

    stream = _zipf_stream(50_000, 500)
    truth = Counter(stream)
    mg = MisraGries(k=32)
    # feed in chunks (mimics Arrow batches)
    for i in range(0, len(stream), 7_000):
        mg.update_values(stream[i : i + 7_000])
    assert mg.total == len(stream)
    assert mg.deficit <= len(stream) // (mg.k + 1)
    for v, c in truth.items():
        est = mg.estimate(v)
        assert est <= c  # never over
        assert c <= est + mg.deficit  # bounded under


def test_mg_heavy_hitters_superset_and_candidate_free():
    from collections import Counter

    from sprout_spark.sketch import MisraGries

    stream = _zipf_stream(80_000, 1000, seed=9)
    truth = Counter(stream)
    mg = MisraGries(k=64)
    mg.update_values(stream)
    phi = 0.03
    true_hh = {v for v, c in truth.items() if c >= phi * len(stream)}
    cand = {v for v, _, _ in mg.heavy_hitters(phi)}
    assert true_hh <= cand  # guaranteed superset, no candidates supplied
    assert len(cand) <= mg.k


def test_mg_merge_matches_single_build_bounds():
    from collections import Counter

    from sprout_spark.sketch import MisraGries, sketch_from_bytes

    stream = _zipf_stream(60_000, 400, seed=5)
    truth = Counter(stream)
    parts = [stream[i::4] for i in range(4)]
    sks = []
    for p in parts:
        m = MisraGries(k=48)
        m.update_values(p)
        sks.append(m)
    merged = sks[0]
    for s in sks[1:]:
        merged = merged.merge(s)
    assert merged.total == len(stream)
    assert merged.deficit <= len(stream) // (merged.k + 1)
    for v, c in truth.items():
        est = merged.estimate(v)
        assert est <= c <= est + merged.deficit
    # wire-format roundtrip preserves everything
    back = sketch_from_bytes(merged.to_bytes())
    assert back.counters == merged.counters
    assert back.total == merged.total and back.deficit == merged.deficit


def test_mg_int_and_null_keys():
    import pyarrow as pa

    from sprout_spark.sketch import MisraGries

    mg = MisraGries(k=8)
    mg.update_arrow(pa.array([1, 1, 2, None, None, None], pa.int64()))
    assert mg.estimate(1) == 2
    assert mg.counters.get(None) == 3
    with pytest.raises(TypeError):
        mg.update_arrow(pa.array([1.5], pa.float64()))


def test_mg_unanswerable_threshold_raises():
    """threshold*N <= deficit cannot guarantee the superset — must raise,
    not silently drop evicted true hitters."""
    from sprout_spark.sketch import MisraGries

    stream = _zipf_stream(50_000, 2000, seed=13)
    mg = MisraGries(k=16)
    mg.update_values(stream)
    assert mg.deficit > 0
    with pytest.raises(ValueError, match="not answerable"):
        mg.heavy_hitters(mg.deficit / mg.total / 2)
    mg.heavy_hitters(0.2)  # well above the line: fine


def test_sbf_stage_aligned_merge_warns_on_overload():
    """VERDICT r2 #6: P stage-aligned partials can push stage s to P× its
    sized capacity; prob_observed() stays honest but the merge must SAY
    so and steer to concat mode. Warns once per instance (tree merges
    would otherwise re-warn every level)."""
    import warnings

    from sprout_spark.sketch import ScalableBloomFilter

    parts = []
    for p in range(3):
        s = ScalableBloomFilter(64, 0.01, merge_mode="stage")
        s.update_values([f"p{p}-{i}" for i in range(64)])  # fill stage 0
        parts.append(s)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        acc = parts[0]
        for other in parts[1:]:
            acc.merge(other)
        over = [x for x in w if "overloaded" in str(x.message)]
        assert len(over) == 1  # fired, and only once per instance
        assert "concat" in str(over[0].message)
    # recall still total; honesty: observed FPR above the schedule's eps0
    assert all(acc.contains(f"p{p}-{i}") for p in range(3) for i in range(64))
    # concat mode never overloads -> no warning
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        a = ScalableBloomFilter(64, 0.01, merge_mode="concat")
        b = ScalableBloomFilter(64, 0.01, merge_mode="concat")
        a.update_values([f"a{i}" for i in range(64)])
        b.update_values([f"b{i}" for i in range(64)])
        a.merge(b)
        assert not [x for x in w if "overloaded" in str(x.message)]


# ---------------------------------------------------------------------------
# sparse wire payloads (grouped-partial shuffle shrinkage)
# ---------------------------------------------------------------------------


def test_hll_sparse_payload_roundtrip_and_merge_interop():
    """A lightly-filled HLL serializes sparse (5 bytes per nonzero
    register instead of the dense 2^p), revives bit-identically, and
    merges interchangeably with dense payloads."""
    from sprout_spark.sketch import HyperLogLog, sketch_from_bytes

    sparse = HyperLogLog(p=14)
    sparse.update_values([f"k{i}" for i in range(50)])
    blob = sparse.to_bytes()
    assert len(blob) < sparse.m // 4  # far below the dense 16 KiB
    back = sketch_from_bytes(blob)
    assert (back.registers == sparse.registers).all()
    assert back.count == sparse.count and back.estimate() == sparse.estimate()

    dense = HyperLogLog(p=14)
    dense.update_values([f"d{i}" for i in range(20000)])  # saturates -> dense
    assert len(dense.to_bytes()) >= dense.m
    both = sketch_from_bytes(dense.to_bytes()).merge(back)
    ref = HyperLogLog(p=14)
    ref.update_values([f"d{i}" for i in range(20000)])
    ref.update_values([f"k{i}" for i in range(50)])
    assert (both.registers == ref.registers).all()


def test_cms_sparse_payload_roundtrip_and_merge_interop():
    from sprout_spark.sketch import CountMinSketch, sketch_from_bytes

    sparse = CountMinSketch(eps=0.001, delta=0.01)
    sparse.update_values(["a", "b", "a", "c"])
    blob = sparse.to_bytes()
    assert len(blob) < sparse.d * sparse.w  # well under the dense 8B/cell
    back = sketch_from_bytes(blob)
    assert (back.counts == sparse.counts).all() and back.total == sparse.total

    other = CountMinSketch(eps=0.001, delta=0.01)
    other.update_values(["a", "z"])
    merged = back.merge(other)
    assert merged.estimate_values(["a"])[0] == 3
    assert merged.total == 6


def test_grouped_hll_partials_ship_sparse(spark):
    """Many-groups fixture: every per-key HLL partial crossing the merge
    shuffle must be byte-smaller than its dense form (the grouped-build
    scale fix), and the estimates stay exact-ish per group."""
    from pyspark.sql import functions as F

    from sprout_spark.sketch import HyperLogLog, sketch_from_bytes
    from sprout_spark.spark.aggregate import build_grouped_sketches, grouped_estimate

    rows = [(f"g{i % 200}", f"v{i}") for i in range(4000)]
    df = spark.createDataFrame(rows, "key string, val string")
    sketches = build_grouped_sketches(
        df, "key", "val", lambda: HyperLogLog(p=12), salt=4
    )
    collected = sketches.collect()
    assert len(collected) == 200
    dense_size = (1 << 12)
    for r in collected:
        assert len(r["sketch"]) < dense_size // 2, r["key"]  # sparse on the wire
        sk = sketch_from_bytes(r["sketch"])
        assert abs(sk.estimate() - 20) <= 6  # 20 distinct per group
    ests = {r["key"]: r["estimate"] for r in grouped_estimate(
        sketches, lambda s: s.estimate()).collect()}
    assert len(ests) == 200


def test_grouped_bloom_dense_payload_warns(spark):
    """The grouped-build analog of the oversized-partials warning: a
    per-key Bloom sized for tens of millions of keys is a dense payload
    multiplied by group count — warn before the shuffle is planned."""
    import warnings

    from sprout_spark.sketch import BloomFilter
    from sprout_spark.spark.aggregate import build_grouped_sketches

    df = spark.createDataFrame([("a", "x")], "key string, val string")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        build_grouped_sketches(
            df, "key", "val", lambda: BloomFilter(100_000_000, 0.001), salt=1
        )
        assert any("PER KEY" in str(x.message) for x in w)


def test_hll_union_and_intersection_estimates():
    """Union is native (merged-register estimate, non-mutating);
    intersection by inclusion-exclusion tracks the true overlap for
    comparable-sized sets and never goes negative."""
    from sprout_spark.sketch import HyperLogLog

    a, b = HyperLogLog(p=14), HyperLogLog(p=14)
    a.update_values([f"a{i}" for i in range(20000)] +
                    [f"s{i}" for i in range(5000)])
    b.update_values([f"b{i}" for i in range(20000)] +
                    [f"s{i}" for i in range(5000)])
    a_regs = a.registers.copy()
    u = a.union_estimate(b)
    assert (a.registers == a_regs).all()  # non-mutating
    assert abs(u - 45000) / 45000 <= 3 * 1.04 / (1 << 7)
    i = a.intersection_estimate(b)
    # error scale is the UNION's magnitude; allow 3 sigma of 45k
    assert abs(i - 5000) <= 3 * 1.04 / (1 << 7) * 45000
    # disjoint sets: floored at zero-ish, never negative
    c = HyperLogLog(p=14)
    c.update_values([f"c{i}" for i in range(1000)])
    assert a.intersection_estimate(c) >= 0.0


def test_cms_inner_product_join_size():
    """CMS inner product: never under the true join size, over by at
    most eps*Na*Nb, and exact-ish at modest load."""
    from collections import Counter

    from sprout_spark.sketch import CountMinSketch

    rng = np.random.RandomState(3)
    a_keys = [f"k{rng.randint(0, 500)}" for _ in range(20000)]
    b_keys = [f"k{rng.randint(0, 800)}" for _ in range(15000)]
    fa, fb = Counter(a_keys), Counter(b_keys)
    true = sum(fa[k] * fb[k] for k in fa)
    ca = CountMinSketch(eps=0.0005, delta=0.01)
    cb = CountMinSketch(eps=0.0005, delta=0.01)
    ca.update_values(a_keys)
    cb.update_values(b_keys)
    est = ca.inner_product(cb)
    assert est >= true
    assert est <= true + ca.eps * ca.total * cb.total
    # geometry mismatch fails loud
    import pytest as _pytest

    with _pytest.raises(ValueError, match="geometry"):
        ca.inner_product(CountMinSketch(eps=0.01, delta=0.01))


def test_bottomk_resemblance():
    """KMV coordinated-sample Jaccard: direct ratio estimate within
    O(1/sqrt(k)); exact below k; merge-built sketches agree."""
    from sprout_spark.sketch import BottomKSample

    a, b = BottomKSample(k=512), BottomKSample(k=512)
    shared = [f"s{i}" for i in range(3000)]
    a.update_values(shared + [f"a{i}" for i in range(3000)])
    b.update_values(shared + [f"b{i}" for i in range(3000)])
    true_j = 3000 / 9000
    got = a.resemblance(b)
    assert abs(got - true_j) <= 4 / np.sqrt(512)
    assert got == b.resemblance(a)  # symmetric
    # exact when union below k
    small_a, small_b = BottomKSample(k=512), BottomKSample(k=512)
    small_a.update_values(["x", "y", "z"])
    small_b.update_values(["y", "z", "w"])
    assert small_a.resemblance(small_b) == 2 / 4
    # disjoint
    c = BottomKSample(k=512)
    c.update_values([f"c{i}" for i in range(100)])
    assert small_a.resemblance(c) == 0.0


def test_hll_set_estimators_reject_geometry_mismatch():
    """review r4: union/intersection must gate on geometry like merge()
    — seed-mismatched registers would return silent garbage."""
    from sprout_spark.sketch import HyperLogLog

    a = HyperLogLog(p=12, seed=1)
    b = HyperLogLog(p=12, seed=2)
    a.update_values(["x"]); b.update_values(["x"])
    import pytest as _pytest
    with _pytest.raises(ValueError, match="geometry"):
        a.union_estimate(b)
    with _pytest.raises(ValueError, match="geometry"):
        a.intersection_estimate(b)
    with _pytest.raises(ValueError, match="geometry"):
        HyperLogLog(p=10).union_estimate(HyperLogLog(p=12))


def test_cms_inner_product_no_int64_overflow():
    """review r4: the dot product must not wrap at 100TB-scale weights —
    two hot cells at 1e10 each give a 1e20 product, past int64."""
    from sprout_spark.sketch import CountMinSketch

    a = CountMinSketch(eps=0.01, delta=0.05)
    b = CountMinSketch(eps=0.01, delta=0.05)
    a.update_values(["hot"], )
    b.update_values(["hot"], )
    a.counts[a.counts > 0] = 10_000_000_000
    b.counts[b.counts > 0] = 10_000_000_000
    est = a.inner_product(b)
    assert est >= 10_000_000_000 ** 2  # exact, not wrapped negative


def test_sbf_fold_stage_schedule_and_guards():
    """fold_stage: the distributed epoch-growth path. First fold replaces
    the pristine initial stage; later folds append at the schedule's
    tightening ε; wrong-ε stages fail loud; compound FPR tracks the
    organic schedule (≤ err for strict=True); membership covers every
    folded stage; round-trips through the wire format."""
    import math

    import pytest

    from sprout_spark.sketch import BloomFilter, ScalableBloomFilter
    from sprout_spark.sketch.base import sketch_from_bytes

    err = 0.01
    sbf = ScalableBloomFilter(initial_capacity=64, err_rate=err, strict=True)
    eps0 = sbf.next_stage_err()
    assert math.isclose(eps0, err * 0.1)  # strict pre-scale (1 - 0.9)
    keys0 = [f"a{i}".encode() for i in range(40)]
    st0 = BloomFilter(len(keys0), eps0)
    st0.update_values(keys0)
    sbf.fold_stage(st0)
    assert len(sbf.stages) == 1  # pristine stage replaced, not appended
    eps1 = sbf.next_stage_err()
    assert math.isclose(eps1, eps0 * 0.9)
    # wrong-ε stage: hard error, budget never silently overspent
    bad = BloomFilter(20, eps0)
    with pytest.raises(ValueError, match="next_stage_err"):
        sbf.fold_stage(bad)
    keys1 = [f"b{i}".encode() for i in range(200)]
    st1 = BloomFilter(len(keys1), eps1)
    st1.update_values(keys1)
    sbf.fold_stage(st1)
    assert len(sbf.stages) == 2 and sbf._sched_pos == 2
    assert sbf.prob() <= err + 1e-12
    assert all(st.count <= st.capacity for st in sbf.stages)
    for k in keys0 + keys1:
        assert sbf.contains(k)
    rt = sketch_from_bytes(sbf.to_bytes())
    assert len(rt.stages) == 2 and rt._sched_pos == 2
    assert math.isclose(rt.next_stage_err(), eps0 * 0.9**2)
    for k in keys0 + keys1:
        assert rt.contains(k)


def test_kll_weighted_update_binary_decomposition():
    """Weighted KLL: update_array(values, weights) inserts by binary
    decomposition of the weight (bit-b copy -> level b), so total weight
    is exact, rank/quantile track the exact WEIGHTED distribution within
    the rank bound, guards reject non-integer/negative weights, and a
    weighted sketch merges with an unweighted one."""
    import numpy as np
    import pytest

    from sprout_spark.sketch import KLL, TDigest

    rng = np.random.RandomState(11)
    vals = rng.gamma(2.0, 10.0, 4000)
    w = rng.randint(0, 40, 4000)  # includes zero weights (dropped)
    k = KLL(200)
    k.update_array(vals, w)
    assert k.n == int(w.sum())
    order = np.argsort(vals)
    v, ww = vals[order], w[order].astype(float)
    cum = np.cumsum(ww) / ww.sum()
    for q in (0.1, 0.5, 0.9):
        est = k.quantile(q)
        r = ww[v <= est].sum() / ww.sum()
        assert abs(r - q) <= 0.025, (q, est, r)
    with pytest.raises(ValueError, match="integers"):
        KLL(200).update_array([1.0], [1.5])
    with pytest.raises(ValueError, match=">= 0"):
        KLL(200).update_array([1.0], [-1])
    # weighted + unweighted partials merge (the distributed shape)
    a, b = KLL(200), KLL(200)
    a.update_array(vals[:2000], w[:2000])
    b.update_array(np.repeat(vals[2000:], w[2000:]))  # explicit expansion
    a.merge(b)
    assert a.n == int(w.sum())
    for q in (0.25, 0.75):
        est = a.quantile(q)
        r = ww[v <= est].sum() / ww.sum()
        assert abs(r - q) <= 0.025
    # t-digest: weighted update matches the expanded-row distribution
    t = TDigest(200)
    t.update_array(vals, w)
    for q in (0.1, 0.5, 0.9):
        est = t.quantile(q)
        r = ww[v <= est].sum() / ww.sum()
        assert abs(r - q) <= 0.01


def test_misra_gries_weighted_adds():
    """Weighted MG: heavy hitters by weight volume. The no-over-count /
    deficit-bounded guarantees hold with N = Σweights; NULL/zero-weight
    rows contribute nothing; merge composes weighted partials."""
    import pyarrow as pa

    from sprout_spark.sketch.misra_gries import MisraGries

    mg = MisraGries(k=4)
    vals = pa.array(
        ["big", "big", "small1", "small2", "small3", "small4", "small5", None]
    )
    w = [500, 300, 1, 2, 1, 1, 1, 99]  # null key: arrow groups it; weight rides
    mg.update_weighted_arrow(vals, w)
    assert mg.total == sum(w)
    est = mg.estimate("big")
    assert est <= 800 <= est + mg.deficit  # never over; deficit-bounded
    assert mg.deficit <= mg.total / (4 + 1)
    hh = {v for v, _, _ in mg.heavy_hitters(0.4)}
    assert "big" in hh
    # merge of weighted partials
    a, b = MisraGries(k=4), MisraGries(k=4)
    a.update_weighted_arrow(pa.array(["x", "y"]), [100, 1])
    b.update_weighted_arrow(pa.array(["x", "z"]), [100, 1])
    a.merge(b)
    ex = a.estimate("x")
    assert ex <= 200 <= ex + a.deficit
