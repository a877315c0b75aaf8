"""Hash equivalence tests (SURVEY.md §5.2 item 1).

The scalar port is a line-by-line transcription of the public MurmurHash3
x64-128 algorithm (the reference's hash, /root/reference/pkg/murmur/
murmur3.go:10-139). The vectorized kernel must match it bit-for-bit over
all tail lengths 0..64 and a fuzz corpus.
"""

import numpy as np
import pytest

from sprout_spark.hashing import (
    murmur3_64_batch,
    murmur3_64_packed,
    murmur3_64_scalar,
    pack_any,
)

# Known-good vectors for MurmurHash3 x64-128 h1 (seed 0), cross-checked
# against the widely used mmh3 package's hash64 results.
KNOWN = [
    (b"hello", 0xCBD8A7B341BD9B02),
    (b"hello, world", 0x342FAC623A5EBC8E),
    (b"The quick brown fox jumps over the lazy dog", 0xE34BBC7BBC071B6C),
    (b"", 0x0000000000000000),
]


@pytest.mark.parametrize("key,expect", KNOWN)
def test_known_vectors_scalar(key, expect):
    assert murmur3_64_scalar(key, 0) == expect


@pytest.mark.parametrize("key,expect", KNOWN)
def test_known_vectors_batch(key, expect):
    got = murmur3_64_batch([key], 0)
    assert int(got[0]) == expect


def test_all_tail_lengths_match_scalar():
    # lengths 0..64 cover every branch of the 15-way tail switch plus
    # multi-block bodies (murmur3.go:55-108)
    rng = np.random.RandomState(42)
    keys = [bytes(rng.randint(0, 256, size=n, dtype=np.uint8)) for n in range(65)]
    for seed in [0, 1, 128, 256, 2**17, 0xDEADBEEF]:
        batch = murmur3_64_batch(keys, seed)
        for k, got in zip(keys, batch):
            assert int(got) == murmur3_64_scalar(k, seed), (len(k), seed)


def test_fuzz_random_lengths():
    rng = np.random.RandomState(7)
    keys = [
        bytes(rng.randint(0, 256, size=rng.randint(0, 200), dtype=np.uint8))
        for _ in range(500)
    ]
    batch = murmur3_64_batch(keys, 12345)
    for k, got in zip(keys, batch):
        assert int(got) == murmur3_64_scalar(k, 12345)


def test_reference_seed_schedule():
    # seeds[i] = 64 << (i+1)  (bloom.go:111-114)
    keys = [b"conv-00000001", b"x" * 33]
    for i in range(12):
        seed = 64 << (i + 1)
        batch = murmur3_64_batch(keys, seed)
        for k, got in zip(keys, batch):
            assert int(got) == murmur3_64_scalar(k, seed)


def test_pack_any_layout():
    buf, lens = pack_any(["ab", b"", b"0123456789abcdef0"])
    assert list(lens) == [2, 0, 17]
    # keys back to back, then 16 zero bytes of slack
    assert bytes(buf) == b"ab" + b"0123456789abcdef0" + bytes(16)


def test_pack_arrow_matches_pack_any():
    import pyarrow as pa

    from sprout_spark.hashing import pack_arrow

    vals = ["conv-%05d" % i for i in range(100)] + ["", "x" * 40]
    arr = pa.array(vals, type=pa.string())
    b1, l1 = pack_arrow(arr)
    b2, l2 = pack_any(vals)
    assert (l1 == l2).all()
    assert (b1 == b2).all()
    # sliced arrays (non-zero offset) must pack correctly too
    b3, l3 = pack_arrow(arr.slice(50, 30))
    b4, l4 = pack_any(vals[50:80])
    assert (l3 == l4).all()
    assert (b3 == b4).all()
    h3 = murmur3_64_packed(b3, l3, 99)
    h4 = murmur3_64_packed(b4, l4, 99)
    assert (h3 == h4).all()


def test_pack_arrow_rejects_unhashable_key_types():
    """Float/decimal/dict-of-float columns must fail loudly, not be
    reinterpreted as string offsets (ADVICE r1: silent mis-hash risk)."""
    import pyarrow as pa
    import pytest

    from sprout_spark.hashing import pack_arrow

    for bad in (
        pa.array([1.5, 2.5], pa.float64()),
        pa.array([1.5], pa.float32()),
        pa.array([True, False], pa.bool_()),
    ):
        with pytest.raises(TypeError, match="unsupported key column type"):
            pack_arrow(bad)
    # dictionary-encoded STRING decodes fine (common parquet encoding)
    d = pa.array(["a", "b", "a"]).dictionary_encode()
    mat, lens = pack_arrow(d)
    assert list(lens) == [1, 1, 1]


# ---------------------------------------------------------------------------
# flat-layout kernel: one call, many seeds, bit-identical to the scalar oracle
# ---------------------------------------------------------------------------

SEEDS = [0, 1, 128, 256, 2**17, 0xDEADBEEF]


def _assert_rows_match(keys, buf, lens, seeds=SEEDS):
    got = murmur3_64_packed(buf, lens, seeds)
    assert got.shape == (len(seeds), len(keys))
    for j, seed in enumerate(seeds):
        want = [murmur3_64_scalar(k, seed) for k in keys]
        assert [int(v) for v in got[j]] == want, seed


def test_multi_seed_rows_match_scalar():
    rng = np.random.RandomState(11)
    keys = [bytes(rng.randint(0, 256, size=n, dtype=np.uint8)) for n in range(65)]
    _assert_rows_match(keys, *pack_any(keys))
    # a scalar seed still returns one (n,) row
    assert murmur3_64_packed(*pack_any(keys), 5).shape == (65,)


def test_mixed_short_and_huge_keys_in_one_batch():
    rng = np.random.RandomState(3)
    sizes = [2] * 100 + [200] * 100 + [100_000]
    rng.shuffle(sizes)
    keys = [bytes(rng.randint(0, 256, size=n, dtype=np.uint8)) for n in sizes]
    _assert_rows_match(keys, *pack_any(keys), seeds=[0, 64 << 1])


def test_arrow_layouts_match_scalar():
    import pyarrow as pa

    from sprout_spark.hashing import pack_arrow

    vals = ["k%d" % i + "y" * (i % 37) for i in range(200)] + ["", "z" * 70]
    want = [v.encode() for v in vals]
    arr = pa.array(vals, pa.string())
    _assert_rows_match(want[30:130], *pack_arrow(arr.slice(30, 100)))
    _assert_rows_match(want, *pack_arrow(pa.array(vals, pa.large_string())))
    _assert_rows_match(want, *pack_arrow(arr.dictionary_encode()))
    ints = pa.array([5, None, -7, 2**40, None], pa.int64())
    want_i = [
        b"" if v is None else v.to_bytes(8, "little", signed=True)
        for v in ints.to_pylist()
    ]
    _assert_rows_match(want_i, *pack_arrow(ints))


def test_null_slot_spanning_bytes_hashes_as_empty_key():
    import pyarrow as pa

    from sprout_spark.hashing import pack_arrow

    data = pa.py_buffer(b"abcdefXYZhello")
    offsets = pa.py_buffer(np.array([0, 3, 9, 14], dtype=np.int32).tobytes())
    validity = pa.py_buffer(bytes([0b101]))
    arr = pa.Array.from_buffers(
        pa.string(), 3, [validity, offsets, data], null_count=1
    )
    assert arr.to_pylist() == ["abc", None, "hello"]
    buf, lens = pack_arrow(arr)
    assert list(lens) == [3, 0, 5]
    h = murmur3_64_packed(buf, lens, 0)
    assert int(h[1]) == 0x0
    assert int(h[2]) == murmur3_64_scalar(b"hello", 0) == 0xCBD8A7B341BD9B02
    _assert_rows_match([b"abc", b"", b"hello"], buf, lens)


def test_take_keys_subsets_and_slices():
    from sprout_spark.hashing import take_keys

    keys = [b"x" * n for n in (0, 3, 17, 40, 5)]
    buf, lens = pack_any(keys)
    full = murmur3_64_packed(buf, lens, 9)
    for idx in (np.array([True, False, True, True, False]), np.array([4, 2]), slice(1, 4)):
        sub = murmur3_64_packed(*take_keys(buf, lens, idx), 9)
        assert (sub == full[idx]).all()


def test_overlapping_windows_hash_in_place():
    from sprout_spark.hashing import murmur3_64_flat

    data = np.frombuffer(b"the quick brown fox", dtype=np.uint8)
    starts = np.arange(len(data) - 7)
    got = murmur3_64_flat(data, starts, np.full(len(starts), 8), 1)
    assert [int(v) for v in got] == [
        murmur3_64_scalar(bytes(data[s : s + 8]), 1) for s in starts
    ]



def test_kernel_rejects_padded_matrix():
    """A caller still building the old zero-padded (n, W) matrix must fail
    loudly, not have its rows read as one byte run."""
    from sprout_spark.hashing import murmur3_64_flat
    from sprout_spark.sketch import BloomFilter

    mat = np.zeros((4, 16), dtype=np.uint8)
    lens = np.full(4, 8, dtype=np.int64)
    with pytest.raises(TypeError, match="1-D uint8"):
        murmur3_64_packed(mat, lens)
    with pytest.raises(TypeError, match="1-D uint8"):
        murmur3_64_flat(np.zeros(64, dtype=np.int64), np.zeros(1), np.ones(1))
    with pytest.raises(TypeError, match="1-D uint8"):
        BloomFilter(100, 0.01, "seeded").add_packed(mat, lens)

# ---------------------------------------------------------------------------
# sketch payloads stay byte-identical on the wire
# ---------------------------------------------------------------------------

# sha256 of to_bytes() for each sketch built from _golden_corpus(), as
# computed by the zero-padded-matrix kernel this layout replaced
GOLDEN = {
    "bloom_km": "a1bb8ec90b8d562655931a150a4f694d90e9e15bee8db70a0bcee58725211b3f",
    "bloom_seeded": "479638da7400009dfaecdbfbacf9e1a28947f42acab90c0f69991e9a81dccdb0",
    "hll": "a3c49e67fdd2489f22859b06a80430f688688bbbf4647dbb8db7e393da9c04a1",
    "cms_km": "2a7d5680a8c3e4fd7c7fc519c1e2b0d2cd6a924bae06a6cf48a2b14397760923",
    "cms_seeded": "41fba7412b6488e52953107848a8e292cc14c7f5356f347b06006290b7d8078b",
    "bottomk": "56c7132625608b7e7f6f46ee51fb6fd2c043d64fc7bc9b554e2bd2be95977dd2",
    "sbf": "e1326663d8386a869fe25a3e517eb7e79cfe9c3281517b6f12e406373f8666ff",
}
# sha256 of the packed probe bits / estimates over _golden_probe()
GOLDEN_PROBE = {
    "bloom_km": "820d2eb08b58f235600b51ff2da7d1d87afec969b8c1fe11d546fe7e3a3db54f",
    "bloom_seeded": "7a72a3e19a993e7c2baeadfe83564ac31742baca57485bb26c4ad7d6457bbecc",
    "sbf": "be431ef3aa760d18ed2cfe46191fc6b59acd67749b8953d96f8f992e32e6ec94",
    "cms_km": "4532fc72b390c2e949f61fadb260e24fbf44559ebb5d75410607230e574e7b52",
    "cms_seeded": "5cd8ff16ceade85c47b6f4b3e391890c0efb06ab586b992f6ec124945ecead42",
}


def _golden_corpus():
    import pyarrow as pa

    rng = np.random.RandomState(2024)
    vals = []
    for i in range(3000):
        r = rng.randint(0, 100)
        if r < 3:
            vals.append(None)
        elif r < 6:
            vals.append("")
        elif r < 9:
            vals.append("L" * rng.randint(100, 3000) + str(i))
        else:
            vals.append("key-%d-%s" % (rng.randint(0, 1500), "x" * rng.randint(0, 40)))
    ints = pa.array(
        [
            None if i % 17 == 0 else int(v)
            for i, v in enumerate(rng.randint(-2**62, 2**62, 500, dtype=np.int64))
        ],
        pa.int64(),
    )
    return pa.array(vals, pa.string()), ints


def _golden_probe(strs):
    import pyarrow as pa

    return pa.array(
        ["key-%d-" % i for i in range(0, 3000, 2)] + strs.to_pylist()[::3],
        pa.string(),
    )


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_payloads_byte_identical_to_padded_kernel(name):
    import hashlib

    from sprout_spark.sketch import BloomFilter, CountMinSketch, HyperLogLog
    from sprout_spark.sketch.bottomk import BottomKSample
    from sprout_spark.sketch.scalable_bloom import ScalableBloomFilter

    make = {
        "bloom_km": lambda: BloomFilter(5000, 0.01, "km"),
        "bloom_seeded": lambda: BloomFilter(5000, 0.01, "seeded"),
        "hll": lambda: HyperLogLog(12),
        "cms_km": lambda: CountMinSketch(0.01, 0.01, "km"),
        "cms_seeded": lambda: CountMinSketch(0.01, 0.01, "seeded"),
        "bottomk": lambda: BottomKSample(64),
        "sbf": lambda: ScalableBloomFilter(500, 0.01),
    }[name]
    strs, ints = _golden_corpus()
    sk = make()
    for a, b in ((0, 1000), (1000, 1100), (1100, 3000)):
        sk.update_arrow(strs.slice(a, b - a))
    sk.update_arrow(ints)
    assert hashlib.sha256(sk.to_bytes()).hexdigest() == GOLDEN[name]
    probe = _golden_probe(strs)
    if hasattr(sk, "contains_arrow"):
        got = np.packbits(sk.contains_arrow(probe)).tobytes()
        assert hashlib.sha256(got).hexdigest() == GOLDEN_PROBE[name]
        # all members: km's hit-heavy probe branch, seeded's one pass
        assert sk.contains_arrow(strs).all()
    if hasattr(sk, "estimate_arrow"):
        got = sk.estimate_arrow(probe).astype("<i8").tobytes()
        assert hashlib.sha256(got).hexdigest() == GOLDEN_PROBE[name]


def test_long_key_does_not_size_the_batch():
    """One 100 KB key among 9,999 short ones must not widen every row:
    the flat layout's memory is the key bytes, not n × longest key."""
    import tracemalloc

    import pyarrow as pa

    from sprout_spark.sketch import HyperLogLog

    vals = ["k%05d" % i for i in range(9999)] + ["L" * 100_000]
    arr = pa.array(vals, pa.string())
    hll = HyperLogLog(14)
    tracemalloc.start()
    try:
        hll.update_arrow(arr)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 32 * 2**20, peak
    assert hll.count == 10_000
