"""Vectorized MurmurHash3 x64-128 (h1 lane) over a flat key buffer.

Semantics match the reference's hash exactly (dsa0x/sprout,
``pkg/murmur/murmur3.go:10-139``, itself a port of Appleby's public
MurmurHash3.cpp): little-endian 16-byte blocks, 15-way byte tail, fmix64
finalization, and only ``h1`` of the 128-bit result is returned
(``murmur3.go:125``).

Two implementations are provided:

* :func:`murmur3_64_scalar` — a straight per-key port used as the test
  oracle (and for tiny inputs).
* :func:`murmur3_64_flat` — the hot path: hashes a whole batch of
  variable-length keys where they lie in one uint8 buffer, given each
  key's ``(start, len)``. Keys are sorted once by block count, so block
  round *b* runs only on the keys that still have a block *b*: the work
  is proportional to the key bytes, not to n × the longest key. Each
  16-byte block is read as two unaligned little-endian words at the
  key's own offset; the tail words are masked to the key's tail bytes.
  A sequence of seeds returns one row per seed, and the seed-independent
  block mixing runs once for all of them.

The packed layout (:func:`pack_arrow`, :func:`pack_any`) is ``(buf,
lens)``: the keys' bytes back to back in ``buf``, followed by 16 bytes of
slack so the last key's tail words can be read in place; key *i* starts
at the exclusive cumsum of ``lens``.

All arithmetic is modular uint64 (numpy wraps unsigned ints silently,
matching Go/C overflow semantics).
"""

from __future__ import annotations

import numpy as np

_C1 = np.uint64(0x87C37B91114253D5)
_C2 = np.uint64(0x4CF5AD432745937F)
_M5 = np.uint64(5)
_N1 = np.uint64(0x52DCE729)
_N2 = np.uint64(0x38495AB5)
_FM1 = np.uint64(0xFF51AFD7ED558CCD)
_FM2 = np.uint64(0xC4CEB9FE1A85EC53)
_U64 = np.uint64
_MASK64 = 0xFFFFFFFFFFFFFFFF


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    """Rotate left in place (``x`` may be a view); returns ``x``."""
    t = x >> _U64(64 - r)
    x <<= _U64(r)
    x |= t
    return x


def _fmix64(k: np.ndarray) -> np.ndarray:
    """fmix64 finalization in place; returns ``k``."""
    k ^= k >> _U64(33)
    k *= _FM1
    k ^= k >> _U64(33)
    k *= _FM2
    k ^= k >> _U64(33)
    return k


def _mix_k1(k1: np.ndarray) -> np.ndarray:
    k1 *= _C1
    _rotl64(k1, 31)
    k1 *= _C2
    return k1


def _mix_k2(k2: np.ndarray) -> np.ndarray:
    k2 *= _C2
    _rotl64(k2, 33)
    k2 *= _C1
    return k2


# ---------------------------------------------------------------------------
# scalar oracle
# ---------------------------------------------------------------------------


def _rotl64_i(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK64


def _fmix64_i(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _MASK64
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _MASK64
    k ^= k >> 33
    return k


def murmur3_64_scalar(key: bytes, seed: int = 0) -> int:
    """Per-key MurmurHash3 x64-128, returning h1 (reference semantics)."""
    c1 = 0x87C37B91114253D5
    c2 = 0x4CF5AD432745937F
    length = len(key)
    nblocks = length // 16
    h1 = seed & _MASK64
    h2 = seed & _MASK64

    for i in range(nblocks):
        k1 = int.from_bytes(key[i * 16 : i * 16 + 8], "little")
        k2 = int.from_bytes(key[i * 16 + 8 : i * 16 + 16], "little")

        k1 = (k1 * c1) & _MASK64
        k1 = _rotl64_i(k1, 31)
        k1 = (k1 * c2) & _MASK64
        h1 ^= k1

        h1 = _rotl64_i(h1, 27)
        h1 = (h1 + h2) & _MASK64
        h1 = (h1 * 5 + 0x52DCE729) & _MASK64

        k2 = (k2 * c2) & _MASK64
        k2 = _rotl64_i(k2, 33)
        k2 = (k2 * c1) & _MASK64
        h2 ^= k2

        h2 = _rotl64_i(h2, 31)
        h2 = (h2 + h1) & _MASK64
        h2 = (h2 * 5 + 0x38495AB5) & _MASK64

    tail = key[nblocks * 16 :]
    k1 = 0
    k2 = 0
    for i in range(len(tail) - 1, 7, -1):  # bytes 8..14 -> k2
        k2 ^= tail[i] << (8 * (i - 8))
    if len(tail) > 8:
        k2 = (k2 * c2) & _MASK64
        k2 = _rotl64_i(k2, 33)
        k2 = (k2 * c1) & _MASK64
        h2 ^= k2
    for i in range(min(len(tail), 8) - 1, -1, -1):  # bytes 0..7 -> k1
        k1 ^= tail[i] << (8 * i)
    if len(tail) > 0:
        k1 = (k1 * c1) & _MASK64
        k1 = _rotl64_i(k1, 31)
        k1 = (k1 * c2) & _MASK64
        h1 ^= k1

    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & _MASK64
    h2 = (h2 + h1) & _MASK64
    h1 = _fmix64_i(h1)
    h2 = _fmix64_i(h2)
    h1 = (h1 + h2) & _MASK64
    return h1


# ---------------------------------------------------------------------------
# flat key layout
# ---------------------------------------------------------------------------

_SLACK = 16  # bytes after the last key, so its tail words read in bounds


def _key_starts(lens: np.ndarray) -> np.ndarray:
    """(n+1,) byte offsets of the keys in a flat buffer."""
    offs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    return offs


def _gather_keys(data: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Copy the keys ``data[starts[i]:starts[i]+lens[i]]`` back to back
    into a new flat buffer with zeroed slack."""
    lens = np.asarray(lens, dtype=np.int64)
    total = int(lens.sum())
    buf = np.zeros(total + _SLACK, dtype=np.uint8)
    if total:
        # source index of output byte d is d + (start - out_start) of its
        # key; int32 indices halve the memory traffic of the index arrays
        itype = np.int32 if max(total, len(data)) < 2**31 else np.int64
        src = np.arange(total, dtype=itype)
        src += np.repeat(
            (np.asarray(starts, dtype=np.int64) - _key_starts(lens)[:-1]).astype(itype),
            lens,
        )
        buf[:total] = data[src]
    return buf


def take_keys(buf: np.ndarray, lens: np.ndarray, idx) -> tuple[np.ndarray, np.ndarray]:
    """Rows ``idx`` (a unit-step slice, bool mask or int indices) of a flat
    ``(buf, lens)`` key layout, as a flat layout of their own. A slice is
    a zero-copy view: the bytes after it serve as its slack."""
    offs = _key_starts(lens)
    if isinstance(idx, slice):
        return buf[offs[idx.indices(len(lens))[0]] :], lens[idx]
    return _gather_keys(buf, offs[:-1][idx], lens[idx]), lens[idx]


def arrow_buffer_views(arr) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Zero-copy numpy views over an Arrow string/binary array's buffers:
    (flat uint8 data, int64 offsets (n+1,), int64 lens (n,)).

    Null slots get len 0 (their offsets are not guaranteed zero-width).
    Shared by every variable-length kernel (key packing, gram windows,
    media payloads) so slicing/offset/null handling lives in ONE place."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    large = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(
        arr.type
    )
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int64 if large else np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.zeros(0, dtype=np.uint8)
    )
    lens = np.diff(offsets)
    if arr.null_count:
        nulls = np.asarray(pc.is_null(arr).to_numpy(zero_copy_only=False))
        lens = lens.copy()
        lens[nulls] = 0
    return data, offsets, lens


def pack_arrow(arr) -> tuple[np.ndarray, np.ndarray]:
    """Pack a pyarrow String/Binary/LargeString array into the flat
    ``(buf, lens)`` layout with one copy of its bytes. Nulls hash as
    empty strings.

    Fixed-width integer arrays use the canonical little-endian fixed-width
    key encoding (mirroring the reference's test usage of LE uint32 keys,
    bloom_test.go:66-69)."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if pa.types.is_dictionary(arr.type):
        arr = arr.dictionary_decode()
    if not (
        pa.types.is_integer(arr.type)
        or pa.types.is_string(arr.type)
        or pa.types.is_large_string(arr.type)
        or pa.types.is_binary(arr.type)
        or pa.types.is_large_binary(arr.type)
    ):
        # mirror the pandas path's explicit float-key error: anything else
        # (float/double/decimal/...) would be reinterpreted as offsets by
        # the string path below and crash confusingly or silently mis-hash
        raise TypeError(
            f"unsupported key column type {arr.type}; key sketches accept "
            "string/binary/integer columns — cast float or decimal keys "
            "to string or int first"
        )
    if pa.types.is_integer(arr.type):
        # canonical integer key encoding: widen to 8-byte LE so the same
        # value hashes identically from int32 and int64 columns; NULLs
        # hash as the empty key (matching the string path)
        import pyarrow.compute as pc

        lens = np.full(len(arr), 8, dtype=np.int64)
        if arr.null_count:
            lens[np.asarray(pc.is_null(arr).to_numpy(zero_copy_only=False))] = 0
            arr = pc.drop_null(arr)
        # safe=False ONLY for uint64: values >= 2^63 reinterpret as the
        # two's-complement int64 with identical LE bytes (a safe cast
        # raises ArrowInvalid and would kill the build); narrower types
        # keep the checked widening cast.
        unsafe = pa.types.is_uint64(arr.type)
        raw = pc.cast(arr, pa.int64(), safe=not unsafe).to_numpy(
            zero_copy_only=False
        )
        buf = np.zeros(8 * len(raw) + _SLACK, dtype=np.uint8)
        buf[: 8 * len(raw)] = raw.astype("<i8").view(np.uint8)
        return buf, lens
    data, offsets, lens = arrow_buffer_views(arr)
    if arr.null_count and (lens != np.diff(offsets)).any():
        # a null slot whose offsets span bytes: drop those bytes so the
        # NULL hashes as the empty key
        return _gather_keys(data, offsets[:-1], lens), lens
    total = int(offsets[-1] - offsets[0])
    buf = np.zeros(total + _SLACK, dtype=np.uint8)
    buf[:total] = data[offsets[0] : offsets[-1]]
    return buf, lens


def pack_any(values) -> tuple[np.ndarray, np.ndarray]:
    """Pack a python sequence of str/bytes/int keys (tests / driver-side).

    Canonical key encoding: UTF-8 for strings, 8-byte little-endian signed
    for integers (matching :func:`pack_arrow`'s integer-column path)."""

    def enc(v):
        if isinstance(v, (bool, np.bool_)):
            # bytes(True) == b'\x00' and bytes(False) == b'' would alias
            # the 1-zero-byte and empty/NULL keys; the Arrow path rejects
            # bool columns, so the sequence path must too
            raise TypeError("bool keys have no canonical encoding — cast to int")
        if isinstance(v, str):
            return v.encode("utf-8")
        if isinstance(v, (int, np.integer)):
            return int(v).to_bytes(8, "little", signed=True)
        return bytes(v)

    bs = [enc(v) for v in values]
    lens = np.array([len(b) for b in bs], dtype=np.int64)
    bs.append(bytes(_SLACK))
    return np.frombuffer(b"".join(bs), dtype=np.uint8), lens


# ---------------------------------------------------------------------------
# batched hash
# ---------------------------------------------------------------------------

# per tail length t in 0..15: the bytes of the first tail word (0..7) and
# of the second (8..14) that belong to the key
_TAIL_MASK1 = np.array([(1 << (8 * min(t, 8))) - 1 for t in range(16)], dtype=np.uint64)
_TAIL_MASK2 = np.array([(1 << (8 * max(t - 8, 0))) - 1 for t in range(16)], dtype=np.uint64)


def murmur3_64_flat(buf: np.ndarray, starts: np.ndarray, lens: np.ndarray, seed=0) -> np.ndarray:
    """Hash the keys ``buf[starts[i] : starts[i] + lens[i]]`` in place.

    ``seed`` is one seed — returns (n,) uint64 — or a sequence of S seeds
    — returns (S, n), row j hashed with ``seed[j]``. Equivalent to
    ``murmur3_64_scalar(key, s)`` per key and seed. Keys may overlap
    (gram windows) and need not be back to back; a buffer without 16
    bytes of slack after its last key is copied once into one that has.
    """
    if not (isinstance(buf, np.ndarray) and buf.ndim == 1 and buf.dtype == np.uint8):
        raise TypeError(
            "buf must be a 1-D uint8 array of key bytes (the flat layout "
            f"of pack_arrow/pack_any), got {getattr(buf, 'shape', type(buf))} "
            f"{getattr(buf, 'dtype', '')}"
        )
    seeds = np.asarray(seed, dtype=np.uint64)
    n = len(lens)
    if n == 0:
        return np.zeros(seeds.shape + (0,), dtype=np.uint64)
    starts = np.asarray(starts, dtype=np.int64)
    lens = np.asarray(lens, dtype=np.int64)
    need = int((starts + lens).max()) + _SLACK
    if len(buf) < need:
        padded = np.zeros(need, dtype=np.uint8)
        padded[: len(buf)] = buf
        buf = padded
    # words[i] is the little-endian uint64 at byte i (unaligned view)
    words = np.ndarray((len(buf) - 7,), dtype="<u8", buffer=buf, strides=(1,))

    nblocks = lens >> 4
    top = int(nblocks.max())
    order = None
    if top > int(nblocks.min()):
        # longest keys first: block round b touches only the prefix of
        # keys that still have a block b
        order = np.argsort(
            -nblocks.astype(np.int16 if top < 2**15 else np.int64), kind="stable"
        )
        starts, lens, nblocks = starts[order], lens[order], nblocks[order]
    active = n - np.cumsum(np.bincount(nblocks, minlength=top + 1))

    h1 = np.repeat(seeds.reshape(-1, 1), n, axis=1)
    h2 = h1.copy()
    pos = starts.copy()
    for b in range(top):
        c = int(active[b])
        at = pos[:c]
        k1 = _mix_k1(words[at])
        k2 = _mix_k2(words[at + 8])
        at += 16
        a1, a2 = h1[:, :c], h2[:, :c]
        a1 ^= k1
        _rotl64(a1, 27)
        a1 += a2
        a1 *= _M5
        a1 += _N1
        a2 ^= k2
        _rotl64(a2, 31)
        a2 += a1
        a2 *= _M5
        a2 += _N2

    # tail: the two words at the key's last partial block, masked to its
    # tail bytes (absent bytes mix to 0, the reference's k == 0 no-op)
    t = lens & 15
    h1 ^= _mix_k1(words[pos] & _TAIL_MASK1[t])
    h2 ^= _mix_k2(words[pos + 8] & _TAIL_MASK2[t])

    ulen = lens.astype(np.uint64)
    h1 ^= ulen
    h2 ^= ulen
    h1 += h2
    h2 += h1
    _fmix64(h1)
    _fmix64(h2)
    h1 += h2
    if order is not None:
        out = np.empty_like(h1)
        out[:, order] = h1
        h1 = out
    return h1.reshape(seeds.shape + (n,))


def murmur3_64_packed(buf: np.ndarray, lens: np.ndarray, seed=0) -> np.ndarray:
    """Hash every key of a flat ``(buf, lens)`` layout (see
    :func:`murmur3_64_flat` for ``seed``)."""
    return murmur3_64_flat(buf, _key_starts(lens)[:-1], lens, seed)


def murmur3_64_batch(values, seed: int = 0) -> np.ndarray:
    """Hash a sequence of str/bytes values. Returns (n,) uint64."""
    buf, lens = pack_any(values)
    return murmur3_64_packed(buf, lens, seed)
