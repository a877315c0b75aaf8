"""Vectorized MurmurHash3 x64-128 (h1 lane) over numpy byte matrices.

Semantics match the reference's hash exactly (dsa0x/sprout,
``pkg/murmur/murmur3.go:10-139``, itself a port of Appleby's public
MurmurHash3.cpp): little-endian 16-byte blocks, 15-way byte tail, fmix64
finalization, and only ``h1`` of the 128-bit result is returned
(``murmur3.go:125``).

Two implementations are provided:

* :func:`murmur3_64_scalar` — a straight per-key port used as the test
  oracle (and for tiny inputs).
* :func:`murmur3_64_batch` — the hot path: hashes a whole batch of
  variable-length keys at once with numpy uint64 arithmetic.  Keys are
  packed into a zero-padded ``(n, W)`` uint8 matrix; body blocks are
  processed column-wise with an "is this a real body block for this row"
  mask, and the tail is processed unconditionally (zero padding makes the
  tail mixing a no-op for absent bytes, mirroring the ``k1 == 0`` /
  ``k2 == 0`` no-op in the reference's switch).

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
    r = _U64(r)
    return (x << r) | (x >> _U64(64 - int(r)))


def _fmix64(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> _U64(33))
    k = k * _FM1
    k = k ^ (k >> _U64(33))
    k = k * _FM2
    k = k ^ (k >> _U64(33))
    return k


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
# batched packing
# ---------------------------------------------------------------------------


def pack_keys(data: np.ndarray, offsets: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Pack variable-length byte strings into a zero-padded uint8 matrix.

    ``data`` is the concatenated bytes, ``offsets`` the (n+1,) int array of
    key boundaries (pyarrow string/binary layout).  Returns ``(mat, lens)``
    where ``mat`` is ``(n, W)`` uint8 with ``W`` a multiple of 16.
    """
    offsets = offsets.astype(np.int64)
    lens = np.diff(offsets)
    n = len(lens)
    if n == 0:
        return np.zeros((0, 16), dtype=np.uint8), lens
    max_len = int(lens.max()) if n else 0
    w = max(16, ((max_len + 15) // 16) * 16)
    mat = np.zeros(n * w, dtype=np.uint8)
    total = int(offsets[-1] - offsets[0])
    if total:
        # flat scatter: target index of source byte d is
        # row(d)*w + (d - start[row(d)]), built with one repeat;
        # int32 indices halve the memory traffic of the index arrays
        itype = np.int32 if n * w < 2**31 and total < 2**31 else np.int64
        d = np.arange(total, dtype=itype)
        d += np.repeat(
            (np.arange(n, dtype=itype) * w).astype(itype)
            - (offsets[:-1] - offsets[0]).astype(itype),
            lens,
        )
        mat[d] = data[offsets[0] : offsets[-1]]
    return mat.reshape(n, w), lens


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
    """Pack a pyarrow String/Binary/LargeString array without copies of the
    underlying data buffer.  Nulls hash as empty strings.

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

        nulls = None
        if arr.null_count:
            nulls = np.asarray(pc.is_null(arr).to_numpy(zero_copy_only=False))
            arr = pc.fill_null(arr, 0)
        # safe=False ONLY for uint64: values >= 2^63 reinterpret as the
        # two's-complement int64 with identical LE bytes (a safe cast
        # raises ArrowInvalid and would kill the build); narrower types
        # keep the checked widening cast.
        unsafe = pa.types.is_uint64(arr.type)
        raw = np.ascontiguousarray(
            pc.cast(arr, pa.int64(), safe=not unsafe)
            .to_numpy(zero_copy_only=False)
            .astype("<i8")
        )
        n = len(raw)
        mat = np.zeros((n, 16), dtype=np.uint8)
        mat[:, :8] = raw.view(np.uint8).reshape(n, 8)
        lens = np.full(n, 8, dtype=np.int64)
        if nulls is not None:
            mat[nulls] = 0
            lens[nulls] = 0
        return mat, lens
    data, offsets, lens0 = arrow_buffer_views(arr)
    mat, lens = pack_keys(data, offsets)
    if arr.null_count:
        # NULLs hash as the empty key (a null slot's offsets are not
        # guaranteed zero-width, so zero the packed bytes explicitly)
        masked = (lens0 == 0) & (lens > 0)
        if masked.any():
            mat[masked] = 0
        lens = lens0
    return mat, lens


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
    offsets = np.concatenate([[0], np.cumsum(lens)])
    data = (
        np.frombuffer(b"".join(bs), dtype=np.uint8)
        if bs
        else np.zeros(0, dtype=np.uint8)
    )
    return pack_keys(data, offsets)


# ---------------------------------------------------------------------------
# batched hash
# ---------------------------------------------------------------------------


def murmur3_64_packed(
    mat: np.ndarray, lens: np.ndarray, seed: int | np.uint64 = 0
) -> np.ndarray:
    """Hash every row of a packed ``(n, W)`` uint8 matrix. Returns (n,) uint64.

    Equivalent to ``[murmur3_64_scalar(row_bytes, seed) for row in rows]``.
    """
    n, w = mat.shape
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    lens = lens.astype(np.int64)
    words = np.ascontiguousarray(mat).view("<u8").reshape(n, w // 8)
    nblocks = lens // 16

    h1 = np.full(n, _U64(seed), dtype=np.uint64)
    h2 = np.full(n, _U64(seed), dtype=np.uint64)

    for blk in range(w // 16):
        active = nblocks > blk
        if not active.any():
            break
        k1 = words[:, 2 * blk].copy()
        k2 = words[:, 2 * blk + 1].copy()

        k1 *= _C1
        k1 = _rotl64(k1, 31)
        k1 *= _C2
        nh1 = h1 ^ k1
        nh1 = _rotl64(nh1, 27)
        nh1 += h2
        nh1 = nh1 * _M5 + _N1

        k2 *= _C2
        k2 = _rotl64(k2, 33)
        k2 *= _C1
        nh2 = h2 ^ k2
        nh2 = _rotl64(nh2, 31)
        nh2 += nh1
        nh2 = nh2 * _M5 + _N2

        h1 = np.where(active, nh1, h1)
        h2 = np.where(active, nh2, h2)

    # Tail: gather the two words that start at byte offset nblocks*16.
    # Zero padding means absent tail bytes contribute nothing, but bytes
    # beyond ``len`` within the tail words are already zero too, so the
    # gathered words equal the reference's byte-by-byte accumulation.
    nwords = w // 8
    if w == 16 or not nblocks.any():
        # all keys fit one block pair (every <=16-byte batch: int64 keys,
        # gram windows, band rows): the tail is columns 0/1 directly — no
        # per-row fancy gather
        k1 = np.where(nblocks == 0, words[:, 0], _U64(0))
        k2 = np.where(nblocks == 0, words[:, 1], _U64(0))
    else:
        tail_word0 = nblocks * 2
        tail_word1 = tail_word0 + 1
        k1 = np.where(tail_word0 < nwords, words[np.arange(n), np.minimum(tail_word0, nwords - 1)], _U64(0))
        k2 = np.where(tail_word1 < nwords, words[np.arange(n), np.minimum(tail_word1, nwords - 1)], _U64(0))
    tail_len = lens - nblocks * 16

    # mask k1 to the first min(tail_len, 8) bytes, k2 to bytes 8..14
    nb1 = np.minimum(tail_len, 8).astype(np.uint64)
    nb2 = np.clip(tail_len - 8, 0, 7).astype(np.uint64)
    full1 = nb1 == 8
    m1 = np.where(full1, _U64(_MASK64), (_U64(1) << (nb1 * _U64(8))) - _U64(1))
    m2 = (_U64(1) << (nb2 * _U64(8))) - _U64(1)
    k1 &= m1
    k2 &= m2

    has_k2 = tail_len > 8
    k2 = np.where(has_k2, k2, _U64(0))
    k2 *= _C2
    k2 = _rotl64(k2, 33)
    k2 *= _C1
    h2 = np.where(has_k2, h2 ^ k2, h2)

    has_k1 = tail_len > 0
    k1 = np.where(has_k1, k1, _U64(0))
    k1 *= _C1
    k1 = _rotl64(k1, 31)
    k1 *= _C2
    h1 = np.where(has_k1, h1 ^ k1, h1)

    ulen = lens.astype(np.uint64)
    h1 ^= ulen
    h2 ^= ulen
    h1 += h2
    h2 += h1
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 += h2
    return h1


def murmur3_64_batch(values, seed: int = 0) -> np.ndarray:
    """Hash a sequence of str/bytes values. Returns (n,) uint64."""
    mat, lens = pack_any(values)
    return murmur3_64_packed(mat, lens, seed)

