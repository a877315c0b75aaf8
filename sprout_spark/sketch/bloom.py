"""Partitioned (sliced) Bloom filter — reference-parity geometry.

Reimplements the semantics of dsa0x/sprout's fixed-size ``BloomFilter``
(``/root/reference/bloom.go``) as a vectorized numpy sketch:

* geometry (``bloom.go:100-114``):
    k      = ceil(log2(1/err_rate))
    M      = int(capacity * |ln err_rate| / ln(2)^2)
    m      = M // k                       (bits per slice)
    seeds  = 64 << (i+1)  for i in 0..k-1
* sliced addressing (``bloom.go:297-307``): hash function *i* owns the
  disjoint bit range ``[i*m, (i+1)*m)``; the bit for key *x* is
  ``i*m + murmur3_64(x, seeds[i]) % m``.
* ``Add`` errors once ``count`` reaches ``capacity``
  (``bloom.go:170-172``).
* ``Merge`` requires identical geometry and ORs the bit arrays
  (``bloom.go:241-260``). Divergence from the reference (its quirk Q2,
  see SURVEY.md §1.5): we *sum* counts on merge, which distributed
  capacity accounting requires; OR-associativity is unaffected.

Storage differs deliberately: the reference mmaps a byte file with
MSB-first bit addressing (``bloom.go:283-294``); payloads never
interchange, so we use an in-memory uint8 array with LSB-first bit
addressing (``byte = idx >> 3``, ``mask = 1 << (idx & 7)``), which is
exactly numpy's ``packbits(bitorder='little')`` layout and lets the
partial build scatter a whole Arrow batch at once.
"""

from __future__ import annotations

import math

import numpy as np

from ..hashing import murmur3_64_packed, pack_any, pack_arrow
from .base import MergeableSketch, register


class BloomCapacityError(RuntimeError):
    """Raised when adding past capacity (parity: bloom.go:170-172)."""


def bloom_geometry(capacity: int, err_rate: float) -> dict:
    """The reference's sizing math, verbatim (bloom.go:100-114)."""
    if not (0.0 < err_rate < 1.0):
        raise ValueError("Error rate must be between 0 and 1")
    if capacity <= 10:
        raise ValueError("Capacity must be greater than 10")
    k = int(math.ceil(math.log2(1.0 / err_rate)))
    ln22 = math.log(2) ** 2
    m_total = int(capacity * abs(math.log(err_rate)) / ln22)
    m = m_total // k
    seeds = np.array([64 << (i + 1) for i in range(k)], dtype=np.uint64)
    return {"k": k, "M": m_total, "m": m, "seeds": seeds}


@register
class BloomFilter(MergeableSketch):
    TYPE = "bloom"

    def __init__(
        self,
        capacity: int = 10000,
        err_rate: float = 0.001,
        hash_mode: str = "km",
        enforce_capacity: bool = True,
    ):
        """``enforce_capacity=False`` sizes the filter for an expected
        DISTINCT-key count while tolerating repeated adds past ``count``
        (membership streams re-see keys; saturation — and therefore the
        FPR bound — depends on distinct insertions, not adds). The
        reference's per-add capacity error (bloom.go:170-172, quirk Q6)
        remains the default.

        ``hash_mode``:

        * ``"km"`` (default) — Kirsch–Mitzenmacher double hashing: slice
          *i* uses ``h1 + i*h2`` from two seeded murmur3 passes. Same
          sliced layout and (asymptotically, and empirically per the FPR
          tests) the same false-positive guarantee as k independent
          hashes, at 2 seeds instead of k — the hot-loop win the
          SURVEY.md §1.4 note anticipates.
        * ``"seeded"`` — reference-parity: k independent murmur3 hashes
          with the reference's seed schedule (bloom.go:297-313), taken
          in one multi-seed kernel call.
        """
        if hash_mode not in ("km", "seeded"):
            raise ValueError("hash_mode must be 'km' or 'seeded'")
        geo = bloom_geometry(capacity, err_rate)
        self.capacity = int(capacity)
        self.err_rate = float(err_rate)
        self.hash_mode = hash_mode
        self.enforce_capacity = bool(enforce_capacity)
        self.k = geo["k"]
        self.m = geo["m"]
        self.seeds = geo["seeds"]
        self.nbits = self.k * self.m
        # byte length rounded up to a multiple of 8 so the scatter path
        # can OR whole uint64 words (view requires 8-byte divisibility);
        # the <=7 pad bytes are never addressed by any index
        nbytes = (self.nbits + 7) // 8
        self.bits = np.zeros((nbytes + 7) // 8 * 8, dtype=np.uint8)
        self.count = 0

    # -- geometry ----------------------------------------------------------
    def same_geometry(self, other: "BloomFilter") -> bool:
        return (
            isinstance(other, BloomFilter)
            and self.k == other.k
            and self.m == other.m
            and self.hash_mode == other.hash_mode
            and len(self.bits) == len(other.bits)
        )

    # -- indices -----------------------------------------------------------
    def _km_seeds(self) -> list:
        return [self.seeds[0], self.seeds[1] if self.k > 1 else np.uint64(256)]

    def _indices(self, buf: np.ndarray, lens: np.ndarray) -> np.ndarray:
        """(k, n) flat bit indices: i*m + g_i(key) % m, from one hash call."""
        m = np.uint64(self.m)
        slice_base = (np.arange(self.k, dtype=np.uint64) * m)[:, None]
        if self.hash_mode == "km":
            h1, h2 = murmur3_64_packed(buf, lens, self._km_seeds())
            out = np.empty((self.k, len(lens)), dtype=np.uint64)
            g = h1
            for i in range(self.k):
                np.remainder(g, m, out=out[i])
                g += h2
        else:
            out = murmur3_64_packed(buf, lens, self.seeds)
            out %= m
        out += slice_base
        return out

    # -- partial build -----------------------------------------------------
    def _add_indices(self, idx: np.ndarray, n: int, enforce_capacity: bool) -> None:
        if enforce_capacity and self.count + n > self.capacity:
            raise BloomCapacityError(
                f"Filter capacity reached: count={self.count} + {n} > "
                f"capacity={self.capacity}"
            )
        flat = idx.ravel()
        if flat.size * 32 < self.nbits:
            # sparse batch vs a wide bitset: sort the bit indices, fold
            # same-word duplicates with one bitwise_or.reduceat, then OR
            # unique 64-bit words with plain fancy indexing — ~25-40%
            # faster than np.bitwise_or.at's per-element scatter and
            # equally duplicate-safe
            u = np.sort(flat)
            word = (u >> np.uint64(6)).astype(np.int64)
            mask = np.uint64(1) << (u & np.uint64(63))
            cut = np.empty(len(word), dtype=bool)
            cut[0] = True
            np.not_equal(word[1:], word[:-1], out=cut[1:])
            starts = np.flatnonzero(cut)
            words = self.bits.view(np.uint64)  # length padded in __init__
            words[word[starts]] |= np.bitwise_or.reduceat(mask, starts)
        else:
            # dense batch: one bool staging pass + packbits is faster than
            # millions of scattered single-byte ORs
            stage = np.zeros(len(self.bits) * 8, dtype=bool)
            stage[flat] = True
            self.bits |= np.packbits(stage, bitorder="little")
        self.count += n

    def add_packed(
        self, buf: np.ndarray, lens: np.ndarray, enforce_capacity: bool | None = None
    ) -> None:
        n = len(lens)
        if n == 0:
            return
        if enforce_capacity is None:
            enforce_capacity = self.enforce_capacity
        self._add_indices(self._indices(buf, lens), n, enforce_capacity)

    def update_arrow(self, arr) -> None:
        self.add_packed(*pack_arrow(arr))

    def update_values(self, values) -> None:
        self.add_packed(*pack_any(values))

    def add(self, key) -> None:
        """Single-key Add (API parity with bloom.go:164-187)."""
        self.update_values([key])

    # -- probe ---------------------------------------------------------------
    def _slice_bit(self, i: int, g: np.ndarray) -> np.ndarray:
        """Bit values of slice ``i`` for per-key hash values ``g``."""
        idx = np.uint64(i) * np.uint64(self.m) + (g % np.uint64(self.m))
        byte_idx = (idx >> np.uint64(3)).astype(np.int64)
        return (self.bits[byte_idx] >> (idx & np.uint64(7)).astype(np.uint8)) & 1

    def contains_packed(self, buf: np.ndarray, lens: np.ndarray) -> np.ndarray:
        """Membership probe. Seeded mode hashes all k seeds in one call
        and ANDs the k slice bits: the seed-independent block mixing is
        shared, so dropping dead keys early saves less than the subset
        gathers cost at any hit ratio. km mode exits early instead: every
        key checks slice 0; keys already dead stop consuming gather work
        in later slices. Misses die after ~1/fill slices on average, so a
        miss-heavy probe (the semi-join pruning case — the reference's
        bloom-before-store elision, bloom.go:225-227) costs ~2 slice
        probes instead of k. When nearly everything survives slice 0
        (hit-heavy), the whole batch stays vectorized — no per-key index
        bookkeeping on the fast path. Results are identical either way."""
        n = len(lens)
        if n == 0:
            return np.zeros(0, dtype=bool)
        if self.hash_mode == "km":
            h1, h2 = murmur3_64_packed(buf, lens, self._km_seeds())
            out = self._slice_bit(0, h1).astype(bool)
            alive = np.flatnonzero(out)
            if len(alive) > (n >> 1) + (n >> 2):  # hit-heavy: stay vectorized
                g = h1 + h2
                for i in range(1, self.k):
                    out &= self._slice_bit(i, g).astype(bool)
                    g += h2
                return out
            h1a, h2a = h1[alive], h2[alive]
            for i in range(1, self.k):
                if len(alive) == 0:
                    break
                bit = self._slice_bit(i, h1a + np.uint64(i) * h2a)
                keep = bit != 0
                dead = alive[~keep]
                out[dead] = False
                alive, h1a, h2a = alive[keep], h1a[keep], h2a[keep]
            return out
        h = murmur3_64_packed(buf, lens, self.seeds)
        out = self._slice_bit(0, h[0]) != 0
        for i in range(1, self.k):
            out &= self._slice_bit(i, h[i]) != 0
        return out

    def contains_arrow(self, arr) -> np.ndarray:
        return self.contains_packed(*pack_arrow(arr))

    def contains_values(self, values) -> np.ndarray:
        return self.contains_packed(*pack_any(values))

    def contains(self, key) -> bool:
        return bool(self.contains_values([key])[0])

    # -- final ---------------------------------------------------------------
    def merge(self, other: "BloomFilter") -> "BloomFilter":
        if not self.same_geometry(other):
            raise ValueError(
                "cannot merge bloom filters with different geometry "
                f"(k={self.k}/{other.k}, m={self.m}/{other.m})"
            )
        np.bitwise_or(self.bits, other.bits, out=self.bits)
        self.count += other.count  # fixes reference quirk Q2
        return self

    # -- lifecycle / introspection (parity rows 5-9 of SURVEY.md §2.1) -------
    def clear(self) -> None:
        self.bits[:] = 0
        self.count = 0

    def filter_size(self) -> int:
        return len(self.bits)

    def fill_fractions(self) -> np.ndarray:
        """Per-slice ones-density (k,) — honest saturation measure."""
        ones = np.unpackbits(self.bits, bitorder="little")[: self.nbits]
        return ones.reshape(self.k, self.m).mean(axis=1)

    def prob_observed(self) -> float:
        """Actual FPR estimate from bit density: a probe false-positives iff
        its bit is set in every slice, so FPR = prod(fill_fraction_i).
        Unlike the configured ``err_rate`` this stays honest when a merge
        pushed ``count`` past ``capacity``."""
        return float(np.prod(self.fill_fractions()))

    def stats(self) -> dict:
        return {
            "type": self.TYPE,
            "capacity": self.capacity,
            "count": self.count,
            "size_bytes": self.filter_size(),
            "M": self.m,
            "K": self.k,
            "prob": self.err_rate,
        }

    # -- wire format ----------------------------------------------------------
    def _meta(self) -> dict:
        return {
            "capacity": self.capacity,
            "err_rate": self.err_rate,
            "count": self.count,
            "hash_mode": self.hash_mode,
            "enforce_capacity": self.enforce_capacity,
        }

    def _payload(self) -> bytes:
        return self.bits.tobytes()

    @classmethod
    def _from_parts(cls, meta: dict, payload: bytes) -> "BloomFilter":
        bf = cls(
            meta["capacity"],
            meta["err_rate"],
            meta.get("hash_mode", "km"),
            meta.get("enforce_capacity", True),
        )
        bits = np.frombuffer(payload, dtype=np.uint8)
        unpadded = (bf.nbits + 7) // 8
        if len(bits) == unpadded and unpadded != len(bf.bits):
            # payload persisted before the 8-byte word padding: accept
            # and re-pad (the pad bytes are never addressed, always 0)
            bf.bits[: len(bits)] = bits
            bf.count = int(meta["count"])
            return bf
        if len(bits) != len(bf.bits):
            raise ValueError("payload size does not match geometry")
        bf.bits = bits.copy()
        bf.count = int(meta["count"])
        return bf
