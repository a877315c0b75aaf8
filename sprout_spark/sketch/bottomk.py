"""Bottom-k sample — deterministic mergeable uniform sample + distinct
estimator (KMV, Bar-Yossef et al. 2002).

No counterpart in the reference; added for the training-data pipeline:
sampling a 100 TB corpus needs a sample that is (a) uniform over
*distinct* keys, (b) identical regardless of partitioning or order, and
(c) mergeable. Keeping the k keys with the smallest ``murmur3_64(key)``
gives all three with no RNG: the hash imposes a fixed random-looking
total order, partials keep their local bottom-k, and merge = union →
bottom-k again (associative, commutative, idempotent).

Bonus: the k-th smallest hash estimates distinct cardinality
(KMV estimator ``(k-1) / (h_k / 2^64)``, relative error ≈ 1/√(k-2)).
"""

from __future__ import annotations

import numpy as np

from ..hashing import murmur3_64_packed, pack_any, pack_arrow, take_keys
from .base import MergeableSketch, register

_FULL = float(2**64)


@register
class BottomKSample(MergeableSketch):
    TYPE = "bottomk"

    def __init__(self, k: int = 1024, seed: int = 0):
        if k < 4:
            raise ValueError("k must be >= 4")
        self.k = int(k)
        self.seed = int(seed)
        self.hashes = np.empty(0, dtype=np.uint64)
        self.keys: list[bytes] = []
        self.count = 0  # rows observed

    # -- partial ---------------------------------------------------------------
    def _absorb(self, h: np.ndarray, buf: np.ndarray, lens: np.ndarray) -> None:
        # candidate pruning: only rows already under the current threshold
        # can enter the sample
        if len(self.hashes) >= self.k:
            thresh = self.hashes.max()
            cand = h < thresh
            if not cand.any():
                return
            h = h[cand]
            buf, lens = take_keys(buf, lens, cand)
        ends = np.cumsum(lens).tolist()
        raw = buf[: ends[-1]].tobytes()
        new_keys = [raw[e - l : e] for e, l in zip(ends, lens.tolist())]
        all_h = np.concatenate([self.hashes, h])
        all_k = self.keys + new_keys
        # dedupe by hash (identical keys hash identically; 64-bit
        # collisions are negligible and deterministic either way)
        uniq, idx = np.unique(all_h, return_index=True)
        take = min(self.k, len(uniq))
        self.hashes = uniq[:take]
        self.keys = [all_k[i] for i in idx[:take]]

    def add_packed(self, buf: np.ndarray, lens: np.ndarray) -> None:
        n = len(lens)
        if n == 0:
            return
        self.count += n
        h = murmur3_64_packed(buf, lens, self.seed)
        self._absorb(h, buf, lens)

    def update_arrow(self, arr) -> None:
        self.add_packed(*pack_arrow(arr))

    def update_values(self, values) -> None:
        self.add_packed(*pack_any(values))

    # -- final -----------------------------------------------------------------
    def merge(self, other: "BottomKSample") -> "BottomKSample":
        if (
            not isinstance(other, BottomKSample)
            or other.k != self.k
            or other.seed != self.seed
        ):
            raise ValueError("cannot merge bottom-k samples with different (k, seed)")
        all_h = np.concatenate([self.hashes, other.hashes])
        all_k = self.keys + other.keys
        uniq, idx = np.unique(all_h, return_index=True)
        take = min(self.k, len(uniq))
        self.hashes = uniq[:take]
        self.keys = [all_k[i] for i in idx[:take]]
        self.count += other.count
        return self

    # -- query --------------------------------------------------------------------
    def sample(self) -> list[bytes]:
        """The deterministic uniform sample of distinct keys (≤ k)."""
        return list(self.keys)

    def estimate_distinct(self) -> float:
        """KMV estimator; exact when fewer than k distinct keys seen."""
        if len(self.hashes) < self.k:
            return float(len(self.hashes))
        h_k = float(self.hashes[self.k - 1]) / _FULL
        return (self.k - 1) / h_k

    def relative_error(self) -> float:
        return 1.0 / np.sqrt(max(self.k - 2, 1))

    def resemblance(self, other: "BottomKSample") -> float:
        """Jaccard |A∩B| / |A∪B| estimate (Bar-Yossef et al. 2002 /
        Beyer et al. 2007 KMV coordination): take the k smallest hashes
        of the UNION (hashes are a shared seeded function of the key, so
        the two sketches are coordinated samples) and count the fraction
        present in BOTH sketches. Unlike HLL's inclusion–exclusion
        (error scales with the union's magnitude), this estimates the
        RATIO directly with ±O(1/√k) error — the right tool for
        small-overlap questions like 'what fraction of this crawl
        duplicates the last one'. Exact when the union retains fewer
        than k distinct keys."""
        if other.k != self.k or other.seed != self.seed:
            raise ValueError("cannot compare sketches with different k/seed")
        union = np.union1d(self.hashes, other.hashes)  # sorted unique
        take = min(self.k, len(union))
        if take == 0:
            return 0.0
        x = union[:take]
        both = np.isin(x, self.hashes) & np.isin(x, other.hashes)
        return float(both.sum()) / take

    def stats(self) -> dict:
        return {
            "type": self.TYPE,
            "k": self.k,
            "retained": len(self.hashes),
            "count": self.count,
            "estimate_distinct": self.estimate_distinct(),
        }

    # -- wire format ------------------------------------------------------------------
    def _meta(self) -> dict:
        return {
            "k": self.k,
            "seed": self.seed,
            "count": self.count,
            "key_lens": [len(b) for b in self.keys],
        }

    def _payload(self) -> bytes:
        return self.hashes.tobytes() + b"".join(self.keys)

    @classmethod
    def _from_parts(cls, meta: dict, payload: bytes) -> "BottomKSample":
        s = cls(meta["k"], meta["seed"])
        n = len(meta["key_lens"])
        s.hashes = np.frombuffer(payload, dtype=np.uint64, count=n).copy()
        off = 8 * n
        keys = []
        for ln in meta["key_lens"]:
            keys.append(payload[off : off + ln])
            off += ln
        s.keys = keys
        s.count = int(meta["count"])
        return s
