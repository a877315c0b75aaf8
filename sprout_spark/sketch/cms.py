"""Count-Min Sketch (Cormode & Muthukrishnan 2005) — mergeable frequencies.

No counterpart in the reference (north-rule addition; SURVEY.md §2.3).
Geometry: ``d = ceil(ln(1/delta))`` rows × ``w = ceil(e/eps)`` columns of
int64 counters. Row *j* uses the reference's seeded murmur3 with the same
seed schedule as the Bloom filter (``64 << (j+1)``, bloom.go:111-114).

Guarantee: estimates never under-count, and over-count by at most ``eps*N``
with probability ``1-delta`` (N = total added weight). Merge is
element-wise ``+`` (associative, commutative).
"""

from __future__ import annotations

import math

import numpy as np

from ..hashing import murmur3_64_packed, pack_any, pack_arrow
from .base import MergeableSketch, register

_U64 = np.uint64


@register
class CountMinSketch(MergeableSketch):
    TYPE = "cms"

    def __init__(self, eps: float = 0.0001, delta: float = 0.01, hash_mode: str = "km"):
        if not (0 < eps < 1) or not (0 < delta < 1):
            raise ValueError("eps and delta must be in (0, 1)")
        if hash_mode not in ("km", "seeded"):
            raise ValueError("hash_mode must be 'km' or 'seeded'")
        self.eps = float(eps)
        self.delta = float(delta)
        self.hash_mode = hash_mode
        self.w = int(math.ceil(math.e / eps))
        self.d = int(math.ceil(math.log(1.0 / delta)))
        self.seeds = np.array([64 << (j + 1) for j in range(max(self.d, 2))], dtype=np.uint64)
        self.counts = np.zeros((self.d, self.w), dtype=np.int64)
        self.total = 0  # N: total added weight

    def _cols(self, buf: np.ndarray, lens: np.ndarray) -> np.ndarray:
        """(d, n) column indices from one hash call; km mode = 2 seeds +
        affine."""
        w64 = _U64(self.w)
        if self.hash_mode == "seeded":
            return (murmur3_64_packed(buf, lens, self.seeds[: self.d]) % w64).astype(
                np.int64
            )
        g, h2 = murmur3_64_packed(buf, lens, self.seeds[:2])
        out = np.empty((self.d, len(lens)), dtype=np.int64)
        for j in range(self.d):
            out[j] = g % w64
            g += h2
        return out

    # -- partial --------------------------------------------------------------
    def add_packed(
        self, buf: np.ndarray, lens: np.ndarray, weights: np.ndarray | None = None
    ) -> None:
        n = len(lens)
        if n == 0:
            return
        if weights is None:
            weights = np.ones(n, dtype=np.int64)
        else:
            weights = np.asarray(weights, dtype=np.int64)
        cols = self._cols(buf, lens)
        for j in range(self.d):
            np.add.at(self.counts[j], cols[j], weights)
        self.total += int(weights.sum())

    def update_arrow(self, arr, weights=None) -> None:
        self.add_packed(*pack_arrow(arr), weights)

    def update_values(self, values, weights=None) -> None:
        self.add_packed(*pack_any(values), weights)

    # -- final -----------------------------------------------------------------
    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        if (
            not isinstance(other, CountMinSketch)
            or other.w != self.w
            or other.d != self.d
            or other.hash_mode != self.hash_mode
        ):
            raise ValueError("cannot merge CMS with different geometry")
        self.counts += other.counts
        self.total += other.total
        return self

    # -- query --------------------------------------------------------------------
    def estimate_packed(self, buf: np.ndarray, lens: np.ndarray) -> np.ndarray:
        n = len(lens)
        if n == 0:
            return np.zeros(0, dtype=np.int64)
        cols = self._cols(buf, lens)
        est = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
        for j in range(self.d):
            np.minimum(est, self.counts[j, cols[j]], out=est)
        return est

    def estimate_values(self, values) -> np.ndarray:
        return self.estimate_packed(*pack_any(values))

    def estimate_arrow(self, arr) -> np.ndarray:
        return self.estimate_packed(*pack_arrow(arr))

    def estimate(self, key) -> int:
        return int(self.estimate_values([key])[0])

    def error_bound(self) -> float:
        """Additive over-count bound eps*N holding w.p. 1-delta."""
        return self.eps * self.total

    def inner_product(self, other: "CountMinSketch") -> int:
        """Join-size / inner-product estimate Σ_k f_A(k)·f_B(k) (Cormode
        & Muthukrishnan 2005 §4.2): per hash row, the dot product of the
        two counter rows over-counts the true inner product only by
        non-negative collision cross-terms, so ``min`` over rows NEVER
        under-estimates and exceeds the truth by at most ε·N_A·N_B with
        probability 1−δ. The equi-join size of two key columns is
        exactly this inner product over their frequency vectors — a
        plan-time cardinality estimate from two already-built sketches,
        no join executed."""
        if (
            self.w != other.w
            or self.d != other.d
            or self.hash_mode != other.hash_mode
        ):
            raise ValueError("cannot combine CMS with different geometry")
        # exact python-int arithmetic over the nonzero cells: an int64 dot
        # product wraps at ~1e19 (two 1e10-weight hot cells), silently
        # breaking the never-under-estimates lower bound; nnz-sized object
        # math is driver-side and cheap relative to any build
        best = None
        for j in range(self.d):
            a, b = self.counts[j], other.counts[j]
            nz = np.flatnonzero((a != 0) & (b != 0))
            dot = sum(int(a[i]) * int(b[i]) for i in nz)
            best = dot if best is None else min(best, dot)
        return int(best)

    def heavy_hitters(self, candidates, threshold: float) -> list[tuple]:
        """Candidates whose estimated count >= threshold * N."""
        candidates = list(candidates)  # a generator must not be consumed
        est = self.estimate_values(candidates)  # twice (once here, once in
        cut = threshold * self.total  # the zip) — it silently yielded []
        out = [(c, int(e)) for c, e in zip(candidates, est) if e >= cut]
        return sorted(out, key=lambda t: (-t[1], str(t[0])))

    def stats(self) -> dict:
        return {
            "type": self.TYPE,
            "eps": self.eps,
            "delta": self.delta,
            "w": self.w,
            "d": self.d,
            "total": self.total,
            "error_bound": self.error_bound(),
        }

    # -- wire format -------------------------------------------------------------------
    # Adaptive density (same contract as HyperLogLog's sparse payloads):
    # a per-key / per-salt partial touches ~d·distinct cells of the d×w
    # grid, so below byte-breakeven (16 bytes per nonzero: uint64 flat
    # index + int64 count vs 8 bytes per dense cell) the payload switches
    # to (indices, values); ``nnz`` in the meta marks it and both
    # encodings merge interchangeably.

    def _sparse_nnz(self) -> int | None:
        nnz = int(np.count_nonzero(self.counts))
        return nnz if nnz * 16 < self.d * self.w * 8 else None

    def _meta(self) -> dict:
        meta = {
            "eps": self.eps,
            "delta": self.delta,
            "total": self.total,
            "hash_mode": self.hash_mode,
        }
        nnz = self._sparse_nnz()
        if nnz is not None:
            meta["nnz"] = nnz
        return meta

    def _payload(self) -> bytes:
        if self._sparse_nnz() is None:
            return self.counts.tobytes()
        flat = self.counts.ravel()
        idx = np.flatnonzero(flat).astype(np.uint64)
        return idx.tobytes() + flat[idx.astype(np.int64)].tobytes()

    @classmethod
    def _from_parts(cls, meta: dict, payload: bytes) -> "CountMinSketch":
        c = cls(meta["eps"], meta["delta"], meta.get("hash_mode", "km"))
        if "nnz" in meta:
            nnz = int(meta["nnz"])
            if len(payload) != nnz * 16:
                raise ValueError("sparse payload size does not match nnz")
            idx = np.frombuffer(payload, dtype=np.uint64, count=nnz)
            vals = np.frombuffer(payload, dtype=np.int64, offset=nnz * 8)
            if nnz and int(idx.max()) >= c.d * c.w:
                raise ValueError("sparse cell index out of range")
            c.counts.ravel()[idx.astype(np.int64)] = vals
        else:
            counts = np.frombuffer(payload, dtype=np.int64)
            if len(counts) != c.d * c.w:
                raise ValueError("payload size does not match geometry")
            c.counts = counts.reshape(c.d, c.w).copy()
        c.total = int(meta["total"])
        return c
