"""HyperLogLog (Flajolet et al. 2007) — dense registers, mergeable.

No counterpart in the reference (required by the north rule; SURVEY.md
§2.3). Same partial/final skeleton as the Bloom filter: per-partition
register arrays built vectorized from Arrow batches, merged with
element-wise ``max`` (associative, commutative, idempotent).

Geometry: ``m = 2**p`` uint8 registers. For each key, ``h = murmur3_64``
(seed 0, the reference's hash); the top ``p`` bits select the register and
``rho`` = leading-zero count of the remaining ``64-p`` bits + 1 is the
candidate value.

Estimation uses Ertl's improved estimator (O. Ertl, "New cardinality
estimation algorithms for HyperLogLog sketches", arXiv:1702.01284, 2017,
§2 eq. 2 with the σ/τ series of Alg. 5/6): it is derived from the full
register histogram (including the saturated value q+1) and is bias-free
over the entire range — no linear-counting switch, no empirical HLL++
bias tables, no mid-range crossover band. Relative standard error
≈ 1.04/√m (slightly better in the small-n regime).
"""

from __future__ import annotations

import math

import numpy as np

from ..hashing import murmur3_64_packed, pack_any, pack_arrow
from .base import MergeableSketch, register

_U64 = np.uint64


def _bit_length_u64(x: np.ndarray) -> np.ndarray:
    """Exact vectorized bit_length for uint64: the frexp exponent of each
    32-bit half, whose float64 value is exact (frexp(0) gives 0)."""
    _, hi = np.frexp((x >> _U64(32)).astype(np.float64))
    _, lo = np.frexp((x & _U64(0xFFFFFFFF)).astype(np.float64))
    return np.where(hi > 0, hi + 32, lo).astype(np.uint64)


_ALPHA_INF = 1.0 / (2.0 * math.log(2.0))


def _sigma(x: float) -> float:
    """Ertl alg. 5: σ(x) = x + Σ 2^(k-1)·x^(2^k); σ(1) = +inf."""
    if x == 1.0:
        return math.inf
    y = 1.0
    z = x
    while True:
        x = x * x
        z_prev = z
        z += x * y
        y += y
        if z == z_prev:
            return z


def _tau(x: float) -> float:
    """Ertl alg. 6: τ(x) = (1/3)(1 - x - Σ (1-x^(2^-k))²·2^-k)."""
    if x == 0.0 or x == 1.0:
        return 0.0
    y = 1.0
    z = 1.0 - x
    while True:
        x = math.sqrt(x)
        z_prev = z
        y *= 0.5
        z -= (1.0 - x) ** 2 * y
        if z == z_prev:
            return z / 3.0


@register
class HyperLogLog(MergeableSketch):
    TYPE = "hll"

    def __init__(self, p: int = 14, seed: int = 0):
        if not (4 <= p <= 18):
            raise ValueError("p must be in [4, 18]")
        self.p = int(p)
        self.seed = int(seed)
        self.m = 1 << self.p
        self.registers = np.zeros(self.m, dtype=np.uint8)
        self.count = 0  # rows observed (not distinct)

    # -- partial -------------------------------------------------------------
    def add_packed(self, buf: np.ndarray, lens: np.ndarray) -> None:
        n = len(lens)
        if n == 0:
            return
        h = murmur3_64_packed(buf, lens, self.seed)
        idx = (h >> _U64(64 - self.p)).astype(np.int64)
        low = h & ((_U64(1) << _U64(64 - self.p)) - _U64(1))
        rho = (_U64(64 - self.p) - _bit_length_u64(low) + _U64(1)).astype(np.uint8)
        np.maximum.at(self.registers, idx, rho)
        self.count += n

    def update_arrow(self, arr) -> None:
        self.add_packed(*pack_arrow(arr))

    def update_values(self, values) -> None:
        self.add_packed(*pack_any(values))

    # -- final ----------------------------------------------------------------
    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        if not isinstance(other, HyperLogLog) or other.p != self.p or other.seed != self.seed:
            raise ValueError("cannot merge HLLs with different geometry")
        np.maximum(self.registers, other.registers, out=self.registers)
        self.count += other.count
        return self

    # -- query ------------------------------------------------------------------
    def estimate(self) -> float:
        """Ertl improved raw estimate from the register histogram:
        m·α∞ ·m / (m·σ(C0/m) + Σ_{k=1..q} Ck·2^-k + m·τ(1-C_{q+1}/m)·2^-q).
        """
        m = self.m
        q = 64 - self.p  # max rho is q+1 (all low bits zero)
        c = np.bincount(self.registers, minlength=q + 2)
        z = m * _tau(1.0 - c[q + 1] / m)
        for k in range(q, 0, -1):  # Horner: Σ Ck·2^-k + tail·2^-q
            z = 0.5 * (z + float(c[k]))
        z += m * _sigma(c[0] / m)
        if math.isinf(z):
            return 0.0  # empty sketch
        return _ALPHA_INF * m * m / z

    def relative_error(self) -> float:
        return 1.04 / math.sqrt(self.m)

    def union_estimate(self, other: "HyperLogLog") -> float:
        """|A ∪ B| without mutating either operand (merge() is the
        in-place form). Exactly the merged sketch's estimate — union is
        HLL's native operation, same ±1.04/√m error as a direct build."""
        if (
            not isinstance(other, HyperLogLog)
            or other.p != self.p
            or other.seed != self.seed
        ):
            # same gate as merge(): a seed mismatch would max() registers
            # fed by different hash functions and return silent garbage
            raise ValueError("cannot combine HLLs with different geometry")
        tmp = HyperLogLog(self.p, self.seed)
        np.maximum(self.registers, other.registers, out=tmp.registers)
        return tmp.estimate()

    def intersection_estimate(self, other: "HyperLogLog") -> float:
        """|A ∩ B| by inclusion–exclusion: est(A) + est(B) − est(A∪B),
        floored at 0. CAVEAT (standard for HLL): the absolute error is
        driven by the LARGER of the sets (each term carries ±1.04/√m of
        its own magnitude), so small intersections of large sets drown
        in noise — relative error ≈ 1.04/√m · |A∪B|/|A∩B|. For reliable
        small-overlap estimates use :class:`~sprout_spark.sketch.bottomk
        .BottomKSample` (KMV sketches support direct resemblance
        estimation) or an exact semi-join on the candidate slice."""
        return max(
            0.0,
            self.estimate() + other.estimate() - self.union_estimate(other),
        )

    def stats(self) -> dict:
        return {
            "type": self.TYPE,
            "p": self.p,
            "m": self.m,
            "count": self.count,
            "estimate": self.estimate(),
            "rse": self.relative_error(),
        }

    # -- wire format ----------------------------------------------------------------
    # Adaptive density: a partial built over few rows (per-key grouped
    # builds, small salted slices) touches far fewer than m registers, yet
    # a dense payload ships all 2^p bytes per (group, partition) through
    # the merge shuffle. Below the byte-breakeven point (5 bytes per
    # nonzero: uint32 index + uint8 value) the payload switches to a
    # sparse (indices, values) encoding; ``nnz`` in the meta marks it, so
    # dense and sparse payloads interoperate transparently on the merge
    # side. Saturated sketches stay dense — no regression on the
    # full-table path.

    def _sparse_nnz(self) -> int | None:
        nnz = int(np.count_nonzero(self.registers))
        return nnz if nnz * 5 < self.m else None

    def _meta(self) -> dict:
        meta = {"p": self.p, "seed": self.seed, "count": self.count}
        nnz = self._sparse_nnz()
        if nnz is not None:
            meta["nnz"] = nnz
        return meta

    def _payload(self) -> bytes:
        if self._sparse_nnz() is None:
            return self.registers.tobytes()
        idx = np.flatnonzero(self.registers).astype(np.uint32)
        return idx.tobytes() + self.registers[idx].tobytes()

    @classmethod
    def _from_parts(cls, meta: dict, payload: bytes) -> "HyperLogLog":
        h = cls(meta["p"], meta.get("seed", 0))
        if "nnz" in meta:
            nnz = int(meta["nnz"])
            if len(payload) != nnz * 5:
                raise ValueError("sparse payload size does not match nnz")
            idx = np.frombuffer(payload, dtype=np.uint32, count=nnz)
            vals = np.frombuffer(payload, dtype=np.uint8, offset=nnz * 4)
            if nnz and int(idx.max()) >= h.m:
                raise ValueError("sparse register index out of range")
            h.registers[idx] = vals
        else:
            regs = np.frombuffer(payload, dtype=np.uint8)
            if len(regs) != h.m:
                raise ValueError("payload size does not match geometry")
            h.registers = regs.copy()
        h.count = int(meta["count"])
        return h
