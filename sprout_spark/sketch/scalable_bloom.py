"""Scalable Bloom Filter (Almeida et al. 2007) — reference-parity growth.

Reimplements dsa0x/sprout's ``ScalableBloomFilter``
(``/root/reference/scalable_bloom.go``) with the paper's independent
per-stage bit arrays (the reference's shared-file page layout aliases
stage bit regions — its quirk Q3, SURVEY.md §1.5 — which we deliberately
do not reproduce).

Growth schedule (pure function of (err_rate, initial_capacity, growth)):

* stage error   ε_s = ε₀ · 0.9^s                  (scalable_bloom.go:161)
* stage capacity: cap₀ = initial capacity;
  cap_s = int(m0 · growth^(s-1) · ln 2) for s ≥ 1 (scalable_bloom.go:174-178,
  where m0 = bits-per-slice of stage 0, scalable_bloom.go:66)
* compound FPR  1 − Π(1 − ε_s)                    (scalable_bloom.go:213-219)

The reference has no SBF merge at all (SURVEY.md §2.1 row 17). A
distributed build needs one, and there are two sound-but-different
choices, both provided:

* ``mode='stage'`` — **stage-aligned OR**: because the growth schedule is
  deterministic, stage *s* has identical geometry in every partition, so
  bitsets OR pairwise. Bitwise commutative/associative and
  parallelism-invariant (the merged bitset is identical at 2, 8, or 32
  partitions). Caveat: P partitions that each filled stage s will overload
  the merged stage s by up to P×, inflating FPR — use when per-partition
  volume is well under cap₀, or track honesty via ``prob_observed()``.
* ``mode='concat'`` — **stage concatenation**: each partition's stages keep
  their own geometry and the merged filter is the union list; no stage is
  ever overloaded, so each stage's ε bound still holds and the compound
  FPR is exactly ``1 − Π(1−ε_i)`` over all stages. Associative and
  probe-commutative (stage order never changes probe results). For a
  global bound ε with P build partitions, size partials with
  ``err_rate = ε / P`` (the Spark layer does this automatically).

``strict=True`` pre-scales ε₀ by (1 − ratio) so the *compound* error stays
under the configured ε (the paper's sizing; the reference's quirk Q4
converges to ~10·ε₀ instead).
"""

from __future__ import annotations

import math

import numpy as np

from ..hashing import pack_any, pack_arrow, take_keys
from .base import MergeableSketch, register
from .bloom import BloomFilter

GROWTH_SMALL = 2
GROWTH_LARGE = 4
_RATIO = 0.9  # tightening ratio (scalable_bloom.go:65)


@register
class ScalableBloomFilter(MergeableSketch):
    TYPE = "sbloom"

    def __init__(
        self,
        initial_capacity: int = 10000,
        err_rate: float = 0.001,
        growth: int = GROWTH_SMALL,
        strict: bool = False,
        merge_mode: str = "stage",
    ):
        if not (0.0 < err_rate < 1.0):
            raise ValueError("Error rate must be between 0 and 1")
        if initial_capacity <= 10:
            # the underlying bloom geometry requires capacity > 10
            # (reference bloom.go:95); the reference SBF accepts > 0 at
            # its own gate (scalable_bloom.go:49) and then fails inside
            # NewBloom anyway — we fail here, with the real reason
            raise ValueError(
                "Initial capacity must be greater than 10 (bloom geometry)"
            )
        if growth not in (GROWTH_SMALL, GROWTH_LARGE):
            raise ValueError("growth must be 2 or 4")
        if merge_mode not in ("stage", "concat"):
            raise ValueError("merge_mode must be 'stage' or 'concat'")
        self.err_rate = float(err_rate)
        self.initial_capacity = int(initial_capacity)
        self.growth = int(growth)
        self.strict = bool(strict)
        self.merge_mode = merge_mode
        self._eps0 = self.err_rate * (1 - _RATIO) if strict else self.err_rate
        self.stages: list[BloomFilter] = [
            BloomFilter(self.initial_capacity, self._eps0)
        ]
        self.m0 = self.stages[0].m
        # how many stages this instance has allocated from its own schedule
        # (concat merges append foreign stages without advancing it)
        self._sched_pos = 1

    # -- growth schedule -----------------------------------------------------
    def _stage_params(self, s: int) -> tuple[int, float]:
        """(capacity, err_rate) of schedule stage s — deterministic."""
        err = self._eps0 * _RATIO**s
        if s == 0:
            cap = self.initial_capacity
        else:
            # floor at 11: for small m0 the schedule can compute a stage
            # capacity <= 10, which the bloom geometry rejects — growing
            # mid-add must never raise (the reference would error inside
            # NewBloom here; documented divergence)
            cap = max(int(self.m0 * (self.growth ** (s - 1)) * math.log(2)), 11)
        return cap, err

    def _grow(self) -> None:
        cap, err = self._stage_params(self._sched_pos)
        self.stages.append(BloomFilter(cap, err))
        self._sched_pos += 1

    # -- distributed epoch growth (fold pre-built stages) --------------------
    def _pristine(self) -> bool:
        """True while nothing was ever added or folded: exactly the
        constructor's empty initial stage."""
        return (
            len(self.stages) == 1
            and self.stages[0].count == 0
            and self._sched_pos == 1
        )

    def next_stage_err(self) -> float:
        """The ε the NEXT folded stage must be built with: the schedule's
        ε at the next position (the initial stage's own ε while the
        filter is pristine — the first fold replaces it)."""
        if self._pristine():
            return self.stages[0].err_rate
        return self._stage_params(self._sched_pos)[1]

    def fold_stage(self, stage: BloomFilter) -> "ScalableBloomFilter":
        """Append a PRE-BUILT fixed Bloom as this filter's next schedule
        stage — the distributed epoch-growth path (streaming novelty):
        each epoch's novel keys build ONE fixed-geometry Bloom in
        parallel (fixed-geometry partials OR exactly; no stage ever
        overloads), sized for the epoch's ACTUAL key count but holding
        the schedule's ε for its position, so the compound FPR is the
        organic schedule's own ``1 − Π(1 − ε₀·r^s)`` — ≤ err_rate
        forever when ``strict=True``. Folding a stage built at the
        wrong ε would silently spend more of the compound budget than
        the schedule accounts for, so it is a hard error; build the
        stage with ``BloomFilter(n_epoch_keys, sbf.next_stage_err())``.

        A pristine filter's empty initial stage is REPLACED by the
        first fold (it never saw a key, so it must not charge its ε —
        or its probe cost — against the budget)."""
        if not isinstance(stage, BloomFilter):
            raise ValueError("fold_stage takes a fixed BloomFilter")
        want = self.next_stage_err()
        if not math.isclose(stage.err_rate, want, rel_tol=1e-9):
            raise ValueError(
                f"folded stage was built at err_rate={stage.err_rate!r}; "
                f"the schedule's next position requires {want!r} "
                "(use next_stage_err())"
            )
        if self._pristine():
            self.stages[0] = stage
            return self
        self.stages.append(stage)
        self._sched_pos += 1
        return self

    @property
    def top(self) -> BloomFilter:
        return self.stages[-1]

    # -- partial build ---------------------------------------------------------
    def add_packed(self, buf: np.ndarray, lens: np.ndarray) -> None:
        """Chunked fill: pack rows into the top stage until it reaches
        capacity, grow, continue (batch form of scalable_bloom.go:81-100)."""
        n = len(lens)
        pos = 0
        while pos < n:
            room = self.top.capacity - self.top.count
            if room <= 0:
                self._grow()
                continue
            take = min(room, n - pos)
            self.top.add_packed(
                *take_keys(buf, lens, slice(pos, pos + take)), enforce_capacity=True
            )
            pos += take

    def update_arrow(self, arr) -> None:
        self.add_packed(*pack_arrow(arr))

    def update_values(self, values) -> None:
        self.add_packed(*pack_any(values))

    def add(self, key) -> None:
        self.update_values([key])

    # -- probe -------------------------------------------------------------------
    def contains_packed(self, buf: np.ndarray, lens: np.ndarray) -> np.ndarray:
        n = len(lens)
        out = np.zeros(n, dtype=bool)
        if n == 0:
            return out
        # Newest (largest) stage first: geometric growth puts most keys
        # in the latest stages, so hits resolve after ~2 stage probes and
        # skip the rest. The reference iterates oldest-first
        # (scalable_bloom.go:110-117) but the result is an OR over
        # stages — probe order cannot change the answer, only the work.
        pending = np.arange(n)
        for st in reversed(self.stages):
            hit = st.contains_packed(buf, lens)
            out[pending[hit]] = True
            miss = ~hit
            if not miss.any():
                break
            pending = pending[miss]
            buf, lens = take_keys(buf, lens, miss)
        return out

    def contains_arrow(self, arr) -> np.ndarray:
        return self.contains_packed(*pack_arrow(arr))

    def contains_values(self, values) -> np.ndarray:
        return self.contains_packed(*pack_any(values))

    def contains(self, key) -> bool:
        return bool(self.contains_values([key])[0])

    # -- final: distributed merge (novel vs reference, see module docstring) ------
    def _same_schedule(self, other: "ScalableBloomFilter") -> bool:
        return (
            isinstance(other, ScalableBloomFilter)
            and self.err_rate == other.err_rate
            and self.initial_capacity == other.initial_capacity
            and self.growth == other.growth
            and self.strict == other.strict
        )

    def merge(self, other: "ScalableBloomFilter") -> "ScalableBloomFilter":
        if self.merge_mode == "stage":
            if not self._same_schedule(other):
                raise ValueError(
                    "stage-aligned merge requires identical SBF options"
                )
            while len(self.stages) < len(other.stages):
                self._grow()
            for s, st in enumerate(other.stages):
                self.stages[s].merge(st)
            self._warn_if_stages_overloaded()
        else:  # concat
            if not isinstance(other, ScalableBloomFilter):
                raise ValueError("can only merge ScalableBloomFilter")
            # copy, never alias: the merged filter's top stage becomes
            # other's last stage, so later adds to self would otherwise
            # flip bits INSIDE other (phantom membership in the argument)
            import copy

            self.stages.extend(copy.deepcopy(st) for st in other.stages)
        return self

    def _warn_if_stages_overloaded(self) -> None:
        """Stage-aligned merges of P partials can push a stage to P× its
        sized capacity (each partial filled its own copy of stage s), so
        the merged stage's bit density — and therefore its real FPR —
        exceeds the schedule's ε_s. ``prob_observed()`` stays honest, but
        nothing used to SAY so; steer callers to ``merge_mode='concat'``
        (each partial keeps its own geometry, no stage ever overloads —
        size partials with err_rate=ε/P for a global bound), mirroring the
        oversized-bloom-partials steering in ``spark/aggregate.py``.
        Warns once per instance: the overload persists, and a tree merge
        would otherwise re-warn on every level."""
        if getattr(self, "_overload_warned", False):
            return
        over = [
            (s, st.count, st.capacity)
            for s, st in enumerate(self.stages)
            if st.count > st.capacity
        ]
        if over:
            import warnings

            detail = ", ".join(
                f"stage {s}: {c}/{cap}" for s, c, cap in over[:4]
            )
            warnings.warn(
                f"stage-aligned SBF merge overloaded {len(over)} stage(s) "
                f"past their sized capacity ({detail}) — the compound FPR "
                "now exceeds the configured bound (prob_observed() reports "
                "the honest value). For distributed builds whose partials "
                "each grow stages, use merge_mode='concat' with "
                "err_rate=eps/P instead",
                stacklevel=3,
            )
            self._overload_warned = True

    # -- introspection ----------------------------------------------------------------
    def capacity(self) -> int:
        return sum(st.capacity for st in self.stages)

    def count(self) -> int:
        return sum(st.count for st in self.stages)

    def filter_size(self) -> int:
        return self.top.filter_size()

    def prob(self) -> float:
        """Compound configured FPR, reference formula shape
        (scalable_bloom.go:213-219), over the actual stage list."""
        prod = 1.0
        for st in self.stages:
            prod *= 1.0 - st.err_rate
        return 1.0 - prod

    def prob_observed(self) -> float:
        """Honest compound FPR from actual bit densities (stays truthful
        when stage-aligned merges overloaded a stage)."""
        prod = 1.0
        for st in self.stages:
            prod *= 1.0 - st.prob_observed()
        return 1.0 - prod

    def clear(self) -> None:
        self.stages = [BloomFilter(self.initial_capacity, self._eps0)]
        self._sched_pos = 1

    def stats(self) -> dict:
        return {
            "type": self.TYPE,
            "capacity": self.capacity(),
            "count": self.count(),
            "size_bytes": sum(st.filter_size() for st in self.stages),
            "M": self.top.m,
            "K": self.top.k,
            "prob": self.prob(),
            "stages": len(self.stages),
        }

    # -- wire format ---------------------------------------------------------------------
    def _meta(self) -> dict:
        return {
            "initial_capacity": self.initial_capacity,
            "err_rate": self.err_rate,
            "growth": self.growth,
            "strict": self.strict,
            "merge_mode": self.merge_mode,
            "sched_pos": self._sched_pos,
            "stages": [
                {
                    "cap": st.capacity,
                    "err": st.err_rate,
                    "count": st.count,
                    "size": st.filter_size(),
                }
                for st in self.stages
            ],
        }

    def _payload(self) -> bytes:
        return b"".join(st.bits.tobytes() for st in self.stages)

    @classmethod
    def _from_parts(cls, meta: dict, payload: bytes) -> "ScalableBloomFilter":
        sbf = cls(
            meta["initial_capacity"],
            meta["err_rate"],
            meta["growth"],
            meta["strict"],
            meta.get("merge_mode", "stage"),
        )
        sbf.stages = []
        off = 0
        for sm in meta["stages"]:
            st = BloomFilter(sm["cap"], sm["err"])
            if sm["size"] != st.filter_size():
                raise ValueError("stage payload size does not match geometry")
            st.bits = np.frombuffer(
                payload, dtype=np.uint8, count=sm["size"], offset=off
            ).copy()
            st.count = int(sm["count"])
            off += sm["size"]
            sbf.stages.append(st)
        sbf._sched_pos = int(meta.get("sched_pos", len(sbf.stages)))
        return sbf
