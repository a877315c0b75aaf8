"""Size-capped plan choices: the one place that decides them.

Operators pick their plan by input size in seven decisions against six
caps: a driver-side collect or a broadcast in place of their distributed
plan, or a repartition of a small input; both plans give the same rows.
Each decision checks one entry of :data:`CAPS`, read at call time, so
patching this dict (every entry to 0, say) forces every fallback. A cap
of 0 forces the distributed plan on any non-empty input. Each decision
writes one DEBUG line to this module's logger: name, path taken,
observed size and cap. Caps on an input's size read the optimizer's
estimate through :func:`plan_bytes`; an unknown estimate keeps the
distributed plan.

Why fixed caps are enough: most caps bound what the driver collects or
builds, or what a broadcast ships to each executor; ``spread.bytes``
bounds the size of an extra shuffle. None bounds executor memory. A
bounded collect reads at most ``cap + 1`` rows whatever the input size,
so the cap, not the data, sets the driver's peak, and executors never
hold more than the distributed plan would give them: there is nothing
to derive from executor memory.

The near-dup driver plan shares ``verify_jaccard.docs`` with the
broadcast verify: both hold the corpus's token sets in the driver, so
one collect under one cap serves either. Measured crossovers (4-core
VM, ``local[4]``, warm session, min of 3 alternating runs of each
plan, same rows from both):

* ``verify_jaccard.docs`` for the driver plan: distinct random 60-token
  docs (no candidates) took 0.75 / 1.59 / 7.12 s in the driver against
  2.55 / 3.66 / 11.14 s distributed at 4k / 16k / 64k docs. No
  crossover up to 64k; the cap bounds the (id, text, tokens) collect.
* ``near_dup_local.candidates``: prefixes of the sf0.1 documents
  (boilerplate-heavy) at threshold 0.8 took 1.33 / 2.49 / 3.44 / 4.82 s
  in the driver against 3.22 / 5.13 / 7.70 / 9.76 s distributed at
  3.8M / 7.6M / 11.4M / 15.8M candidates. No crossover in range; the
  cap is set by driver memory instead, about 28 bytes per candidate
  (the process peaked at 644 MB at 15.8M), so 2^22 adds at most about
  120 MB. The full sf0.1 corpus is far over it and runs distributed.
"""

from __future__ import annotations

import logging

import pyarrow as pa
from pyspark.sql import DataFrame

log = logging.getLogger(__name__)

CAPS: dict[str, int] = {
    # vectors broadcast for the all-pairs kernel (~128 MB at dim 64)
    "cosine_pairs_exact.rows": 1 << 18,
    # token-set docs per side, broadcast as code tables for the verify;
    # also the docs near_dup_pairs collects to run in the driver
    "verify_jaccard.docs": 1 << 17,
    # directed edge rows (two per pair) for driver-side union-find
    "duplicate_clusters.rows": 2_000_000,
    # total sharded-filter payload broadcast for a shuffle-free probe
    "sharded_probe.bytes": 64 << 20,
    # plan-estimated input size that spread_small_input repartitions
    "spread.bytes": 256 << 20,
    # candidate pairs (counted from bucket sizes) the driver may build
    "near_dup_local.candidates": 1 << 22,
}


# Optimized-plan operators whose size estimate is not bounded by the
# scanned bytes. Generate/Join multiply rows, so the estimate is a
# fiction (a 16x explode estimates at its CHILD's size); the rest put
# the input through an exchange already, so they are also refused by
# spread_small_input, which would only add a second shuffle.
_UNBOUNDED = (
    "Generate", "Join", "Aggregate", "Window", "Sort", "Repartition", "Union",
)


def plan_bytes(df: DataFrame) -> int | None:
    """The optimizer's size estimate for ``df`` (plan statistics; no job
    runs), or None when it cannot be trusted: the plan holds one of the
    operators above, or Spark has no estimate (it then reports
    ``spark.sql.defaultSizeInBytes``, as for an RDD-backed frame).
    Callers keep their distributed plan on None."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        if any(k in plan.toString() for k in _UNBOUNDED):
            return None
        size = int(str(plan.stats().sizeInBytes()))
        conf = df.sparkSession._jsparkSession.sessionState().conf()
        unknown = int(conf.defaultSizeInBytes())
    except Exception:
        return None
    return None if size >= unknown else size


# Optimized-plan nodes that re-read stored rows: file and in-memory
# relations under projections and filters. An RDD-backed frame
# (LogicalRDD) is not one of them: reading it reruns its lineage.
_SCAN = frozenset({
    "Project", "Filter", "LogicalRelation", "LocalRelation",
    "InMemoryRelation", "DataSourceV2Relation", "DataSourceV2ScanRelation",
})


def scan_only(df: DataFrame) -> bool:
    """True when ``df``'s optimized plan only projects and filters stored
    rows (files, a local relation or a cached table), so reading it
    again costs one more scan and reruns no upstream work; False for
    anything else, or when the plan cannot be read."""
    def nodes(plan):
        yield plan.nodeName()
        kids = plan.children()
        for i in range(kids.size()):
            yield from nodes(kids.apply(i))

    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        return all(n in _SCAN for n in nodes(plan))
    except Exception:
        return False


def within(name: str, observed: int) -> bool:
    """True when ``observed`` is at most ``CAPS[name]``: the caller
    takes its fast path. Logs the decision."""
    cap = CAPS[name]
    fast = observed <= cap
    log.debug(
        "%s: %s path (observed %d, cap %d)",
        name, "fast" if fast else "distributed", observed, cap,
    )
    return fast


def collect_at_most(name: str, df: DataFrame) -> pa.Table | None:
    """``df`` as one Arrow table when it has at most ``CAPS[name]`` rows,
    else None (the caller runs its distributed plan). One job, and the
    driver holds at most ``cap + 1`` rows whatever the input size: an
    over-cap input costs one truncated pass, not a count() plus a second
    full collect."""
    tbl = df.limit(CAPS[name] + 1).toArrow()
    return tbl if within(name, tbl.num_rows) else None
