"""Size-capped fast paths: the one place that decides them.

Five operators take a shortcut on small inputs, a driver-side collect or
a broadcast in place of their distributed plan; both plans give the same
rows. Each shortcut checks one entry of :data:`CAPS`, read at call time,
so patching this dict (every entry to 0, say) forces every fallback. A
cap of 0 forces the distributed plan on any non-empty input. Each
decision writes one DEBUG line to this module's logger: name, path
taken, observed size and cap.

Why fixed caps are enough: four caps bound what the driver collects or
what a broadcast ships to each executor, and the fifth bounds the size
of an extra shuffle; none bounds executor memory. A bounded collect
reads at most ``cap + 1`` rows whatever the input size, so the cap, not
the data, sets the driver's peak, and executors never hold more than the
distributed plan would give them: there is nothing to derive from
executor memory.
"""

from __future__ import annotations

import logging

import pyarrow as pa
from pyspark.sql import DataFrame

log = logging.getLogger(__name__)

CAPS: dict[str, int] = {
    # vectors broadcast for the all-pairs kernel (~128 MB at dim 64)
    "cosine_pairs_exact.rows": 1 << 18,
    # token-set docs per side, broadcast as code tables for the verify
    "verify_jaccard.docs": 1 << 17,
    # directed edge rows (two per pair) for driver-side union-find
    "duplicate_clusters.rows": 2_000_000,
    # total sharded-filter payload broadcast for a shuffle-free probe
    "sharded_probe.bytes": 64 << 20,
    # plan-estimated input size that spread_small_input repartitions
    "spread.bytes": 256 << 20,
}


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
