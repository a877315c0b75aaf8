"""Broadcast-sketch probe column functions (the ``Contains`` side).

The distributed analog of the reference's ``Contains``/bloom-gated ``Get``
(``bloom.go:200-217``, ``bloom.go:220-236``): the merged sketch is tiny
(~3.6 MB for a 2M-key ε=0.001 bloom), so it broadcasts to every executor
once and probes run as **Arrow-native UDFs** (``F.arrow_udf``) — the
column arrives as a ``pyarrow.Array`` with exact types and null slots
intact (a pandas detour would widen int64-with-nulls to float64 and
corrupt the canonical key encoding), and never per-row Python.

``bloom_semi_join`` is the library-level form of the reference's
bloom-before-store lookup elision (its KV ``Get`` short-circuit,
bloom.go:225-227): prune the big side with ``might_contain`` before the
real join. Zero false negatives guarantee no lost matches; false
positives only cost a little extra join input. (Spark's own AQE runtime
bloom join, ``spark.sql.optimizer.runtime.bloomFilter.enabled``, is the
built-in prior art — this version works from any pre-built sketch,
including ones persisted from a previous job.)
"""

from __future__ import annotations

from collections import OrderedDict
from functools import lru_cache

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, LongType

from ..sketch.base import MergeableSketch, sketch_from_bytes


@lru_cache(maxsize=8)
def _revive(payload: bytes) -> MergeableSketch:
    return sketch_from_bytes(payload)


# Broadcasts are memoized per (application, payload): repeated probes of
# the same sketch in a long-lived session reuse one broadcast instead of
# accumulating multi-MB copies on every call. Small LRU; evicted entries
# are unpersisted (non-blocking) — live Columns still hold their own
# reference, so eviction never breaks an in-flight query plan.
_BC_CACHE: OrderedDict = OrderedDict()
_BC_CACHE_MAX = 16


def _broadcast_payload(spark: SparkSession, payload: bytes):
    sc = spark.sparkContext
    key = (sc.applicationId, payload)
    bc = _BC_CACHE.get(key)
    if bc is not None:
        _BC_CACHE.move_to_end(key)
        return bc
    bc = sc.broadcast(payload)
    _BC_CACHE[key] = bc
    while len(_BC_CACHE) > _BC_CACHE_MAX:
        _, old = _BC_CACHE.popitem(last=False)
        try:
            old.unpersist()
        except Exception:
            pass  # stale broadcast from a stopped session
    return bc


def _chunked(a) -> pa.Array:
    if isinstance(a, pa.ChunkedArray):
        return a.combine_chunks()
    return a


# UDF factories: the single source of each probe kernel. The Column API
# below and the SQL registration surfaces (register_sql_probe here,
# register_sketch_sql in spark/sql.py) all share these closures, so a fix
# to null handling / key encoding lands everywhere at once.


def contains_udf(spark: SparkSession, sketch: MergeableSketch):
    bc = _broadcast_payload(spark, sketch.to_bytes())

    @F.arrow_udf(BooleanType())
    def probe(a: pa.Array) -> pa.Array:
        sk = _revive(bc.value)
        return pa.array(sk.contains_arrow(_chunked(a)), pa.bool_())

    return probe


def estimate_udf(spark: SparkSession, sketch: MergeableSketch):
    bc = _broadcast_payload(spark, sketch.to_bytes())

    @F.arrow_udf(LongType())
    def est(a: pa.Array) -> pa.Array:
        sk = _revive(bc.value)
        return pa.array(sk.estimate_arrow(_chunked(a)).astype("int64"), pa.int64())

    return est


def rank_udf(spark: SparkSession, sketch: MergeableSketch):
    bc = _broadcast_payload(spark, sketch.to_bytes())

    @F.arrow_udf(DoubleType())
    def rank(a: pa.Array) -> pa.Array:
        sk = _revive(bc.value)
        vals = _chunked(a).to_numpy(zero_copy_only=False).astype(np.float64)
        out = sk.cdf(vals) if hasattr(sk, "cdf") else sk.rank(vals)
        return pa.array(np.atleast_1d(out), pa.float64())

    return rank


def might_contain(spark: SparkSession, sketch: MergeableSketch, col) -> Column:
    """Boolean column: sketch membership probe (no false negatives)."""
    return contains_udf(spark, sketch)(col)


def cms_estimate(spark: SparkSession, sketch: MergeableSketch, col) -> Column:
    """Long column: count-min frequency estimate per value."""
    return estimate_udf(spark, sketch)(col)


def quantile_rank(spark: SparkSession, sketch: MergeableSketch, col) -> Column:
    """Double column: approximate rank fraction of each value
    (t-digest ``cdf`` / KLL ``rank``)."""
    return rank_udf(spark, sketch)(col)


def register_sql_probe(
    spark: SparkSession, name: str, sketch: MergeableSketch
) -> None:
    """Register a membership probe as a SQL function so plain
    ``spark.sql`` queries can use a pre-built sketch:

        register_sql_probe(spark, "seen_conv", bloom)
        spark.sql("SELECT * FROM t WHERE seen_conv(conv_id)")

    The general surface (membership + frequency + rank under one prefix)
    is ``spark.sql.register_sketch_sql``; this remains the bare
    single-name membership form."""
    spark.udf.register(name, contains_udf(spark, sketch))


def bloom_semi_join(
    spark: SparkSession,
    big: DataFrame,
    big_key: str,
    small: DataFrame,
    small_key: str,
    sketch: MergeableSketch,
) -> DataFrame:
    """Exact left-semi join, bloom-pruned: filter ``big`` by
    ``might_contain(big_key)`` (cheap, broadcast, no shuffle of misses)
    then confirm with the real semi join so false positives drop out.

    The key match is null-safe equality on a non-NULL big key (the rows
    of ``big_key == small_key``), as in ``sharded.sharded_semi_join``:
    an attribute ``=`` lets the optimizer infer the probe filter onto
    ``small`` and run the probe UDF over it too."""
    pruned = big.where(might_contain(spark, sketch, F.col(big_key)))
    return pruned.join(
        small,
        on=pruned[big_key].eqNullSafe(small[small_key])
        & pruned[big_key].isNotNull(),
        how="left_semi",
    )
