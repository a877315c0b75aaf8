"""Scale-adaptive input spreading for expensive one-pass kernels.

A parquet ROW GROUP is the minimum real split unit: a small table
written as one row group lands entirely in one scan task no matter how
many byte-split partitions the scan plans (the other tasks' byte ranges
contain no row-group start and produce zero rows). Every downstream
mapInArrow kernel then runs serially on one core — measured at sf0.1:
the containment fingerprint kernel spent 2.5s in ONE task of a 33-task
stage while 31 cores idled.

:func:`spread_small_input` is the guide-§2.5 "repartition immediately
after the read" hedge made scale-adaptive: when the optimizer's size
estimate (:func:`sprout_spark.spark.fastpath.plan_bytes` — plan
statistics, no job runs) says the whole input is at
most the ``spread.bytes`` cap in :mod:`sprout_spark.spark.fastpath`
(256 MB), the input is repartitioned to the session's default
parallelism — a shuffle that costs well under a second at that size.
Larger inputs are left untouched: they necessarily span many row
groups, their scans are already wide, and repartitioning them would
shuffle the corpus.

Row order is not preserved (repartition); callers are the
order-insensitive kernel operators (signatures, fingerprints, sketch
partials), whose outputs are per-row or merge-associative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from . import fastpath


def spread_small_input(df: DataFrame) -> DataFrame:
    """Repartition a provably-small input to default parallelism; pass
    anything large (or of unknown size) through unchanged."""
    size = fastpath.plan_bytes(df)
    if size is None:
        return df  # size unknown: never risk shuffling a corpus
    if not fastpath.within("spread.bytes", size):
        return df
    want = df.sparkSession.sparkContext.defaultParallelism
    # hash-repartition on the row content where possible: round-robin
    # repartition pays a per-partition sort (sortBeforeRepartition, the
    # SPARK-23207 retry fix) that serializes on the one populated input
    # partition — hash partitioning is retry-safe without it (the keys
    # are deterministic row values). Map-typed columns can't hash;
    # xxhash64 of the remaining columns spreads fine (load balance only
    # — correctness never depends on the assignment).
    from pyspark.sql import functions as F

    hashable = [c for c, t in df.dtypes if "map<" not in t]
    if hashable:
        return df.repartition(want, F.xxhash64(*hashable))
    return df.repartition(want)
