"""Sharded sketch membership: beyond-broadcast ``Contains`` at 10^12 keys.

A monolithic Bloom filter for 10^12 keys at ε=0.001 is ~1.8 TB — far past
what ``sparkContext.broadcast`` can ship (the ``spark/probe.py`` path is
right only while the merged filter is MBs). This module keeps the
reference's ``Contains`` semantics (``/root/reference/bloom.go:200-217``:
zero false negatives, ε false-positive bound) at arbitrary filter size by
hash-sharding the KEY SPACE:

* **build**: ``shard = pmod(xxhash64(key), n_shards)`` (JVM-side, no
  Python in the partitioning decision), one independent sketch per shard,
  each sized for ``distinct/n_shards`` keys. The only full-data movement
  is ONE shuffle of the projected key column (8-byte hash + key bytes);
  every partial is sketch-sized. The result is a normal DataFrame
  ``[shard, sketch, rows]`` — persistable through
  ``sources/sketch_store.save_grouped_sketches`` and re-loadable by any
  later job, like the reference's mmap'd filter file but splittable.
* **probe**: a cogrouped shard join — probe rows shuffle on their 8-byte
  shard id, each task receives ONE shard's filter payload plus that
  shard's probe rows, and the vectorized ``contains_arrow`` kernel runs
  per batch. The filter payload moves once per shard (never per row,
  never through a broadcast), so total filter traffic is exactly the
  filter's size regardless of probe-side row count.

Correctness is unchanged from the monolithic filter: a key always probes
the shard it was built into (same JVM hash expression on both sides), so
zero false negatives survive sharding; false positives stay ≤ ε per shard
because each shard is sized for its own key population.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..sketch.base import MergeableSketch, merge_serialized, sketch_from_bytes
from ..sketch.bloom import BloomFilter
from ..sketch.scalable_bloom import ScalableBloomFilter
from . import fastpath
from .aggregate import build_groups, merge_groups

SHARD_ROW_SCHEMA = "shard bigint, sketch binary, rows bigint, n_shards int"


def shard_id(col, n_shards: int) -> Column:
    """JVM-side shard assignment; identical expression on build and probe
    sides is what guarantees a key probes the shard it was added to."""
    return F.pmod(F.xxhash64(col), F.lit(n_shards))


def build_sharded_sketch(
    df: DataFrame,
    col: str,
    n_shards: int,
    factory: Callable[[], MergeableSketch],
    salt: int = 0,
) -> DataFrame:
    """One sketch per hash-shard: DataFrame[shard, sketch, rows,
    n_shards]. Keys shuffle on their shard and sort within their
    partition, and the key-run fold (``aggregate.build_groups``) builds
    each shard batch by batch: a shard never sits in memory as one table.

    ``salt > 1`` splits each shard's build across ``salt`` tasks (bounding
    the per-task group size to ~rows/(n_shards*salt)) and merges the salted
    partials per shard — exact, because merge is associative/commutative.
    The salt varies PER ROW (position within a locally-sorted partition),
    not per key value: a hot key's duplicate rows must spread across
    tasks too, and a key-hash salt would re-collapse them onto one task.

    Retry-safety (SPARK-23207 class): a positional salt feeding a shuffle
    is only safe if a re-executed map task reproduces the same salts —
    otherwise a fetch-failure retry can lose rows from salted partials
    (a lost build row = a FALSE NEGATIVE). We apply Spark's own
    round-robin-repartition fix: ``sortWithinPartitions`` over the full
    row before assigning positions, so salts are a pure function of
    partition CONTENT. Same contract as ``df.repartition(n)``: content-
    deterministic input partitions (true of source scans and shuffles)
    ⇒ deterministic salts under retry.

    Consequence: which rows land in which salted partial depends on the
    input's physical partitioning, so only order-insensitive sketches
    (Bloom OR / HLL max / CMS add — everything this path is used for)
    give byte-identical filters across differently-partitioned reruns;
    the membership/estimate CONTRACT is unchanged either way.
    """
    base = df.select(
        shard_id(F.col(col), n_shards).alias("shard"),
        F.col(col).alias("_v"),
        # the modulus rides with the table: probes infer it, so a
        # build/probe mismatch (silent false negatives) can't happen
        F.lit(n_shards).cast("int").alias("n_shards"),
    )
    if salt and salt > 1:
        # row-varying sub-split (NOT a function of the key value — see
        # docstring) so hot shards AND hot duplicate keys spread across
        # tasks; local full-row sort first so a retried map task
        # reproduces identical salts (SPARK-23207 — see docstring)
        salted = base.sortWithinPartitions("shard", "_v").withColumn(
            "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt))
        )
        partials = build_groups(salted, ["shard", "_salt"], factory)
        return merge_groups(partials.drop("_salt"), "shard")
    return build_groups(base, ["shard"], factory)


def build_sharded_bloom(
    df: DataFrame,
    col: str,
    n_shards: int,
    expected_distinct: int,
    err_rate: float = 0.001,
    salt: int = 0,
    slack: float = 1.25,
) -> DataFrame:
    """Sharded Bloom sized per shard: hash-sharding concentrates shard
    populations tightly around ``expected_distinct / n_shards`` (binomial;
    ±4σ is within a few percent at these scales), so each shard gets
    ``slack`` headroom over the mean. ``enforce_capacity=False`` because a
    membership stream re-sees keys — saturation (and the ε bound) depends
    on distinct insertions, which the sizing already accounts for."""
    per_shard = max(64, int(slack * expected_distinct / max(1, n_shards)))
    return build_sharded_sketch(
        df,
        col,
        n_shards,
        lambda: BloomFilter(per_shard, err_rate, enforce_capacity=False),
        salt=salt,
    )


def build_sharded_sbf(
    df: DataFrame,
    col: str,
    n_shards: int,
    err_rate: float = 0.001,
    initial_capacity: int = 4096,
    salt: int = 0,
) -> DataFrame:
    """Sharded membership WITHOUT a cardinality estimate: each shard
    holds a ScalableBloomFilter that grows to its own population, so —
    unlike :func:`build_sharded_bloom` — no ``expected_distinct`` is
    needed. The right default when the distinct count is unknown or the
    stream is unbounded; the fixed-size variant stays ~30% smaller when
    the cardinality IS known (growth stages overshoot geometrically).

    FPR accounting: with ``salt > 1`` each shard merges ``salt`` grown
    partials via stage-concat, compounding FPRs additively — so each
    partial is built at ``err_rate / salt`` with ``strict=True``
    (ε·(1−r) headroom for the stage schedule), keeping every shard's
    compound bound ≤ ``err_rate`` (``prob()``/``prob_observed()`` on the
    revived shard report it; pytest-gated)."""
    parts = max(1, int(salt))
    eps = err_rate / parts
    return build_sharded_sketch(
        df,
        col,
        n_shards,
        lambda: ScalableBloomFilter(
            initial_capacity, eps, merge_mode="concat", strict=True
        ),
        salt=salt,
    )


def _resolve_n_shards(filters: DataFrame, n_shards: int | None) -> int:
    """Driver-side modulus resolution. An explicit ``n_shards`` costs
    nothing here (it is cross-checked against the stored column wherever
    the payloads are read — probing with the wrong modulus would route
    keys to shards they were never added to, silent false negatives, so
    a mismatch is a hard error). With no argument, ONE row of the filter
    table is read; :func:`sharded_might_contain` materializes a computed
    table first, so that read does not rerun the build."""
    if n_shards is not None:
        return int(n_shards)
    if "n_shards" not in filters.columns:
        raise ValueError(
            "filter table has no n_shards column (pre-r2 layout); pass "
            "n_shards explicitly"
        )
    row = filters.select("n_shards").limit(1).collect()
    if not row:
        raise ValueError("empty sharded filter table")
    return int(row[0][0])


def _check_modulus(stored: set, n_shards: int) -> None:
    if stored and stored != {n_shards}:
        raise ValueError(
            f"probe modulus n_shards={n_shards} does not match the filter "
            f"table's build modulus {sorted(stored)} — keys would route "
            "to the wrong shards (silent false negatives)"
        )


def _salted_probe(
    df: DataFrame, key_col: str, n_shards: int, probe_salt: int
) -> DataFrame:
    """Probe rows tagged (_shard, _psalt). The salt varies per row so a
    hot shard — or simply 10^9 probes over shards sized for filter
    memory, not probe volume — fans out over ``probe_salt`` cogroup
    tasks instead of serializing on one core per shard. Row-wise probe
    results are independent of which task evaluates them, so any salt
    assignment is exact.

    The salt is a CONTENT hash of the whole row — a pure function of row
    values, so a retried map task always reproduces identical salts (a
    positional salt would be retry-nondeterministic, SPARK-23207 class:
    a shuffle-fetch retry could duplicate or drop probe OUTPUT rows).
    Rows sharing a hot KEY still spread because real probe rows differ
    in their other columns. Degenerate caveat: byte-identical duplicate
    ROWS share a salt; if your probe stream is dominated by full-row
    duplicates, dedupe-and-count upstream (their probe results are
    identical anyway)."""
    probe = df.withColumn("_shard", shard_id(F.col(key_col), n_shards))
    if probe_salt > 1:
        # xxhash64 rejects MAP-typed inputs (anywhere in the type tree):
        # hash only the hashable columns. Dropping a column from the salt
        # only affects load balance, never correctness or determinism.
        cols = [c for c, t in df.dtypes if "map<" not in t]
        probe = probe.withColumn(
            "_psalt",
            # int, as the filter side's duplicated salt: both sides must
            # hash a (shard, salt) group to the same shuffle partition
            F.pmod(
                F.xxhash64(F.lit(7), *(cols or [key_col])), F.lit(probe_salt)
            ).cast("int"),
        )
    else:
        probe = probe.withColumn("_psalt", F.lit(0))
    return probe


def _broadcast_sharded_probe(
    df: DataFrame,
    key_col: str,
    filters: DataFrame,
    n_shards: int,
    out_col: str,
) -> DataFrame | None:
    """Shuffle-free probe for filter tables that fit a broadcast: the
    per-shard payloads ship once to every executor and the probe runs as
    an Arrow UDF over (key, shard) — the probe rows never move, and only
    the key column crosses the Python boundary (the cogroup plan
    shuffles and re-serializes EVERY probe column). Returns None for an
    empty filter table or a payload over the ``sharded_probe.bytes`` cap
    (caller cogroups as before). Row-wise results are identical by
    construction."""
    from .probe import _revive

    # a row limit cannot bound bytes: one job sums the payload sizes
    size = filters.agg(F.sum(F.length("sketch"))).collect()[0][0]
    if size is None or not fastpath.within("sharded_probe.bytes", int(size)):
        return None
    cols = ["shard", "sketch"] + (
        ["n_shards"] if "n_shards" in filters.columns else []
    )
    rows = filters.select(*cols).collect()
    stored = {int(r["n_shards"]) for r in rows if "n_shards" in cols}
    _check_modulus(stored, n_shards)
    by_shard: dict[int, list[bytes]] = {}
    for r in rows:
        by_shard.setdefault(int(r["shard"]), []).append(bytes(r["sketch"]))
    payloads = {
        s: p[0] if len(p) == 1 else merge_serialized(p)
        for s, p in by_shard.items()
    }
    bc = df.sparkSession.sparkContext.broadcast(payloads)

    @F.arrow_udf(BooleanType())
    def probe(keys: pa.Array, shards: pa.Array) -> pa.Array:
        if isinstance(keys, pa.ChunkedArray):
            keys = keys.combine_chunks()
        sh = np.asarray(
            shards.to_numpy(zero_copy_only=False)
            if not isinstance(shards, pa.ChunkedArray)
            else shards.combine_chunks().to_numpy(zero_copy_only=False)
        )
        out = np.zeros(len(sh), dtype=bool)
        pay = bc.value
        for s in np.unique(sh):
            payload = pay.get(int(s))
            if payload is None:
                continue  # nothing was ever added to this shard
            mask = sh == s
            sub = keys.filter(pa.array(mask))
            out[mask] = _revive(payload).contains_arrow(sub)
        return pa.array(out, pa.bool_())

    return df.withColumn(
        out_col, probe(F.col(key_col), shard_id(F.col(key_col), n_shards))
    )


def sharded_might_contain(
    df: DataFrame,
    key_col: str,
    filters: DataFrame,
    n_shards: int | None = None,
    out_col: str = "might_contain",
    probe_salt: int = 4,
) -> DataFrame:
    """``df`` plus a boolean membership column, probed against a sharded
    filter table.

    Fast path: when the TOTAL filter payload fits the
    ``sharded_probe.bytes`` cap in :mod:`sprout_spark.spark.fastpath`
    (64 MB), the per-shard payloads broadcast once and the probe is a
    shuffle-free Arrow UDF over (key, shard) — probe rows never move and
    only the key column crosses the Python boundary. Identical row-wise
    results; measured ~3x faster at sf0.1, and strictly better whenever
    the broadcast fits (the cogroup below shuffles and re-serializes
    every probe column).

    Beyond-broadcast plan (the design this module exists for — a 10^12-
    key filter table is TBs): both sides shuffle on (shard, salt); each
    cogroup task
    gets one shard's filter row + ~1/``probe_salt`` of that shard's probe
    rows and runs the vectorized probe kernel. No BroadcastExchange
    anywhere (tested in ``tests/test_sharded.py``). The shard modulus is
    read from the filter table (``n_shards`` is only needed for tables
    persisted before it was stored).

    ``probe_salt`` bounds per-task probe volume: without it every probe
    row of a shard lands in ONE task (throughput capped at
    rows/n_shards per core — the r2 scale gap). Each filter row is
    duplicated ``probe_salt`` times so every salted group still sees its
    shard's payload; filter traffic grows salt×, which is noise next to
    probe rows (filters are sized in MBs, probes in TBs). Results are
    row-wise identical for any salt.

    Both plans read the filter table more than once (payload-size sum,
    then collect or cogroup; the modulus read without ``n_shards``). A
    table whose plan computes it (a just-built one, say) is therefore
    materialized once with ``localCheckpoint``, so its build runs once
    per call; a table that only scans stored rows (files, a cached
    table: :func:`sprout_spark.spark.fastpath.scan_only`) is read as it
    is, since a copy would cost more than the re-reads."""
    from pyspark.sql.types import StructField, StructType

    if not fastpath.scan_only(filters):
        # see the docstring; ContextCleaner reclaims the blocks
        filters = filters.localCheckpoint(eager=True)
    n_shards = _resolve_n_shards(filters, n_shards)
    fast = _broadcast_sharded_probe(df, key_col, filters, n_shards, out_col)
    if fast is not None:
        return fast
    probe_salt = max(1, int(probe_salt))
    probe = _salted_probe(df, key_col, n_shards, probe_salt)
    fdup = filters.withColumn(
        "_psalt",
        F.explode(F.array(*[F.lit(i) for i in range(probe_salt)])),
    )
    # copy the fields: StructType.add mutates in place, and df.schema is
    # cached on the DataFrame — appending there corrupts later plans
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, BooleanType(), False)]
    )
    key_idx = df.columns.index(key_col)

    def fn(left: pa.Table, right: pa.Table) -> pa.Table:
        left = left.drop_columns(["_shard", "_psalt"])
        if right.num_rows == 0:
            # no filter for this shard: nothing was ever added there
            contains = np.zeros(left.num_rows, dtype=bool)
        else:
            if "n_shards" in right.column_names:
                stored = set(right.column("n_shards").to_pylist())
                _check_modulus(stored, n_shards)
            sk = sketch_from_bytes(
                merge_serialized(right.column("sketch").to_pylist())
            )
            arr = left.column(key_idx)
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            contains = (
                sk.contains_arrow(arr)
                if len(arr)
                else np.zeros(0, dtype=bool)
            )
        return left.append_column(out_col, pa.array(contains, pa.bool_()))

    return (
        probe.groupBy("_shard", "_psalt")
        .cogroup(fdup.groupBy("shard", "_psalt"))
        .applyInArrow(fn, out_schema)
    )


def sharded_semi_join(
    big: DataFrame,
    big_key: str,
    small: DataFrame,
    small_key: str,
    filters: DataFrame,
    n_shards: int | None = None,
) -> DataFrame:
    """Exact left-semi join pruned by a sharded filter (the beyond-
    broadcast analog of ``probe.bloom_semi_join``): prune ``big`` by
    sharded membership, then confirm with the real semi join so false
    positives drop out.

    The key match is written as null-safe equality on a non-NULL big
    key, which keeps exactly the rows of ``big_key == small_key``: an
    attribute ``=`` lets the optimizer infer the probe filter onto
    ``small`` across the join keys, which runs the probe UDF a second
    time over ``small``."""
    pruned = sharded_might_contain(big, big_key, filters, n_shards)
    pruned = pruned.where(F.col("might_contain")).drop("might_contain")
    return pruned.join(
        small,
        on=pruned[big_key].eqNullSafe(small[small_key])
        & pruned[big_key].isNotNull(),
        how="left_semi",
    )
