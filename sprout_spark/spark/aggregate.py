"""Distributed sketch building: scan → partition-local partial → tree merge.

This is the Spark skeleton every sketch plugs into (SURVEY.md §3.4):

    transcripts DataFrame (parquet/Iceberg scan; Catalyst prunes to the
    sketched column)
      → coalesce(task slots)           # narrow, no shuffle: at most one
                                       #   partial task per core
      → mapInArrow(partial)            # one fixed-size sketch row per
                                       #   task, built vectorized in
                                       #   numpy from Arrow batches —
                                       #   zero per-row Python
      → tree merge                     # merge_groups on part_id // fanin,
                                       #   repeated, so no task ever
                                       #   receives more than fanin ×
                                       #   sketch_size bytes
      → driver MergeableSketch         # final merge of ≤ fanin rows

Every build in the package runs through the same three pieces defined
here: :func:`emit_partials` (the partial step), the key-run fold
:func:`_fold_runs` (every per-key build and merge: :func:`build_groups`
and :func:`merge_groups`) and :func:`collect_merged` (the driver fold).
A partial row is ``[name,] part_id, sketch, rows``. The fold cuts Arrow
batches into runs of equal keys, vectorized, and folds each run into one
row. After a shuffle its input is ``repartition(keys)
.sortWithinPartitions(keys)``, the Exchange and Sort a grouped
``applyInArrow`` needs, but with no Python call per key.

The builds feed the partial step through :func:`coalesce_to_slots`, so
16 input files on 4 cores build 4 partials instead of 16, and the merge
tree and its shuffle shrink with them. Bloom, HLL, CMS and BottomK
partials merge by OR / max / add / min-k, so their results are
byte-identical at any grouping; t-digest, KLL and Misra-Gries results
may differ within their error bounds.

The partial step is the distributed analog of the reference's ``Add`` loop
(``bloom.go:164-187``), the merge step of its ``Merge``
(``bloom.go:241-260``); associativity + commutativity of every sketch's
merge makes the tree shape (and the partition count) semantically
irrelevant — tested by building at 2/8/32 partitions and comparing
bitsets.

Scale notes (100 TB / 1000 executors):
* partials are O(sketch_size) per partial task regardless of row count;
  the only full-data pass is the scan itself, which stays in the JVM
  until the Arrow hand-off of the single projected column;
* CAVEAT for full-width Bloom partials: each partial task serializes the
  whole M-bit filter, so merge-shuffle volume is min(P, slots) × M/8
  bytes for P input partitions. That is fine while the filter is MBs;
  for big filters pick one of the two population-sized paths instead —
  ScalableBloomFilter partials with ``merge_mode="concat",
  err_rate=ε/P`` (each partial sized to its task's rows), or
  ``spark.sharded.build_sharded_bloom`` (one
  shuffle of the key column, per-shard filters sized to their shard,
  probes need no broadcast). HLL/CMS/t-digest/KLL/MG partials are small
  and constant — the caveat is bloom-specific;
* the merge tree bounds driver inbound data to fanin × sketch_size — with
  the default fanin=64 and 3.6 MB bloom payloads that is ~230 MB worst
  case at one level for 4096 partials, and two levels cover 262k
  partials;
* AQE may coalesce the tiny merge shuffles; that's fine and desired.
"""

from __future__ import annotations

import warnings
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..sketch.base import MergeableSketch, merge_serialized, sketch_from_bytes

SKETCH_ROW_SCHEMA = "part_id bigint, sketch binary, rows bigint"
# one-scan multi-sketch builds: one row per (sketch name, partition)
MULTI_ROW_SCHEMA = "name string, " + SKETCH_ROW_SCHEMA


def _is_numeric_arrow(arr_type: pa.DataType) -> bool:
    return (
        pa.types.is_integer(arr_type)
        or pa.types.is_floating(arr_type)
        or pa.types.is_decimal(arr_type)
    )


def _require_weighted_interface(factory) -> str:
    """Validate a factory's sketch can take per-row weights; returns the
    interface kind: ``'hash'`` (``add_packed(buf, lens, weights)`` —
    CMS), ``'numeric'`` (``update_array(values, weights)`` —
    t-digest/KLL), or ``'arrow'`` (``update_weighted_arrow(arr,
    weights)`` — Misra-Gries and other value-keyed summaries). Raises
    for none of the three — at the DRIVER, not as a TypeError halfway
    through a job."""
    import inspect

    def takes_weights(meth) -> bool:
        try:
            return "weights" in inspect.signature(meth).parameters
        except (TypeError, ValueError):
            return False

    probe = factory()
    if hasattr(probe, "add_packed") and takes_weights(probe.add_packed):
        return "hash"
    if hasattr(probe, "update_array") and takes_weights(probe.update_array):
        return "numeric"
    if hasattr(probe, "update_weighted_arrow"):
        return "arrow"
    raise ValueError(
        f"{type(probe).__name__} supports none of the weighted partial "
        "interfaces: add_packed(buf, lens, weights), "
        "update_array(values, weights), update_weighted_arrow(arr, weights)"
    )


def _update_sketch_from_arrow_weighted(sk, arr, warr, kind) -> None:
    """Weighted analog of :func:`_update_sketch_from_arrow`: dispatch an
    Arrow (values, weights) pair to the sketch's weighted update."""
    weights = (
        pc.fill_null(pc.cast(warr, pa.int64()), 0)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    if kind == "hash":
        from ..hashing import pack_arrow

        sk.add_packed(*pack_arrow(arr), weights)
        return
    if kind == "arrow":
        sk.update_weighted_arrow(arr, weights)
        return
    vals = np.asarray(
        pc.cast(arr, pa.float64()).to_numpy(zero_copy_only=False)
    )
    m = weights > 0
    if m.any():
        sk.update_array(vals[m], weights[m])


def _update_sketch_from_arrow(sk: MergeableSketch, arr) -> None:
    """Dispatch an Arrow array to the sketch's vectorized update path
    (timestamps hash as their int64 microseconds)."""
    if pa.types.is_timestamp(arr.type):
        arr = arr.cast(pa.int64())
    sk.update_arrow(arr)


def _update_sketch_from_pandas(sk: MergeableSketch, vals: pd.Series) -> None:
    """Dispatch a pandas Series (applyInPandas paths) to the sketch with
    the same canonical encodings as the Arrow path. pandas widens
    int64-with-NULLs to float64, so integral float series are restored to
    nullable Int64 before hashing (genuine float keys are unsupported)."""
    if pd.api.types.is_numeric_dtype(vals) and hasattr(sk, "update_array"):
        sk.update_array(vals.to_numpy(dtype="float64", na_value=np.nan))
        return
    if pd.api.types.is_integer_dtype(vals):
        sk.update_arrow(pa.Array.from_pandas(vals, type=pa.int64()))
        return
    if pd.api.types.is_float_dtype(vals):
        nn = vals.dropna()
        if len(nn) == 0 or (nn == nn.round()).all():
            sk.update_arrow(
                pa.Array.from_pandas(vals.astype("Int64"), type=pa.int64())
            )
            return
        raise TypeError(
            "float-valued keys are not supported by key sketches; cast to "
            "string or int first"
        )
    sk.update_arrow(pa.Array.from_pandas(vals.astype("string").fillna("")))


def coalesce_to_slots(frame: DataFrame) -> tuple[DataFrame, int]:
    """Narrow ``frame`` to at most one partition per task slot
    (``defaultParallelism``) for a sketch's partial step, and return it
    with the partial count :func:`tree_merge` receives.

    ``coalesce`` is narrow (no shuffle): each slot's task reads its run
    of input partitions back to back. Every Python task pays a fixed
    worker start-up (~0.2 s on a local worker however little it
    computes: the worker re-validates its zip-import caches per task),
    so fewer, fuller partial tasks finish sooner. A frame already at or
    under the slot count passes through unchanged."""
    n = frame.rdd.getNumPartitions()
    slots = frame.sparkSession.sparkContext.defaultParallelism
    if n > slots:
        return frame.coalesce(slots), slots
    return frame, n


def emit_partials(
    frame: DataFrame,
    make: Callable,
    update: Callable,
    schema: str = SKETCH_ROW_SCHEMA,
    annotate: Callable | None = None,
) -> DataFrame:
    """The partial step of every sketch build: one ``mapInArrow`` task
    per input partition builds partition-local sketches from ``frame``'s
    Arrow batches (vectorized, zero per-row Python) and emits their
    serialized rows.

    ``make()`` returns one sketch (``SKETCH_ROW_SCHEMA`` rows) or a
    ``{name: sketch}`` dict (``MULTI_ROW_SCHEMA`` rows);
    ``update(sketches, batch)`` folds one non-empty Arrow batch into
    what ``make`` returned. ``annotate(part_id, ctx)``, when given, runs
    before the partition is read: it returns None to skip the partition
    unread, or a callable that gives the values of ``schema``'s extra
    trailing columns once the build is done."""

    def fn(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        # no annotate: no extra columns (dict() == {})
        finish = dict if annotate is None else annotate(pid, ctx)
        if finish is None:
            return  # skipped: the batches iterator is never consumed
        sks = make()
        rows = 0
        for batch in batches:
            if batch.num_rows:
                rows += batch.num_rows
                update(sks, batch)
        named = isinstance(sks, dict)
        items = sks if named else {None: sks}
        n = len(items)
        cols = {"name": pa.array(list(items), pa.string())} if named else {}
        cols["part_id"] = pa.array([pid] * n, pa.int64())
        cols["sketch"] = pa.array(
            [sk.to_bytes() for sk in items.values()], pa.binary()
        )
        cols["rows"] = pa.array([rows] * n, pa.int64())
        for c, v in finish().items():
            cols[c] = pa.array([v] * n)
        yield pa.RecordBatch.from_pydict(cols)

    return frame.mapInArrow(fn, schema)


def partial_sketches(
    df: DataFrame, col: str, factory: Callable[[], MergeableSketch]
) -> DataFrame:
    """One serialized sketch row per input partition (the partial step).

    Deliberately NOT routed through ``spread_small_input``: sketch
    updates are cheap per row (vectorized hash + bitset), so for the
    small single-row-group inputs the spread targets, the repartition
    exchange costs more than the serialized kernel it parallelizes
    (measured both round-robin and hash spread at sf0.1: bloom_build
    1.05s -> 1.61s / 0.98s, tdigest 0.55s -> 0.81s — both worse)."""
    frame = df.select(F.col(col).alias("_v"))
    return emit_partials(frame, factory, _value_update(factory, False))


def _value_update(factory: Callable, weighted: bool) -> Callable:
    """The update step of every value build: ``update(sk, batch)`` folds
    ``batch``'s ``_v`` column into ``sk``, each row weighted by its
    ``_w`` column when ``weighted``. The weighted interface is checked
    here, at the driver (:func:`_require_weighted_interface`)."""
    if not weighted:
        return lambda sk, batch: _update_sketch_from_arrow(sk, batch.column("_v"))
    kind = _require_weighted_interface(factory)
    return lambda sk, batch: _update_sketch_from_arrow_weighted(
        sk, batch.column("_v"), batch.column("_w"), kind
    )


def _key_runs(batch: pa.RecordBatch, keys: list, local_sort: bool):
    """Cut ``batch`` into runs of equal ``keys`` (vectorized: one
    dictionary encode per key column; a NULL key is a value of its own).
    With ``local_sort`` the batch is first stably sorted by its key
    codes, so each key present in it forms one run. Returns the
    (possibly reordered) batch and the runs' start and end rows."""
    codes = [
        np.asarray(
            pc.dictionary_encode(batch.column(k), null_encoding="encode").indices
        )
        for k in keys
    ]
    if local_sort:
        order = np.lexsort(codes[::-1])
        batch = batch.take(pa.array(order))
        codes = [c[order] for c in codes]
    new_run = np.zeros(batch.num_rows, dtype=bool)
    new_run[0] = True
    for c in codes:
        new_run[1:] |= c[1:] != c[:-1]
    starts = np.flatnonzero(new_run)
    return batch, starts, np.append(starts[1:], batch.num_rows)


def _fold_runs(
    keys: list,
    names: list,
    make: Callable | None = None,
    update: Callable | None = None,
    sorted_input: bool = True,
) -> Callable:
    """The key-run fold kernel (a ``mapInArrow`` function): one row of
    columns ``names`` per key run. Without ``make`` the rows are sketch
    rows: a run's ``sketch`` payloads merge with one ``merge_serialized``
    call at its end, in row order, and ``rows`` sum. With ``make`` a
    run builds a fresh ``make()`` sketch through ``update(sketch,
    rows)`` and ``rows`` counts it. Every other column keeps its first
    value and type.

    ``sorted_input`` holds each key's rows together (a shuffle on
    ``keys`` then a sort on them): a new key closes the open run, which
    carries across batches, so memory is one batch plus the open run.
    Otherwise (the map-combine step, no shuffle) each batch is sorted
    locally and runs fold into one accumulator per partition."""
    heads = [c for c in names if c not in ("sketch", "rows")]

    def close(ent) -> dict:
        head, state, rows = ent
        payload = state.to_bytes() if make else merge_serialized(state)
        return {**head, "sketch": payload, "rows": rows}

    def fn(batches):
        acc: dict[tuple, list] = {}  # key -> [first values, state, rows]
        done: list[dict] = []
        for batch in batches:
            if batch.num_rows == 0:
                continue
            types = dict(zip(batch.schema.names, batch.schema.types))
            types.update(sketch=pa.binary(), rows=pa.int64())
            out = pa.schema([(c, types[c]) for c in names])
            batch, starts, ends = _key_runs(batch, keys, not sorted_input)
            first = batch.select(heads).take(pa.array(starts)).to_pylist()
            if make:
                counts = ends - starts
            else:
                payloads = batch.column("sketch").to_pylist()
                counts = np.add.reduceat(
                    pc.fill_null(batch.column("rows"), 0).to_numpy(), starts
                )
            for head, s, e, n in zip(first, starts, ends, counts.tolist()):
                key = tuple(head[k] for k in keys)
                ent = acc.get(key)
                if ent is None:
                    if sorted_input:
                        done += [close(x) for x in acc.values()]
                        acc.clear()
                    ent = acc[key] = [head, make() if make else [], 0]
                    if len(acc) == 262_145:  # map side: grows with keys
                        warnings.warn(
                            "map-combine partial dict exceeded 262k keys in "
                            "one partition; key cardinality approaches row "
                            "count — use combine='shuffle'",
                            stacklevel=2,
                        )
                if make:
                    update(ent[1], batch.slice(s, e - s))
                else:
                    ent[1] += payloads[s:e]
                ent[2] += n
            if done:
                yield pa.RecordBatch.from_pylist(done, schema=out)
                done = []
        if acc:
            done = [close(x) for x in acc.values()]
            yield pa.RecordBatch.from_pylist(done, schema=out)

    return fn


def merge_groups(df: DataFrame, *keys: str) -> DataFrame:
    """The one merge: collapse ``df``'s sketch rows to one row per
    ``keys`` group through the key-run fold (:func:`_fold_runs`).
    ``sketch`` payloads merge, ``rows`` sum, and every other column
    keeps its first value with its type — so callers project to (keys,
    sketch, rows) first; the output schema is ``df.schema``."""
    by_key = df.repartition(*keys).sortWithinPartitions(*keys)
    return by_key.mapInArrow(_fold_runs(list(keys), df.columns), df.schema)


def build_groups(
    frame: DataFrame,
    keys: list,
    factory: Callable[[], MergeableSketch],
    weighted: bool = False,
    map_side: bool = False,
) -> DataFrame:
    """One sketch per ``keys`` group, built from ``frame``'s ``_v``
    column (weighted by ``_w`` when ``weighted``) through the key-run
    fold. The output replaces ``_v``/``_w`` with ``sketch binary, rows
    bigint``; every other column keeps its first value and type.

    By default each key's rows shuffle together first, so the result
    has one row per key. ``map_side`` builds one partial per key per
    input partition instead, with no shuffle (merge them with
    :func:`merge_groups`)."""
    update = _value_update(factory, weighted)
    fields = [
        StructField(f.name, f.dataType)
        for f in frame.schema.fields
        if f.name not in ("_v", "_w")
    ]
    at = frame.columns.index("_v")
    fields[at:at] = [
        StructField("sketch", BinaryType()),
        StructField("rows", LongType()),
    ]
    schema = StructType(fields)
    if not map_side:
        frame = frame.repartition(*keys).sortWithinPartitions(*keys)
    return frame.mapInArrow(
        _fold_runs(keys, schema.names, factory, update, not map_side), schema
    )


def tree_merge(
    partials: DataFrame,
    n_partials: int,
    fanin: int = 64,
    group_cols: tuple = (),
    stop_at: int = 1,
) -> DataFrame:
    """Reduce sketch rows level by level; each task merges ≤ fanin sketches.

    Returns a 1-row-per-group DataFrame with the fully merged sketch(es),
    in ``partials``' schema. ``group_cols`` generalizes the reduction to
    keyed partial sets (e.g. the one-pass multi-sketch build reduces per
    sketch ``name``); the default reduces a plain SKETCH_ROW_SCHEMA set
    to one row.

    ``stop_at`` stops the reduction once ≤ that many rows (per group)
    remain instead of driving it all the way to 1. Callers that end with
    a driver-side fold anyway (:func:`collect_merged`,
    :func:`build_sketches`) pass ``stop_at=fanin``: the final ≤ fanin
    rows collect directly — the same fanin × sketch_size driver-inbound
    bound the full tree has — and each level is a full shuffle +
    Python pass, so skipping the last level(s) removes
    whole stages from every build (measured ~0.5-1.0s per build at
    local[32], where two levels reduced 32 tiny partials).
    """
    df = partials
    n = max(1, n_partials)
    while n > max(1, stop_at):
        df = merge_groups(
            df.withColumn("part_id", (F.col("part_id") / fanin).cast("bigint")),
            *group_cols,
            "part_id",
        )
        n = (n + fanin - 1) // fanin
    return df


def collect_merged(
    merged: DataFrame,
    factory: Callable[[], MergeableSketch] | dict[str, Callable],
):
    """Collect a (possibly partially) tree-merged partial set and fold to
    one driver sketch. Rows fold in ``part_id`` order so the driver-side
    merge order is deterministic run to run (order only matters for the
    approximate quantile sketches, whose bounds hold under any order).

    A set with a ``name`` column (multi-sketch builds) folds per name in
    ``(name, part_id)`` order; ``factory`` is then a ``{name: factory}``
    dict and the result a ``{name: sketch}`` dict with every one of its
    names. A name (or an unnamed set) with no rows — e.g. a zero-
    partition input — comes back as its factory's empty sketch."""
    named = "name" in merged.columns
    out: dict = {}
    for r in sorted(
        merged.collect(),
        key=lambda r: (r["name"] if named else None, r["part_id"]),
    ):
        name = r["name"] if named else None
        sk = sketch_from_bytes(r["sketch"])
        out[name] = out[name].merge(sk) if name in out else sk
    if not named:
        return out[None] if out else factory()
    return {
        name: out[name] if name in out else f() for name, f in factory.items()
    }


_PARTIAL_SHUFFLE_WARN_BYTES = 1 << 30  # 1 GiB of full-width partials


def _warn_if_partials_oversized(factory, n_partials: int) -> None:
    """Full-width Bloom partials shuffle ``n_partials`` × filter_size
    bytes no matter how few rows a partial holds (``n_partials`` is the
    count after :func:`coalesce_to_slots`). When that product crosses
    ~1 GiB, steer the caller to the population-sized paths (SBF-concat
    partials or build_sharded_bloom) instead of silently building a
    merge shuffle that will dominate the job at scale."""
    try:
        probe = factory()
    except Exception:
        return
    size = getattr(probe, "filter_size", lambda: 0)()
    if size * max(n_partials, 1) > _PARTIAL_SHUFFLE_WARN_BYTES:
        warnings.warn(
            f"bloom partial merge shuffle is ~{size * n_partials >> 20} MiB "
            f"({n_partials} partials x {size >> 20} MiB full-width "
            "partials); for filters this large use ScalableBloomFilter "
            "partials (merge_mode='concat', err_rate=eps/P — partition-"
            "sized) or spark.sharded.build_sharded_bloom (shard-sized, "
            "broadcast-free probe)",
            stacklevel=3,
        )


def build_sketch(
    df: DataFrame,
    col: str,
    factory: Callable[[], MergeableSketch],
    fanin: int = 64,
) -> MergeableSketch:
    """Scan → partial → tree merge → driver sketch (the full lifecycle):
    a one-spec :func:`build_sketches`."""
    return build_sketches(df, {col: (col, factory)}, fanin=fanin)[col]


def build_weighted_sketch(
    df: DataFrame,
    col: str,
    weight_col: str,
    factory: Callable[[], MergeableSketch],
    fanin: int = 64,
) -> MergeableSketch:
    """Weighted build: each row adds ``weight_col`` (int64) to its key —
    the token-count / byte-count frequency shape (e.g. CMS of "how many
    TOKENS did each source contribute", not "how many rows"). Same
    partial→tree-merge skeleton as :func:`build_sketch`.

    Dispatches on the sketch's partial interface: hash-keyed sketches
    (CMS — ``add_packed(buf, lens, weights)``) get the packed-bytes
    path; numeric quantile sketches (t-digest, KLL —
    ``update_array(values, weights)``) a float64 path, giving weighted
    quantiles (sample-weighted token-length percentiles, price
    quantiles weighted by units, ...); value-keyed summaries
    (Misra-Gries — ``update_weighted_arrow(arr, weights)``) an
    Arrow-native path. Rows with NULL or non-positive weight are
    dropped in the numeric path (a zero-weight observation carries no
    rank mass); NULL weights count 0 and NULL keys hash as the empty
    key in the hash path, exactly like the unweighted path."""
    update = _value_update(factory, weighted=True)
    frame, n = coalesce_to_slots(
        df.select(F.col(col).alias("_v"), F.col(weight_col).cast("long").alias("_w"))
    )
    partials = emit_partials(frame, factory, update)
    return collect_merged(
        tree_merge(partials, n, fanin=fanin, stop_at=fanin), factory
    )


# ---------------------------------------------------------------------------
# one-pass multi-sketch build: scan once, build every sketch
# ---------------------------------------------------------------------------


def build_sketches(
    df: DataFrame,
    specs: dict[str, tuple[str, Callable[[], MergeableSketch]]],
    fanin: int = 64,
) -> dict[str, MergeableSketch]:
    """Build several sketches in ONE scan: ``specs`` maps sketch name →
    (column, factory). At 100 TB the scan dominates, so folding the whole
    sketch suite (membership + distinct + frequencies + quantiles) into a
    single pass is the difference between one and five full-table reads.
    Only the union of referenced columns crosses the JVM→Arrow boundary.
    Every name comes back, empty if the input has no partitions.
    """
    cols = sorted({c for c, _ in specs.values()})
    col_pos = {c: i for i, c in enumerate(cols)}
    factories = {name: factory for name, (_, factory) in specs.items()}

    def update(sks, batch):
        from ..hashing import pack_arrow

        packed: dict[str, tuple] = {}  # pack each key column ONCE
        for name, (c, _) in specs.items():
            sk = sks[name]
            arr = batch.column(col_pos[c])
            if (
                hasattr(sk, "add_packed")
                and not _is_numeric_arrow(arr.type)
                # timestamps route through the int64 cast in
                # _update_sketch_from_arrow — pack_arrow rejects them
                and not pa.types.is_timestamp(arr.type)
            ):
                if c not in packed:
                    packed[c] = pack_arrow(arr)
                sk.add_packed(*packed[c])
            else:
                _update_sketch_from_arrow(sk, arr)

    frame, n = coalesce_to_slots(df.select(*cols))
    partials = emit_partials(
        frame,
        lambda: {name: f() for name, f in factories.items()},
        update,
        MULTI_ROW_SCHEMA,
    )
    for factory in factories.values():
        _warn_if_partials_oversized(factory, n)
    merged = tree_merge(
        partials, n, fanin=fanin, group_cols=("name",), stop_at=fanin
    )
    return collect_merged(merged, factories)


# ---------------------------------------------------------------------------
# grouped (per-key) sketches with explicit salt for skewed keys
# ---------------------------------------------------------------------------


def build_grouped_sketches(
    df: DataFrame,
    key_col: str,
    val_col: str,
    factory: Callable[[], MergeableSketch],
    salt: int = 0,
    weight_col: str | None = None,
    combine: str = "shuffle",
) -> DataFrame:
    """Per-key sketches: DataFrame[key string, sketch binary, rows bigint].

    Skew handling (north rule): hot keys (e.g. a conversation with 10^6
    turns) would funnel into one task under a plain groupBy. With
    ``salt=S`` the build is two-phase: phase 1 groups on
    (key, xxhash64(val) % S) so a hot key's rows spread over S tasks;
    phase 2 merges the ≤ S per-salt sketches per key. Mergeability makes
    salting *exact*, not approximate (SURVEY.md §4.2). The salt is
    deterministic (a hash of the value, never rand()) so reruns are
    byte-stable.

    ``weight_col`` gives the per-key WEIGHTED build (the per-source
    token-count report: each row adds its weight, not 1) with the same
    interface dispatch as :func:`build_weighted_sketch` — weighted
    ``add_packed`` for hash sketches (CMS), ``update_array(values,
    weights)`` for the numeric quantile sketches (t-digest, KLL);
    sketches with neither fail loud at the driver. NULL/non-positive
    weights drop in the numeric path, count 0 in the hash path.

    ``combine`` picks the physical plan (mergeability makes the result
    byte-equal either way):

    * ``"shuffle"`` (default, the historical plan): raw rows shuffle on
      (key[, salt]), sort within their partition, and the key-run fold
      (:func:`build_groups`) builds each key's sketch batch by batch, so
      a hot key never has to fit in memory as one table. Right when key
      cardinality approaches row count (per-partition partial dicts
      would explode) — the per-conversation build over 10^9 conv_ids.
    * ``"map"`` — the classic map-side combine: every input partition
      builds one partial sketch per key it sees (the same fold over
      locally sorted Arrow batches, zero per-row Python), and only the
      O(partitions × keys-per-partition) SKETCH rows shuffle for the
      per-key merge; raw rows never move. Right when keys are bounded
      (time windows, event types, sources) and rows are not — the
      rollup append at 10^12 turns shuffles kilobyte partials instead
      of the corpus. Hot keys cost nothing extra: their rows stay where
      the scan put them. ``salt`` is ignored (it exists to split hot
      groups across tasks, which map combine already does).
    """
    if combine not in ("shuffle", "map"):
        raise ValueError(f"combine must be 'shuffle' or 'map', got {combine!r}")

    # grouped-build analog of _warn_if_partials_oversized: HLL/CMS
    # partials self-shrink (sparse wire payloads), but a Bloom filter's
    # payload is dense bits at any fill level — per-key full-width
    # payloads multiply by group count (x salt) through the phase-2
    # shuffle and the result table itself
    try:
        _probe = factory()
    except Exception:
        _probe = None
    if _probe is not None:
        _size = getattr(_probe, "filter_size", lambda: 0)()
        if _size * max(int(salt), 1) > (64 << 20):
            warnings.warn(
                f"grouped bloom build ships a dense ~{_size >> 20} MiB "
                f"payload PER KEY{' x salt' if salt and salt > 1 else ''} "
                "through the merge shuffle; size the per-key filter for "
                "per-key cardinality, or use HLL/CMS (sparse partials) "
                "if only estimates are needed",
                stacklevel=2,
            )

    cols = [F.col(key_col).cast("string").alias("key"), F.col(val_col).alias("_v")]
    weighted = weight_col is not None
    if weighted:
        cols.append(F.col(weight_col).cast("long").alias("_w"))
    base = df.select(*cols)
    if combine == "map":
        partials = build_groups(base, ["key"], factory, weighted, map_side=True)
        return merge_groups(partials, "key")
    if salt and salt > 1:
        salted = base.withColumn("_salt", F.pmod(F.xxhash64("_v"), F.lit(salt)))
        phase1 = build_groups(salted, ["key", "_salt"], factory, weighted)
        return merge_groups(phase1.drop("_salt"), "key")
    return build_groups(base, ["key"], factory, weighted)


def estimate_rows(
    sketches: DataFrame,
    estimator: Callable[[MergeableSketch], float],
    names: list,
) -> DataFrame:
    """Decode ``sketches``' payloads map-side (one ``mapInArrow`` pass,
    no shuffle): the output has columns ``names``, where ``estimate`` is
    ``estimator`` of the row's sketch (a double; NaN reads as NULL) and
    every other name is ``sketches``' column as it is."""
    types = {f.name: f.dataType for f in sketches.schema.fields}
    types["estimate"] = DoubleType()
    schema = StructType([StructField(c, types[c]) for c in names])

    def fn(batches):
        for batch in batches:
            payloads = batch.column("sketch").to_pylist()
            ests = [estimator(sketch_from_bytes(b)) for b in payloads]
            ests = pa.array(np.array(ests, np.float64), from_pandas=True)
            cols = [ests if c == "estimate" else batch.column(c) for c in names]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return sketches.mapInArrow(fn, schema)


def grouped_estimate(
    sketches: DataFrame, estimator: Callable[[MergeableSketch], float]
) -> DataFrame:
    """Map DataFrame[key, sketch] → DataFrame[key string, estimate
    double], decoded map-side (:func:`estimate_rows`)."""
    frame = sketches.select(F.col("key").cast("string").alias("key"), "sketch")
    return estimate_rows(frame, estimator, ["key", "estimate"])
