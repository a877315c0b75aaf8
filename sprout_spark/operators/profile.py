"""Table profiler — the corpus report card: per-column row/NULL counts,
min/max, approximate distinct (HLL), and approximate median (t-digest),
for every column in TWO passes total, whatever the column count.

Pass 1 (pure JVM, whole-stage codegen): one aggregation computing
``count(*)`` plus per-column ``count``, ``min``, ``max`` — the exact
facts. Pass 2 (one ``mapInArrow`` scan + the package's fan-in tree
merge): one HLL per hashable column and one t-digest per numeric
column, ALL built in the same kernel — at 10^12 rows the scan
dominates, so a profiler that loops columns (one job per column, the
naive pandas habit) pays the table read N-columns times; this one pays
it twice regardless of width.

Per-column semantics match SQL aggregates exactly: NULLs are dropped
per column inside the kernel (``count distinct`` and quantiles ignore
NULLs — unlike the key-sketch convention where a NULL hashes as the
empty key, a profiler must not conflate NULL with ``''``).

Column typing:
  * distinct_est — string/binary/integer/boolean/date columns, and
    timestamps via the canonical int64-microsecond cast; NULL for
    float columns (hashing continuous doubles conflates ``-0.0``/
    ``0.0`` with SQL DISTINCT semantics, so the profiler abstains
    rather than lies) and for nested/decimal columns (no canonical
    key encoding — abstain, never crash mid-scan).
  * p50_est — integer/float columns (t-digest); NULL otherwise.
  * n_rows / n_null / min_str / max_str — every column (min/max via the
    JVM aggregate, rendered with Spark's string cast).

The result is a tiny DataFrame (one row per column), created on the
driver from the merged sketch payloads — profiling OUTPUT is
column-count-sized by definition; the data never leaves the executors
except as sketch bytes.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sketch import HyperLogLog, TDigest
from ..spark.aggregate import (
    MULTI_ROW_SCHEMA,
    coalesce_to_slots,
    collect_merged,
    emit_partials,
    tree_merge,
)

_NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double")
_FLOATY = ("float", "double")
# Spark dtypes with a canonical key encoding for the distinct sketch
# (pack_arrow's surface plus the casts the kernel applies). Anything
# else — nested, decimal, float — abstains with a NULL distinct_est.
_HLLABLE = (
    "string",
    "binary",
    "boolean",
    "date",
    "tinyint",
    "smallint",
    "int",
    "bigint",
)


def profile_table(
    df: DataFrame,
    cols: list[str] | None = None,
    hll_p: int = 14,
    tdigest_delta: int = 200,
) -> DataFrame:
    """One row per profiled column: ``(column, n_rows, n_null,
    distinct_est, p50_est, min_str, max_str)``."""
    cols = list(cols) if cols is not None else list(df.columns)
    dtypes = dict(df.dtypes)
    missing = [c for c in cols if c not in dtypes]
    if missing:
        raise ValueError(f"columns not in DataFrame: {missing}")
    if not cols:
        raise ValueError("no columns to profile")

    hll_cols = [
        c
        for c in cols
        if dtypes[c] in _HLLABLE or dtypes[c].startswith("timestamp")
    ]
    td_cols = [c for c in cols if dtypes[c] in _NUMERIC]

    # ---- pass 1: exact facts, one JVM aggregation -------------------------
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
        aggs.append(F.min(F.col(c)).cast("string").alias(f"__min_{c}"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"__max_{c}"))
    exact = df.agg(*aggs).first()

    # ---- pass 2: every sketch in one Arrow scan ---------------------------
    pos = {c: i for i, c in enumerate(cols)}
    factories = {
        **{f"hll::{c}": lambda: HyperLogLog(p=hll_p) for c in hll_cols},
        **{f"td::{c}": lambda: TDigest(delta=tdigest_delta) for c in td_cols},
    }

    def update(sks, batch):
        from ..hashing import pack_arrow

        for c in hll_cols:
            arr = batch.column(pos[c]).drop_null()
            if len(arr) == 0:
                continue
            if pa.types.is_timestamp(arr.type):
                arr = arr.cast(pa.int64())
            elif pa.types.is_date32(arr.type):
                arr = arr.cast(pa.int32()).cast(pa.int64())
            elif pa.types.is_date64(arr.type):
                arr = arr.cast(pa.int64())
            elif pa.types.is_boolean(arr.type):
                arr = arr.cast(pa.int8())
            sks[f"hll::{c}"].add_packed(*pack_arrow(arr))
        for c in td_cols:
            arr = batch.column(pos[c]).drop_null()
            if len(arr):
                sks[f"td::{c}"].update_arrow(arr)

    frame, n = coalesce_to_slots(df.select(*cols))
    partials = emit_partials(
        frame,
        lambda: {name: f() for name, f in factories.items()},
        update,
        MULTI_ROW_SCHEMA,
    )
    # stop_at=64: the remaining <= 64 rows per name fold at the driver
    # instead of through one more shuffle + Python stage
    merged = collect_merged(
        tree_merge(partials, n, group_cols=("name",), stop_at=64),
        factories,
    )

    rows = []
    for c in cols:
        hll = merged.get(f"hll::{c}")
        td = merged.get(f"td::{c}")
        rows.append(
            (
                c,
                int(exact["__n"]),
                int(exact["__n"]) - int(exact[f"__nn_{c}"]),
                int(round(hll.estimate())) if hll is not None else None,
                float(td.quantile(0.5))
                if td is not None and td.count > 0
                else None,
                exact[f"__min_{c}"],
                exact[f"__max_{c}"],
            )
        )
    return df.sparkSession.createDataFrame(
        rows,
        "column string, n_rows bigint, n_null bigint, distinct_est bigint, "
        "p50_est double, min_str string, max_str string",
    )
