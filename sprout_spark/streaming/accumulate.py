"""Structured Streaming sketch accumulation.

Mergeability makes streaming trivial: a sketch is a commutative monoid,
so a stream is just an endless sequence of partial builds merged into a
running state. Two surfaces:

* :func:`stream_sketch` — ``foreachBatch``: each micro-batch runs the
  same partial→tree-merge pipeline as batch mode, then merges into the
  running sketch and persists it (payload + watermark of processed
  batches) under the checkpoint dir. Restart resumes from the last
  persisted sketch; Structured Streaming's own checkpoint guarantees each
  micro-batch is delivered once to ``foreachBatch`` per epoch id, and we
  keep the epoch id with the payload so a replayed batch is skipped
  (idempotent merge).
* :func:`grouped_stream_sketches` — ``applyInPandasWithState``: per-key
  running sketches (e.g. per-tool HLL) with the serialized sketch as the
  state value — the custom stateful operator path for when per-key
  results must flow downstream as a stream.
"""

from __future__ import annotations

import os
import struct  # truncated sketch headers raise struct.error on load
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sketch.base import MergeableSketch, sketch_from_bytes
from ..sources.commit import read_state, write_state
from ..spark.aggregate import build_sketch


class StreamingSketchAccumulator:
    """Driver-side running sketch fed by foreachBatch (exactly-once via
    epoch-id tracking)."""

    def __init__(
        self,
        col: str,
        factory: Callable[[], MergeableSketch],
        state_dir: str,
        fanin: int = 64,
    ):
        self.col = col
        self.factory = factory
        self.state_dir = state_dir
        self.fanin = fanin
        os.makedirs(state_dir, exist_ok=True)
        self.sketch, self.last_epoch = self._load()

    # -- persistence ---------------------------------------------------------
    # ``state.bin`` holds BOTH the epoch watermark and the payload, so the
    # commit is a single atomic replace (sources/commit.py) — a crash can
    # never leave a new sketch paired with an old epoch (which would
    # double-merge the replayed micro-batch on restart).
    def _path(self) -> str:
        return os.path.join(self.state_dir, "state.bin")

    def _load(self) -> tuple[MergeableSketch, int]:
        path = self._path()
        try:
            st = read_state(path)
            if st is not None:
                return sketch_from_bytes(st[1]), int(st[0]["epoch"])
        except (ValueError, KeyError, struct.error) as e:
            # a power failure could in principle survive the rename with
            # truncated payload bytes (the fsync before it closes the
            # common case); fail loud but recover — accumulated state is
            # LOST and must be rebuilt from the source in batch mode if
            # exactness matters
            import warnings

            warnings.warn(
                f"corrupt streaming sketch state at {path!r} ({e}); "
                "restarting from an EMPTY sketch — prior accumulated "
                "state is lost, rebuild from the source if needed",
                stacklevel=2,
            )
        return self.factory(), -1

    def _save(self, epoch_id: int) -> None:
        write_state(self._path(), {"epoch": epoch_id}, self.sketch.to_bytes())

    # -- foreachBatch hook -----------------------------------------------------
    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id <= self.last_epoch:
            return  # replayed micro-batch after restart: already merged
        partial = build_sketch(batch_df, self.col, self.factory, fanin=self.fanin)
        self.sketch = self.sketch.merge(partial)
        self.last_epoch = epoch_id
        self._save(epoch_id)


def stream_sketch(
    stream_df: DataFrame,
    col: str,
    factory: Callable[[], MergeableSketch],
    state_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    fanin: int = 64,
):
    """Start a streaming query that folds the stream into one sketch.

    Returns (StreamingQuery, StreamingSketchAccumulator); read
    ``acc.sketch`` after (or during) the run.
    """
    acc = StreamingSketchAccumulator(col, factory, state_dir, fanin)
    writer = (
        stream_df.writeStream.foreachBatch(acc)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start(), acc


def grouped_stream_sketches(
    stream_df: DataFrame,
    key_col: str,
    val_col: str,
    factory: Callable[[], MergeableSketch],
    estimator: Callable[[MergeableSketch], float],
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Per-key running sketches as a stateful streaming operator.

    State = the serialized sketch (the wire format doubles as the state
    encoding). Emits (key, estimate, rows) per updated key each batch.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "key string, estimate double, rows bigint"
    state_schema = "sketch binary, rows bigint"

    def fn(key, pdf_iter, state: GroupState):
        from ..spark.aggregate import _update_sketch_from_pandas

        if state.exists:
            sk_bytes, rows = state.get
            sk = sketch_from_bytes(bytes(sk_bytes))
        else:
            sk, rows = factory(), 0
        for pdf in pdf_iter:
            vals = pdf[val_col]
            rows += len(vals)
            # same canonical encodings as the batch path — streaming- and
            # batch-built sketches over the same column stay mergeable
            _update_sketch_from_pandas(sk, vals)
        state.update((bytearray(sk.to_bytes()), rows))
        yield pd.DataFrame(
            {"key": [key[0]], "estimate": [float(estimator(sk))], "rows": [rows]}
        )

    grouped = stream_df.select(
        F.col(key_col).cast("string").alias("key"), F.col(val_col)
    ).groupBy("key")
    return grouped.applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=getattr(GroupStateTimeout, timeout),
    )


_INTERVAL_UNITS_MS = {
    "millisecond": 1,
    "second": 1000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
}


def _interval_ms(spec: str) -> int:
    """Parse the simple '<n> <unit>[s]' interval form Spark windows use."""
    parts = spec.strip().split()
    if len(parts) != 2:
        raise ValueError(f"expected '<n> <unit>' interval, got {spec!r}")
    n, unit = parts
    unit = unit.rstrip("s").lower()
    if unit not in _INTERVAL_UNITS_MS:
        raise ValueError(f"unsupported interval unit in {spec!r}")
    return int(n) * _INTERVAL_UNITS_MS[unit]


def windowed_stream_sketches(
    stream_df: DataFrame,
    ts_col: str,
    val_col: str,
    factory: Callable[[], MergeableSketch],
    estimator: Callable[[MergeableSketch], float],
    window_duration: str = "1 hour",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Event-time WINDOWED sketch aggregation with a watermark — the
    late-data streaming shape (north star: "watermarks + windowed aggs
    for late data"). Emits (key = window start, estimate, rows, final)
    per updated window each micro-batch; ``final=true`` marks the
    eviction emission after the watermark passes the window's
    end + delay (the window can no longer change).

    Each tumbling window holds ONE running mergeable sketch as its
    ``applyInPandasWithState`` state value — sketch-sized, never the
    window's rows. Mergeability is what makes late data EXACTLY safe:
    a late row within the watermark folds into its window's sketch and
    yields the identical registers the batch build over the complete
    window would (order independence is a sketch property). State
    eviction is explicit: every update arms an EventTimeTimeout at
    ``window_end + watermark_delay``; when the watermark crosses it the
    window emits its final row and its state is REMOVED — bounded state
    on unbounded streams, which ``GroupStateTimeout.NoTimeout`` (the
    per-key operator's default) would not give. As with any event-time
    timeout, the final emission fires on the next micro-batch after the
    watermark advances — a stream that simply stops leaves its last
    windows un-finalized (their update rows are still exact)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..sketch.base import sketch_from_bytes as _revive

    delay_ms = _interval_ms(watermark_delay)
    out_schema = "key string, estimate double, rows bigint, final boolean"
    state_schema = "sketch binary, rows bigint"

    def fn(key, pdf_iter, state: GroupState):
        from ..spark.aggregate import _update_sketch_from_pandas

        wstart, wend_ms = key
        if state.hasTimedOut:
            sk_bytes, rows = state.get
            sk = _revive(bytes(sk_bytes))
            state.remove()  # eviction: bounded state on unbounded streams
            yield pd.DataFrame(
                {
                    "key": [wstart],
                    "estimate": [float(estimator(sk))],
                    "rows": [rows],
                    "final": [True],
                }
            )
            return
        # rows for a window whose end + delay is already behind the
        # watermark arrived TOO LATE: the window was (or will never be)
        # finalized, and Spark does NOT pre-filter late rows for custom
        # stateful operators — discarding here mirrors the built-in
        # windowed-aggregation semantics (and the timeout we would arm
        # is in the past, which Spark rejects)
        if int(wend_ms) + delay_ms <= state.getCurrentWatermarkMs():
            return
        if state.exists:
            sk_bytes, rows = state.get
            sk = _revive(bytes(sk_bytes))
        else:
            sk, rows = factory(), 0
        for pdf in pdf_iter:
            vals = pdf[val_col]
            rows += len(vals)
            _update_sketch_from_pandas(sk, vals)
        state.update((bytearray(sk.to_bytes()), rows))
        state.setTimeoutTimestamp(int(wend_ms) + delay_ms)
        yield pd.DataFrame(
            {
                "key": [wstart],
                "estimate": [float(estimator(sk))],
                "rows": [rows],
                "final": [False],
            }
        )

    windowed = stream_df.withWatermark(ts_col, watermark_delay).select(
        F.window(F.col(ts_col), window_duration).alias("w"),
        F.col(val_col),
        # the watermarked event-time column must survive into the state
        # operator's child plan (the analyzer rejects EventTimeTimeout
        # otherwise: string/long casts of the window drop the tag)
        F.col(ts_col).alias("_wm_ts"),
    )
    grouped = windowed.select(
        F.col("w")["start"].cast("string").alias("wstart"),
        (F.col("w")["end"].cast("double") * 1000).cast("long").alias("wend_ms"),
        F.col(val_col),
        "_wm_ts",
    ).groupBy("wstart", "wend_ms")
    return grouped.applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
