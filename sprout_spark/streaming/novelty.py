"""Streaming novelty filter — the reference's bloom-gated KV lookup
(`/root/reference/bloom.go:220-236`: probe the filter before touching the
store; a miss means "definitely never seen", skipping the expensive read)
lifted to Structured Streaming as EXACT first-occurrence dedup.

Per micro-batch:

1. distinct keys within the batch (micro-batch-local dedup);
2. probe the running Bloom — rows where it says NO are **definitely
   novel** (zero false negatives), no store lookup at all; at a typical
   novelty-heavy stream this is almost every row;
3. only the bloom-maybe subset (true repeats + an ε-fraction of false
   positives) anti-joins against the persisted seen-keys table — the
   exact check that makes the output exact, gated to a tiny slice of the
   stream exactly like the reference gates its KV `Get`;
4. novel keys append to the seen-keys table (one parquet dir per epoch —
   a replayed micro-batch overwrites its own dir, so replays are
   idempotent) and fold into the Bloom, which persists atomically with
   the epoch watermark (the commit protocol of
   :mod:`sprout_spark.sources.commit`).

Exactness: false negatives are impossible (novel rows can never be
wrongly dropped) and false positives are caught by the exact anti-join,
so the accumulated seen-keys table is EXACTLY the stream's distinct key
set — order-independent, hence SQL-oracle-able (`streaming_novel_docs`).

Scale notes (100 TB): the anti-join input is bloom-maybe rows only —
``ε·batch + true-repeats``, not the batch — and the seen-keys store is
HASH-BUCKETED by ``pmod(xxhash64(key), n_buckets)``: every epoch dir and
the compacted generation are written ``partitionBy("bucket")``, and each
micro-batch first computes which buckets its suspects fall in (a
``<= n_buckets``-row collect) and prunes the store read to those bucket
directories (Catalyst partition pruning — directory-level, not
scan+filter). A batch whose suspects hit ``b`` buckets therefore reads
``b/n_buckets`` of the key history instead of shuffling all of it; the
anti-join itself keys on ``(bucket, key)`` so matching store slices
co-locate with their suspects. The Bloom should be sized for the
expected total distinct cardinality (or swapped for the SBF/sharded
variants this library already provides when one filter outgrows a
single payload — the ``factory`` accepts either).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sketch.base import MergeableSketch
from ..sources.commit import LAYOUT, EpochStore, fold_epoch, pin_layout
from ..spark.probe import might_contain
from .accumulate import StreamingSketchAccumulator


class StreamingNoveltyFilter(StreamingSketchAccumulator):
    """foreachBatch hook: exact streaming first-occurrence dedup with a
    Bloom negative-cache in front of the seen-keys store."""

    def __init__(
        self,
        key_col: str,
        factory: Callable[[], MergeableSketch],
        state_dir: str,
        fanin: int = 64,
        n_buckets: int = 64,
    ):
        super().__init__(key_col, factory, state_dir, fanin)
        self.seen_dir = os.path.join(state_dir, "seen")
        self.n_buckets = self._pin_n_buckets(int(n_buckets))
        # explicit schema: a bucketed epoch with zero novel keys writes no
        # partition dirs at all, and a schema-less read of that empty dir
        # would fail inference instead of returning an empty frame
        self._store = EpochStore(self.seen_dir, f"{self.col} string, bucket int")

    def _pin_n_buckets(self, n_buckets: int) -> int:
        """The bucket count is part of the on-disk layout: a restart with
        a different value would prune against the wrong directories and
        silently re-admit seen keys. Pin it in the store on first use and
        fail loud on any later mismatch."""
        if n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        layout = os.path.join(self.seen_dir, LAYOUT)
        if os.path.isdir(self.seen_dir) and not os.path.exists(layout):
            # a seen store from before bucketing (flat epoch dirs, no
            # buckets.json): reading it through the bucketed schema
            # would give bucket=NULL rows that never match the (bucket,
            # key) anti-join — every seen key would silently re-admit
            # as novel. Refuse instead of corrupting.
            legacy = [
                d
                for d in os.listdir(self.seen_dir)
                if d.startswith(("epoch=", "compact-"))
            ]
            if legacy:
                raise ValueError(
                    f"seen store at {self.seen_dir!r} uses the legacy "
                    "un-bucketed layout; rebuild it (or migrate by "
                    "rewriting each dir partitioned by "
                    "pmod(xxhash64(key), n_buckets)) before restarting"
                )
        pinned = int(pin_layout(self.seen_dir, {"n_buckets": n_buckets})["n_buckets"])
        if pinned != n_buckets:
            raise ValueError(
                f"seen store at {self.seen_dir!r} was built with "
                f"n_buckets={pinned}; got {n_buckets}. Re-bucketing "
                "requires rewriting the store (compact + migrate)."
            )
        return pinned

    def _bucket_expr(self):
        return F.pmod(F.xxhash64(F.col(self.col)), F.lit(self.n_buckets)).cast(
            "int"
        )

    # The COMMIT POINT for an epoch's novel keys is _save(epoch) (the
    # atomic bloom+watermark replace), NOT the parquet write that precedes
    # it: reads take only epoch dirs <= last_epoch, so a crash between the
    # epoch-N parquet write and _save(N) cannot make N's replay anti-join
    # away that batch's bloom-false-positive novel keys (EpochStore).

    def novel_keys(self, spark) -> DataFrame:
        """The accumulated novel keys — exactly the stream's distinct
        ``key_col`` set, one row per key (committed epochs only)."""
        seen = self._store.read(spark, self.last_epoch)
        if seen is None:
            return spark.createDataFrame([], f"{self.col} string")
        return seen.select(self.col)

    def compact(self, spark, n_files: int = 8) -> int:
        """Offline maintenance (run with the stream STOPPED): fold the
        committed per-epoch seen-keys dirs into one — long streams
        otherwise accumulate one small parquet dir per micro-batch (the
        classic streaming small-files problem). Returns the key count.

        Crash-safe via the manifest: (1) the consolidated dir is fully
        written under a generation name readers ignore, (2) the manifest
        is atomically os.replace'd to point at it, (3) only then are the
        superseded epoch dirs deleted. A crash after (1) leaves readers
        on the old epoch dirs; after (2) readers use the consolidated
        dir and treat the old dirs as folded-in, so a partial (3) is
        harmless. On an object store, swap the manifest via its
        conditional-put equivalent."""
        return self._store.compact(spark, self.last_epoch, n_files)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id <= self.last_epoch:
            return  # replayed micro-batch after restart: already committed
        spark = batch_df.sparkSession
        keys = (
            batch_df.select(F.col(self.col).cast("string").alias(self.col))
            .where(F.col(self.col).isNotNull())
            .distinct()
            .withColumn("bucket", self._bucket_expr())
        )
        if self.last_epoch >= 0:  # state exists: gate with the bloom
            flag = self.col + "_maybe"
            maybe = might_contain(spark, self.sketch, F.col(self.col))
            fresh, suspects, seen = self._store.gated_read(
                spark, keys.withColumn(flag, maybe), flag, "bucket", self.last_epoch
            )
            if seen is not None:
                # join on (bucket, key): the pruned store slices
                # co-locate with their suspects on the same keys
                suspects = suspects.join(seen, ["bucket", self.col], "left_anti")
            novel = fresh.unionByName(suspects)
        else:
            novel = keys
        # epoch-scoped dir: a replayed epoch overwrites itself, never
        # double-appends. The dir is UNCOMMITTED until _save(epoch_id)
        # below, so a crash here cannot lose bloom-false-positive keys.
        committed, epoch_path = self._store.write_epoch(novel, epoch_id)
        self.sketch = fold_epoch(
            self.sketch, self.factory, committed, self.col, epoch_path, self.fanin
        )
        self.last_epoch = epoch_id
        self._save(epoch_id)


def stream_novelty_filter(
    stream_df: DataFrame,
    key_col: str,
    factory: Callable[[], MergeableSketch],
    state_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    fanin: int = 64,
    n_buckets: int = 64,
):
    """Start a streaming query that accumulates the EXACT distinct-key
    set of the stream, bloom-gating the per-batch exact check against a
    hash-bucketed seen store (``n_buckets`` partition dirs; size it so
    one bucket of the expected total key set fits an executor's scan
    budget — the value is pinned to the store on first use).

    Returns (StreamingQuery, StreamingNoveltyFilter); read
    ``flt.novel_keys(spark)`` after the run.
    """
    flt = StreamingNoveltyFilter(key_col, factory, state_dir, fanin, n_buckets)
    writer = (
        stream_df.writeStream.foreachBatch(flt)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start(), flt
