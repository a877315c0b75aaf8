"""Bloom-gated key-value store — the reference's ``Store`` surface at
Spark scale.

The reference pairs its Bloom filter with a KV store behind a ``Store``
interface (``/root/reference/storage.go:3-10``: open/Close/Get/Put;
BoltDB ``boltdb.go:11-106`` and BadgerDB ``badgerdb.go:11-99`` impls) and
uses the filter as a NEGATIVE-LOOKUP CACHE in front of ``Get``
(``bloom.go:220-236``): a bloom miss means "definitely never Put", so the
expensive store read is skipped entirely. This module is that surface
re-expressed for a data platform — batch DataFrame Put/Get instead of
single-key calls, a hash-bucketed parquet table instead of a B-tree/LSM
file, and the same exactness contract:

* **Get never lies**: bloom misses return not-found WITHOUT touching the
  store (zero false negatives make that sound); bloom false positives
  only cost a (bucket-pruned) read — the exact join filters them out.
* **Put is an upsert**: later puts win per key. Each put writes one
  epoch directory partitioned by ``bucket = pmod(xxhash64(key),
  n_buckets)``; the committed-epoch watermark and the bloom persist
  atomically AFTER the parquet lands, so a crash between the two leaves
  an orphan dir that readers ignore (the commit protocol of
  :mod:`sprout_spark.sources.commit`).
* **Scale shape**: a Get over a batch of probe keys reads only the
  bucket directories its bloom-maybe keys hash into (directory-level
  partition pruning), joins on ``(bucket, key)``, and resolves the
  latest epoch per key with a per-key max — the full key history is
  never shuffled.

At 10^12 keys a broadcastable gate stops existing (a 0.1%-FPR Bloom over
10^12 keys is ~1.8 TB), so the store also offers ``gate="sharded"``: one
strict ScalableBloomFilter per hash-shard, persisted as a parquet table
and probed through the cogrouped shard join — nothing broadcast, filter
traffic equals filter size, same exactness contract, same store layout.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sketch.base import sketch_from_bytes
from ..sketch.bloom import BloomFilter
from ..spark.probe import might_contain
from .commit import (
    EpochStore,
    fold_epoch,
    parquet_rows,
    pin_layout,
    read_state,
    write_lock,
    write_state,
)


class BloomGatedKVStore:
    """Open (or create) a bloom-gated KV store at ``path``.

    ``gate`` picks the negative-cache design and is pinned to the store
    on first use:

    * ``"broadcast"`` (default) — one driver-held membership sketch
      (``factory``; default a Bloom sized for ``expected_keys``),
      broadcast to probes. Right up to ~10^9 keys (MBs of filter).
    * ``"sharded"`` — one strict ScalableBloomFilter per hash-shard,
      persisted as a parquet table and probed via the cogrouped shard
      join (``sharded_might_contain``) — nothing is ever broadcast, so
      the gate scales to 10^12 keys (TBs of filter) with filter traffic
      equal to filter size. Each put FOLDS one fixed stage per shard
      inside a single cogrouped Arrow kernel, sized for that shard's
      batch slice at the shard's own schedule ε, so the per-shard
      compound FPR stays ≤ ``err_rate`` forever (``strict=True``), with
      no driver-side sketch and no stage overload. Requires
      ``gate_shards`` on first open.

    ``n_buckets`` pins the on-disk layout on first use — reopening with
    a different value (or a different gate kind) fails loud, exactly
    like the novelty store.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_buckets: int = 64,
        expected_keys: int = 1_000_000,
        err_rate: float = 0.001,
        factory=None,
        gate: str = "broadcast",
        gate_shards: int | None = None,
    ):
        if n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        if gate not in ("broadcast", "sharded"):
            raise ValueError(f"gate must be 'broadcast' or 'sharded', got {gate!r}")
        if gate == "sharded":
            if factory is not None:
                raise ValueError(
                    "gate='sharded' builds its own per-shard strict "
                    "ScalableBloomFilters; factory is not configurable"
                )
            if gate_shards is None or gate_shards < 1:
                raise ValueError("gate='sharded' requires gate_shards >= 1")
        self.spark = spark
        self.path = path
        self.err_rate = float(err_rate)
        self.factory = factory or (
            lambda: BloomFilter(expected_keys, err_rate, enforce_capacity=False)
        )
        pin = self._pin(int(n_buckets), gate, gate_shards)
        self.n_buckets = pin["n_buckets"]
        self.gate = pin["gate"]
        self.gate_shards = pin.get("gate_shards")
        self._store = EpochStore(
            path, "key string, value binary, bucket int", epoch_col="_epoch"
        )
        self.sketch, self.last_epoch, self.gate_dir = self._load_state()
        self._prev_gate_dir = None  # retained one put for lazy readers

    # -- layout pinning / state ------------------------------------------------
    def _pin(self, n_buckets: int, gate: str, gate_shards: int | None) -> dict:
        want = {"n_buckets": n_buckets, "gate": gate}
        if gate == "sharded":
            want["gate_shards"] = int(gate_shards)
        pinned = pin_layout(self.path, want)
        pinned.setdefault("gate", "broadcast")  # pre-sharded layout
        if int(pinned["n_buckets"]) != n_buckets:
            raise ValueError(
                f"store at {self.path!r} was built with n_buckets="
                f"{pinned['n_buckets']}; got {n_buckets} — re-bucketing "
                "requires a rewrite"
            )
        if pinned["gate"] != gate or (
            gate == "sharded"
            and int(pinned["gate_shards"]) != int(gate_shards)
        ):
            raise ValueError(
                f"store at {self.path!r} was built with gate="
                f"{pinned['gate']!r}"
                + (
                    f" gate_shards={pinned.get('gate_shards')}"
                    if pinned["gate"] == "sharded"
                    else ""
                )
                + f"; got gate={gate!r} gate_shards={gate_shards} — "
                "re-gating requires a rewrite"
            )
        return pinned

    def _state_path(self) -> str:
        return os.path.join(self.path, "state.bin")

    def _load_state(self):
        st = read_state(self._state_path())
        if st is None:
            return self.factory() if self.gate == "broadcast" else None, -1, None
        meta, payload = st
        if self.gate == "sharded":
            return None, int(meta["epoch"]), meta["gate_dir"]
        return sketch_from_bytes(payload), int(meta["epoch"]), None

    def _save_state(self) -> None:
        """The COMMIT POINT for a put: gate + watermark land in one
        atomic replace, strictly after the epoch's parquet (and, for a
        sharded gate, strictly after the new gate table's parquet)."""
        meta: dict = {"epoch": self.last_epoch}
        if self.gate == "sharded":
            meta["gate_dir"] = self.gate_dir
        payload = self.sketch.to_bytes() if self.gate == "broadcast" else b""
        write_state(self._state_path(), meta, payload)

    def _bucket(self, col):
        return F.pmod(F.xxhash64(col), F.lit(self.n_buckets)).cast("int")

    def _write_lock(self):
        """Single-writer serialization for put/compact, re-checking the
        watermark in ``state.bin`` (:func:`~.commit.write_lock`)."""

        def disk_epoch():
            st = read_state(self._state_path())
            return None if st is None else int(st[0]["epoch"])

        return write_lock(
            self.path,
            disk_epoch,
            self.last_epoch,
            "store",
            "reopen the store before mutating",
        )

    # -- Put --------------------------------------------------------------------
    def put(self, kv_df: DataFrame, key_col: str, val_col: str) -> int:
        """Upsert a batch of (key, value) rows; returns the epoch id.

        Keys cast to string, values to binary. Duplicate keys WITHIN one
        batch are ambiguous (which value wins?) and fail loud — dedupe
        upstream with your own rule; across batches, later puts win.
        """
        with self._write_lock():
            return self._put_locked(kv_df, key_col, val_col)

    def _put_locked(self, kv_df: DataFrame, key_col: str, val_col: str) -> int:
        epoch = self.last_epoch + 1
        kv = kv_df.select(
            F.col(key_col).cast("string").alias("key"),
            F.col(val_col).cast("binary").alias("value"),
        ).where(F.col("key").isNotNull())
        kv = kv.withColumn("bucket", self._bucket(F.col("key")))
        committed, epoch_path = self._store.write_epoch(kv, epoch)
        # duplicate-key check runs on the COMMITTED parquet, not the
        # caller's plan: a nondeterministic input (sample(), rand() keys)
        # could pass a pre-write check yet write something else — and the
        # committed read is the batch's only extra pass, not a second
        # evaluation of the caller's plan
        agg = committed.agg(
            F.count("*").alias("n"), F.countDistinct("key").alias("d")
        ).collect()[0]
        if agg["n"] != agg["d"]:
            shutil.rmtree(epoch_path, ignore_errors=True)  # abort: uncommitted
            raise ValueError(
                f"put batch has {agg['n'] - agg['d']} duplicate key(s); "
                "dedupe upstream (which value should win is your rule, "
                "not the store's)"
            )
        if self.gate == "sharded":
            self._fold_epoch_sharded(committed, epoch, epoch_path)
        else:
            self.sketch = fold_epoch(
                self.sketch, self.factory, committed, "key", epoch_path
            )
        self.last_epoch = epoch
        self._save_state()
        if self.gate == "sharded":
            # sweep superseded gate generations, RETAINING the immediately
            # previous one: a lazy get() plan taken before this put still
            # reads its generation; plans older than one put must be
            # materialized before mutating (documented in get()). A crash
            # before the sweep just re-sweeps on the next put.
            keep = {self.gate_dir, self._prev_gate_dir}
            for d in os.listdir(self.path):
                if d.startswith("gate-") and d not in keep:
                    shutil.rmtree(
                        os.path.join(self.path, d), ignore_errors=True
                    )
        return epoch

    def _gate_df(self) -> DataFrame | None:
        """The committed sharded gate table (shard, sketch, rows,
        n_shards), or None before the first put."""
        if self.gate_dir is None:
            return None
        from ..spark.sharded import SHARD_ROW_SCHEMA

        return self.spark.read.schema(SHARD_ROW_SCHEMA).parquet(
            os.path.join(self.path, self.gate_dir)
        )

    def _fold_epoch_sharded(
        self, committed: DataFrame, epoch: int, epoch_path: str
    ) -> None:
        """Fold the epoch's keys into the per-shard SBF gate table in ONE
        cogrouped pass: each task gets one shard's current SBF row plus
        that shard's slice of the batch, builds a fixed Bloom sized for
        the slice at the shard's own ``next_stage_err()``, and folds it
        as the SBF's next schedule stage — the distributed form of
        :func:`~.commit.fold_epoch`, with no driver-side sketch and no
        broadcast. Shards untouched by the batch pass through unchanged
        (cogroup yields the union of group keys). The new gate generation
        is fully written BEFORE ``_save_state`` commits it. An all-empty
        epoch writes NO generation (a zero-row gate table would brick
        the probe's modulus lookup; the broadcast path's n_new==0 skip
        is the same rule)."""
        import pyarrow as pa

        from ..sketch.scalable_bloom import ScalableBloomFilter
        from ..spark.sharded import SHARD_ROW_SCHEMA, shard_id

        if parquet_rows(epoch_path) == 0:
            return  # nothing to fold; gate generation stays as-is
        err, n_shards = self.err_rate, self.gate_shards
        keys = committed.select(
            F.col("key").alias("k"), shard_id(F.col("key"), n_shards).alias("shard")
        )
        gate = self._gate_df()
        if gate is None:
            gate = self.spark.createDataFrame([], SHARD_ROW_SCHEMA)

        def fold(left: pa.Table, right: pa.Table) -> pa.Table:
            if right.num_rows:
                sbf = sketch_from_bytes(right.column("sketch")[0].as_py())
                prev = right.column("rows")[0].as_py()
                shard = right.column("shard")[0].as_py()
            else:
                sbf = ScalableBloomFilter(
                    err_rate=err, initial_capacity=256, strict=True
                )
                prev = 0
                shard = left.column("shard")[0].as_py()
            arr = left.column("k")
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            n = len(arr)
            if n:
                stage = BloomFilter(max(n, 11), sbf.next_stage_err())
                stage.update_arrow(arr)
                sbf.fold_stage(stage)
            return pa.table(
                {
                    "shard": pa.array([shard], pa.int64()),
                    "sketch": pa.array([sbf.to_bytes()], pa.binary()),
                    "rows": pa.array([prev + n], pa.int64()),
                    "n_shards": pa.array([n_shards], pa.int32()),
                }
            )

        folded = keys.groupBy("shard").cogroup(gate.groupBy("shard")).applyInArrow(
            fold, SHARD_ROW_SCHEMA
        )
        gen = f"gate-{epoch}"
        folded.write.mode("overwrite").parquet(os.path.join(self.path, gen))
        self._prev_gate_dir = self.gate_dir
        self.gate_dir = gen

    # -- Get --------------------------------------------------------------------
    @staticmethod
    def _resolve_latest(store: DataFrame) -> DataFrame:
        """Latest-epoch-wins per key: (key, value, bucket, _epoch)."""
        from pyspark.sql.window import Window

        return (
            store.withColumn(
                "_rk",
                F.row_number().over(
                    Window.partitionBy("bucket", "key").orderBy(F.desc("_epoch"))
                ),
            )
            .where(F.col("_rk") == 1)
            .drop("_rk")
        )

    def compact(self, n_files: int = 8) -> int:
        """Offline maintenance: fold the committed epoch dirs into one
        latest-wins base generation. Without it every Get unions one
        frame per epoch — a store living through thousands of puts pays
        epoch-count × file-open per read (the streaming small-files
        problem; same cure as the novelty store's ``compact``). Returns
        the base generation's row count (= live key count).

        Crash-safe via the manifest swap: (1) the generation is fully
        written under a name readers ignore, (2) manifest.json is
        atomically replaced to point at it, (3) superseded epoch dirs
        and stale generations are deleted. A crash after (1) leaves
        readers on the epoch dirs; after (2) the base serves; a partial
        (3) is harmless (swept next time). Resolved rows KEEP their
        winning ``_epoch`` so later epochs still win over the base."""
        with self._write_lock():
            return self._store.compact(
                self.spark, self.last_epoch, n_files, self._resolve_latest
            )

    def get(self, keys_df: DataFrame, key_col: str, out_col: str = "value") -> DataFrame:
        """Batch Get: ``keys_df`` plus a binary ``out_col`` (NULL = never
        Put). Bloom-miss keys never touch the store (the reference's
        lookup elision); maybe-keys read only their buckets' directories
        and resolve latest-epoch-wins per key.

        The result is LAZY like any DataFrame; on a sharded-gate store,
        materialize it before more than one further ``put`` (each put
        retains only the immediately previous gate generation for
        in-flight readers)."""
        if out_col in keys_df.columns:
            raise ValueError(
                f"out_col {out_col!r} already exists in keys_df — it "
                "would be silently overwritten; pass a different name"
            )

        # collision-free temp names: an input column literally named
        # "_key"/"_bucket" — or an out_col equal to one of them — would
        # otherwise be clobbered and dropped
        def _tmp(base: str) -> str:
            name = base
            while name in keys_df.columns or name == out_col:
                name += "_"
            return name

        c_key, c_bkt, c_maybe = _tmp("_key"), _tmp("_bucket"), _tmp("_maybe")
        keys = keys_df.withColumn(c_key, F.col(key_col).cast("string"))
        null_val = F.lit(None).cast("binary")
        if self.gate == "sharded":
            from ..spark.sharded import sharded_might_contain

            gate = self._gate_df()
            if gate is None:  # nothing was ever put
                return keys.withColumn(out_col, null_val).drop(c_key)
            # NULL keys probe as "" and are then flagged misses: one
            # probe over every row, no union of two branches of keys
            c_probe = _tmp("_probe")
            probed = sharded_might_contain(
                keys.withColumn(c_probe, F.coalesce(F.col(c_key), F.lit(""))),
                c_probe,
                gate,
                out_col=c_maybe,
            ).drop(c_probe)
            flagged = probed.withColumn(
                c_maybe, F.col(c_key).isNotNull() & F.col(c_maybe)
            )
        else:
            maybe = might_contain(self.spark, self.sketch, F.col(c_key))
            flagged = keys.withColumn(c_maybe, F.col(c_key).isNotNull() & maybe)
        misses, suspects, store = self._store.gated_read(
            self.spark,
            flagged.withColumn(c_bkt, self._bucket(F.col(c_key))),
            c_maybe,
            c_bkt,
            self.last_epoch,
        )
        misses = misses.drop(c_bkt).withColumn(out_col, null_val)
        if store is None:
            return misses.unionByName(
                suspects.drop(c_bkt).withColumn(out_col, null_val)
            ).drop(c_key)
        latest = self._resolve_latest(store).select(
            F.col("bucket").alias(c_bkt),
            F.col("key").alias(c_key),
            F.col("value").alias(out_col),
        )
        found = suspects.join(latest, [c_bkt, c_key], "left").drop(c_bkt)
        return misses.unionByName(found).drop(c_key)
