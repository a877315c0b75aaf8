"""The crash-safe commit protocol every persisted store shares.

The reference persists one mmap'd filter per path under an advisory
fslock (``bloom.go:428-443``). The stores here (the Bloom-gated KV
store, the streaming accumulator and novelty filter, rollup tables, the
sketch catalog, the training-shard sink and the ANN index sidecars)
lift that to parquet with one protocol:

1. data lands as parquet first, under a name readers ignore until it
   is committed (``epoch=<N>``, ``compact-<...>``, ``entries-g<N>``);
2. one small file (a manifest or ``state.bin``) is replaced atomically
   by :func:`atomic_write`; that replace is the commit point;
3. only then are superseded or orphaned directories swept;
4. mutations are single-writer (:func:`write_lock`).

A crash at any step leaves the previous commit readable. On an object
store, swap the small file with its conditional put instead.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LAYOUT = "buckets.json"
MANIFEST = "manifest.json"


def atomic_write(path: str, data: bytes | str) -> None:
    """Replace ``path`` with ``data``, or leave it as it was: write a tmp
    file, flush and fsync it, then ``os.replace`` it into place (the
    rename must never outlive the payload)."""
    tmp = path + ".tmp"
    with open(tmp, "wb" if isinstance(data, bytes) else "w") as f:
        f.write(data)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def write_json(path: str, obj, indent: int | None = None) -> None:
    atomic_write(path, json.dumps(obj, indent=indent))


def read_json(path: str, default=None):
    if not os.path.exists(path):
        return default
    with open(path) as f:
        return json.load(f)


def write_state(path: str, meta: dict, payload: bytes = b"") -> None:
    """``state.bin``: one JSON header line, then the sketch payload. One
    file holds both the epoch watermark and the payload, so a crash can
    never pair a new sketch with an old epoch."""
    atomic_write(path, json.dumps(meta).encode() + b"\n" + payload)


def read_state(path: str) -> tuple[dict, bytes] | None:
    """``(header, payload)`` of a ``state.bin``, or None if absent."""
    if not os.path.exists(path):
        return None
    with open(path, "rb") as f:
        header = f.readline()
        return json.loads(header.decode()), f.read()


def parquet_rows(path: str) -> int:
    """Rows in every parquet file under ``path``, from the footers (no
    Spark job, and the count of what was committed, not of the plan)."""
    import glob

    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(p).num_rows
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


@contextmanager
def write_lock(
    root: str, disk_epoch: Callable[[], int | None], loaded: int, label, reopen
):
    """Single-writer serialization for a store's mutations: the
    reference's per-path fslock at store granularity. Non-blocking: a
    second concurrent writer fails loud instead of racing the epoch
    counter and the commit point. Under the lock the committed epoch on
    disk (``disk_epoch()``, None before the first commit) is re-checked
    against the ``loaded`` one: a stale handle must not allocate an
    epoch id another writer already committed."""
    import fcntl

    lf = open(os.path.join(root, ".lock"), "w")
    try:
        fcntl.flock(lf, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        lf.close()
        raise RuntimeError(
            f"another writer holds the lock on {root!r}; "
            "concurrent mutations would race the commit point"
        )
    try:
        on_disk = disk_epoch()
        if on_disk is not None and on_disk != loaded:
            raise RuntimeError(
                f"{label} at {root!r} advanced to epoch {on_disk} (this "
                f"instance loaded {loaded}) — another writer committed; "
                f"{reopen}"
            )
        yield
    finally:
        fcntl.flock(lf, fcntl.LOCK_UN)
        lf.close()


def pin_layout(root: str, layout: dict) -> dict:
    """The layout pinned in ``root/buckets.json``, pinning ``layout``
    there on first use. The bucket count is part of the on-disk layout:
    a reopen with another value would prune against the wrong
    directories, so the caller compares and fails loud on a mismatch."""
    path = os.path.join(root, LAYOUT)
    pinned = read_json(path)
    if pinned is not None:
        return pinned
    os.makedirs(root, exist_ok=True)
    write_json(path, layout)
    return layout


def fold_epoch(
    sketch, factory, committed: DataFrame, col: str, epoch_path: str, fanin: int = 64
):
    """Fold one committed epoch's keys into a running gate sketch and
    return it.

    Fixed sketches (Bloom, HLL, ...) keep the partial-build + merge path.
    A ScalableBloomFilter gate instead FOLDS one fixed Bloom stage per
    epoch (``fold_stage``): stage-merging a fresh SBF partial per epoch
    would OR every epoch's stage 0 into the running stage 0, and after E
    epochs the gate's real FPR would drift to ~E× the budget (every false
    positive is an unnecessary store read; exactness is never at risk).
    The folded stage is sized for the epoch's ACTUAL key count (the
    just-written parquet footers, no extra scan) at the schedule's next
    ε, so ``prob()`` tracks the growth schedule and stays ≤ the
    configured ε for a ``strict=True`` SBF, with no overload warning. An
    empty epoch folds no stage and does not advance the schedule."""
    from ..sketch.bloom import BloomFilter
    from ..sketch.scalable_bloom import ScalableBloomFilter
    from ..spark.aggregate import build_sketch

    if not isinstance(sketch, ScalableBloomFilter):
        return sketch.merge(build_sketch(committed, col, factory, fanin=fanin))
    n_new = parquet_rows(epoch_path)
    if n_new:
        eps = sketch.next_stage_err()
        cap = max(n_new, 11)  # bloom geometry floor
        sketch.fold_stage(
            build_sketch(committed, col, lambda: BloomFilter(cap, eps), fanin=fanin)
        )
    return sketch


class EpochStore:
    """A hash-bucketed parquet store of one ``epoch=<N>`` dir per write
    under ``root``, each partitioned by ``bucket``, plus at most one
    compacted ``compact-<N>`` generation named by ``manifest.json``.

    The COMMIT POINT for an epoch is its owner's ``state.bin`` replace
    (its watermark), NOT the parquet write before it: reads take only
    epoch dirs at or below the watermark ``upto``, so a crash between an
    epoch's parquet and its commit leaves a dir no reader sees and the
    epoch's replay overwrites. Compaction state rides in the manifest
    (an atomic replace), so a crash mid-compaction is invisible too.
    ``epoch_col`` names a column that carries each row's epoch (kept in
    the compacted generation), or None for stores that need none."""

    def __init__(self, root: str, schema: str, epoch_col: str | None = None):
        self.root = root
        self.schema = schema
        self.epoch_col = epoch_col

    def manifest(self) -> dict:
        return read_json(
            os.path.join(self.root, MANIFEST), {"compacted_upto": -1, "dir": None}
        )

    def write_epoch(self, df: DataFrame, epoch: int) -> tuple[DataFrame, str]:
        """Write ``df`` as epoch ``epoch`` (uncommitted until the owner's
        state commits); returns its committed read and its dir."""
        path = os.path.join(self.root, f"epoch={epoch}")
        # truncate a crashed write's remnant ourselves: a session with
        # partitionOverwriteMode=dynamic would otherwise only replace the
        # buckets this write touches, leaving the debris
        shutil.rmtree(path, ignore_errors=True)
        df.write.mode("overwrite").partitionBy("bucket").parquet(path)
        return df.sparkSession.read.schema(self.schema).parquet(path), path

    def read(self, spark, upto: int, buckets: list | None = None) -> DataFrame | None:
        """The committed rows: the compacted generation plus the epoch
        dirs in ``(compacted_upto, upto]``, or None if there are none.
        With ``buckets`` each dir is pruned to its ``bucket=K`` subdirs
        before the union: a filter on the partition column, so only
        matching-bucket files are ever listed in the scan."""
        if upto < 0 or not os.path.isdir(self.root):
            return None
        man = self.manifest()

        def scan(d: str, schema: str) -> DataFrame:
            df = spark.read.schema(schema).parquet(os.path.join(self.root, d))
            if buckets is not None:
                df = df.where(F.col("bucket").isin([int(b) for b in buckets]))
            return df

        frames = []
        if man["dir"] is not None:
            extra = f", {self.epoch_col} int" if self.epoch_col else ""
            frames.append(scan(man["dir"], self.schema + extra))
        for d in sorted(os.listdir(self.root)):
            if not d.startswith("epoch="):
                continue
            epoch = int(d.split("=", 1)[1])
            # committed AND not already folded into the compacted dir
            if man["compacted_upto"] < epoch <= upto:
                df = scan(d, self.schema)
                if self.epoch_col:
                    df = df.withColumn(self.epoch_col, F.lit(epoch))
                frames.append(df)
        if not frames:
            return None
        return functools.reduce(lambda a, b: a.unionByName(b), frames)

    def gated_read(
        self, spark, flagged: DataFrame, flag: str, bucket: str, upto: int
    ) -> tuple[DataFrame, DataFrame, DataFrame | None]:
        """Split probe keys by their gate ``flag`` and read the store
        slice the maybe-keys can hit: ``(misses, suspects, store)``.

        A gate miss means "definitely never written" (zero false
        negatives), so misses never touch the store. The distinct
        ``bucket`` values of the suspects (a <= n_buckets-row collect)
        prune the store read to those bucket dirs; ``store`` is None when
        no suspect can hit a committed row. ``flagged`` is pinned once
        (``localCheckpoint``; the ContextCleaner reclaims the blocks), so
        the bucket collect and the caller's join over the split read the
        probe and the keys' lineage once."""
        flagged = flagged.localCheckpoint(eager=True)
        misses = flagged.where(~F.col(flag)).drop(flag)
        suspects = flagged.where(F.col(flag)).drop(flag)
        hit = [r[0] for r in suspects.select(bucket).distinct().collect()]
        store = self.read(spark, upto, buckets=hit) if hit else None
        return misses, suspects, store

    def compact(self, spark, upto: int, n_files: int, resolve=None) -> int:
        """Fold the committed epochs (through the ``resolve`` frame map,
        if given) into one ``compact-<upto>`` generation; returns its row
        count.

        (1) The generation is fully written under a name readers ignore,
        (2) the manifest is atomically replaced to point at it, (3) the
        folded epoch dirs and stale generations are swept. A crash after
        (1) leaves readers on the epoch dirs; after (2) on the new
        generation, so a partial (3) is harmless (swept next time)."""
        man = self.manifest()
        if man["compacted_upto"] >= upto:
            # nothing new to fold (rewriting the committed generation in
            # place would destroy the only copy before any commit point);
            # orphan epoch dirs of a crashed write are not committed rows
            base = man["dir"]
            return parquet_rows(os.path.join(self.root, base)) if base else 0
        store = self.read(spark, upto)
        if store is None:
            return 0
        store = resolve(store) if resolve else store
        gen = f"compact-{upto}"
        gen_path = os.path.join(self.root, gen)
        # hash-repartition on bucket: each bucket lands wholly in one of
        # the n_files tasks, so the generation keeps ONE file per bucket
        # dir (no small-file regrowth) and stays prunable
        store.repartition(n_files, "bucket").write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(gen_path)
        n = parquet_rows(gen_path)
        write_json(
            os.path.join(self.root, MANIFEST), {"compacted_upto": upto, "dir": gen}
        )  # the compaction commit point
        for d in os.listdir(self.root):
            folded = d.startswith("epoch=") and int(d.split("=", 1)[1]) <= upto
            # also sweep superseded and orphaned generations (a crash
            # between a generation write and its manifest swap would
            # otherwise leak a full store copy forever)
            if folded or (d.startswith("compact-") and d != gen):
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
        return n
