"""Persisted sketch ROLLUP tables — per-time-grain sketch partials at
rest, arbitrary-range queries answered by merging partials (the
timeseries-OLAP "continuous aggregate" / materialized-rollup shape:
build once per ingest batch, answer "distinct users in any [t0, t1)"
forever without rescanning raw rows).

Why this is the right 10^12-row design: the rollup TABLE is tiny (one
row per grain window per ingest epoch — KB-sized sketch payloads), so
every query-time cost is bounded by the number of windows, never by the
number of raw rows. Appends are BLIND — a new ingest epoch writes its
own per-window partials next to the old ones and never reads, locks, or
rewrites existing data; mergeability (``merge(a,b) == merge(b,a)``,
SURVEY.md §2.3) makes duplicate window rows across epochs exactly
equivalent to one big build, so merge-on-read is correct by algebra,
not by coordination. ``compact()`` is an optional read-cost
optimization, never a correctness step.

Skew note (the one non-obvious scale hazard): grain windows are
low-cardinality, deliberately hot keys — at 10^12 rows/year every
day-window holds ~2.7e9 rows, which would funnel into ONE task under a
plain groupBy. The build therefore defaults to the MAP-SIDE COMBINE
(``build_grouped_sketches(combine="map")``): every input partition
sketches the windows it sees and only kilobyte sketch rows shuffle for
the per-window merge — raw rows never move, and a hot window costs
nothing extra because its rows stay wherever the scan put them.

Commit discipline (the package protocol, sources/commit.py): epoch
parquet lands first under a dir readers ignore, then one fsync'd
``manifest.json`` swapped via ``os.replace`` is the single commit point;
a torn append leaves an orphan dir that readers never see and the next
mutation sweeps. Mutations are single-writer (advisory flock +
staleness re-check), so concurrent appends fail loud instead of racing
the epoch counter.

Reference parity: the reference persists one mmap'd filter per path
(``/root/reference/bloom.go:428-443`` holds its fslock for the same
single-writer reason); a rollup table is that idea lifted to many
time-keyed sketches behind one commit point.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sketch.base import MergeableSketch
from ..sources.commit import parquet_rows, read_json, write_json, write_lock
from .aggregate import (
    build_grouped_sketches,
    collect_merged,
    estimate_rows,
    merge_groups,
    tree_merge,
)

_GRAINS = ("minute", "hour", "day", "week", "month", "quarter", "year")
# which coarser grains a source grain may downsample into: valid iff
# every source window nests inside exactly ONE destination window.
# ISO weeks cross month/quarter/year boundaries, so "week" folds into
# nothing and nothing except sub-day grains folds into "week".
_NESTS = {
    "minute": {"hour", "day", "week", "month", "quarter", "year"},
    "hour": {"day", "week", "month", "quarter", "year"},
    "day": {"week", "month", "quarter", "year"},
    "week": set(),
    "month": {"quarter", "year"},
    "quarter": {"year"},
    "year": set(),
}
_VERSION = 1
# column names the rollup table itself owns; dims may not shadow them
_RESERVED = ("wstart", "sketch", "rows", "__w")
# part_id fan for the range-merge tree: 2 rounds of fanin-64 tasks
_MERGE_PARTS = 4096


def _norm_bound(t) -> str:
    """Normalize a range bound to the stored wstart string form.

    Accepts ``datetime``/``date`` (rendered without timezone) or a
    string; a bare ``YYYY-MM-DD`` gets midnight appended so string
    comparison against the fixed-width ``YYYY-MM-DD HH:MM:SS`` window
    keys is exact, not lexicographic-by-luck."""
    s = t if isinstance(t, str) else str(t)
    if len(s) == 10:
        s += " 00:00:00"
    return s


class SketchRollup:
    """A persisted per-(grain window, dims) sketch table with blind
    appends.

    Open an existing rollup with ``SketchRollup(path)`` (config comes
    from the manifest) or create one with ``SketchRollup(path,
    factory=..., grain=..., dims=[...])``. ``dims`` adds dimension
    columns to the rollup key (the full continuous-aggregate shape:
    one partial per (day, tool) instead of per day), giving grouped
    range reads (:meth:`by_dims`, :meth:`estimate_by`) and pushed
    dim-equality filters (``where=``) on every read — dim cardinality
    multiplies the partial count, so keep dims low-cardinality
    (tool/source/lang), never id-like. The sketch config (class +
    parameters), grain, and dims are PINNED at creation: an append
    through a mismatched factory or dim set would silently produce
    unmergeable or wrong-keyed partials, so all three refuse loudly
    instead.
    """

    def __init__(
        self,
        path: str,
        factory: Callable[[], MergeableSketch] | None = None,
        grain: str | None = None,
        dims: list[str] | None = None,
    ):
        self.path = path
        man = self._manifest()
        if man is None:
            if factory is None:
                raise ValueError(
                    f"no rollup at {path!r}; pass factory= to create one"
                )
            grain = grain or "hour"
            if grain not in _GRAINS:
                raise ValueError(f"grain must be one of {_GRAINS}, got {grain!r}")
            dims = list(dims or [])
            if len(set(dims)) != len(dims):
                raise ValueError(f"duplicate dimension names in {dims}")
            for d in dims:
                if d in _RESERVED:
                    raise ValueError(
                        f"dimension name {d!r} shadows a rollup-owned column "
                        f"({_RESERVED}); rename it before ingest"
                    )
            probe = factory()
            self.grain = grain
            self.dims = dims
            self.pin = {
                "cls": type(probe).__name__,
                "meta": probe._meta(),
            }
            self.factory = factory
            self.epochs: list[int] = []
            self.base: str | None = None
            self.last_epoch = -1
            self.tags: dict[str, int] = {}
            os.makedirs(path, exist_ok=True)
            self._save_manifest()
            return
        if int(man.get("version", -1)) != _VERSION:
            raise ValueError(
                f"rollup manifest version {man.get('version')!r} at {path!r} "
                f"not supported (this library reads version {_VERSION})"
            )
        self.grain = man["grain"]
        self.dims = list(man.get("dims", []))
        self.pin = man["sketch"]
        self.epochs = [int(e) for e in man["epochs"]]
        self.base = man.get("base")
        self.last_epoch = int(man["epoch"])
        self.tags = dict(man.get("tags", {}))
        if factory is not None:
            probe = factory()
            got = {"cls": type(probe).__name__, "meta": probe._meta()}
            if got != self.pin:
                raise ValueError(
                    f"sketch config mismatch at {path!r}: rollup is pinned "
                    f"to {self.pin}, factory builds {got} — partials would "
                    "not merge; open without factory= or match the pin"
                )
        self.factory = factory
        if grain is not None and grain != self.grain:
            raise ValueError(
                f"rollup at {path!r} is pinned to grain {self.grain!r}; "
                f"got grain={grain!r}"
            )
        if dims is not None and list(dims) != self.dims:
            raise ValueError(
                f"rollup at {path!r} is pinned to dims {self.dims!r}; "
                f"got dims={list(dims)!r} — partials are keyed per dim "
                "combination, a different dim set cannot merge"
            )

    def _row_schema(self) -> str:
        dim_part = "".join(f", `{d}` string" for d in self.dims)
        return f"wstart string{dim_part}, sketch binary, rows bigint"

    # -- manifest / locking (the package commit discipline) -----------------

    def _manifest_path(self) -> str:
        return os.path.join(self.path, "manifest.json")

    def _manifest(self) -> dict | None:
        return read_json(self._manifest_path())

    def _save_manifest(self) -> None:
        write_json(
            self._manifest_path(),
            {
                "version": _VERSION,
                "grain": self.grain,
                "dims": self.dims,
                "sketch": self.pin,
                "epoch": self.last_epoch,
                "epochs": self.epochs,
                "base": self.base,
                "tags": self.tags,
            },
        )  # the commit point

    def _write_lock(self):
        def disk_epoch():
            man = self._manifest()
            return None if man is None else int(man["epoch"])

        return write_lock(
            self.path, disk_epoch, self.last_epoch, "rollup", "reopen before mutating"
        )

    def _sweep_orphans(self) -> None:
        live = {f"epoch={e}" for e in self.epochs}
        if self.base:
            live.add(self.base)
        for d in os.listdir(self.path):
            if (d.startswith("epoch=") or d.startswith("compact-")) and (
                d not in live
            ):
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)

    # -- append -------------------------------------------------------------

    def append(
        self,
        df: DataFrame,
        ts_col: str,
        val_col: str,
        weight_col: str | None = None,
        tag: str | None = None,
    ) -> int:
        """Build this batch's per-(window, dims) partials and commit
        them as one epoch. Never reads existing data — duplicate
        (window, dims) rows across epochs are resolved at read time by
        mergeability. Rows with a NULL timestamp are dropped (a window
        key cannot be NULL; the SQL mirror is ``WHERE ts IS NOT
        NULL``); NULL *dimension* values are kept as their own group
        (they round-trip through the JSON composite key). Returns the
        number of window rows written.

        ``tag`` is an idempotency key: an append whose tag is already
        committed is skipped (returns 0). The tag rides the SAME
        manifest swap that commits the epoch, so a crash can never
        commit data without its tag (which would double-count on
        replay) — this is what makes the rollup a safe Structured
        Streaming sink (:meth:`stream_sink`): foreachBatch replays the
        last micro-batch after a restart with the same epoch id, and
        the tag turns the replay into a no-op. Tags survive
        :meth:`compact` (a replayed batch after compaction must still
        skip). The namespace is the caller's: two different streams
        into one rollup need distinct tag prefixes.

        The partials are built map-side — each input partition sketches
        the windows it sees and only kilobyte sketch rows shuffle for
        the per-key merge, never raw turns. A rollup's key space
        (windows × dims) is bounded by construction while its row count
        is not, which is exactly the map-combine applicability
        condition; hot windows need no salt because their rows stay in
        place."""
        if self.factory is None:
            raise ValueError(
                "append needs the sketch factory; reopen with factory= "
                "matching the pinned config"
            )
        if tag is not None and tag in self.tags:
            return 0
        with self._write_lock():
            epoch = self.last_epoch + 1
            keyed = (
                df.where(F.col(ts_col).isNotNull())
                .withColumn(
                    "_wstart",
                    F.date_trunc(self.grain, F.col(ts_col)).cast("string"),
                )
            )
            # composite group key: JSON keeps NULL dims and arbitrary
            # dim content (separators, quotes) collision-free; the
            # window always serializes (it is non-NULL by the filter)
            key_expr = F.to_json(
                F.struct(
                    F.col("_wstart").alias("__w"),
                    *[F.col(d).cast("string").alias(d) for d in self.dims],
                ),
                {"ignoreNullFields": "false"},
            )
            keyed = keyed.withColumn("__rollup_key", key_expr)
            key_schema = "`__w` string" + "".join(
                f", `{d}` string" for d in self.dims
            )
            grouped = build_grouped_sketches(
                keyed,
                "__rollup_key",
                val_col,
                self.factory,
                weight_col=weight_col,
                combine="map",
            )
            parsed = grouped.select(
                F.from_json("key", key_schema).alias("__k"), "sketch", "rows"
            )
            grouped = parsed.select(
                F.col("__k").getField("__w").alias("wstart"),
                *[F.col("__k").getField(d).alias(d) for d in self.dims],
                "sketch",
                "rows",
            )
            edir = os.path.join(self.path, f"epoch={epoch}")
            # parquet first; the manifest swap below is the commit point
            grouped.write.mode("overwrite").parquet(edir)
            n = parquet_rows(edir)
            self.last_epoch = epoch
            self.epochs.append(epoch)
            if tag is not None:
                self.tags[tag] = epoch
            self._save_manifest()
            self._sweep_orphans()
            return n

    def stream_sink(
        self,
        ts_col: str,
        val_col: str,
        weight_col: str | None = None,
        tag_prefix: str = "stream",
    ):
        """A ``foreachBatch`` hook: each micro-batch commits as one
        tagged epoch (``<tag_prefix>-<epoch_id>``), so restarts that
        replay the last micro-batch skip instead of double-counting —
        the streaming twin of the blind batch append. Give each stream
        writing into one rollup its own ``tag_prefix``."""

        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            self.append(
                batch_df,
                ts_col,
                val_col,
                weight_col=weight_col,
                tag=f"{tag_prefix}-{int(epoch_id)}",
            )

        return sink

    # -- read ---------------------------------------------------------------

    def _committed(self, spark: SparkSession) -> DataFrame | None:
        dirs = [os.path.join(self.path, f"epoch={e}") for e in self.epochs]
        if self.base:
            dirs.append(os.path.join(self.path, self.base))
        if not dirs:
            return None
        return spark.read.schema(self._row_schema()).parquet(*dirs)

    def _filtered(
        self, spark: SparkSession, t0, t1, where: dict | None
    ) -> DataFrame | None:
        """Committed rows with the range + dim-equality filters applied
        (both land on the parquet scan as pushed predicates)."""
        raw = self._committed(spark)
        if raw is None:
            return None
        if t0 is not None:
            raw = raw.where(F.col("wstart") >= _norm_bound(t0))
        if t1 is not None:
            raw = raw.where(F.col("wstart") < _norm_bound(t1))
        for d, v in (where or {}).items():
            if d not in self.dims:
                raise ValueError(
                    f"unknown dimension {d!r}; this rollup has dims "
                    f"{self.dims!r}"
                )
            raw = raw.where(
                F.col(d).isNull() if v is None else F.col(d) == str(v)
            )
        return raw

    def windows(
        self, spark: SparkSession, t0=None, t1=None, where: dict | None = None
    ) -> DataFrame:
        """One MERGED row per (grain window, dims) in ``[t0, t1)``
        (bounds on the window START; None = unbounded): ``(wstart
        string, <dims…> string, sketch binary, rows bigint)``. The
        range filter lands on the epoch parquet scan (fixed-width
        timestamp strings make min/max row-group pruning exact), so a
        narrow query over years of windows reads only the matching row
        groups; ``where={dim: value}`` adds pushed dim-equality filters
        (value None matches the NULL-dim group)."""
        raw = self._filtered(spark, t0, t1, where)
        if raw is None:
            return spark.createDataFrame([], self._row_schema())
        return merge_groups(raw, "wstart", *self.dims)

    def by_dims(
        self, spark: SparkSession, t0=None, t1=None, where: dict | None = None
    ) -> DataFrame:
        """One MERGED row per dim combination across the whole range
        (windows collapsed): ``(<dims…> string, sketch binary, rows
        bigint)`` — "per-tool distinct users over any [t0, t1)"
        answered from partials alone."""
        if not self.dims:
            raise ValueError(
                "by_dims needs a dimensioned rollup; this one was created "
                "without dims (use windows()/query() for time-only reads)"
            )
        raw = self._filtered(spark, t0, t1, where)
        schema = (
            ", ".join(f"`{d}` string" for d in self.dims)
            + ", sketch binary, rows bigint"
        )
        if raw is None:
            return spark.createDataFrame([], schema)
        return merge_groups(raw.drop("wstart"), *self.dims)

    def estimate_by(
        self,
        spark: SparkSession,
        estimator: Callable[[MergeableSketch], float],
        t0=None,
        t1=None,
        where: dict | None = None,
    ) -> DataFrame:
        """:meth:`by_dims` with the sketch payloads decoded to numbers
        map-side (``aggregate.estimate_rows``): ``(<dims…> string,
        estimate double, rows bigint)``."""
        return estimate_rows(
            self.by_dims(spark, t0, t1, where),
            estimator,
            self.dims + ["estimate", "rows"],
        )

    def query(
        self, spark: SparkSession, t0=None, t1=None, where: dict | None = None
    ) -> MergeableSketch:
        """The range-merged sketch over ``[t0, t1)`` (optionally
        dim-filtered) as a driver-side object (ask it for the
        estimate/probe). Merging runs as a bounded tree — each task
        folds ≤64 payloads, two rounds over a 4096-way hash fan — so a
        minute-grain rollup spanning years never funnels every window
        through the driver."""
        if self.factory is None:
            raise ValueError("query needs the sketch factory; reopen with factory=")
        raw = self._filtered(spark, t0, t1, where)
        if raw is None:
            return self.factory()
        partials = raw.select(
            F.pmod(F.xxhash64("wstart"), F.lit(_MERGE_PARTS)).alias("part_id"),
            "sketch",
            "rows",
        )
        # stop_at: the last tree level would reduce <= 64 KB-sized rows
        # to 1 through a full shuffle + Python round trip; the driver
        # fold in collect_merged does the same work without the stage
        merged = tree_merge(partials, _MERGE_PARTS, stop_at=64)
        return collect_merged(merged, self.factory)

    def estimate(
        self,
        spark: SparkSession,
        estimator: Callable[[MergeableSketch], float],
        t0=None,
        t1=None,
        where: dict | None = None,
    ) -> tuple[float, int]:
        """``(estimator(range-merged sketch), exact row count)`` over
        ``[t0, t1)`` (optionally dim-filtered) — the row count is exact
        by construction (epoch counts are exact and sum)."""
        raw = self._filtered(spark, t0, t1, where)
        rows = 0
        if raw is not None:
            agg = raw.agg(F.sum("rows").alias("n")).collect()[0]["n"]
            rows = int(agg) if agg is not None else 0
        return estimator(self.query(spark, t0, t1, where)), rows

    # -- compact ------------------------------------------------------------

    def compact(self, spark: SparkSession, n_files: int = 1) -> int:
        """Fold all committed epochs into one base generation with one
        merged row per window (a read-cost optimization only — answers
        are unchanged by mergeability). Crash-safe: the generation is
        fully written under a name readers ignore, the manifest swap is
        the commit point, superseded dirs are swept after. Returns the
        number of window rows in the new base.

        ``n_files`` bounds the write fan (hash-partitioned on the
        window key). The default single file is right for hour/day
        grains — the base stays one sequential read — but a minute-
        grain dimensioned rollup spanning years is millions of rows of
        KB payloads, which must not funnel through one task: size
        ``n_files`` so a file holds ~1M rows there."""
        return self._rewrite_base(spark, n_files)

    # -- retention ------------------------------------------------------------

    def expire(self, spark: SparkSession, before, n_files: int = 1) -> int:
        """Drop every window with ``wstart < before`` — the retention
        step that pairs with :meth:`downsample` (age last quarter's
        minutes into a day-grain rollup, then expire the minutes).
        DELIBERATELY answer-changing: range queries that reach below
        ``before`` lose those windows, so run the downsample FIRST and
        point historical queries at the coarse rollup.

        Implemented as a filtered compaction: surviving rows rewrite
        into a new base generation (merged per (window, dims) on the
        way — an expire doubles as a compact), the fsync'd manifest
        swap is the commit point, superseded epoch dirs are swept
        after. Idempotency tags are KEPT — a late replay of an
        already-expired batch must still skip, not re-admit expired
        rows. Returns the number of surviving window rows."""
        return self._rewrite_base(spark, n_files, _norm_bound(before))

    def _rewrite_base(self, spark: SparkSession, n_files: int, cutoff=None) -> int:
        """Rewrite every committed window at or after ``cutoff`` (all of
        them without one) into a new base generation, merged per
        (window, dims); returns its row count."""
        if n_files < 1:
            raise ValueError(f"n_files must be >= 1, got {n_files}")
        with self._write_lock():
            merged = self.windows(spark)
            if cutoff is not None:
                merged = merged.where(F.col("wstart") >= cutoff)
            gen = f"compact-g{self.last_epoch + 1}"
            gdir = os.path.join(self.path, gen)
            merged.repartition(n_files, "wstart").write.mode(
                "overwrite"
            ).parquet(gdir)
            n = parquet_rows(gdir)
            # the rewrite consumes an epoch id so a concurrent stale
            # writer's staleness check trips on it
            self.last_epoch += 1
            self.epochs = []
            self.base = gen
            # tags kept on purpose: a replayed micro-batch arriving
            # after a rewrite must still skip, not re-append
            self._save_manifest()
            self._sweep_orphans()
            return n

    # -- downsample (continuous-aggregate hierarchy) --------------------------

    def downsample(
        self,
        spark: SparkSession,
        dest_path: str,
        grain: str,
        t0=None,
        t1=None,
        n_files: int = 1,
    ) -> "SketchRollup":
        """Materialize a NEW rollup at a coarser grain from this one's
        partials — the continuous-aggregate HIERARCHY step (minute
        partials age into hourly, hourly into daily): source window
        starts re-truncate to the coarser grain and partials fold by
        mergeability, so the result is EXACTLY the rollup a direct
        build at that grain would produce — without ever rescanning
        raw rows. Sketch pin and dims carry over; exact row counts sum.

        Valid only when every source window nests inside one
        destination window (``_NESTS``): hour→day is exact; week→month
        would straddle month boundaries and refuses. ``[t0, t1)``
        bounds (on the SOURCE window start) limit the fold — the aging
        workflow downsamples last quarter's minutes into days and
        leaves the hot tail fine-grained.

        One-shot semantics: ``dest_path`` must not already hold a
        rollup (a second downsample of the same source epochs into an
        existing destination would double-count — blind appends are
        only safe for disjoint DATA, not re-folds of the same data).
        The destination commits with the package discipline: parquet
        first under ``epoch=0``, fsync'd manifest swap as the commit
        point. Returns the opened destination handle (factory
        inherited, so reads work immediately)."""
        if grain not in _GRAINS:
            raise ValueError(f"grain must be one of {_GRAINS}, got {grain!r}")
        if grain not in _NESTS[self.grain]:
            raise ValueError(
                f"cannot downsample {self.grain!r} windows into {grain!r}: "
                f"source windows would straddle destination boundaries "
                f"(valid targets from {self.grain!r}: "
                f"{sorted(_NESTS[self.grain]) or 'none'})"
            )
        if n_files < 1:
            raise ValueError(f"n_files must be >= 1, got {n_files}")
        if os.path.exists(os.path.join(dest_path, "manifest.json")):
            raise ValueError(
                f"destination {dest_path!r} already holds a rollup; "
                "downsample is one-shot (re-folding the same source into "
                "an existing rollup would double-count) — pick a fresh path"
            )
        raw = self._filtered(spark, t0, t1, None)
        if raw is None:
            folded = spark.createDataFrame([], self._row_schema())
        else:
            coarse = raw.withColumn(
                "wstart",
                F.date_trunc(grain, F.col("wstart").cast("timestamp")).cast(
                    "string"
                ),
            )
            folded = merge_groups(coarse, "wstart", *self.dims)
        dest = object.__new__(SketchRollup)
        dest.path = dest_path
        dest.grain = grain
        dest.dims = list(self.dims)
        dest.pin = dict(self.pin)
        dest.factory = self.factory
        dest.epochs = []
        dest.base = None
        dest.last_epoch = -1
        dest.tags = {}
        os.makedirs(dest_path, exist_ok=True)
        edir = os.path.join(dest_path, "epoch=0")
        folded.repartition(n_files, "wstart").write.mode("overwrite").parquet(
            edir
        )
        dest.last_epoch = 0
        dest.epochs = [0]
        dest._save_manifest()  # the commit point
        return dest


def stream_rollup(
    stream_df: DataFrame,
    rollup: SketchRollup,
    ts_col: str,
    val_col: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    weight_col: str | None = None,
    tag_prefix: str = "stream",
):
    """Start a streaming query that continuously ingests ``stream_df``
    into ``rollup`` (one tagged epoch per micro-batch, exactly-once
    across restarts). Returns the StreamingQuery; range reads on the
    rollup stay available throughout — readers only ever see committed
    epochs."""
    writer = (
        stream_df.writeStream.foreachBatch(
            rollup.stream_sink(ts_col, val_col, weight_col, tag_prefix)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
