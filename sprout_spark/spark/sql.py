"""SQL surface: register sketch probes as Spark SQL functions.

The DataFrame API (``spark/probe.py``) covers PySpark users; this module
covers the ``spark.sql(...)`` users — after
``register_sketch_sql(spark, "seen", bloom)`` any SQL statement (or JDBC
/ notebook session sharing the SparkSession) can write

    SELECT * FROM events WHERE seen_might_contain(user_id)
    SELECT event_type, seen_cms_estimate(tool) FROM events
    SELECT seen_quantile_rank(value) FROM events

Registration reuses the probe UDF factories from ``spark/probe.py`` —
one shared kernel and one memoized broadcast per sketch across both
surfaces, so registering adds a name, not a slower path or a second
payload copy. Functions registered on a session last for the session;
re-registering the same name replaces the sketch (the standard way to
roll a nightly-rebuilt filter under a stable SQL name).

A session juggling SEVERAL live sketches uses :class:`SketchCatalog`
instead of one registration per sketch: catalog entries are addressed by
a name argument in the SQL itself —

    catalog.put("seen_users", bloom)
    catalog.put("tool_counts", cms)
    SELECT * FROM events WHERE sketch_might_contain('seen_users', user_id)
    SELECT sketch_cms_estimate('tool_counts', tool) FROM events

— so rolling in a rebuilt filter is one ``put``, not a re-registration
per probe kind, and the function namespace stays three names total.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, LongType

from ..sketch.base import MergeableSketch
from ..sources.commit import read_json, write_json
from .probe import (
    _chunked,
    _revive,
    contains_udf,
    estimate_udf,
    rank_udf,
)


def register_sketch_sql(
    spark: SparkSession, prefix: str, sketch: MergeableSketch
) -> list[str]:
    """Register SQL probe functions for ``sketch`` under ``prefix``.

    Registers whichever probes the sketch supports:
    ``<prefix>_might_contain`` (membership — bloom/SBF),
    ``<prefix>_cms_estimate`` (frequency — CMS), and
    ``<prefix>_quantile_rank`` (rank fraction — t-digest ``cdf`` / KLL
    ``rank``). Returns the list of names registered."""
    names: list[str] = []
    if hasattr(sketch, "contains_arrow"):
        name = f"{prefix}_might_contain"
        spark.udf.register(name, contains_udf(spark, sketch))
        names.append(name)
    if hasattr(sketch, "estimate_arrow"):
        name = f"{prefix}_cms_estimate"
        spark.udf.register(name, estimate_udf(spark, sketch))
        names.append(name)
    if hasattr(sketch, "cdf") or hasattr(sketch, "rank"):
        name = f"{prefix}_quantile_rank"
        spark.udf.register(name, rank_udf(spark, sketch))
        names.append(name)
    if not names:
        raise ValueError(
            f"sketch {type(sketch).__name__} exposes no Arrow probe kernel"
        )
    return names


def _dispatch_by_name(bcs: dict, name_arr, kernel, out_np, out_pa):
    """Slice a probe batch by its sketch-name column (almost always a
    single literal → one unique + one full-array kernel call) and run
    ``kernel(sketch, indices)`` per catalog entry. Unknown names fail
    loud — a typo'd catalog name must never read as 'not seen'."""
    import pyarrow.compute as pc

    name_arr = _chunked(name_arr)
    uniq = [u for u in pc.unique(name_arr).to_pylist()]
    out = np.zeros(len(name_arr), dtype=out_np)
    for nm in uniq:
        if nm is None or nm not in bcs:
            known = sorted(bcs)
            raise ValueError(
                f"unknown sketch name {nm!r} in catalog probe; known: {known}"
            )
        sk = _revive(bcs[nm].value)
        idx = np.flatnonzero(
            pc.equal(name_arr, nm).to_numpy(zero_copy_only=False)
        )
        out[idx] = kernel(sk, idx)
    return pa.array(out, out_pa)


class SketchCatalog:
    """Several live sketches behind THREE stable SQL functions.

    ``put(name, sketch)`` broadcasts the payload (memoized on a payload
    digest — re-putting a byte-identical sketch reuses the existing
    broadcast; any payload change ships a fresh one) and rebinds the
    catalog functions over a snapshot of the current entries; SQL then
    addresses sketches by name: ``<prefix>_might_contain('seen', col)``,
    ``<prefix>_cms_estimate('counts', col)``,
    ``<prefix>_quantile_rank('latency', col)``. ``drop`` removes an
    entry (subsequent probes of that name raise). The name argument is
    dispatched vectorized per Arrow batch — with the usual literal name
    it costs one ``unique()`` per batch, and the probe kernels are the
    same Arrow-native closures every other surface uses.

    Beyond broadcast size, ``put_sharded(name, filters)`` registers a
    sharded filter TABLE under the same namespace; such entries are
    probed through the :meth:`might_contain` DataFrame transform (a
    cogrouped shard join — no payload broadcast), keeping the stable-
    name nightly-roll workflow at any filter size."""

    def __init__(self, spark: SparkSession, prefix: str = "sketch"):
        self.spark = spark
        self.prefix = prefix
        self._sketches: dict[str, MergeableSketch] = {}
        # one broadcast per entry, owned by the catalog for its lifetime:
        # serialization happens ONCE per put (not per capability per
        # rebind), and catalog broadcasts never ride the shared probe LRU
        # (which could unpersist a payload the registered UDF closures
        # still reference once a session juggles >16 sketches)
        self._bcs: dict = {}
        self._digests: dict[str, str] = {}  # payload sha256 per entry
        # beyond-broadcast entries: name -> (filter DataFrame, n_shards);
        # probed via the cogroup transform (might_contain), never via the
        # scalar SQL functions — there is no payload to broadcast
        self._sharded: dict = {}
        self._rebind()

    def put(self, name: str, sketch: MergeableSketch) -> "SketchCatalog":
        import hashlib

        payload = sketch.to_bytes()
        digest = hashlib.sha256(payload).hexdigest()
        if self._digests.get(name) == digest:
            # memoized: re-putting a byte-identical sketch (the no-change
            # nightly roll) reuses the existing broadcast — no new
            # payload ships, no rebind churn
            self._sketches[name] = sketch
            return self
        old = self._bcs.get(name)
        self._sketches[name] = sketch
        self._sharded.pop(name, None)  # a name is one kind at a time
        self._bcs[name] = self.spark.sparkContext.broadcast(payload)
        self._digests[name] = digest
        self._rebind()
        if old is not None:
            # non-destructive: executors drop their copies; an in-flight
            # query that still holds the old closure refetches from the
            # driver (unpersist, not destroy)
            old.unpersist()
        return self

    def put_sharded(
        self,
        name: str,
        filters: DataFrame,
        n_shards: int | None = None,
        source_path: str | None = None,
    ) -> "SketchCatalog":
        """Register a SHARDED filter table (``spark/sharded.py`` layout,
        ``[shard, sketch, rows, n_shards]``) under a catalog name — the
        beyond-broadcast path: nothing is broadcast or even read here
        (beyond one row to pin the modulus), and probes go through the
        cogrouped shard join via :meth:`might_contain`, which stays
        BroadcastExchange-free. Re-putting under the same name is the
        nightly roll: the next probe uses the new table. The scalar SQL
        functions cannot address sharded entries (a scalar UDF cannot
        run a join); probing one by name there fails loud.

        ``source_path`` declares where the table already lives at rest
        (the nightly build's own parquet output): :meth:`save` then
        persists this entry BY REFERENCE — a manifest pointer, not a
        copy — which is the only sane shape for a filter table that is
        itself terabytes. Without it, :meth:`save` materializes the
        DataFrame into the catalog directory."""
        from .sharded import _resolve_n_shards

        n_shards = _resolve_n_shards(filters, n_shards)
        dropped = name in self._sketches
        self._sketches.pop(name, None)
        self._digests.pop(name, None)
        old = self._bcs.pop(name, None)
        self._sharded[name] = (filters, n_shards, source_path)
        if dropped:
            self._rebind()
        if old is not None:
            old.unpersist()
        return self

    def might_contain(
        self,
        name: str,
        df: DataFrame,
        key_col: str,
        out_col: str = "might_contain",
        probe_salt: int = 4,
    ) -> DataFrame:
        """Uniform DataFrame-transform probe: ``df`` plus a membership
        column, dispatched by catalog name — broadcast entries probe via
        the Arrow UDF column, sharded entries via the cogrouped shard
        join (no BroadcastExchange either way for the sharded kind).
        Callers address the filter by its stable name and stay agnostic
        to whether tonight's build fit a broadcast."""
        if name in self._sharded:
            from .sharded import sharded_might_contain

            filters, n_shards, _ = self._sharded[name]
            return sharded_might_contain(
                df, key_col, filters, n_shards, out_col, probe_salt
            )
        if name in self._sketches:
            udf = contains_udf(self.spark, self._sketches[name])
            return df.withColumn(out_col, udf(F.col(key_col)))
        raise KeyError(
            f"unknown catalog entry {name!r}; known: {self.names()}"
        )

    def drop(self, name: str) -> "SketchCatalog":
        self._sketches.pop(name, None)
        self._digests.pop(name, None)
        self._sharded.pop(name, None)
        old = self._bcs.pop(name, None)
        self._rebind()
        if old is not None:
            old.unpersist()
        return self

    def get(self, name: str):
        if name in self._sharded:
            return self._sharded[name][0]
        return self._sketches[name]

    def names(self) -> list[str]:
        return sorted(set(self._sketches) | set(self._sharded))

    # -- persistence --------------------------------------------------
    # The nightly-roll workflow outlives any one driver: tonight's batch
    # job builds the filters and saves the catalog; tomorrow's serving
    # session (or a restarted driver) loads it and probes the same names.
    # The package commit protocol (sources/commit.py): new state is
    # written aside under a generation nobody reads, the manifest is
    # atomically os.replace'd as the single commit point, and only then
    # are superseded generations swept — a crash at any step leaves the
    # previous catalog fully loadable.

    _MANIFEST_VERSION = 1

    def save(self, path: str) -> dict:
        """Persist every entry under ``path``; returns the manifest.

        Broadcast entries land in one parquet table per generation
        (``entries-g<N>/`` — rows of (name, type, payload, digest);
        catalog sketches are broadcastable by definition, so this table
        is megabytes). Sharded entries registered with ``source_path``
        persist as manifest POINTERS (no copy — the table may be
        terabytes and already lives at rest); ones without are
        materialized into ``sharded/<name>-g<N>/``. Local-filesystem
        manifest swap via ``os.replace``; on an object store use its
        conditional-put for the same commit point."""
        import os

        os.makedirs(path, exist_ok=True)
        prev = self._read_manifest(path)
        gen = (prev.get("generation", -1) + 1) if prev else 0
        entries: dict = {}
        if self._sketches:
            edir = os.path.join(path, f"entries-g{gen}")
            rows = [
                (
                    n,
                    s.TYPE,
                    bytearray(s.to_bytes()),
                    self._digests[n],
                )
                for n, s in sorted(self._sketches.items())
            ]
            self.spark.createDataFrame(
                rows, "name string, type string, payload binary, digest string"
            ).coalesce(1).write.mode("overwrite").parquet(edir)
            for n, s in self._sketches.items():
                entries[n] = {
                    "kind": "broadcast",
                    "type": s.TYPE,
                    "digest": self._digests[n],
                }
        for n, (filters, n_shards, src) in sorted(self._sharded.items()):
            if src is None:
                src = os.path.join(path, f"sharded/{n}-g{gen}")
                filters.write.mode("overwrite").parquet(src)
                copied = True
            else:
                copied = False
            entries[n] = {
                "kind": "sharded",
                "path": src,
                "n_shards": n_shards,
                "copied": copied,
            }
        manifest = {
            "version": self._MANIFEST_VERSION,
            "generation": gen,
            "prefix": self.prefix,
            "entries": entries,
        }
        # the commit point
        write_json(os.path.join(path, "manifest.json"), manifest, indent=1)
        # sweep superseded generations (and any aside dirs a crashed
        # earlier save leaked) — everything g-suffixed below gen
        import re
        import shutil

        pat = re.compile(r"-g(\d+)$")
        roots = [path, os.path.join(path, "sharded")]
        for root in roots:
            if not os.path.isdir(root):
                continue
            for d in os.listdir(root):
                m = pat.search(d)
                if m and int(m.group(1)) < gen:
                    shutil.rmtree(os.path.join(root, d), ignore_errors=True)
        return manifest

    @staticmethod
    def _read_manifest(path: str) -> dict:
        import os

        return read_json(os.path.join(path, "manifest.json"), {})

    @classmethod
    def load(
        cls, spark: SparkSession, path: str, prefix: str | None = None
    ) -> "SketchCatalog":
        """Revive a saved catalog: every name probes again — broadcast
        entries re-broadcast from the entries table, sharded entries
        re-read (lazily) from their recorded parquet paths. ``prefix``
        defaults to the one saved, so the SQL surface comes back under
        the same three function names."""
        import os

        from ..sketch.base import sketch_from_bytes

        man = cls._read_manifest(path)
        if not man:
            raise FileNotFoundError(f"no catalog manifest at {path}")
        if man.get("version") != cls._MANIFEST_VERSION:
            raise ValueError(
                f"catalog manifest version {man.get('version')!r} not "
                f"supported (this build reads {cls._MANIFEST_VERSION}); "
                "re-save with a matching library version"
            )
        cat = cls(spark, prefix or man["prefix"])
        gen = man["generation"]
        broadcast_names = {
            n for n, e in man["entries"].items() if e["kind"] == "broadcast"
        }
        if broadcast_names:
            edir = os.path.join(path, f"entries-g{gen}")
            for r in spark.read.parquet(edir).collect():
                if r["name"] not in broadcast_names:
                    continue
                cat.put(r["name"], sketch_from_bytes(bytes(r["payload"])))
                if cat._digests[r["name"]] != r["digest"]:
                    raise ValueError(
                        f"catalog entry {r['name']!r} payload digest "
                        "mismatch — entries table corrupt or tampered"
                    )
        for n, e in man["entries"].items():
            if e["kind"] != "sharded":
                continue
            cat.put_sharded(
                n,
                spark.read.parquet(e["path"]),
                n_shards=e["n_shards"],
                # a copied table belongs to THIS catalog dir; re-saving
                # must materialize a fresh generation, not point at one
                # the next sweep deletes
                source_path=None if e.get("copied") else e["path"],
            )
        return cat

    def _rebind(self) -> None:
        # snapshot dicts: executors see exactly the entries live at the
        # last put/drop (closures can't observe later driver-side edits)
        contains_bcs = {
            n: self._bcs[n]
            for n, s in self._sketches.items()
            if hasattr(s, "contains_arrow")
        }
        estimate_bcs = {
            n: self._bcs[n]
            for n, s in self._sketches.items()
            if hasattr(s, "estimate_arrow")
        }
        rank_bcs = {
            n: self._bcs[n]
            for n, s in self._sketches.items()
            if hasattr(s, "cdf") or hasattr(s, "rank")
        }

        @F.arrow_udf(BooleanType())
        def catalog_contains(names: pa.Array, vals: pa.Array) -> pa.Array:
            v = _chunked(vals)
            return _dispatch_by_name(
                contains_bcs,
                names,
                lambda sk, idx: sk.contains_arrow(v.take(pa.array(idx))),
                np.bool_,
                pa.bool_(),
            )

        @F.arrow_udf(LongType())
        def catalog_estimate(names: pa.Array, vals: pa.Array) -> pa.Array:
            v = _chunked(vals)
            return _dispatch_by_name(
                estimate_bcs,
                names,
                lambda sk, idx: sk.estimate_arrow(v.take(pa.array(idx))).astype(
                    "int64"
                ),
                np.int64,
                pa.int64(),
            )

        @F.arrow_udf(DoubleType())
        def catalog_rank(names: pa.Array, vals: pa.Array) -> pa.Array:
            v = _chunked(vals).to_numpy(zero_copy_only=False).astype(np.float64)
            def kern(sk, idx):
                x = v[idx]
                out = sk.cdf(x) if hasattr(sk, "cdf") else sk.rank(x)
                return np.atleast_1d(out)
            return _dispatch_by_name(
                rank_bcs, names, kern, np.float64, pa.float64()
            )

        self.spark.udf.register(f"{self.prefix}_might_contain", catalog_contains)
        self.spark.udf.register(f"{self.prefix}_cms_estimate", catalog_estimate)
        self.spark.udf.register(f"{self.prefix}_quantile_rank", catalog_rank)
