"""Training-shard sink — materialize `shuffle_shards`' deterministic
permutation as on-disk shard files a training loader streams, under the
package commit protocol (:mod:`sprout_spark.sources.commit`): the
parquet lands first, a fsync'd ``manifest.json`` swapped in via
``os.replace`` is the single commit point, and a reader REFUSES a
directory without a committed manifest (a torn write must never be
mistaken for a corpus).

Layout:
    <path>/data/shard=<k>/part-*.parquet   one file per shard dir —
        the write repartitions on the shard id first, so each task owns
        whole shards and each shard dir gets exactly one file (the unit
        a loader streams sequentially); rows inside are sorted by
        ``pos`` (parquet preserves row order), so reading a shard file
        top to bottom replays the permutation slice.
    <path>/manifest.json                   n_shards, hash_mode, salt,
        per-shard row counts read back from the parquet FOOTERS (the
        committed files themselves, not the writer's intent), total.

The manifest's counts come from footers so a lost task file shows up as
a count mismatch at commit time, not at training time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.corpus import shuffle_shards
from .commit import parquet_rows, read_json, write_json

_MANIFEST_VERSION = 1


def write_shards(
    df: DataFrame,
    key_col: str,
    path: str,
    n_shards: int,
    salt: str = "",
    hash_mode: str = "xxhash64",
) -> dict:
    """Shuffle-shard ``df`` by ``key_col`` and land one parquet file per
    shard under ``path`` (refuses an already-committed path — shards
    are immutable once published; write a new generation instead).
    Returns the committed manifest."""
    manifest_path = os.path.join(path, "manifest.json")
    if os.path.exists(manifest_path):
        raise FileExistsError(
            f"{manifest_path} exists — shard sets are immutable once "
            "committed; write a new path/generation"
        )
    data_dir = os.path.join(path, "data")
    sharded = shuffle_shards(df, key_col, n_shards, salt, hash_mode)
    (
        sharded.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "pos")
        .write.partitionBy("shard")
        .parquet(data_dir)
    )

    # counts from the COMMITTED footers, not the writer's intent
    shards = []
    for name in sorted(os.listdir(data_dir)):
        if not name.startswith("shard="):
            continue
        k = int(name.split("=", 1)[1])
        files = [
            f
            for f in sorted(os.listdir(os.path.join(data_dir, name)))
            if f.endswith(".parquet")
        ]
        if len(files) != 1:
            raise RuntimeError(
                f"shard dir {name} holds {len(files)} files (expected 1) — "
                "refusing to commit a fragmented shard set"
            )
        rows = parquet_rows(os.path.join(data_dir, name))
        shards.append({"shard": k, "file": f"{name}/{files[0]}", "rows": rows})
    manifest = {
        "version": _MANIFEST_VERSION,
        "n_shards": n_shards,
        "hash_mode": hash_mode,
        "salt": salt,
        "key_col": key_col,
        "total_rows": sum(s["rows"] for s in shards),
        "shards": shards,
    }
    write_json(manifest_path, manifest, indent=1)  # the single commit point
    return manifest


def read_manifest(path: str) -> dict:
    manifest_path = os.path.join(path, "manifest.json")
    m = read_json(manifest_path)
    if m is None:
        raise FileNotFoundError(
            f"no committed manifest at {manifest_path} — refusing to read "
            "an uncommitted (possibly torn) shard set"
        )
    if m.get("version") != _MANIFEST_VERSION:
        raise ValueError(
            f"unknown shard-manifest version {m.get('version')!r}"
        )
    return m


def read_shards(spark: SparkSession, path: str) -> DataFrame:
    """The committed shard set as a DataFrame (shard partition column
    restored; refuses uncommitted directories)."""
    read_manifest(path)
    return spark.read.parquet(os.path.join(path, "data"))
