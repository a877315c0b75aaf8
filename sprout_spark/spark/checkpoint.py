"""Resumable sketch builds: per-partition checkpoints with lineage+metrics.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". The reference's durability story is an mmap'd filter
file flushed on Close (``bloom.go:326-346,410-425``); the distributed
analog is a parquet checkpoint directory of *partial* sketch rows:

    part_id      bigint   -- Spark partition id of the partial
    sketch       binary   -- serialized MergeableSketch
    rows         bigint   -- rows folded into this partial (lineage)
    build_ms     double   -- partial build wall time (metrics)
    input_desc   string   -- source + column fingerprint (lineage)
    attempt      bigint   -- task attempt number (dedup key on retries)

On restart, completed partition ids are read from the checkpoint and
broadcast; their tasks short-circuit without hashing (the scan of an
already-done partition is skipped at the Arrow-batch level — the iterator
is never consumed). Only missing partitions recompute, then the final
merge runs over the union. Speculative/retried tasks may append duplicate
part_ids; the resume path deduplicates deterministically (lowest attempt,
then first) before merging, so the final sketch is exactly the
uninterrupted build's.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sketch.base import MergeableSketch
from .aggregate import (
    _update_sketch_from_arrow,
    collect_merged,
    emit_partials,
    tree_merge,
)

# the on-disk column list (see the module docstring); the first three
# are the in-flight SKETCH_ROW_SCHEMA columns, the rest lineage/metrics
CKPT_SCHEMA = (
    "part_id bigint, sketch binary, rows bigint, build_ms double, "
    "input_desc string, attempt bigint"
)


def _read_ckpt(spark: SparkSession, ckpt_dir: str) -> DataFrame | None:
    """Read the checkpoint through Spark (works on hdfs://, s3a://, ...
    where driver-local os.path probing would silently see nothing)."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(ckpt_dir)
        df.schema  # force resolution
        return df
    except AnalysisException:
        return None


def _completed_parts(
    spark: SparkSession, ckpt_dir: str, input_desc: str
) -> set[int]:
    allp = _read_ckpt(spark, ckpt_dir)
    if allp is None:
        return set()
    descs = {
        r["input_desc"] for r in allp.select("input_desc").distinct().collect()
    }
    if descs and descs != {input_desc}:
        # a geometry-identical sketch from a different source/column would
        # merge silently — refuse instead of producing a wrong result
        raise ValueError(
            f"checkpoint dir {ckpt_dir!r} holds partials for "
            f"{sorted(descs)!r}, not {input_desc!r}; use a fresh directory "
            "or delete the stale checkpoint"
        )
    rows = allp.select("part_id").distinct().collect()
    return {int(r["part_id"]) for r in rows}


def _input_fingerprint(df: DataFrame) -> str:
    """Partitioning + source-files fingerprint. Resume skips by PARTITION
    ID, which is only sound if partition ids still mean the same rows —
    a repartitioned df or a source with new files would silently skip
    partitions whose content changed (lost rows in a Bloom = false
    negatives). The fingerprint rides in input_desc so such resumes are
    refused instead."""
    import hashlib

    n = df.rdd.getNumPartitions()
    try:
        files = sorted(df.inputFiles())
    except Exception:
        files = []
    fh = (
        hashlib.md5("\n".join(files).encode()).hexdigest()[:12]
        if files
        else "nofiles"
    )
    return f"parts={n}/files={fh}"


def checkpointed_partials(
    df: DataFrame,
    col: str,
    factory: Callable[[], MergeableSketch],
    ckpt_dir: str,
    spark: SparkSession,
    input_desc: str = "",
) -> DataFrame:
    """Run the partial step, skipping partitions already checkpointed, and
    append the new partials to ``ckpt_dir``. Returns the deduplicated
    full partial set (one row per partition)."""
    desc = input_desc or f"col={col}/{_input_fingerprint(df)}"
    done = _completed_parts(spark, ckpt_dir, desc)
    done_bc = spark.sparkContext.broadcast(done)

    def annotate(pid, ctx):
        if pid in done_bc.value:
            return None  # short-circuit: batches iterator never consumed
        t0 = time.perf_counter()
        return lambda: {
            "build_ms": (time.perf_counter() - t0) * 1000.0,
            "input_desc": desc,
            "attempt": ctx.attemptNumber() if ctx is not None else 0,
        }

    new_partials = emit_partials(
        df.select(col),
        factory,
        lambda sk, batch: _update_sketch_from_arrow(sk, batch.column(0)),
        CKPT_SCHEMA,
        annotate,
    )
    new_partials.write.mode("append").parquet(ckpt_dir)

    allp = spark.read.parquet(ckpt_dir)
    w = Window.partitionBy("part_id").orderBy("attempt", "build_ms")
    return (
        allp.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def build_sketch_resumable(
    df: DataFrame,
    col: str,
    factory: Callable[[], MergeableSketch],
    ckpt_dir: str,
    spark: SparkSession,
    fanin: int = 64,
    input_desc: str = "",
) -> MergeableSketch:
    """Checkpointed build: partials land in ``ckpt_dir`` (restart skips
    completed partitions), then tree-merge the checkpoint."""
    partials = checkpointed_partials(df, col, factory, ckpt_dir, spark, input_desc)
    n = df.rdd.getNumPartitions()
    merged = tree_merge(
        partials.select("part_id", "sketch", "rows"),
        n,
        fanin=fanin,
        stop_at=fanin,
    )
    return collect_merged(merged, factory)


def lineage(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """Per-partition lineage + metrics from a checkpoint directory."""
    return spark.read.parquet(ckpt_dir).select(
        "part_id", "rows", "build_ms", "input_desc", "attempt"
    )
