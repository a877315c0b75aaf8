"""Similarity search over embedding columns (``array<float>``).

* :func:`cosine_topk` — exact brute-force top-k against one query vector.
  The dot product stays JVM-side (``zip_with`` + ``aggregate``), so the
  scan parallelizes and only per-partition top-k candidates reach the
  driver (Spark's ``orderBy().limit()`` = TakeOrdered: partition-local
  top-k then a k-way driver merge — no global sort shuffle).
* :func:`srp_signatures` / :func:`ann_lsh_topk` — the scale path: signed
  random projections (SRP-LSH). Each vector gets ``n_tables`` bucket ids
  from seeded fixed hyperplanes (vectorized numpy matmul in one
  ``mapInArrow`` pass); the query probes only its buckets and re-ranks
  candidates exactly. Recall is tunable via (n_planes, n_tables); the
  tests measure it against brute force.
* :func:`embedding_near_dup_pairs` — embedding near-duplicate candidates
  via shared SRP buckets, exact-verified, for embedding-cosine near-dup
  detection in dedup pipelines.
* :func:`train_ivf_centroids` / :func:`build_ivf_index` /
  :func:`ann_ivf_topk` — the IVF scale path: a sample-trained k-means
  coarse quantizer, a zero-shuffle assignment pass producing the
  inverted file (persistable as cell-partitioned parquet), and a
  partition-pruned probe that touches only ``nprobe/n_cells`` of the
  data.
* :func:`ann_ivf_topk_batch` / :func:`ann_lsh_topk_batch` — the batch
  probe surface: top-k for a whole TABLE of queries in one job (join
  queries to their probe cells/buckets, exact JVM re-rank, map-side
  WindowGroupLimit top-k per query) instead of one Spark job per query
  vector.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SRP_SEED = 0xA11CE  # fixed seed for the hyperplane family (deterministic)


def _dot(vec_col: str, q: list[float]) -> Column:
    qlit = F.array(*[F.lit(float(x)) for x in q])
    return F.aggregate(
        F.zip_with(F.col(vec_col), qlit, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(vec_col: str) -> Column:
    return F.sqrt(
        F.aggregate(F.col(vec_col), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def with_cosine(df: DataFrame, vec_col: str, query: list[float]) -> DataFrame:
    """Add an exact ``cosine`` column vs the query vector (JVM-side)."""
    qn = float(np.linalg.norm(np.asarray(query, dtype=np.float64)))
    return df.withColumn(
        "cosine",
        (_dot(vec_col, query) / (F.greatest(_norm(vec_col), F.lit(1e-12)) * qn)).cast(
            "double"
        ),
    )


def cosine_topk(
    df: DataFrame, id_col: str, vec_col: str, query: list[float], k: int = 10
) -> DataFrame:
    """Exact brute-force cosine top-k: (id, cosine), best first."""
    return (
        with_cosine(df, vec_col, query)
        .select(F.col(id_col).alias("id"), "cosine")
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# SRP-LSH (signed random projections)
# ---------------------------------------------------------------------------


def _planes(dim: int, n_planes: int, n_tables: int) -> np.ndarray:
    rng = np.random.RandomState(_SRP_SEED)
    return rng.normal(size=(n_tables, n_planes, dim)).astype(np.float64)


def srp_bucket_ids(
    vecs: np.ndarray, dim: int, n_planes: int, n_tables: int
) -> np.ndarray:
    """(n, n_tables) int64 bucket ids from signed random projections."""
    planes = _planes(dim, n_planes, n_tables)
    shifts = np.arange(n_planes, dtype=np.uint64)
    out = np.empty((len(vecs), n_tables), dtype=np.int64)
    for t in range(n_tables):
        bits = (vecs @ planes[t].T > 0).astype(np.uint64)
        out[:, t] = (bits << shifts).sum(axis=1, dtype=np.uint64).view(np.int64)
    return out


def _vec_matrix(ids: np.ndarray, emb, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(ids, vecs) with NULL embedding rows dropped and wrong-length rows
    rejected loudly — ``flatten()`` silently skips null slots, so an
    unvalidated ``reshape(n, dim)`` dies with an inscrutable size error
    (or worse, shifts every later row's data by one vector)."""
    import pyarrow.compute as pc

    if isinstance(emb, pa.ChunkedArray):
        emb = emb.combine_chunks()
    valid = np.asarray(pc.is_valid(emb).to_numpy(zero_copy_only=False))
    lens = np.asarray(
        pc.fill_null(pc.list_value_length(emb), 0).to_numpy(zero_copy_only=False)
    )
    bad = valid & (lens != dim)
    if bad.any():
        raise ValueError(
            f"{int(bad.sum())} embedding row(s) have length != dim={dim} "
            f"(first bad id: {int(ids[bad][0])})"
        )
    flat = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    return ids[valid], flat.reshape(int(valid.sum()), dim)


def srp_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int = 12,
    n_tables: int = 8,
) -> DataFrame:
    """(id, table int, bucket bigint): one row per hash table, built in a
    single vectorized ``mapInArrow`` pass. NULL embeddings are dropped
    (no signature → never a candidate); defaults match
    :func:`build_srp_index` / :func:`ann_lsh_topk`, so default-built
    signatures answer default queries (a silent plane-count mismatch
    would bucket-join nothing)."""
    from ..spark.spread import spread_small_input

    df = spread_small_input(df)

    def fn(batches):
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            if len(ids) == 0:
                continue
            ids, vecs = _vec_matrix(ids, batch.column(1), dim)
            if len(ids) == 0:
                continue
            buckets = srp_bucket_ids(vecs, dim, n_planes, n_tables)
            yield pa.RecordBatch.from_pydict(
                {
                    "id": pa.array(np.repeat(ids, n_tables), pa.int64()),
                    "table": pa.array(
                        np.tile(np.arange(n_tables, dtype=np.int32), len(ids)),
                        pa.int32(),
                    ),
                    "bucket": pa.array(buckets.ravel(), pa.int64()),
                }
            )

    return df.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("v")
    ).mapInArrow(fn, "id bigint, table int, bucket bigint")


def build_srp_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int = 12,
    n_tables: int = 8,
    path: str | None = None,
) -> DataFrame:
    """Materialize the SRP signature table once (id, table, bucket) so
    repeated queries skip the signature pass — the persisted-index path.
    With ``path`` the index lands as parquet (bucket-joinable by any
    later job: ``spark.read.parquet(path)``); hyperplanes are a fixed
    seeded family, so an index built yesterday answers today's queries."""
    sigs = srp_signatures(df, id_col, vec_col, dim, n_planes, n_tables)
    if path is not None:
        sigs.write.mode("overwrite").parquet(path)
        _write_srp_sidecar(path, dim, n_planes, n_tables)
        return df.sparkSession.read.parquet(path)
    return sigs


def _write_srp_sidecar(
    path: str, dim: int, n_planes: int, n_tables: int
) -> None:
    import json
    import os

    tmp = os.path.join(path, "_srp_meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(
            {
                "dim": int(dim),
                "n_planes": int(n_planes),
                "n_tables": int(n_tables),
                "seed": _SRP_SEED,
            },
            f,
        )
    os.replace(tmp, os.path.join(path, "_srp_meta.json"))


def append_to_srp_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int = 12,
    n_tables: int = 8,
    path: str = "",
) -> DataFrame:
    """Incremental SRP maintenance: signature NEW rows with the same
    fixed seeded hyperplane family and append — the
    :func:`append_to_ivf_index` analog. The family is a pure function of
    (seed, dim, n_planes, n_tables), all pinned to the index dir in
    ``_srp_meta.json`` at build time; appending with DIFFERENT geometry
    would produce buckets no query ever joins (silent recall loss), so
    a mismatch is a hard error. append(A); append(B) equals a one-shot
    build over A ∪ B exactly."""
    import json
    import os

    mpath = os.path.join(path, "_srp_meta.json")
    if not os.path.exists(mpath):
        raise ValueError(
            f"index at {path!r} has no _srp_meta.json sidecar — rebuild "
            "once via build_srp_index(path=...) to pin the geometry"
        )
    with open(mpath) as f:
        meta = json.load(f)
    want = {
        "dim": int(dim),
        "n_planes": int(n_planes),
        "n_tables": int(n_tables),
        "seed": _SRP_SEED,
    }
    stored = {k: meta.get(k) for k in want}
    if stored != want:
        raise ValueError(
            f"SRP geometry mismatch: index pinned {stored}, append got "
            f"{want} — buckets would never join; rebuild instead"
        )
    sigs = srp_signatures(df, id_col, vec_col, dim, n_planes, n_tables)
    sigs.write.mode("append").parquet(path)
    return df.sparkSession.read.parquet(path)


def srp_bucket_stats(index: DataFrame) -> DataFrame:
    """(bucket_size, n_buckets) histogram per signature table — the
    ``lsh_bucket_stats`` analog over SRP (table, bucket) cells. A long
    quadratic tail means too few planes for the corpus (hot buckets
    serialize candidate generation)."""
    return (
        index.groupBy("table", "bucket")
        .agg(F.count("*").alias("bucket_size"))
        .groupBy("bucket_size")
        .agg(F.count("*").alias("n_buckets"))
        .orderBy(F.desc("bucket_size"))
    )


def ann_lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: list[float],
    k: int = 10,
    n_planes: int = 12,
    n_tables: int = 8,
    index: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: SRP buckets prune the scan, exact cosine
    re-ranks the candidates. Returns (id, cosine), best first.

    Pass ``index`` (from :func:`build_srp_index`, same n_planes/n_tables)
    to reuse a persisted signature table instead of recomputing
    signatures per query."""
    dim = len(query)
    sigs = (
        index
        if index is not None
        else srp_signatures(df, id_col, vec_col, dim, n_planes, n_tables)
    )
    qb = srp_bucket_ids(np.asarray([query], dtype=np.float64), dim, n_planes, n_tables)
    probe = [(int(t), int(qb[0, t])) for t in range(n_tables)]
    probe_df = sigs.sparkSession.createDataFrame(probe, "table int, bucket bigint")
    cand_ids = (
        sigs.join(F.broadcast(probe_df), ["table", "bucket"]).select("id").distinct()
    )
    cands = df.join(
        cand_ids, df[id_col].cast("bigint") == cand_ids["id"], "left_semi"
    )
    return cosine_topk(cands, id_col, vec_col, query, k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path alongside SRP-LSH
# ---------------------------------------------------------------------------


def train_ivf_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_cells: int = 16,
    iters: int = 10,
    seed: int = 0xCE11,
    train_rows_per_cell: int = 256,
) -> np.ndarray:
    """Train the IVF coarse quantizer: k-means over a bounded,
    deterministic sample. (n_cells, dim) float64 centroids.

    Scale contract: the sample is ``n_cells * train_rows_per_cell`` rows
    picked by smallest ``xxhash64(id)`` — a uniform, rerun-stable draw
    whose size is independent of table size, fetched via TakeOrdered
    (partition-local top-k, no global sort shuffle). Sample-trained
    coarse quantizers are the standard IVF construction; only the
    bounded sample ever reaches the driver. Lloyd iterations run in
    numpy with a fixed seed, so the same data always yields the same
    centroids (the oracle gate depends on this).
    """
    cap = n_cells * train_rows_per_cell
    sample = (
        df.where(F.col(vec_col).isNotNull())
        .select(
            # xxhash64 accepts any column type directly — casting a
            # non-numeric id to bigint would NULL every hash and make the
            # "deterministic sample" whatever Spark scans first
            F.xxhash64(F.col(id_col)).alias("_h"),
            F.col(vec_col).alias("v"),
        )
        .orderBy("_h")
        .limit(cap)
        .collect()
    )
    bad = [i for i, r in enumerate(sample) if len(r["v"]) != dim]
    if bad:
        raise ValueError(
            f"{len(bad)} training vector(s) have length != dim={dim} "
            f"(first bad length: {len(sample[bad[0]]['v'])})"
        )
    vecs = np.asarray([r["v"] for r in sample], dtype=np.float64)
    if len(vecs) < n_cells:
        raise ValueError(f"need >= {n_cells} training vectors, got {len(vecs)}")
    rng = np.random.RandomState(seed)
    cents = vecs[rng.choice(len(vecs), size=n_cells, replace=False)].copy()
    for _ in range(iters):
        # argmin ||v - c||^2 == argmax (v.c - ||c||^2/2)
        scores = vecs @ cents.T - 0.5 * (cents * cents).sum(axis=1)
        assign = scores.argmax(axis=1)
        for c in range(n_cells):
            mask = assign == c
            if mask.any():
                cents[c] = vecs[mask].mean(axis=0)
    return cents


def _ivf_assign_kernel(dim: int, cents: np.ndarray):
    csq = 0.5 * (cents * cents).sum(axis=1)

    def fn(batches):
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            if len(ids) == 0:
                continue
            emb = batch.column(1)
            if isinstance(emb, pa.ChunkedArray):
                emb = emb.combine_chunks()
            kept_ids, vecs = _vec_matrix(ids, emb, dim)
            if len(kept_ids) == 0:
                continue
            if len(kept_ids) != len(ids):  # NULL rows dropped: no cell
                emb = emb.drop_null()
            cell = (vecs @ cents.T - csq).argmax(axis=1).astype(np.int32)
            yield pa.RecordBatch.from_pydict(
                {
                    "id": pa.array(kept_ids, pa.int64()),
                    "vec": emb,
                    "cell": pa.array(cell, pa.int32()),
                }
            )

    return fn


def build_ivf_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    centroids: np.ndarray,
    path: str | None = None,
) -> DataFrame:
    """Assign every vector to its nearest centroid: (id, vec, cell) —
    the inverted file IS the data layout, so probes never join back to
    the base table. One vectorized ``mapInArrow`` pass, zero shuffle.
    With ``path`` the index persists as parquet **partitioned by cell**,
    so a query probing ``nprobe`` cells prunes to ``nprobe/n_cells`` of
    the files at the directory level (Catalyst partition pruning, not a
    scan+filter) — the 100-TB probe story."""
    # the kernel yields the input arrow array unchanged, so the declared
    # element type must match the INPUT column (array<double> parquet
    # embeddings would otherwise fail with an arrow schema mismatch)
    elem = df.schema[vec_col].dataType.elementType.simpleString()
    assigned = df.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("v")
    ).mapInArrow(
        _ivf_assign_kernel(dim, centroids),
        f"id bigint, vec array<{elem}>, cell int",
    )
    if path is not None:
        assigned.write.mode("overwrite").partitionBy("cell").parquet(path)
        _write_ivf_sidecar(path, centroids, dim)
        return df.sparkSession.read.parquet(path)
    return assigned


def _centroid_digest(centroids: np.ndarray) -> str:
    import hashlib

    c = np.ascontiguousarray(centroids, dtype=np.float64)
    return hashlib.sha256(
        repr(c.shape).encode() + c.tobytes()
    ).hexdigest()


def _write_ivf_sidecar(path: str, centroids: np.ndarray, dim: int) -> None:
    """Pin the quantizer to the index dir: ``_ivf_meta.json`` (leading
    underscore — parquet readers treat it as hidden, so the index scan
    never sees it) records shape + digest + the centroid values
    themselves, making the index self-describing: later appends verify
    against it, and a reader can probe without re-deriving centroids."""
    import json
    import os

    c = np.ascontiguousarray(centroids, dtype=np.float64)
    meta = {
        "n_cells": int(c.shape[0]),
        "dim": int(dim),
        "digest": _centroid_digest(c),
        "centroids": c.tolist(),
    }
    tmp = os.path.join(path, "_ivf_meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(path, "_ivf_meta.json"))


def read_ivf_centroids(path: str) -> np.ndarray:
    """The frozen coarse quantizer pinned to a persisted IVF index."""
    import json
    import os

    with open(os.path.join(path, "_ivf_meta.json")) as f:
        meta = json.load(f)
    return np.asarray(meta["centroids"], dtype=np.float64)


def append_to_ivf_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    centroids: np.ndarray,
    path: str,
) -> DataFrame:
    """Incremental IVF maintenance: assign NEW rows with the FROZEN
    quantizer and append them to the existing cell partitions — the
    nightly-ingest path that avoids re-clustering and rewriting the
    whole index. Assignment is a pure function of (vector, centroids),
    so append(A); append(B) produces exactly the same row set as a
    one-shot build over A ∪ B (the equality pytest checks this), and
    directory-level partition pruning keeps working unchanged.

    Refuses loudly when ``centroids`` differ from the quantizer the
    index was built with (``_ivf_meta.json`` sidecar): appending rows
    assigned by a DIFFERENT quantizer would route vectors to cells the
    probe never looks in — silent recall loss, the worst failure mode.
    An index persisted before the sidecar existed must be rebuilt via
    :func:`build_ivf_index(path=...)` once.

    Note: drifted data under a frozen quantizer shows up as cell skew —
    watch :func:`ivf_cell_stats` and re-train + rebuild when the
    max/mean ratio degrades."""
    import json
    import os

    mpath = os.path.join(path, "_ivf_meta.json")
    if not os.path.exists(mpath):
        raise ValueError(
            f"index at {path!r} has no _ivf_meta.json sidecar (built "
            "before centroid pinning, or not via build_ivf_index(path=...))"
            " — rebuild once to pin the quantizer"
        )
    with open(mpath) as f:
        meta = json.load(f)
    got = _centroid_digest(np.asarray(centroids, dtype=np.float64))
    if meta["digest"] != got or meta["dim"] != int(dim):
        raise ValueError(
            "centroids do not match the quantizer this index was built "
            f"with (stored digest {meta['digest'][:12]}…, got {got[:12]}…,"
            f" dim {meta['dim']} vs {dim}) — appending rows assigned by a"
            " different quantizer silently loses recall; rebuild instead"
        )
    elem = df.schema[vec_col].dataType.elementType.simpleString()
    assigned = df.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("v")
    ).mapInArrow(
        _ivf_assign_kernel(dim, np.asarray(centroids, dtype=np.float64)),
        f"id bigint, vec array<{elem}>, cell int",
    )
    assigned.write.mode("append").partitionBy("cell").parquet(path)
    return df.sparkSession.read.parquet(path)


def ivf_cell_stats(index: DataFrame) -> DataFrame:
    """(cell, n_rows), largest first — the ``lsh_bucket_stats`` analog
    for IVF. Skewed cells are IVF's failure mode (one hot cell serializes
    every probe that touches it and breaks the nprobe/n_cells cost
    model) and are otherwise invisible; a max/mean ratio creeping up
    under appends means the frozen quantizer no longer fits the data —
    re-train and rebuild. One map-side-combined count per cell; on a
    persisted index the scan reads only the ``cell`` partition column
    and parquet row-group metadata, not the vectors."""
    return (
        index.groupBy("cell")
        .agg(F.count("*").alias("n_rows"))
        .orderBy(F.desc("n_rows"), F.asc("cell"))
    )


def ann_ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: list[float],
    k: int = 10,
    centroids: np.ndarray | None = None,
    nprobe: int = 4,
    n_cells: int = 16,
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` cells whose centroids
    are nearest the query, exact cosine re-rank inside them. Returns
    (id, cosine), best first.

    The probe is a pure filter on the index's ``cell`` column — a
    partition-pruned read when the index was persisted via
    :func:`build_ivf_index(path=...)` — followed by TakeOrdered; no join,
    no shuffle. Recall is tunable via nprobe/n_cells (nprobe == n_cells
    degenerates to exact brute force)."""
    dim = len(query)
    if centroids is None:
        centroids = train_ivf_centroids(df, id_col, vec_col, dim, n_cells)
    if index is None:
        index = build_ivf_index(df, id_col, vec_col, dim, centroids)
    q = np.asarray(query, dtype=np.float64)
    scores = centroids @ q - 0.5 * (centroids * centroids).sum(axis=1)
    probe = [int(c) for c in np.argsort(-scores)[:nprobe]]
    cands = index.where(F.col("cell").isin(probe))
    return cosine_topk(cands, "id", "vec", query, k)


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """(qid, id, cosine) -> per-query top-k, best first, deterministic
    ties. Catalyst plans the rank filter as WindowGroupLimit (map-side
    bottom-k per qid BEFORE the exchange), so a query with a huge
    candidate set never ships more than k rows per map task."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("id"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .select("qid", "id", "cosine", F.col("_rk").alias("rank"))
    )


def ann_ivf_topk_batch(
    queries_df: DataFrame,
    q_id_col: str,
    q_vec_col: str,
    index: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF top-k for a TABLE of queries in ONE job: (qid, id, cosine,
    rank), best first per query — the contamination-check / per-example
    retrieval shape, instead of one Spark job per query vector.

    Plan shape: a vectorized ``mapInArrow`` pass assigns each query its
    ``nprobe`` nearest cells (centroids ride the closure — they are
    ``n_cells*dim`` floats, broadcast-sized by construction); the index
    read is pruned to the UNION of probed cells (a ``<= n_cells``-row
    collect) — directory-level partition pruning when the index was
    persisted via :func:`build_ivf_index(path=...)`; the (query, cell)
    pairs then join the pruned index on ``cell`` (broadcast by default —
    a query table at ``nprobe`` rows per query usually fits; set
    ``broadcast_queries=False`` to shuffle both sides on ``cell`` for
    huge query tables, at the cost of skew on popular cells); exact
    cosine re-ranks JVM-side and a WindowGroupLimit top-k keeps the
    per-query shuffle at ``k`` rows per map task.

    ``nprobe == n_cells`` degenerates to exact brute force for every
    query (the correctness gate uses this).
    """
    n_cells, dim = centroids.shape
    # nprobe<=0 would feed argpartition a negative kth and probe nothing
    nprobe = max(1, min(int(nprobe), n_cells))
    cents = np.asarray(centroids, dtype=np.float64)
    csq = 0.5 * (cents * cents).sum(axis=1)

    def assign(batches):
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            if len(ids) == 0:
                continue
            emb = batch.column(1)
            if isinstance(emb, pa.ChunkedArray):
                emb = emb.combine_chunks()
            kept_ids, vecs = _vec_matrix(ids, emb, dim)
            if len(kept_ids) == 0:
                continue
            if len(kept_ids) != len(ids):
                emb = emb.drop_null()
            scores = vecs @ cents.T - csq
            # nprobe best cells per query (order within probes irrelevant)
            top = np.argpartition(-scores, nprobe - 1, axis=1)[:, :nprobe]
            n = len(kept_ids)
            yield pa.RecordBatch.from_pydict(
                {
                    "qid": pa.array(np.repeat(kept_ids, nprobe), pa.int64()),
                    "qvec": emb.take(
                        pa.array(np.repeat(np.arange(n), nprobe), pa.int32())
                    ),
                    "cell": pa.array(top.ravel().astype(np.int32), pa.int32()),
                }
            )

    elem = queries_df.schema[q_vec_col].dataType.elementType.simpleString()
    probes = queries_df.select(
        F.col(q_id_col).cast("bigint").alias("qid"),
        F.col(q_vec_col).alias("v"),
    ).mapInArrow(assign, f"qid bigint, qvec array<{elem}>, cell int")
    # localCheckpoint (not persist): the probed-cells collect below would
    # otherwise run the whole assignment kernel a second time when the
    # join re-evaluates probes (mapInArrow is opaque to Catalyst — no
    # partial reuse). An eager RDD-level checkpoint materializes the
    # n_queries x nprobe rows ONCE, and — unlike DataFrame.persist, whose
    # CacheManager entry lives until an explicit unpersist — its blocks
    # are released by the ContextCleaner as soon as the returned result
    # is dropped, so repeated batch probes in a long-lived session don't
    # accumulate cached plans.
    probes = probes.localCheckpoint(eager=True)
    # union of probed cells: bounded by n_cells rows, lets the index scan
    # prune at the directory level before any join
    hit = [r["cell"] for r in probes.select("cell").distinct().collect()]
    if not hit:  # empty / all-NULL query table: no cells, no work
        return queries_df.sparkSession.createDataFrame(
            [], "qid bigint, id bigint, cosine double, rank int"
        )
    pruned = index.where(F.col("cell").isin(hit))
    right = F.broadcast(probes) if broadcast_queries else probes
    # exact re-rank in the Arrow fold kernel (bit-identical to a JVM
    # zip_with/aggregate cosine, ~10x faster on candidate volumes)
    scored = _pairwise_cosine_map(
        pruned.join(right, "cell"), "qid", "qvec", "id", "vec", None
    )
    return _topk_per_query(scored, k)


def ann_lsh_topk_batch(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries_df: DataFrame,
    q_id_col: str,
    q_vec_col: str,
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    n_tables: int = 8,
    index: DataFrame | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """SRP-LSH top-k for a TABLE of queries in one job: (qid, id, cosine,
    rank). The query table runs through the SAME signature kernel as the
    data (so buckets align by construction), candidate (qid, id) pairs
    come from shared (table, bucket) cells, and only candidates' vectors
    are fetched for the exact re-rank — the data table is never scanned
    per query. ``index`` reuses a persisted signature table from
    :func:`build_srp_index` (same n_planes/n_tables)."""
    sigs = (
        index
        if index is not None
        else srp_signatures(df, id_col, vec_col, dim, n_planes, n_tables)
    )
    qsigs = srp_signatures(
        queries_df, q_id_col, q_vec_col, dim, n_planes, n_tables
    ).withColumnRenamed("id", "qid")
    right = F.broadcast(qsigs) if broadcast_queries else qsigs
    cands = (
        sigs.join(right, ["table", "bucket"]).select("qid", "id").distinct()
    )
    qv = queries_df.select(
        F.col(q_id_col).cast("bigint").alias("qid"),
        F.col(q_vec_col).alias("qvec"),
    )
    dv = df.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
    )
    scored = _pairwise_cosine_map(
        cands.join(F.broadcast(qv) if broadcast_queries else qv, "qid")
        .join(dv, "id"),
        "qid", "qvec", "id", "vec", None,
    )
    return _topk_per_query(scored, k)


# Above this many vectors the all-pairs table cannot be broadcast (and
# O(n²) pair enumeration is infeasible anyway — 2^36 pairs); the guarded
# fallback keeps the crossJoin + pair-kernel plan. 2^18 rows at dim 64
# is a ~128 MB broadcast.
_EXACT_BROADCAST_MAX_ROWS = 1 << 18


def _cosine_pairs_exact_broadcast(
    spark, tbl: pa.Table, thr: float
) -> DataFrame:
    """All-pairs cosine with the vector matrix broadcast ONCE and pairs
    enumerated inside the kernel (guide §8: decide with small data, move
    heavy bytes once — here the heavy bytes are the 2·d doubles the
    crossJoin would otherwise duplicate PER PAIR through the Python
    boundary; measured 8s of a 9s stage at sf0.1). Tasks are chunk
    descriptors, each scoring a slice of the matrix against the whole;
    only pairs >= thr cross back. The dimension-by-dimension outer-
    product fold keeps the exact IEEE op order of the JVM
    zip_with/aggregate form, so results are bit-identical. Vectors with
    NULL elements never produce a pair (the JVM fold yields NULL ->
    dropped); vectors of different lengths only pair within their own
    length group (zip_with pads the shorter side with NULL -> dropped)."""
    import pyarrow.compute as pc

    out_schema = "a bigint, b bigint, cosine double"
    ids = tbl.column("vid").combine_chunks()
    vec = tbl.column("vec").combine_chunks()
    lens = np.asarray(
        pc.fill_null(pc.list_value_length(vec), -1).to_numpy(
            zero_copy_only=False
        )
    )
    flat = vec.flatten()
    ok = lens > 0
    if flat.null_count:
        # mark rows containing NULL elements invalid (vectorized: count
        # nulls per row via a segmented sum over the validity bitmap)
        valid = np.asarray(
            pc.is_valid(flat).to_numpy(zero_copy_only=False)
        ).astype(np.int64)
        starts = np.concatenate(([0], np.cumsum(np.maximum(lens, 0))))[:-1]
        nvalid = np.add.reduceat(
            np.concatenate((valid, [0])), np.minimum(starts, len(valid))
        )
        nvalid[lens <= 0] = 0
        ok &= nvalid == np.maximum(lens, 0)
        flat = pc.fill_null(flat, 0.0)
    flat_np = np.asarray(flat.to_numpy(zero_copy_only=False), dtype=np.float64)
    ids_np = np.asarray(ids.to_numpy(zero_copy_only=False), dtype=np.int64)
    offs = np.concatenate(([0], np.cumsum(np.maximum(lens, 0))))
    groups: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    chunks: list[tuple[int, int, int]] = []
    sc = spark.sparkContext
    target_chunks = max(1, sc.defaultParallelism * 2)
    for d in np.unique(lens[ok]):
        rows = np.flatnonzero(ok & (lens == d))
        take = np.repeat(offs[rows], int(d)) + np.tile(
            np.arange(int(d), dtype=np.int64), len(rows)
        )
        groups[int(d)] = (
            ids_np[rows],
            flat_np[take].reshape(len(rows), int(d)),
        )
        sz = max(16, -(-len(rows) // target_chunks))
        for s in range(0, len(rows), sz):
            chunks.append((int(d), s, min(s + sz, len(rows))))
    if not chunks:
        return spark.createDataFrame([], out_schema)
    bc = sc.broadcast(groups)

    def kernel(batches):
        gs = bc.value
        norms = {}
        for d, (_, mat) in gs.items():
            n2 = np.zeros(len(mat))
            for j in range(d):  # same fold order as the JVM norm
                x = mat[:, j]
                n2 += x * x
            norms[d] = np.sqrt(n2)
        for batch in batches:
            dd = batch.column(0).to_numpy(zero_copy_only=False)
            ss = batch.column(1).to_numpy(zero_copy_only=False)
            ee = batch.column(2).to_numpy(zero_copy_only=False)
            for d, s, e in zip(dd, ss, ee):
                gids, mat = gs[int(d)]
                nrm = norms[int(d)]
                A, na = mat[s:e], nrm[s:e]
                # block the B side so the (chunk x block) dot matrix
                # stays ~32 MB no matter how large the group is
                bs = max(1, 4_000_000 // max(1, e - s))
                for b0 in range(0, len(mat), bs):
                    Bm = mat[b0:b0 + bs]
                    dot = np.zeros((e - s, len(Bm)))
                    for j in range(int(d)):  # JVM fold order per pair
                        dot += A[:, j][:, None] * Bm[:, j][None, :]
                    nb = nrm[b0:b0 + bs]
                    denom = np.maximum(na[:, None] * nb[None, :], 1e-12)
                    cos = dot / denom
                    bids = gids[b0:b0 + bs]
                    keep = (gids[s:e][:, None] < bids[None, :]) & (cos >= thr)
                    ai, bi = np.nonzero(keep)
                    if len(ai):
                        yield pa.RecordBatch.from_pydict(
                            {
                                "a": pa.array(gids[s:e][ai], pa.int64()),
                                "b": pa.array(bids[bi], pa.int64()),
                                "cosine": pa.array(cos[ai, bi], pa.float64()),
                            }
                        )

    chunk_df = spark.createDataFrame(
        chunks, "d int, s int, e int"
    ).repartition(len(chunks))
    return chunk_df.mapInArrow(kernel, out_schema)


def cosine_pairs_exact(
    df: DataFrame, id_col: str, vec_col: str, min_cosine: float
) -> DataFrame:
    """Exact all-pairs cosine pairs (a, b, cosine) in double precision.
    O(n²) — this is the oracle / small-candidate verify path; the scale
    path is :func:`embedding_near_dup_pairs`' SRP bucketing.

    The pair set still comes from the JVM cross join (a < b), but the
    cosine itself runs in a vectorized Arrow kernel: the previous
    ``zip_with``+``aggregate`` form is an *interpreted* higher-order
    expression evaluated per pair (measured 13s for 2M pairs at sf0.1 —
    ~90% of the chain). The kernel folds dimension-by-dimension in the
    SAME IEEE order as the JVM fold (acc=0; acc += a_k*b_k ascending k;
    norms likewise; sqrt, greatest(na*nb, 1e-12), one divide), so every
    cosine is bit-identical to the old plan and the oracle contract is
    unchanged. Pairs with NULL/ragged vectors yield NULL cosine in the
    JVM form and are dropped by the threshold; the kernel drops them
    identically."""
    vecs = df.select(
        F.col(id_col).cast("bigint").alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    # one bounded collect is both the size guard and the broadcast
    # input: one job decides the path, driver memory stays bounded, and
    # an over-cap table falls back after one truncated pass
    cap = _EXACT_BROADCAST_MAX_ROWS
    tbl = vecs.limit(cap + 1).toArrow()
    if tbl.num_rows <= cap:
        return _cosine_pairs_exact_broadcast(
            vecs.sparkSession, tbl, float(min_cosine)
        )
    a = vecs.select(F.col("vid").alias("a"), F.col("vec").alias("va"))
    b = vecs.select(F.col("vid").alias("b"), F.col("vec").alias("vb"))
    pairs = a.crossJoin(b).where(F.col("a") < F.col("b"))
    return _pairwise_cosine_map(
        pairs, "a", "va", "b", "vb", float(min_cosine)
    )


def _pairwise_cosine_map(
    pairs: DataFrame,
    id1: str,
    v1: str,
    id2: str,
    v2: str,
    min_cosine: float | None,
) -> DataFrame:
    """(id1, id2, cosine) for a pair table carrying both vectors, via a
    vectorized Arrow kernel that replicates the exact IEEE op order of
    the JVM ``zip_with``/``aggregate`` cosine in double: ``acc = 0;
    acc += a_k*b_k`` for ascending k, both norms folded the same way,
    ``sqrt``, then one divide by ``greatest(na*nb, 1e-12)`` — cosines
    are bit-identical, at ~10x the throughput (the expression form is
    interpreted per pair). ``min_cosine=None`` keeps every pair (the
    re-rank shape); with a threshold only surviving pairs are emitted.
    Pairs with NULL or ragged vectors are dropped — the expression form
    gives them NULL cosine, which a threshold filter drops identically
    (re-rank callers never produce them: their kernels drop NULL
    embeddings)."""
    thr = None if min_cosine is None else float(min_cosine)

    def kernel(batches):
        import pyarrow.compute as pc

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids_a = batch.column(0).to_numpy(zero_copy_only=False)
            ids_b = batch.column(2).to_numpy(zero_copy_only=False)
            va, vb = batch.column(1), batch.column(3)
            if isinstance(va, pa.ChunkedArray):
                va = va.combine_chunks()
            if isinstance(vb, pa.ChunkedArray):
                vb = vb.combine_chunks()
            la = np.asarray(
                pc.fill_null(pc.list_value_length(va), -1).to_numpy(
                    zero_copy_only=False
                )
            )
            lb = np.asarray(
                pc.fill_null(pc.list_value_length(vb), -1).to_numpy(
                    zero_copy_only=False
                )
            )
            # JVM semantics: NULL vectors, ragged pairs, or NULL elements
            # make the fold NULL -> dropped
            ok = (la == lb) & (la > 0)
            if va.flatten().null_count or vb.flatten().null_count:
                valid_a = np.asarray([
                    va[i].is_valid and None not in va[i].as_py() for i in range(n)
                ])
                valid_b = np.asarray([
                    vb[i].is_valid and None not in vb[i].as_py() for i in range(n)
                ])
                ok &= valid_a & valid_b
            if not ok.any():
                continue
            for d in np.unique(la[ok]):
                sel = ok & (la == d)
                idx = np.flatnonzero(sel)
                A = np.asarray(
                    va.take(pa.array(idx)).flatten().to_numpy(
                        zero_copy_only=False
                    ),
                    dtype=np.float64,
                ).reshape(len(idx), int(d))
                B = np.asarray(
                    vb.take(pa.array(idx)).flatten().to_numpy(
                        zero_copy_only=False
                    ),
                    dtype=np.float64,
                ).reshape(len(idx), int(d))
                dot = np.zeros(len(idx))
                na2 = np.zeros(len(idx))
                nb2 = np.zeros(len(idx))
                for j in range(int(d)):  # same fold order as the JVM form
                    x, y = A[:, j], B[:, j]
                    dot += x * y
                    na2 += x * x
                    nb2 += y * y
                denom = np.maximum(np.sqrt(na2) * np.sqrt(nb2), 1e-12)
                cos = dot / denom
                m = cos >= thr if thr is not None else np.ones(
                    len(cos), dtype=bool
                )
                if m.any():
                    yield pa.RecordBatch.from_pydict(
                        {
                            id1: pa.array(ids_a[idx[m]], pa.int64()),
                            id2: pa.array(ids_b[idx[m]], pa.int64()),
                            "cosine": pa.array(cos[m], pa.float64()),
                        }
                    )

    sel = pairs.select(
        F.col(id1).cast("bigint").alias(id1),
        F.col(v1),
        F.col(id2).cast("bigint").alias(id2),
        F.col(v2),
    )
    return sel.mapInArrow(
        kernel, f"{id1} bigint, {id2} bigint, cosine double"
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    min_cosine: float = 0.95,
    n_planes: int = 12,
    n_tables: int = 8,
    max_bucket: int | None = 4096,
    oversize_mode: str = "star",
) -> DataFrame:
    """Embedding-cosine near-dup candidate pairs via shared SRP buckets,
    exact-verified JVM-side: (a, b, cosine).

    Hot-bucket guard (``max_bucket``/``oversize_mode``): mass-identical
    embeddings — boilerplate pages embedded identically, zero vectors
    from a failed encoder — land every copy in ONE (table, bucket) cell
    per table, and an unguarded self-join there is quadratic (the exact
    job-killer the text-LSH path guards against). The SRP (table,
    bucket) cells have the same shape as minhash (band, bh) cells, so
    the SAME guard applies: buckets above ``max_bucket`` emit
    O(n) star pairs to the bucket-min representative (connectivity for
    clustering is preserved — a mass-identical bucket is one clique and
    the star spans it, with every star pair surviving the exact cosine
    verify), ``"drop"`` discards them, ``"split"`` re-buckets by the
    next table's bucket id. ``max_bucket=None`` disables the guard
    (all-pairs within every bucket — the pre-guard behavior)."""
    from .dedup import lsh_candidate_pairs

    sigs = srp_signatures(df, id_col, vec_col, dim, n_planes, n_tables)
    cands = lsh_candidate_pairs(
        sigs.select(
            "id", F.col("table").alias("band"), F.col("bucket").alias("bh")
        ),
        max_bucket,
        oversize_mode,
        n_bands=n_tables,
    )
    vecs = df.select(
        F.col(id_col).cast("bigint").alias("vid"), F.col(vec_col).alias("vec")
    )
    va = vecs.select(F.col("vid").alias("a"), F.col("vec").alias("va"))
    vb = vecs.select(F.col("vid").alias("b"), F.col("vec").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(F.aggregate("va", F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate("vb", F.lit(0.0), lambda acc, x: acc + x * x))
    return (
        cands.join(va, "a")
        .join(vb, "b")
        .withColumn("cosine", (dot / (F.greatest(na * nb, F.lit(1e-12)))).cast("double"))
        .where(F.col("cosine") >= min_cosine)
        .select("a", "b", "cosine")
    )


def compact_ivf_index(spark, path: str) -> DataFrame:
    """Offline IVF maintenance (run with no readers active): fold the
    small files nightly appends accumulate — every
    :func:`append_to_ivf_index` adds at least one parquet file per
    touched cell dir, and after months of appends a probe of one cell
    opens hundreds of tiny files (the classic small-files problem; at
    100 TB the open/footers overhead dominates the pruned read).

    Rewrite: hash-repartition on ``cell`` into ``n_cells`` tasks so
    each cell lands wholly in one task → ONE file per cell dir, still
    directory-prunable; the quantizer sidecar is carried over verbatim
    (compaction moves bytes, never re-assigns). The swap is
    write-aside + rename — atomic enough for a single filesystem; on an
    object store, point readers at a manifest/catalog (e.g. an Iceberg
    table of (id, vec, cell)) and swap that instead. Returns the
    re-read index."""
    import json
    import os
    import shutil

    mpath = os.path.join(path, "_ivf_meta.json")
    if not os.path.exists(mpath):
        raise ValueError(
            f"index at {path!r} has no _ivf_meta.json sidecar — only "
            "pinned indexes (build_ivf_index(path=...)) can be compacted"
        )
    with open(mpath) as f:
        meta = json.load(f)
    idx = spark.read.parquet(path)
    tmp = path.rstrip("/") + ".compacting"
    shutil.rmtree(tmp, ignore_errors=True)
    (
        idx.repartition(int(meta["n_cells"]), "cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(tmp)
    )
    with open(os.path.join(tmp, "_ivf_meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(path)
    os.rename(tmp, path)
    return spark.read.parquet(path)


def compact_srp_index(spark, path: str, n_files: int = 8) -> DataFrame:
    """Offline SRP maintenance (run with no readers active): fold the
    small files :func:`append_to_srp_index` accumulates. The SRP index
    is a flat (id, table, bucket) table — no partition dirs to preserve
    — so compaction is a plain coalescing rewrite into ``n_files``
    files, geometry sidecar carried verbatim (compaction moves bytes,
    never re-signatures). Same write-aside + rename swap as
    :func:`compact_ivf_index`. Returns the re-read index."""
    import json
    import os
    import shutil

    mpath = os.path.join(path, "_srp_meta.json")
    if not os.path.exists(mpath):
        raise ValueError(
            f"index at {path!r} has no _srp_meta.json sidecar — only "
            "pinned indexes (build_srp_index(path=...)) can be compacted"
        )
    with open(mpath) as f:
        meta = json.load(f)
    idx = spark.read.parquet(path)
    tmp = path.rstrip("/") + ".compacting"
    shutil.rmtree(tmp, ignore_errors=True)
    idx.repartition(int(n_files)).write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, "_srp_meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(path)
    os.rename(tmp, path)
    return spark.read.parquet(path)


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    quality_col: str,
    dim: int | None = None,
    min_cosine: float = 0.95,
    exact: bool = False,
    n_planes: int = 12,
    n_tables: int = 8,
    tie_col: str | None = None,
    max_bucket: int | None = 4096,
    oversize_mode: str = "star",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) in one call: keep ONE document per
    semantic cluster — cosine near-dup pair graph → connected
    components → highest-``quality_col``-survives (NULL quality last,
    ties on ``tie_col``, default the id — deterministic re-runs). All
    input columns pass through on survivors.

    Candidate generation is the scale knob: the default routes through
    :func:`embedding_near_dup_pairs` (shared-SRP-bucket candidates,
    exact JVM cosine verify — candidates stay bucket-bounded at 100-TB
    corpus sizes; raise ``n_tables`` to push pair recall up);
    ``exact=True`` swaps in the all-pairs :func:`cosine_pairs_exact`
    graph — O(n²), the oracle contract (the ``semantic_dedup_embeddings``
    driver query gates exactly this composition). Either way the
    verify is exact, so every emitted pair is a true >= ``min_cosine``
    pair; only recall differs. ``dim`` is required for the SRP path
    (plane geometry). ``max_bucket``/``oversize_mode`` forward to the
    SRP path's hot-bucket guard (mass-identical embeddings stay
    O(n·cap) instead of quadratic; star pairs keep each hot bucket's
    clique connected, so survivors are unchanged for the degenerate
    corpora the guard exists for)."""
    from .dedup import duplicate_clusters, resolve_duplicates

    if exact:
        pairs = cosine_pairs_exact(df, id_col, vec_col, min_cosine)
    else:
        if dim is None:
            raise ValueError(
                "dim= is required for the SRP candidate path "
                "(pass exact=True for the all-pairs oracle graph)"
            )
        pairs = embedding_near_dup_pairs(
            df, id_col, vec_col, dim, min_cosine, n_planes, n_tables,
            max_bucket, oversize_mode,
        )
    clusters = duplicate_clusters(pairs.select("a", "b"))
    return resolve_duplicates(df, id_col, clusters, quality_col, tie_col)
