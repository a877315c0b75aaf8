"""Deduplication operators for large-scale training-data pipelines.

Four families, all shuffle-conscious:

* **exact** — hash-groupBy on the text (or any column set). One shuffle on
  a 64-bit key; at 100 TB use ``xxhash64(text)`` as the grouping key so the
  shuffle moves 8-byte keys, not documents.
* **MinHash + LSH** — shingle → minhash signature → band buckets →
  bucket-join candidates → exact-Jaccard verify. The signature build is a
  single ``mapInArrow`` pass (vectorized numpy; one murmur3 pass over all
  tokens then ``n_hashes`` affine transforms + segmented min — the
  standard universal-hash family, NOT ``n_hashes`` rehashes of the text).
  The only shuffle is on (band, band_hash) — tiny rows.
* **SimHash** — 64-bit signature; candidates share a 16-bit band; verify
  by Hamming distance, all JVM-side (``bit_count(a ^ b)``).
* **n-gram / token Jaccard** — exact pairwise similarity via an inverted
  index join (explode tokens → join on token → count intersections).
  Quadratic in the worst case; it is the *oracle* for the LSH path and
  the right tool only for small candidate sets.

MinHash is itself a mergeable sketch family (min is associative +
commutative) — the same property the whole library is built on.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import nonblank, ws_grams, ws_split_arrow
from ..hashing import murmur3_64_flat, murmur3_64_packed, pack_arrow
from ..spark import fastpath

# deterministic universal-hash family for minhash: g_i(h) = a_i*h + b_i
_MINHASH_SEED = 0x5EED
_MAX_HASHES = 512
_rng = np.random.RandomState(_MINHASH_SEED)
_A = (_rng.randint(1, 2**62, _MAX_HASHES).astype(np.uint64) << np.uint64(1)) | np.uint64(1)
_B = _rng.randint(0, 2**63, _MAX_HASHES).astype(np.uint64)


def _tokenize_batch(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Murmur hashes of the whitespace tokens of an Arrow string array
    (:func:`~sprout_spark.functions.text.ws_split_arrow`, so the same
    tokens the JVM token sets hold).

    Returns (token_hashes uint64 flat, row_offsets int64 (n+1,)) where
    tokens of row i occupy hashes[offsets[i]:offsets[i+1]].
    """
    flat, offsets = ws_split_arrow(arr)
    buf, lens = pack_arrow(flat)
    return murmur3_64_packed(buf, lens, 0), offsets


def _shingle_hashes(
    h: np.ndarray, offsets: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Combine each row's runs of ``k`` consecutive token hashes into
    shingle hashes (vectorized polynomial combine in uint64 — order
    matters, so 'a b c' and 'c b a' shingle differently). Rows with
    fewer than ``k`` tokens yield no shingles; returns the same
    (flat_hashes, row_offsets) contract as :func:`_tokenize_batch`."""
    counts = np.diff(offsets)
    out_counts = np.maximum(counts - (k - 1), 0)
    out_offsets = np.concatenate([[0], np.cumsum(out_counts)]).astype(np.int64)
    total = int(out_offsets[-1])
    if total == 0:
        return np.empty(0, dtype=np.uint64), out_offsets
    # window start positions, per row: offsets[row] .. offsets[row]+cnt-k
    row_id = np.repeat(np.arange(len(counts), dtype=np.int64), out_counts)
    local = np.arange(total, dtype=np.int64) - np.repeat(
        out_offsets[:-1], out_counts
    )
    start = offsets[:-1][row_id] + local
    g = np.zeros(total, dtype=np.uint64)
    mul = _U64_SHINGLE_MULT
    for j in range(k):
        g = g * mul + h[start + j]
    return g, out_offsets


_U64_SHINGLE_MULT = np.uint64(0x100000001B3)  # FNV-style odd multiplier


def _check_minhash(n_hashes: int, band_r: int, shingle_k: int) -> None:
    if n_hashes > _MAX_HASHES:
        raise ValueError(f"n_hashes must be <= {_MAX_HASHES}")
    if n_hashes % band_r:
        raise ValueError("band_r must divide n_hashes")
    if shingle_k < 1:
        raise ValueError("shingle_k must be >= 1")


def _minhash_bands(
    text: pa.Array, n_hashes: int, band_r: int, shingle_k: int
) -> tuple[np.ndarray, np.ndarray]:
    """The MinHash batch kernel: text → tokens → (optional word-k-gram
    shingles) → signature → band hashes. Returns (kept bool per row,
    band hashes int64 (n_kept, n_bands)); rows with no tokens (or fewer
    than ``shingle_k``) are not kept.

    Zero-token docs are dropped entirely: an all-sentinel signature
    would collide every such doc in every bucket (quadratic candidate
    blowup) and "empty ~ empty" is not a meaningful near-dup claim."""
    n_bands = n_hashes // band_r
    h, offsets = _tokenize_batch(text)
    if shingle_k > 1:
        h, offsets = _shingle_hashes(h, offsets, shingle_k)
    kept = np.diff(offsets) > 0
    n = int(kept.sum())
    if n == 0:
        return kept, np.empty((0, n_bands), np.int64)
    # the signature matrix lives in a flat byte buffer with the
    # kernel's 16 bytes of slack, so the band hash reads it in place
    sig_buf = np.zeros(n * n_hashes * 8 + 16, dtype=np.uint8)
    sig = sig_buf[:-16].view(np.uint64).reshape(n, n_hashes)
    starts = offsets[:-1][kept]
    for i in range(n_hashes):
        g = _A[i] * h + _B[i]
        sig[:, i] = np.minimum.reduceat(g, starts)
    # band hash: murmur over the r consecutive 8-byte lanes
    width = band_r * 8
    bh = murmur3_64_flat(
        sig_buf,
        np.arange(n * n_bands, dtype=np.int64) * width,
        np.full(n * n_bands, width, dtype=np.int64),
        7,
    ).astype(np.int64)
    return kept, bh.reshape(n, n_bands)


def minhash_band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 128,
    band_r: int = 4,
    shingle_k: int = 1,
) -> DataFrame:
    """One ``mapInArrow`` pass of :func:`_minhash_bands`. Output: (id
    bigint, band int, bh bigint), all NOT NULL — one row per band. Docs
    with a NULL id drop before the kernel: they can never be a pair
    partner (the exact-verify join never matches a NULL id). The
    declared NOT NULL lets the optimizer skip the null filters it would
    infer below a self-join, so both branches of
    :func:`lsh_candidate_pairs` read one reused exchange and the kernel
    runs once.

    ``shingle_k > 1`` minhashes the set of k-token SHINGLES instead of
    the token set — the standard near-dup construction for natural text
    (token-set Jaccard ignores word order and length; shingle Jaccard
    does not). Docs with fewer than ``shingle_k`` tokens drop (no
    shingles → never a candidate), like zero-token docs.
    """
    _check_minhash(n_hashes, band_r, shingle_k)
    n_bands = n_hashes // band_r

    def fn(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            kept, bh = _minhash_bands(
                batch.column(1), n_hashes, band_r, shingle_k
            )
            if not len(bh):
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            ids = ids.astype(np.int64)[kept]
            yield pa.RecordBatch.from_pydict(
                {
                    "id": pa.array(np.repeat(ids, n_bands), pa.int64()),
                    "band": pa.array(
                        np.tile(np.arange(n_bands, dtype=np.int32), len(ids)),
                        pa.int32(),
                    ),
                    "bh": pa.array(bh.ravel(), pa.int64()),
                }
            )

    return (
        df.select(
            F.col(id_col).cast("bigint").alias("id"), F.col(text_col).alias("t")
        )
        .where(F.col("id").isNotNull())
        .mapInArrow(
            fn, "id bigint not null, band int not null, bh bigint not null"
        )
    )


def _bucket_pairs(
    l: DataFrame, r: DataFrame, self_form: bool, keys=("band", "bh")
) -> DataFrame:
    """(a=l id, b=r id) for every two rows that share ``keys``; the self
    form keeps ``a < b`` only, which drops the diagonal and the mirror."""
    pairs = l.alias("l").join(r.alias("r"), list(keys))
    if self_form:
        pairs = pairs.where(F.col("l.id") < F.col("r.id"))
    return pairs.select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))


def _self_guard(
    rows: DataFrame, keys: tuple, cap: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The self form's hot-bucket guard over buckets keyed by ``keys``:
    (rows sized by one window, all ``a < b`` pairs of buckets with at
    most ``cap`` members, (bucket-min id, member) star pairs of the
    rest)."""
    w = Window.partitionBy(*keys)
    sized = rows.withColumn("_n", F.count("*").over(w)).withColumn(
        "_min", F.min("id").over(w)
    )
    small = sized.where(F.col("_n") <= cap).select("id", *keys)
    star = sized.where(
        (F.col("_n") > cap) & (F.col("id") != F.col("_min"))
    ).select(F.col("_min").alias("a"), F.col("id").alias("b"))
    return sized, _bucket_pairs(small, small, True, keys), star


def lsh_candidate_pairs(
    bands: DataFrame,
    right: DataFrame | None = None,
    max_bucket: int | None = 4096,
    oversize_mode: str = "star",
    n_bands: int | None = None,
) -> DataFrame:
    """Join band rows within (band, bh) buckets → distinct candidate
    (a, b) pairs. ``right=None`` is the self form (``bands`` with itself,
    ``a < b``); with ``right`` it is the cross form (a=``bands`` id,
    b=``right`` id; ids need not be disjoint). The join key is the
    12-byte band row, so the shuffle is tiny no matter how large the
    documents are.

    Hot-bucket guard: boilerplate-heavy corpora (the common 100-TB case —
    identical headers/footers) put every copy of the template in the SAME
    bucket in EVERY band, and an unguarded join on a 10^4-row bucket
    emits ~10^8 pairs before verification. Buckets over ``max_bucket``
    (the self form counts members, the cross form the nl·nr pairs the
    bucket would emit) therefore skip the all-pairs join:

    * ``oversize_mode="star"`` (default) pairs every left member with the
      bucket's min right id and every right member with the min left id
      — O(nl+nr) per bucket; in the self form, where the bucket is both
      sides, ``a < b`` leaves (bucket-min id, member) pairs. Every member
      stays connected to a representative, so after the exact-Jaccard
      verify ``duplicate_clusters`` still groups true duplicate sets (a
      boilerplate bucket is one clique; the star spans it). What is
      traded away is all-pairs *pair-level* recall inside a *mixed*
      oversized bucket (members similar to each other but not to the
      representative) — acceptable for dedup, where connectivity is what
      matters. ``max_bucket=None`` disables the guard.
    * ``oversize_mode="drop"`` discards oversized buckets entirely (the
      conservative "skip boilerplate" policy some pipelines want).
    * ``oversize_mode="split"`` (self form only; the cross form raises
      ``ValueError``) re-partitions each oversized bucket by a
      SECONDARY minhash lane — every member's bucket hash in the *next*
      band, ``(band+1) % n_bands`` — and runs all-pairs within the
      sub-buckets (star again above the cap, so candidates stay
      O(n·max_bucket) even for pure boilerplate, where all members share
      every band and collapse into one sub-bucket). This recovers the
      pair-level recall star trades away in MIXED oversized buckets:
      members similar to each other (but not to the representative)
      agree on other bands too, so they co-land in a sub-bucket and get
      their all-pairs back. Pass ``n_bands`` when known (callers that
      built the signatures know it) to avoid a one-row driver agg.

    The guard is declarative (the self form sizes buckets in one window
    over the same (band, bh) key the join shuffles on, the cross form in
    per-side groupBy summaries, one row per bucket — no extra action, no
    driver round-trip, except split's optional n_bands probe); use
    ``lsh_bucket_stats`` to monitor how often it fires.
    """
    if right is not None and not isinstance(right, DataFrame):
        raise TypeError("right must be a band-row DataFrame or None "
                        "(pass max_bucket and oversize_mode by keyword)")
    self_form = right is None
    if max_bucket is None:
        return _bucket_pairs(
            bands, bands if self_form else right, self_form
        ).distinct()
    modes = ("star", "drop", "split") if self_form else ("star", "drop")
    if oversize_mode not in modes:
        raise ValueError(f"oversize_mode must be one of {modes}")
    if self_form:
        sized, pairs, star = _self_guard(bands, ("band", "bh"), max_bucket)
        over = sized.where(F.col("_n") > max_bucket)
    else:
        # per-bucket (size, min id) summaries: map-side partial aggregation,
        # one row per (band, bh) — the summary join is bucket-count sized
        lsum = bands.groupBy("band", "bh").agg(
            F.count("*").alias("_nl"), F.min("id").alias("_minl")
        )
        rsum = right.groupBy("band", "bh").agg(
            F.count("*").alias("_nr"), F.min("id").alias("_minr")
        )
        sized = lsum.join(rsum, ["band", "bh"])
        ok = sized.where(F.col("_nl") * F.col("_nr") <= max_bucket)
        pairs = (
            bands.join(ok.select("band", "bh"), ["band", "bh"])
            .select("band", "bh", F.col("id").alias("a"))
            .join(
                right.select("band", "bh", F.col("id").alias("b")),
                ["band", "bh"],
            )
            .select("a", "b")
        )
        # each side's members pair with the other side's min id
        over = sized.where(F.col("_nl") * F.col("_nr") > max_bucket)
        star = (
            bands.join(over.select("band", "bh", "_minr"), ["band", "bh"])
            .select(F.col("id").alias("a"), F.col("_minr").alias("b"))
            .union(
                right.join(over.select("band", "bh", "_minl"), ["band", "bh"])
                .select(F.col("_minl").alias("a"), F.col("id").alias("b"))
            )
        )
    if oversize_mode == "star":
        pairs = pairs.union(star)
    elif oversize_mode == "split":
        if n_bands is None:
            mx = bands.agg(F.max("band")).collect()[0][0]
            if mx is None:  # empty bands: nothing oversized to split
                return pairs.distinct()
            n_bands = mx + 1
        lane = bands.select(
            "id", F.col("band").alias("_ab"), F.col("bh").alias("_sub")
        )
        over = (
            over.select("id", "band", "bh")
            .withColumn(
                "_ab", (F.col("band") + F.lit(1)) % F.lit(int(n_bands))
            )
            .join(lane, ["id", "_ab"])
            .drop("_ab")
        )
        _, sub_pairs, star2 = _self_guard(
            over, ("band", "bh", "_sub"), max_bucket
        )
        pairs = pairs.union(sub_pairs).union(star2)
    return pairs.distinct()


def lsh_bucket_stats(band_rows: DataFrame) -> DataFrame:
    """Bucket-size histogram (bucket_size, n_buckets) — the monitoring
    companion to ``lsh_candidate_pairs``'s hot-bucket guard: run it on a
    sample when tuning ``max_bucket`` (a long quadratic tail here is the
    signal that the corpus is boilerplate-heavy)."""
    return (
        band_rows.groupBy("band", "bh")
        .agg(F.count("*").alias("bucket_size"))
        .groupBy("bucket_size")
        .agg(F.count("*").alias("n_buckets"))
    )


def token_sets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, tokens array<string>) with distinct whitespace tokens (JVM)."""
    return _sets(df, id_col, text_col, 1)


def _set_col(text_col: str, k: int):
    """The verify's token-set column: distinct whitespace tokens for
    ``k == 1``, else distinct word-k-gram shingles (see
    :func:`shingle_sets`)."""
    return F.array_distinct(ws_grams(F.col(text_col), k))


def _sets(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """Token sets for ``k == 1``, else word-k-gram shingle sets."""
    return df.select(
        F.col(id_col).cast("bigint").alias("id"),
        _set_col(text_col, k).alias("tokens"),
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, tokens array<string>) with DISTINCT word-k-gram shingles,
    pure JVM (:func:`~sprout_spark.functions.text.ws_grams`) — the
    exact-verify companion to ``minhash_band_rows(shingle_k=k)``.
    Docs with fewer than k tokens get an empty array."""
    return _sets(df, id_col, text_col, k)


def _encode_token_side(tbl) -> tuple | None:
    """(ids int64, flat_tokens StringArray, offsets int64) for one token
    table, NULL ids and NULL token arrays dropped like the verify join
    drops them; None when the shape disqualifies the broadcast path
    (duplicate ids, NULL tokens inside arrays — rare public-API edges
    that keep JVM semantics)."""
    import pyarrow.compute as pc

    valid = pc.and_(
        pc.is_valid(tbl.column("id")), pc.is_valid(tbl.column("tokens"))
    )
    if pa.compute.any(pc.invert(valid)).as_py():
        tbl = tbl.filter(valid)
    ids = np.asarray(
        tbl.column("id").combine_chunks().to_numpy(zero_copy_only=False),
        dtype=np.int64,
    )
    if len(np.unique(ids)) != len(ids):
        return None  # duplicate ids: the join would fan out — fall back
    toks = tbl.column("tokens").combine_chunks()
    flat = toks.flatten()
    if flat.null_count:
        return None  # NULL elements: array_intersect's null semantics
    offsets = np.asarray(toks.offsets, dtype=np.int64)
    return ids, flat, offsets - offsets[0]


def _token_index(tables: list) -> tuple | None:
    """Per-doc sorted DISTINCT dictionary codes for one or two token
    tables, under one dictionary so codes compare across them: (sides,
    vocab) with each side ``(ids, flat_codes, starts, lens)``, doc ``i``
    of a side holding ``flat_codes[starts[i]:starts[i] + lens[i]]``;
    None when a table disqualifies the encoding
    (:func:`_encode_token_side`). Dictionary encoding is injective and
    the per-doc codes are deduplicated, as array_intersect/array_union
    are set-semantic."""
    import pyarrow.compute as pc

    encs = [_encode_token_side(t) for t in tables]
    if any(e is None for e in encs):
        return None
    enc = pc.dictionary_encode(pa.concat_arrays([e[1] for e in encs]))
    codes = np.asarray(enc.indices.to_numpy(zero_copy_only=False), np.int64)
    sides, pos = [], 0
    for ids, flat, off in encs:
        side_codes = codes[pos:pos + len(flat)]
        pos += len(flat)
        sets = [
            np.unique(side_codes[off[i]:off[i + 1]]) for i in range(len(ids))
        ]
        lens = np.array([len(u) for u in sets], np.int64)
        starts = np.concatenate(([0], np.cumsum(lens)[:-1])).astype(np.int64)
        uniq = np.concatenate(sets) if sets else np.empty(0, np.int64)
        sides.append((ids, uniq, starts, lens))
    return sides, len(enc.dictionary)


# gathered token entries per verify chunk: bounds the kernel's scratch
# arrays (about a dozen int64 copies of this many entries, ~3 MB)
# whatever the pair count
_VERIFY_CHUNK = 1 << 15


def _jaccard(ra, rb, side_a, side_b, vocab: int) -> np.ndarray:
    """The exact Jaccard kernel: float64 Jaccard of each doc pair
    (``ra[i]`` of ``side_a``, ``rb[i]`` of ``side_b``; sides as
    :func:`_token_index` gives them), in chunks of at most
    ``_VERIFY_CHUNK`` gathered entries (at least one pair each).

    Per-pair intersection sizes come from one searchsorted over
    pair-major sorted code arrays (each pair's codes offset by
    ``pair * vocab``, so both gathers are globally sorted); the final
    ``inter / union`` is the same int→double IEEE division the JVM
    expression performs, so values are bit-identical, and an empty pair
    gives NaN (0/0), which compares false against any threshold like
    the JVM's."""
    _, fa, sa, la = side_a
    _, fb, sb, lb = side_b
    lena, lenb = la[ra], lb[rb]
    ends = np.cumsum(lena + lenb)
    out = np.empty(len(ra), np.float64)
    lo = 0
    while lo < len(ra):
        base = ends[lo - 1] if lo else 0
        hi = max(
            lo + 1, int(np.searchsorted(ends, base + _VERIFY_CHUNK, "right"))
        )
        out[lo:hi] = _jaccard_chunk(
            fa, sa[ra[lo:hi]], lena[lo:hi], fb, sb[rb[lo:hi]], lenb[lo:hi],
            vocab,
        )
        lo = hi
    return out


def _jaccard_chunk(fa, sa, lena, fb, sb, lenb, vocab: int) -> np.ndarray:
    pair = np.arange(len(lena), dtype=np.int64)

    def gather(flat, starts, lens_):
        tot = int(lens_.sum())
        seg = np.repeat(pair, lens_)
        excl = np.concatenate(([0], np.cumsum(lens_)[:-1])).astype(np.int64)
        local = np.arange(tot, dtype=np.int64) - np.repeat(excl, lens_)
        vals = flat[np.repeat(starts, lens_) + local]
        return vals + seg * vocab, excl

    a_ent, off_a = gather(fa, sa, lena)
    b_ent, _ = gather(fb, sb, lenb)
    if len(a_ent) and len(b_ent):
        idx = np.searchsorted(b_ent, a_ent)
        idx_c = np.minimum(idx, len(b_ent) - 1)
        hits = (b_ent[idx_c] == a_ent) & (idx < len(b_ent))
        inter = np.add.reduceat(
            np.concatenate((hits, [False])),
            np.minimum(off_a, len(hits)),
        ).astype(np.int64)
        inter[lena == 0] = 0
    else:
        inter = np.zeros(len(lena), np.int64)
    union = lena + lenb - inter
    with np.errstate(divide="ignore", invalid="ignore"):
        return inter / union


def _verify_jaccard_broadcast(
    candidates: DataFrame, ta: DataFrame, tb: DataFrame, threshold: float,
    collected: pa.Table | None = None,
):
    """Exact Jaccard over broadcast dictionary-encoded token SETS: only
    the 16-byte candidate pairs cross the Python boundary, and the
    :func:`_jaccard` kernel verifies each batch. Returns None when the
    inputs disqualify the path (caller falls back to the join plan).
    ``collected`` is the self form's token table when the caller already
    collected it under the same cap, so it is not collected again."""
    if collected is not None:
        tabs = [collected]
    else:
        tabs = []
        for t in [ta] if ta is tb else [ta, tb]:
            tabs.append(fastpath.collect_at_most("verify_jaccard.docs", t))
            if tabs[-1] is None:
                return None
    index = _token_index(tabs)
    if index is None:
        return None
    sides, vocab = index
    side_a, side_b = sides[0], sides[-1]
    lookup = [{int(x): i for i, x in enumerate(s[0])} for s in sides]
    spark = candidates.sparkSession
    bc = spark.sparkContext.broadcast(
        (side_a, side_b, lookup[0], lookup[-1], int(vocab))
    )
    thr = float(threshold)

    def kernel(batches):
        side_a, side_b, ixa, ixb, vocab = bc.value
        for batch in batches:
            aa = batch.column(0).to_numpy(zero_copy_only=False)
            bb = batch.column(1).to_numpy(zero_copy_only=False)
            n = len(aa)
            if n == 0:
                continue
            ra = np.fromiter(
                (ixa.get(int(x), -1) for x in aa), np.int64, count=n
            )
            rb = np.fromiter(
                (ixb.get(int(x), -1) for x in bb), np.int64, count=n
            )
            ok = (ra >= 0) & (rb >= 0)  # inner-join semantics
            if not ok.any():
                continue
            j = _jaccard(ra[ok], rb[ok], side_a, side_b, vocab)
            keep = j >= thr  # NaN (0/0) compares false, like the JVM
            if keep.any():
                yield pa.RecordBatch.from_pydict(
                    {
                        "a": pa.array(aa[ok][keep], pa.int64()),
                        "b": pa.array(bb[ok][keep], pa.int64()),
                        "jaccard": pa.array(j[keep], pa.float64()),
                    }
                )

    return candidates.select(
        F.col("a").cast("bigint"), F.col("b").cast("bigint")
    ).mapInArrow(kernel, "a bigint, b bigint, jaccard double")


def _verify(
    cands: DataFrame, tokens_a: DataFrame, tokens_b: DataFrame,
    threshold: float, collected: pa.Table | None = None,
) -> DataFrame:
    """(a, b, jaccard) for candidate pairs at or above ``threshold``,
    ``a``'s tokens from ``tokens_a`` and ``b``'s from ``tokens_b``: the
    broadcast kernel when it qualifies, else the join plan."""
    fast = _verify_jaccard_broadcast(
        cands, tokens_a, tokens_b, threshold, collected
    )
    if fast is not None:
        return fast
    return _verify_join(cands, tokens_a, tokens_b, threshold)


def _verify_join(
    cands: DataFrame, tokens_a: DataFrame, tokens_b: DataFrame,
    threshold: float,
) -> DataFrame:
    """The verify's distributed plan: token sets joined onto the pairs."""
    ta = tokens_a.select(F.col("id").alias("a"), F.col("tokens").alias("ta"))
    tb = tokens_b.select(F.col("id").alias("b"), F.col("tokens").alias("tb"))
    return (
        cands.join(ta, "a")
        .join(tb, "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("ta", "tb"))
            / F.size(F.array_union("ta", "tb")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def verify_jaccard(
    candidates: DataFrame, tokens: DataFrame, threshold: float
) -> DataFrame:
    """Exact token-set Jaccard on candidate pairs.

    Fast path (bounded side): the token table dictionary-encodes and
    broadcasts ONCE, and only 16-byte candidate pairs reach the verify
    kernel — the join plan would re-ship both token arrays per
    candidate pair (measured 6.3s of a 6.1s near-dup total at sf0.1,
    where boilerplate makes candidates ~150x the doc count). Beyond the
    ``verify_jaccard.docs`` cap in :mod:`sprout_spark.spark.fastpath`
    the join plan runs: candidate pairs are few at sane thresholds; the
    token arrays join by id. Results are identical."""
    return _verify(candidates, tokens, tokens, threshold)


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n_hashes: int = 128,
    band_r: int = 4,
    max_bucket: int | None = 4096,
    oversize_mode: str = "star",
    shingle_k: int = 1,
    right: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-verified: (a, b, jaccard).

    With r=4, b=32 the detection probability at j=0.8 is
    1-(1-0.8^4)^32 ≈ 1-5e-8; verification makes surviving pairs exact.
    ``max_bucket``/``oversize_mode`` forward to the hot-bucket guard in
    ``lsh_candidate_pairs`` (boilerplate buckets emit star pairs, not
    quadratic all-pairs). ``shingle_k > 1`` switches BOTH the signature
    and the exact verify to word-k-gram shingle sets — the standard
    construction for natural text, where token-set Jaccard ignores word
    order and repetition.

    ``right=None`` pairs ``df`` with itself (``a < b``); with ``right``
    the pairs are cross-corpus (``a`` from ``df``, ``b`` from ``right``,
    ids need not be disjoint) — the new crawl against the existing
    corpus, or training data against an eval set, catching paraphrased
    or lightly-edited overlap that fingerprint intersection misses. Both
    sides run the SAME seeded minhash kernel, so signatures are
    comparable across tables by construction.

    Plans by size (self form, ``oversize_mode`` star or drop or
    ``max_bucket=None``): one bounded collect of (id, text, tokens)
    under the ``verify_jaccard.docs`` cap, the one the broadcast verify
    collects under. A corpus within it whose candidate count, summed
    from the bucket sizes before any pair is built, fits
    ``near_dup_local.candidates`` runs in the driver and comes back as a
    local DataFrame — no Spark job beyond the collect. Otherwise the
    distributed plan below runs (signature ``mapInArrow``, bucket
    self-join, then the verify): within the docs cap the broadcast
    verify reuses the collected token sets, over it the join verify
    runs without a second collect. Both plans run the same MinHash and
    Jaccard kernels and give the same rows; caps in
    :mod:`sprout_spark.spark.fastpath`.
    """
    sides = [
        t.where(nonblank(F.col(text_col))) for t in (df, right) if t is not None
    ]
    local_first = right is None and (
        max_bucket is None or oversize_mode in ("star", "drop")
    )
    collected = None
    if local_first:
        _check_minhash(n_hashes, band_r, shingle_k)
        local = _near_dup_local(
            sides[0], id_col, text_col, threshold, n_hashes, band_r,
            max_bucket, oversize_mode, shingle_k,
        )
        if isinstance(local, DataFrame):
            return local
        collected = local
    bands = [
        minhash_band_rows(t, id_col, text_col, n_hashes, band_r, shingle_k)
        for t in sides
    ]
    cands = lsh_candidate_pairs(
        *bands, max_bucket=max_bucket, oversize_mode=oversize_mode,
        n_bands=n_hashes // band_r,
    )
    # the self form passes one token table twice: the broadcast verify
    # then encodes it once
    toks = [_sets(t, id_col, text_col, shingle_k) for t in sides]
    if local_first and collected is None:
        # over the verify's docs cap: the broadcast verify would only
        # repeat the truncated collect
        return _verify_join(cands, toks[0], toks[-1], threshold)
    return _verify(cands, toks[0], toks[-1], threshold, collected)


# docs per MinHash kernel call in the driver plan
_MINHASH_SLICE = 256


def _near_dup_local(
    docs: DataFrame, id_col: str, text_col: str, threshold: float,
    n_hashes: int, band_r: int, max_bucket: int | None, oversize_mode: str,
    shingle_k: int,
) -> DataFrame | pa.Table | None:
    """The self form of :func:`near_dup_pairs` run in the driver, for a
    corpus within the ``verify_jaccard.docs`` cap whose candidate count
    fits ``near_dup_local.candidates``: the verified pairs as a local
    DataFrame. Otherwise the (id, tokens) table it collected, for the
    distributed plan's verify to reuse (the corpus is not collected
    twice), or None when the corpus was over the docs cap.

    Same kernels and same rows as the distributed plan: the MinHash
    kernel over the same text, the ``_self_guard`` bucket rule over
    (band, bh) buckets, the exact Jaccard kernel over the same JVM token
    sets. Candidates are counted from the bucket sizes before any pair
    is built, so the candidate cap bounds driver memory."""
    # a NULL id is no pair partner (the distributed plan drops it before
    # the kernel and the verify join never matches it)
    tbl = fastpath.collect_at_most(
        "verify_jaccard.docs",
        docs.select(
            F.col(id_col).cast("bigint").alias("id"),
            F.col(text_col).alias("t"),
            _set_col(text_col, shingle_k).alias("tokens"),
        ).where(F.col("id").isNotNull()),
    )
    if tbl is None:
        return None
    ids = tbl.column("id").to_numpy()
    spark = docs.sparkSession
    schema = "a bigint, b bigint, jaccard double"
    if not len(ids):
        return spark.createDataFrame([], schema)
    by_id = np.argsort(ids, kind="stable")
    sorted_ids = ids[by_id]
    if (sorted_ids[1:] == sorted_ids[:-1]).any():
        # duplicate ids make the distributed bucket join and verify join
        # fan out: leave them to that plan
        return tbl.select(["id", "tokens"])
    # buckets hold id ranks, so a rank pair a < b is an id pair a < b and
    # a bucket's first member is its min id
    rank = np.empty(len(ids), np.int64)
    rank[by_id] = np.arange(len(ids))
    # the MinHash kernel over slices of docs, as over Arrow batches in the
    # distributed plan: its scratch arrays grow with the slice
    text = tbl.column("t").combine_chunks()
    parts = [
        _minhash_bands(text.slice(i, _MINHASH_SLICE), n_hashes, band_r, shingle_k)
        for i in range(0, len(text), _MINHASH_SLICE)
    ]
    kept = np.concatenate([k for k, _ in parts])
    # one band per row, docs in rank order: a stable sort of a band's
    # hashes keeps each bucket's members ascending
    member = rank[kept]
    by_rank = np.argsort(member)
    member = member[by_rank]
    bands = np.concatenate([b for _, b in parts])[by_rank].T.copy()
    del parts
    cap = len(ids) if max_bucket is None else max_bucket
    star = oversize_mode == "star"

    def buckets(band):
        """One band's (members in bucket order, bucket starts, sizes):
        one band at a time, so the scratch arrays stay one band wide."""
        o = np.argsort(band, kind="stable")
        key = band[o]
        new = np.ones(len(key), bool)
        new[1:] = key[1:] != key[:-1]
        starts = np.flatnonzero(new)
        return member[o], starts, np.diff(np.append(starts, len(key)))

    n_cands = 0
    for band in bands:
        sizes = buckets(band)[2]
        small = sizes <= cap
        n_cands += int((sizes[small] * (sizes[small] - 1) // 2).sum())
        if star:
            n_cands += int((sizes[~small] - 1).sum())
    if not fastpath.within("near_dup_local.candidates", n_cands):
        return tbl.select(["id", "tokens"])
    # each pair (a, b) as one int64 code a * n + b, so distinct is one
    # np.unique
    n = len(ids)
    codes = [np.empty(0, np.int64)]
    for band in bands:
        mem, starts, sizes = buckets(band)
        small = sizes <= cap
        for size in np.unique(sizes[small & (sizes > 1)]):
            st = starts[small & (sizes == size)][:, None]
            i, j = np.triu_indices(int(size), 1)
            codes.append((mem[st + i] * n + mem[st + j]).ravel())
        if star and not small.all():
            # (bucket-min id, member) for the other members of an
            # oversized bucket
            rest = np.repeat(~small, sizes)
            rest[starts] = False
            codes.append(np.repeat(mem[starts], sizes)[rest] * n + mem[rest])
    code = np.unique(np.concatenate(codes))
    ra, rb = code // n, code % n
    # only docs in some pair are encoded for the verify
    paired = np.union1d(ra, rb)
    index = _token_index([tbl.select(["id", "tokens"]).take(by_id[paired])])
    if index is None:
        return tbl.select(["id", "tokens"])
    (side,), vocab = index  # in `paired` order
    jac = _jaccard(
        np.searchsorted(paired, ra), np.searchsorted(paired, rb),
        side, side, vocab,
    )
    keep = jac >= threshold  # NaN (0/0) compares false, like the JVM
    out = pa.table(
        {
            "a": pa.array(sorted_ids[ra[keep]], pa.int64()),
            "b": pa.array(sorted_ids[rb[keep]], pa.int64()),
            "jaccard": pa.array(jac[keep], pa.float64()),
        }
    )
    return spark.createDataFrame(out, schema)


def exact_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float,
    shingle_k: int = 1,
) -> DataFrame:
    """Exact all-pairs token (or k-shingle) Jaccard via inverted-index
    join (oracle for the LSH path; O(sum of posting-list^2) — small
    data only)."""
    toks = _sets(df, id_col, text_col, shingle_k).where(F.size("tokens") > 0)
    posting = toks.select("id", F.explode("tokens").alias("tok"))
    a = posting.alias("a")
    b = posting.alias("b")
    inter = (
        a.join(b, "tok")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
        .agg(F.count("*").alias("inter"))
    )
    sizes = toks.select("id", F.size("tokens").alias("sz"))
    return (
        inter.join(sizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "sza"), "a")
        .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("sz", "szb"), "b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def exact_dedup(df: DataFrame, id_col: str, dup_cols: list[str]) -> DataFrame:
    """Exact dedup: keep the lowest id per duplicate group.

    Groups on ``xxhash64(*dup_cols)`` (JVM-side) so the shuffle key is 8
    bytes — the map-side partial aggregate then shuffles
    (hash, min_id, count) rows, never the documents themselves. Hash
    collisions are 2^-64 per pair — acceptable for dedup; pass the full
    columns as ``dup_cols`` through a pre-hashed column if not."""
    return (
        df.groupBy(F.xxhash64(*dup_cols).alias("_dup_key"))
        .agg(F.min(F.col(id_col)).alias(id_col), F.count("*").alias("n_copies"))
        .select(id_col, "n_copies")
    )


def _clusters_driver_union_find(spark, rows) -> DataFrame:
    """Driver-side connected components over a bounded, collected (a, b)
    edge table: path-compressed union-find, then one pass mapping every
    node to its component's minimum id — exactly the fixpoint the
    distributed label propagation converges to."""
    a_np = rows.column("a").combine_chunks().to_numpy(zero_copy_only=False)
    b_np = rows.column("b").combine_chunks().to_numpy(zero_copy_only=False)
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(a_np.tolist(), b_np.tolist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min-id root: the label
    nodes = list(parent)
    tbl = pa.table(
        {
            "id": pa.array(nodes, pa.int64()),
            "cluster": pa.array([find(n) for n in nodes], pa.int64()),
        }
    )
    return spark.createDataFrame(tbl)


def duplicate_clusters(pairs: DataFrame, max_iters: int = 25) -> DataFrame:
    """Connected components over a near-dup pair graph: (id, cluster)
    where ``cluster`` is the minimum id reachable from ``id`` — the
    standard "pick one representative per duplicate group" step that
    turns pairwise matches into keep/drop decisions.

    Algorithm: min-label propagation WITH pointer jumping (path
    doubling). Each round every node (1) takes the min label over its
    closed neighborhood, then (2) shortcuts through its label's own
    label — ``label(v) ← label(label(v))``. Propagation alone moves the
    component minimum one hop per round (O(diameter) rounds — dozens on
    the boilerplate chains sliding-window shingling produces); the jump
    roughly doubles every node's progress toward the root each round, so
    convergence is O(log n) even on a pure path graph (a 1000-node chain
    converges in ≤ 11 rounds; tested in tests/test_pipeline_ops.py).

    Invariant kept by both steps: a node's label is always the id of a
    smaller-or-equal node in its own component, and labels only decrease
    — the fixpoint (no label changed) is exactly label = component min.
    Costs per round: three shuffles on 8-byte ids (neighbor-min groupBy,
    its join back, the jump join); documents never move. Each round
    materializes via ``localCheckpoint`` (truncates lineage) with the
    changed-flag folded into the frame, so the convergence probe is a
    ``limit(1)`` scan over already-materialized rows, not a second
    recompute of the round.

    Raises ``RuntimeError`` if ``max_iters`` rounds pass without
    convergence — silently returning partial labels (the pre-r3
    behavior) mislabels long chains with no signal.
    """
    edges = pairs.select(
        F.col("a").cast("bigint").alias("a"), F.col("b").cast("bigint").alias("b")
    )
    # Materialize the edge list ONCE before iterating: every round joins
    # against ``und``, and without this checkpoint each round re-executes
    # the caller's entire pair-generation lineage (LSH banding, exact
    # cosine verify, ...) — O(rounds × candidate-generation) instead of
    # O(rounds × |edges|). At corpus scale the pair generation dwarfs the
    # label propagation, so the cut is mandatory, not a cache nicety
    # (measured: the exact-cosine semantic-dedup chain dropped ~20x).
    und = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    # Small-graph fast path: every propagation round costs three
    # shuffles, a localCheckpoint, and a convergence probe — fixed
    # stage overhead that dwarfs the work when the (already
    # materialized) edge list is small (measured ~9s of an ~10s
    # semantic-dedup chain at sf0.1). Under the cap the driver runs
    # union-find over the collected edges instead (same components and
    # min-id labels); the collect reads checkpointed blocks, not the
    # caller's lineage.
    rows = fastpath.collect_at_most("duplicate_clusters.rows", und)
    if rows is not None:
        return _clusters_driver_union_find(und.sparkSession, rows)
    labels = (
        und.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    if not labels.take(1):
        return labels.select("id", F.col("label").alias("cluster"))
    converged = False
    for _ in range(max_iters):
        nbr = (
            und.join(labels, und["b"] == labels["id"])
            .groupBy("a")
            .agg(F.min("label").alias("nlabel"))
        )
        prop = labels.join(nbr, labels["id"] == nbr["a"], "left").select(
            labels["id"],
            F.least(
                labels["label"], F.coalesce(nbr["nlabel"], labels["label"])
            ).alias("plabel"),
            labels["label"].alias("_old"),
        )
        # pointer jump: label(v) <- label(label(v)). Every label is some
        # node's id (min over seen ids), so the mapping join always hits.
        jump = prop.select(
            F.col("id").alias("plabel"), F.col("plabel").alias("jlabel")
        )
        new = (
            prop.join(jump, "plabel", "left")
            .select(
                "id",
                F.coalesce("jlabel", "plabel").alias("label"),
                (F.coalesce("jlabel", "plabel") != F.col("_old")).alias(
                    "_changed"
                ),
            )
            .localCheckpoint()
        )
        labels = new.drop("_changed")
        if not new.where("_changed").take(1):
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iters} rounds; "
            "the pair graph has a component needing more label-doubling "
            "rounds than expected (raise max_iters)"
        )
    return labels.select(F.col("id"), F.col("label").alias("cluster"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int = 1
) -> DataFrame:
    """(id, simhash bigint): 64-bit SimHash over whitespace tokens,
    vectorized (token hash bits vote ±1, sign of the per-bit sum).
    ``shingle_k > 1`` votes over k-token shingle hashes instead
    (order-sensitive, multiplicity preserved — same combine as the
    minhash shingle path).

    Rows with no votes — zero tokens, or fewer than ``shingle_k``
    tokens when shingling — are DROPPED, not emitted as sig=0: every
    such doc would share the all-zero signature and collide in every
    band downstream (a quadratic join of meaningless pairs). Same
    no-shingles policy as :func:`minhash_band_rows` and the portable
    variant (whose groupBy produces no row for them)."""

    def fn(batches):
        shifts = np.arange(64, dtype=np.uint64)
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            if len(ids) == 0:
                continue
            h, offsets = _tokenize_batch(batch.column(1))
            if shingle_k > 1:
                h, offsets = _shingle_hashes(h, offsets, shingle_k)
            counts = np.diff(offsets)
            nonempty = counts > 0
            if not (len(h) and nonempty.any()):
                continue
            bits = ((h[:, None] >> shifts) & np.uint64(1)).astype(np.int32)
            votes = np.add.reduceat(2 * bits - 1, offsets[:-1][nonempty], axis=0)
            bitvals = (votes > 0).astype(np.uint64)
            sig = (bitvals << shifts).sum(axis=1, dtype=np.uint64)
            yield pa.RecordBatch.from_pydict(
                {
                    "id": pa.array(ids[nonempty], pa.int64()),
                    "simhash": pa.array(sig.view(np.int64), pa.int64()),
                }
            )

    return df.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(text_col).alias("t")
    ).mapInArrow(fn, "id bigint, simhash bigint")


def simhash_signatures_portable(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int = 1
) -> DataFrame:
    """(id, hi bigint, lo bigint): 64-bit SimHash as two 32-bit halves,
    built ENTIRELY from JVM expressions over ``md5`` — no Python anywhere,
    and bit-for-bit reproducible in any engine with md5 (DuckDB oracle in
    ``__spark_entry__``). Per-token hash = first/second 8 hex chars of
    md5; bit j of a half is 1 iff more than half the tokens (with
    multiplicity) have that hash bit set (ties -> 0). ``shingle_k > 1``
    hashes k-token shingle STRINGS ('a b c') instead of single tokens —
    order-sensitive and still engine-portable.

    This is the *portable contract* variant; ``simhash_signatures`` (the
    murmur mapInArrow kernel) is the single-pass throughput path for
    100 TB runs — same banding/verify machinery downstream."""
    # explode keeps multiplicity: repeated tokens and shingles vote
    # repeatedly, as in the murmur kernel
    toks = df.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.explode(ws_grams(F.col(text_col), shingle_k)).alias("tok"),
    )
    hashed = toks.select(
        "id",
        F.expr("cast(conv(substring(md5(tok),1,8),16,10) as bigint)").alias("hi"),
        F.expr("cast(conv(substring(md5(tok),9,8),16,10) as bigint)").alias("lo"),
    )
    aggs = [F.count("*").alias("n")]
    for j in range(32):
        aggs.append(
            F.sum(F.shiftright("hi", j).bitwiseAND(F.lit(1))).alias(f"h{j}")
        )
        aggs.append(
            F.sum(F.shiftright("lo", j).bitwiseAND(F.lit(1))).alias(f"l{j}")
        )
    per = hashed.groupBy("id").agg(*aggs)

    def sig(prefix: str):
        terms = [
            F.when(
                2 * F.col(f"{prefix}{j}") > F.col("n"), F.lit(1 << j)
            ).otherwise(F.lit(0))
            for j in range(32)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out.cast("bigint")

    return per.select("id", sig("h").alias("hi"), sig("l").alias("lo"))


def _simhash_pairs(
    sigs: DataFrame, max_hamming: int, max_bucket: int | None, oversize_mode: str
) -> DataFrame:
    """(a, b, hamming) from (id, simhash bigint) signatures: the four
    16-bit bands, :func:`lsh_candidate_pairs` and the Hamming verify
    both SimHash pair functions run."""
    if max_hamming > 3:
        raise ValueError("4-band pigeonhole guarantees recall only up to 3")
    bands = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("simhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bh"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("e"),
    ).select("id", "e.band", "e.bh")
    cands = lsh_candidate_pairs(
        bands, max_bucket=max_bucket, oversize_mode=oversize_mode, n_bands=4
    )
    sa = sigs.select(F.col("id").alias("a"), F.col("simhash").alias("_sa"))
    sb = sigs.select(F.col("id").alias("b"), F.col("simhash").alias("_sb"))
    return (
        cands.join(sa, "a")
        .join(sb, "b")
        .select("a", "b", F.expr("bit_count(_sa ^ _sb)").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_near_dup_pairs_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket: int | None = 4096,
    oversize_mode: str = "star",
    shingle_k: int = 1,
) -> DataFrame:
    """Near-dup pairs from the portable md5 SimHash: the same banding,
    hot-bucket guard and Hamming verify as :func:`simhash_near_dup_pairs`
    over the signature ``(hi << 32) | lo``. The default
    ``max_bucket=4096`` keeps the hot-bucket guard (a boilerplate corpus
    can put thousands of template docs into one (band, bh) bucket — an
    unbounded quadratic self-join without it); inside over-cap buckets
    pair recall follows ``oversize_mode`` rather than being total. Pass
    ``max_bucket=None`` for the unconditional pigeonhole guarantee — the
    all-pairs SQL oracle queries do exactly that."""
    sigs = simhash_signatures_portable(df, id_col, text_col, shingle_k)
    sigs = sigs.select(
        "id", F.shiftleft("hi", 32).bitwiseOR(F.col("lo")).alias("simhash")
    )
    return _simhash_pairs(sigs, max_hamming, max_bucket, oversize_mode)


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket: int | None = 4096,
    oversize_mode: str = "star",
    shingle_k: int = 1,
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share one of four 16-bit
    bands (pigeonhole: any pair within Hamming distance 3 shares at least
    one intact band), verified with ``bit_count(a ^ b) <= max_hamming``
    entirely JVM-side.

    Zero-token docs are dropped (every empty doc hashes to sig=0, so they
    would all collide in every band — a quadratic join of meaningless
    "empty ~ empty" pairs; same policy as the minhash path); NULL texts
    have no tokens and are dropped with them. With ``shingle_k > 1``,
    docs with fewer than ``shingle_k`` tokens yield no shingles and are
    dropped too (the kernel emits no row for vote-less docs), so
    unrelated short docs cannot alias as sig=0 "exact" near-dups. The
    band self-join routes through :func:`lsh_candidate_pairs`, so the
    minhash hot-bucket guard applies here too (boilerplate corpora put
    thousands of template docs in one simhash band bucket) — note the
    default ``max_bucket=4096`` means pair recall inside buckets beyond
    the cap follows the ``oversize_mode`` policy rather than being total;
    pass ``max_bucket=None`` for unconditional pigeonhole recall."""
    sigs = simhash_signatures(df, id_col, text_col, shingle_k)
    return _simhash_pairs(sigs, max_hamming, max_bucket, oversize_mode)


# ---------------------------------------------------------------------------
# Containment (substring-level) dedup
# ---------------------------------------------------------------------------


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram: int = 8,
    keep: int = 64,
    threshold: float = 0.8,
    max_fp_docs: int | None = 4096,
    portable: bool = False,
    right: DataFrame | None = None,
    denom: str = "min",
) -> DataFrame:
    """Containment-level near-dup pairs — the dedup family token-set
    Jaccard structurally misses: doc A pasted inside a 3× larger doc B
    has Jaccard ≈ |A|/|B| (never trips a 0.8 threshold) but containment
    ≈ 1. The standard boilerplate / quoted-reply / template-wrapper
    shape in web corpora (Lee et al. 2021's motivation for substring-
    level dedup).

    Construction: winnowing fingerprints (min-``keep`` hashes of char
    ``gram``-grams per doc, :func:`~sprout_spark.functions.text.
    document_fingerprints`; the md5 ``portable=True`` variant is the
    exact-DuckDB-oracle contract) → inverted-index join on the 8-byte fp
    (the ONLY shuffle moves (fp, id) rows — same shape as the
    ``fingerprint_shared`` query) → per-pair shared-fp count over the
    ``denom`` count. Containment here is EXACT over the winnowed
    fingerprint sets; it equals true gram-containment whenever ``keep``
    covers a doc's distinct gram population (size ``keep`` for your
    p99 doc length for substring semantics; smaller ``keep`` keeps the
    cost-bounded proxy, biased low for very unequal lengths).

    ``right=None`` pairs ``df`` with itself (``a < b``); with ``right``
    it is the cross form (``a`` from ``df``, ``b`` from ``right``, ids
    need not be disjoint; both sides run the same fingerprint kernel).
    ``denom="min"`` (default) scores ``shared / min(nfp_a, nfp_b)``, the
    symmetric convention and the self form's only one; in the cross
    form ``"left"`` scores ``shared / nfp_a``, the fraction of ``a``'s
    fingerprints found in ``b`` — decontamination at CONTAINMENT level
    ("how much of this eval item appears inside that training
    document?"; run the EVAL slice as ``df``).

    ``max_fp_docs`` is the hot-fp guard (same rationale as
    ``lsh_candidate_pairs``): site-wide boilerplate fingerprints would
    fan the join out quadratically, so the self form drops a fingerprint
    present in more than that many docs and the cross form one whose
    ``nl*nr`` product (left docs × right docs) exceeds it. It is dropped
    from the JOIN, never from the per-doc ``nfp`` denominators, which
    are counted first; recall inside such grams is traded for a bounded
    join, pass ``None`` for the exact oracle contract.

    Output: (a, b, shared, nfp_a, nfp_b, containment) with
    ``containment >= threshold``. The self form adds ``trim``, the doc
    the keep/trim policy drops — the one with FEWER fingerprints (the
    contained side), ties dropping ``b`` (first-seen wins).
    """
    if denom not in ("left", "min"):
        raise ValueError(f"denom must be 'left' or 'min', got {denom!r}")
    if right is None and denom != "min":
        raise ValueError("the self form scores over min(nfp_a, nfp_b) only; "
                         "denom='left' needs right")
    from ..functions.text import (
        document_fingerprints,
        document_fingerprints_portable,
    )

    fn = document_fingerprints_portable if portable else document_fingerprints

    def fingerprints(docs: DataFrame) -> DataFrame:
        # materialize each fingerprint table ONCE (eager RDD checkpoint,
        # same pattern as ann_ivf_topk_batch): it feeds its size
        # aggregate, the hot-fp count and the join sides, and the kernel
        # is opaque to Catalyst — without this the corpus would be
        # re-scanned and re-fingerprinted per consumer. Blocks are
        # ContextCleaner-managed: freed when the result is dropped.
        return fn(docs, id_col, text_col, gram, keep).distinct().localCheckpoint(
            eager=True
        )

    def count(fps: DataFrame, key: str, name: str) -> DataFrame:
        return fps.groupBy(key).agg(F.count("*").alias(name))

    lf = fingerprints(df)
    rf = lf if right is None else fingerprints(right)
    sl = count(lf, "id", "nfp")
    sr = sl if right is None else count(rf, "id", "nfp")
    if max_fp_docs is not None:
        if right is None:
            hot = count(lf, "fp", "_nd").where(F.col("_nd") > int(max_fp_docs))
        else:
            hot = count(lf, "fp", "_nl").join(count(rf, "fp", "_nr"), "fp")
            hot = hot.where(F.col("_nl") * F.col("_nr") > int(max_fp_docs))
        hot = hot.select("fp")
        lf = lf.join(hot, "fp", "left_anti")
        rf = lf if right is None else rf.join(hot, "fp", "left_anti")
    shared = lf.select(F.col("id").alias("a"), "fp").join(
        rf.select(F.col("id").alias("b"), "fp"), "fp"
    )
    if right is None:
        shared = shared.where(F.col("a") < F.col("b"))
    shared = shared.groupBy("a", "b").agg(F.count("*").alias("shared"))
    sa = sl.select(F.col("id").alias("a"), F.col("nfp").alias("nfp_a"))
    sb = sr.select(F.col("id").alias("b"), F.col("nfp").alias("nfp_b"))
    denom_col = (
        F.col("nfp_a") if denom == "left" else F.least("nfp_a", "nfp_b")
    )
    out = (
        shared.join(sa, "a")
        .join(sb, "b")
        .withColumn("containment", (F.col("shared") / denom_col).cast("double"))
        .where(F.col("containment") >= float(threshold))
    )
    cols = ["a", "b", "shared", "nfp_a", "nfp_b", "containment"]
    if right is None:
        out = out.withColumn(
            "trim",
            F.when(F.col("nfp_a") < F.col("nfp_b"), F.col("a")).otherwise(
                F.col("b")
            ),
        )
        cols.append("trim")
    return out.select(*cols)


def _without_ids(df: DataFrame, id_col: str, ids: DataFrame) -> DataFrame:
    """``df`` minus the rows whose bigint id is in the one-column ``ids``."""
    ids = ids.toDF("_drop_id").distinct()
    return df.join(
        ids, df[id_col].cast("bigint") == ids["_drop_id"], "left_anti"
    )


def drop_contained(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram: int = 8,
    keep: int = 64,
    threshold: float = 0.8,
    max_fp_docs: int | None = 4096,
    portable: bool = False,
) -> DataFrame:
    """Apply :func:`containment_pairs`' keep/trim policy: the input
    minus every doc some pair trimmed (the contained/smaller side; a
    doc that is both a keeper in one pair and trimmed in another still
    drops — containment chains collapse toward the largest docs).
    One anti-join on the bigint id; all other columns pass through."""
    pairs = containment_pairs(
        df, id_col, text_col, gram, keep, threshold, max_fp_docs, portable
    )
    return _without_ids(df, id_col, pairs.select("trim"))


def containment_pairs_between(
    left: DataFrame, right: DataFrame, id_col: str, text_col: str,
    gram: int = 8, keep: int = 64, threshold: float = 0.8,
    max_fp_pairs: int | None = 4096, portable: bool = False,
    denom: str = "left",
) -> DataFrame:
    """Cross-corpus :func:`containment_pairs` (a=left id, b=right id),
    scored by default over the LEFT doc's fingerprints — the
    decontamination coverage question; run the EVAL slice as ``left``.
    ``max_fp_pairs`` caps a fingerprint's nl·nr product."""
    return containment_pairs(
        left, id_col, text_col, gram, keep, threshold, max_fp_pairs,
        portable, right=right, denom=denom,
    )


def drop_contaminated(
    train: DataFrame,
    evals: DataFrame,
    id_col: str,
    text_col: str,
    gram: int = 8,
    keep: int = 64,
    threshold: float = 0.8,
    max_fp_pairs: int | None = 4096,
    portable: bool = False,
) -> DataFrame:
    """The decontamination DECISION: remove every training document that
    CONTAINS eval material — any train doc on the right side of a
    cross-form :func:`containment_pairs` pair at ``containment >=
    threshold`` (left-denominator coverage: the fraction of the eval
    item's fingerprints found in the train doc) drops. One anti-join on
    the bigint id; all other train columns pass through. This is the
    policy step after scoring — the cross-table analogue of
    :func:`drop_contained`."""
    pairs = containment_pairs(
        evals, id_col, text_col, gram, keep, threshold, max_fp_pairs,
        portable, right=train, denom="left",
    )
    return _without_ids(train, id_col, pairs.select("b"))


def near_dup_pairs_between(
    left: DataFrame, right: DataFrame, id_col: str, text_col: str,
    threshold: float = 0.8, n_hashes: int = 128, band_r: int = 4,
    max_bucket: int | None = 4096, oversize_mode: str = "star",
    shingle_k: int = 1,
) -> DataFrame:
    """Cross-corpus :func:`near_dup_pairs`: (a, b, jaccard) with ``a``
    from LEFT and ``b`` from RIGHT; ``max_bucket`` caps a bucket's nl·nr
    product."""
    return near_dup_pairs(
        left, id_col, text_col, threshold, n_hashes, band_r, max_bucket,
        oversize_mode, shingle_k, right=right,
    )


def resolve_duplicates(
    df: DataFrame,
    id_col: str,
    clusters: DataFrame,
    quality_col: str,
    tie_col: str | None = None,
) -> DataFrame:
    """Keep ONE survivor per duplicate cluster — the standard resolution
    step after :func:`duplicate_clusters`: within each cluster the
    highest-``quality_col`` member survives (NULL quality sorts last;
    ties break on ``tie_col``, default ``id_col``, ascending — fully
    deterministic, so a re-run keeps the same documents). Documents
    absent from ``clusters`` are singletons and always survive. Returns
    the surviving rows of ``df`` with all columns intact.

    Plan: one equality join on the id (broadcast when the assignment
    table is small — Catalyst/AQE decides) + one window shuffle on the
    cluster label; the window's per-group work is a top-1, which Spark
    runs as a map-side WindowGroupLimit before the exchange, so the
    shuffle carries one candidate row per (cluster, partition), not the
    corpus.
    """
    if "id" not in clusters.columns or "cluster" not in clusters.columns:
        raise ValueError("clusters must have (id, cluster) columns")
    tie = tie_col or id_col
    for tmp in ("__grp", "__rn", "__cl_id", "__cl"):
        if tmp in df.columns:
            raise ValueError(f"reserved column name {tmp!r} in input")
    cl = clusters.select(
        F.col("id").alias("__cl_id"), F.col("cluster").alias("__cl")
    )
    joined = df.join(cl, df[id_col] == cl["__cl_id"], "left").withColumn(
        "__grp",
        F.coalesce(F.col("__cl"), F.col(id_col).cast(cl.schema["__cl"].dataType)),
    )
    w = Window.partitionBy("__grp").orderBy(
        F.col(quality_col).desc_nulls_last(), F.col(tie).asc()
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(*df.columns)
    )
