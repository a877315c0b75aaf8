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

from ..hashing import murmur3_64_packed, pack_arrow

# deterministic universal-hash family for minhash: g_i(h) = a_i*h + b_i
_MINHASH_SEED = 0x5EED
_MAX_HASHES = 512
_rng = np.random.RandomState(_MINHASH_SEED)
_A = (_rng.randint(1, 2**62, _MAX_HASHES).astype(np.uint64) << np.uint64(1)) | np.uint64(1)
_B = _rng.randint(0, 2**63, _MAX_HASHES).astype(np.uint64)


def _tokenize_batch(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Whitespace-tokenize an Arrow string array entirely in Arrow/numpy.

    Returns (token_hashes uint64 flat, row_offsets int64 (n+1,)) where
    tokens of row i occupy hashes[offsets[i]:offsets[i+1]].
    """
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    toks = pc.split_pattern_regex(pc.coalesce(arr, ""), r"\s+")
    if isinstance(toks, pa.ChunkedArray):
        toks = toks.combine_chunks()
    flat = toks.flatten()
    offsets = np.asarray(toks.offsets, dtype=np.int64)
    offsets = offsets - offsets[0]
    counts = np.diff(offsets)
    mat, lens = pack_arrow(flat)
    h = murmur3_64_packed(mat, lens, 0)
    keep = lens > 0
    if not keep.all():
        # drop empty tokens (leading/trailing whitespace artifacts) and
        # remap the per-row offsets accordingly
        h = h[keep]
        seg = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
        kept_counts = np.bincount(seg[keep], minlength=len(counts))
        offsets = np.concatenate([[0], np.cumsum(kept_counts)]).astype(np.int64)
    return h, offsets


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


def minhash_band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 128,
    band_r: int = 4,
    shingle_k: int = 1,
) -> DataFrame:
    """One ``mapInArrow`` pass: text → tokens → (optional word-k-gram
    shingles) → minhash signature → band hashes. Output: (id bigint,
    band int, bh bigint) — one row per band.

    ``shingle_k > 1`` minhashes the set of k-token SHINGLES instead of
    the token set — the standard near-dup construction for natural text
    (token-set Jaccard ignores word order and length; shingle Jaccard
    does not). Docs with fewer than ``shingle_k`` tokens drop (no
    shingles → never a candidate), consistent with the zero-token
    policy below.
    """
    if n_hashes > _MAX_HASHES:
        raise ValueError(f"n_hashes must be <= {_MAX_HASHES}")
    if n_hashes % band_r:
        raise ValueError("band_r must divide n_hashes")
    if shingle_k < 1:
        raise ValueError("shingle_k must be >= 1")
    n_bands = n_hashes // band_r

    def fn(batches):
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            arr = batch.column(1)
            if len(ids) == 0:
                continue
            h, offsets = _tokenize_batch(arr)
            if shingle_k > 1:
                h, offsets = _shingle_hashes(h, offsets, shingle_k)
            nonempty = np.diff(offsets) > 0
            if not nonempty.any():
                continue
            # zero-token docs are dropped entirely: an all-sentinel
            # signature would collide every such doc in every bucket
            # (quadratic candidate blowup) and "empty ~ empty" is not a
            # meaningful near-dup claim
            ids = ids[nonempty]
            n = len(ids)
            sig = np.empty((n, n_hashes), dtype=np.uint64)
            starts = offsets[:-1][nonempty]
            for i in range(n_hashes):
                g = _A[i] * h + _B[i]
                sig[:, i] = np.minimum.reduceat(g, starts)
            # band hash: murmur over the r consecutive 8-byte lanes
            band_mat = (
                np.ascontiguousarray(sig)
                .view(np.uint8)
                .reshape(n * n_bands, band_r * 8)
            )
            if band_r * 8 < 16:
                # packed-hash contract needs width >= 16; band_r=1 is
                # only 8 wide and crashed the tail path. lens carry the
                # true byte count so the padding never hashes.
                padded = np.zeros((n * n_bands, 16), dtype=np.uint8)
                padded[:, : band_r * 8] = band_mat
                band_mat = padded
            lens = np.full(n * n_bands, band_r * 8, dtype=np.int64)
            bh = murmur3_64_packed(band_mat, lens, 7).astype(np.int64)
            yield pa.RecordBatch.from_pydict(
                {
                    "id": pa.array(np.repeat(ids, n_bands), pa.int64()),
                    "band": pa.array(
                        np.tile(np.arange(n_bands, dtype=np.int32), n), pa.int32()
                    ),
                    "bh": pa.array(bh, pa.int64()),
                }
            )

    return df.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(text_col).alias("t")
    ).mapInArrow(fn, "id bigint, band int, bh bigint")


def lsh_candidate_pairs(
    band_rows: DataFrame,
    max_bucket: int | None = 4096,
    oversize_mode: str = "star",
    n_bands: int | None = None,
) -> DataFrame:
    """Self-join within (band, bh) buckets → distinct candidate (a, b) pairs.

    The join key is the 12-byte band row, so the shuffle is tiny no matter
    how large the documents are.

    Hot-bucket guard: boilerplate-heavy corpora (the common 100-TB case —
    identical headers/footers) put every copy of the template in the SAME
    bucket in EVERY band, and an unguarded self-join on a 10^4-row bucket
    emits ~10^8 pairs before verification. Buckets larger than
    ``max_bucket`` therefore skip the all-pairs join:

    * ``oversize_mode="star"`` (default) emits (bucket-min id, member)
      pairs — O(n) per bucket, and every member stays connected to the
      bucket representative, so after the exact-Jaccard verify
      ``duplicate_clusters`` still groups true duplicate sets (a
      boilerplate bucket is one clique; the star spans it). What is
      traded away is all-pairs *pair-level* recall inside a *mixed*
      oversized bucket (members similar to each other but not to the
      representative) — acceptable for dedup, where connectivity is what
      matters. ``max_bucket=None`` disables the guard.
    * ``oversize_mode="drop"`` discards oversized buckets entirely (the
      conservative "skip boilerplate" policy some pipelines want).
    * ``oversize_mode="split"`` re-partitions each oversized bucket by a
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

    The guard is declarative (one window over the same (band, bh) key the
    join shuffles on — no extra action, no driver round-trip, except
    split's optional n_bands probe); use ``lsh_bucket_stats`` to monitor
    how often it fires.
    """
    if max_bucket is None:
        left = band_rows.alias("l")
        right = band_rows.alias("r")
        return (
            left.join(right, ["band", "bh"])
            .where(F.col("l.id") < F.col("r.id"))
            .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
            .distinct()
        )
    if oversize_mode not in ("star", "drop", "split"):
        raise ValueError("oversize_mode must be 'star', 'drop', or 'split'")
    from pyspark.sql.window import Window

    w = Window.partitionBy("band", "bh")
    sized = band_rows.withColumn("_n", F.count("*").over(w)).withColumn(
        "_min", F.min("id").over(w)
    )
    small = sized.where(F.col("_n") <= max_bucket).select("id", "band", "bh")
    l, r = small.alias("l"), small.alias("r")
    pairs = (
        l.join(r, ["band", "bh"])
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
    )
    if oversize_mode == "star":
        star = (
            sized.where((F.col("_n") > max_bucket) & (F.col("id") != F.col("_min")))
            .select(F.col("_min").alias("a"), F.col("id").alias("b"))
        )
        pairs = pairs.union(star)
    elif oversize_mode == "split":
        if n_bands is None:
            mx = band_rows.agg(F.max("band")).collect()[0][0]
            if mx is None:  # empty band_rows: nothing oversized to split
                return pairs.distinct()
            n_bands = mx + 1
        over = sized.where(F.col("_n") > max_bucket).select("id", "band", "bh")
        lane = band_rows.select(
            "id", F.col("band").alias("_ab"), F.col("bh").alias("_sub")
        )
        over = (
            over.withColumn(
                "_ab", (F.col("band") + F.lit(1)) % F.lit(int(n_bands))
            )
            .join(lane, ["id", "_ab"])
            .drop("_ab")
        )
        w2 = Window.partitionBy("band", "bh", "_sub")
        sized2 = over.withColumn("_n2", F.count("*").over(w2)).withColumn(
            "_min2", F.min("id").over(w2)
        )
        small2 = sized2.where(F.col("_n2") <= max_bucket).select(
            "id", "band", "bh", "_sub"
        )
        l2, r2 = small2.alias("l"), small2.alias("r")
        sub_pairs = (
            l2.join(r2, ["band", "bh", "_sub"])
            .where(F.col("l.id") < F.col("r.id"))
            .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        )
        star2 = (
            sized2.where(
                (F.col("_n2") > max_bucket) & (F.col("id") != F.col("_min2"))
            )
            .select(F.col("_min2").alias("a"), F.col("id").alias("b"))
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
    return df.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.array_remove(
            F.array_distinct(F.split(F.col(text_col), r"\s+")), ""
        ).alias("tokens"),
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, tokens array<string>) with DISTINCT word-k-gram shingles,
    pure JVM (``transform(sequence)`` windows joined by single spaces) —
    the exact-verify companion to ``minhash_band_rows(shingle_k=k)``.
    Docs with fewer than k tokens get an empty array."""
    t = F.regexp_replace(F.col(text_col), r"^\s+|\s+$", "")
    toks = F.when(F.length(t) == 0, F.array()).otherwise(F.split(t, r"\s+"))
    n = F.size(toks)
    grams = F.when(n < k, F.array()).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )
    )
    return df.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.array_distinct(grams).alias("tokens"),
    )


# Above this many docs per side the token tables stop being broadcast
# material and the verify joins run as before; below it the whole verify
# runs against two broadcast code tables (guide §8: the candidate pairs
# are the small rows, the token arrays are the heavy bytes the join
# would duplicate once per pair).
_VERIFY_BROADCAST_MAX_DOCS = 1 << 17


def _encode_token_side(tbl) -> tuple | None:
    """(ids int64, flat_tokens StringArray, offsets int64) for one token
    table, nulls dropped like the verify join drops them; None when the
    shape disqualifies the broadcast path (duplicate ids, NULL tokens
    inside arrays — rare public-API edges that keep JVM semantics)."""
    import pyarrow.compute as pc

    valid = pc.is_valid(tbl.column("tokens"))
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


def _verify_jaccard_broadcast(
    candidates: DataFrame, ta: DataFrame, tb: DataFrame, threshold: float
):
    """Exact Jaccard over broadcast dictionary-encoded token SETS: only
    the 16-byte candidate pairs cross the Python boundary; per-pair
    intersection sizes come from one global searchsorted over pair-major
    sorted code arrays (fully vectorized). Returns None when the inputs
    disqualify the path (caller falls back to the join plan).

    Exactness: dictionary encoding is injective, per-doc codes are
    deduplicated (array_intersect/array_union are set-semantic), and the
    final ``inter / union`` is the same int→double IEEE division the JVM
    expression performs — values are bit-identical."""
    import pyarrow.compute as pc

    same = ta is tb
    cap = _VERIFY_BROADCAST_MAX_DOCS
    # ONE bounded collect doubles as the size guard: limit(cap+1) keeps
    # driver memory bounded whatever the table size, and an over-cap
    # result falls back having paid one truncated pass instead of a
    # full count() + a second full collect
    atab = ta.limit(cap + 1).toArrow()
    if atab.num_rows > cap:
        return None
    btab = atab if same else tb.limit(cap + 1).toArrow()
    if btab.num_rows > cap:
        return None
    ea = _encode_token_side(atab)
    eb = ea if same else _encode_token_side(btab)
    if ea is None or eb is None:
        return None
    ids_a, flat_a, off_a = ea
    ids_b, flat_b, off_b = eb
    if same:
        enc = pc.dictionary_encode(flat_a)
        codes_a = codes_b = np.asarray(enc.indices.to_numpy(
            zero_copy_only=False), dtype=np.int64)
        vocab = len(enc.dictionary)
    else:
        combined = pa.chunked_array([flat_a, flat_b]).combine_chunks()
        enc = pc.dictionary_encode(combined)
        codes = np.asarray(
            enc.indices.to_numpy(zero_copy_only=False), dtype=np.int64
        )
        codes_a, codes_b = codes[: len(flat_a)], codes[len(flat_a):]
        vocab = len(enc.dictionary)

    def build(ids, codes, off):
        # per-doc sorted DISTINCT codes (set semantics) + id -> slice map
        n = len(ids)
        sets, starts, lens = [], np.empty(n, np.int64), np.empty(n, np.int64)
        pos = 0
        for i in range(n):
            u = np.unique(codes[off[i]:off[i + 1]])
            sets.append(u)
            starts[i], lens[i] = pos, len(u)
            pos += len(u)
        flat = (
            np.concatenate(sets) if sets else np.empty(0, np.int64)
        )
        index = {int(ids[i]): i for i in range(n)}
        return flat, starts, lens, index

    side_a = build(ids_a, codes_a, off_a)
    side_b = side_a if same else build(ids_b, codes_b, off_b)
    spark = candidates.sparkSession
    bc = spark.sparkContext.broadcast((side_a, side_b, int(vocab)))
    thr = float(threshold)

    def kernel(batches):
        (fa, sa, la, ixa), (fb, sb, lb, ixb), V = bc.value
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
            ra, rb = ra[ok], rb[ok]
            pa_ids, pb_ids = aa[ok], bb[ok]
            m = len(ra)
            lena, lenb = la[ra], lb[rb]
            pair = np.arange(m, dtype=np.int64)
            # pair-major gather of each side's sorted codes, offset by
            # pair*V so both arrays are globally sorted
            def gather(flat, starts, lens_):
                tot = int(lens_.sum())
                seg = np.repeat(pair, lens_)
                excl = np.concatenate(([0], np.cumsum(lens_)[:-1]))
                local = np.arange(tot, dtype=np.int64) - np.repeat(excl, lens_)
                vals = flat[np.repeat(starts, lens_) + local]
                return vals + seg * V, excl
            Aent, offA = gather(fa, sa[ra], lena)
            Bent, _ = gather(fb, sb[rb], lenb)
            if len(Aent) and len(Bent):
                idx = np.searchsorted(Bent, Aent)
                idx_c = np.minimum(idx, len(Bent) - 1)
                hits = (Bent[idx_c] == Aent) & (idx < len(Bent))
                inter = np.add.reduceat(
                    np.concatenate((hits, [False])),
                    np.minimum(offA, len(hits)),
                ).astype(np.int64)
                inter[lena == 0] = 0
            else:
                inter = np.zeros(m, np.int64)
            union = lena + lenb - inter
            with np.errstate(divide="ignore", invalid="ignore"):
                j = inter / union  # same int->double IEEE divide as JVM
            keep = j >= thr  # NaN (0/0) compares false, like the JVM
            if keep.any():
                yield pa.RecordBatch.from_pydict(
                    {
                        "a": pa.array(pa_ids[keep], pa.int64()),
                        "b": pa.array(pb_ids[keep], pa.int64()),
                        "jaccard": pa.array(j[keep], pa.float64()),
                    }
                )

    return candidates.select(
        F.col("a").cast("bigint"), F.col("b").cast("bigint")
    ).mapInArrow(kernel, "a bigint, b bigint, jaccard double")


def verify_jaccard(
    candidates: DataFrame, tokens: DataFrame, threshold: float
) -> DataFrame:
    """Exact token-set Jaccard on candidate pairs.

    Fast path (bounded side): the token table dictionary-encodes and
    broadcasts ONCE, and only 16-byte candidate pairs reach the verify
    kernel — the join plan below would re-ship both token arrays per
    candidate pair (measured 6.3s of a 6.1s near-dup total at sf0.1,
    where boilerplate makes candidates ~150x the doc count). Beyond
    ``_VERIFY_BROADCAST_MAX_DOCS`` docs the original join plan runs:
    candidate pairs are few at sane thresholds; the token arrays join by
    id (shuffle on the 8-byte id only). Results are identical."""
    fast = _verify_jaccard_broadcast(candidates, tokens, tokens, threshold)
    if fast is not None:
        return fast
    ta = tokens.select(F.col("id").alias("a"), F.col("tokens").alias("ta"))
    tb = tokens.select(F.col("id").alias("b"), F.col("tokens").alias("tb"))
    return (
        candidates.join(ta, "a")
        .join(tb, "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("ta", "tb"))
            / F.size(F.array_union("ta", "tb")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


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
    """
    # strip ALL whitespace (trim only covers ASCII spaces — tab/newline-only
    # docs must not slip through)
    nonempty = df.where(
        F.length(F.regexp_replace(F.col(text_col), r"\s", "")) > 0
    )
    bands = minhash_band_rows(
        nonempty, id_col, text_col, n_hashes, band_r, shingle_k
    )
    cands = lsh_candidate_pairs(
        bands, max_bucket, oversize_mode, n_bands=n_hashes // band_r
    )
    toks = (
        token_sets(nonempty, id_col, text_col)
        if shingle_k == 1
        else shingle_sets(nonempty, id_col, text_col, shingle_k)
    )
    return verify_jaccard(cands, toks, threshold)


def exact_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float,
    shingle_k: int = 1,
) -> DataFrame:
    """Exact all-pairs token (or k-shingle) Jaccard via inverted-index
    join (oracle for the LSH path; O(sum of posting-list^2) — small
    data only)."""
    toks = (
        token_sets(df, id_col, text_col)
        if shingle_k == 1
        else shingle_sets(df, id_col, text_col, shingle_k)
    ).where(F.size("tokens") > 0)
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


_CLUSTERS_DRIVER_MAX_EDGES = 1_000_000


def _clusters_driver_union_find(spark, rows) -> DataFrame:
    """Driver-side connected components over a bounded, collected (a, b)
    edge table: path-compressed union-find, then one pass mapping every
    node to its component's minimum id — exactly the fixpoint the
    distributed label propagation converges to."""
    import pyarrow as _pa

    a_np = rows.column("a").combine_chunks().to_numpy(zero_copy_only=False)
    b_np = rows.column("b").combine_chunks().to_numpy(zero_copy_only=False)
    pairs_iter = zip(a_np.tolist(), b_np.tolist())
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs_iter:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min-id root: the label
    out_a, out_c = [], []
    for node in parent:
        out_a.append(node)
        out_c.append(find(node))
    tbl = _pa.table(
        {
            "id": _pa.array(out_a, _pa.int64()),
            "cluster": _pa.array(out_c, _pa.int64()),
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
    # semantic-dedup chain at sf0.1). Up to ~1M undirected edges the
    # driver runs union-find over the collected list instead —
    # components (and the min-id cluster label) are identical by
    # construction; beyond the cap the distributed rounds run as
    # before. One bounded collect is both the size guard and the
    # union-find input (limit(cap+1): one job decides the path, driver
    # memory stays bounded, and an over-cap graph pays one truncated
    # pass); it reads checkpointed blocks, not the caller's lineage.
    cap = 2 * _CLUSTERS_DRIVER_MAX_EDGES
    rows = und.limit(cap + 1).toArrow()
    if rows.num_rows <= cap:
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
    if shingle_k == 1:
        toks = df.select(
            F.col(id_col).cast("bigint").alias("id"),
            F.explode(F.split(F.col(text_col), r"\s+")).alias("tok"),
        ).where(F.col("tok") != "")
    else:
        t = F.regexp_replace(F.col(text_col), r"^\s+|\s+$", "")
        arr = F.when(F.length(t) == 0, F.array()).otherwise(F.split(t, r"\s+"))
        n = F.size(arr)
        grams = F.when(n < shingle_k, F.array()).otherwise(
            F.transform(
                F.sequence(F.lit(1), n - (shingle_k - 1)),
                lambda i: F.concat_ws(" ", F.slice(arr, i, shingle_k)),
            )
        )
        # explode keeps multiplicity: repeated shingles vote repeatedly,
        # matching the unigram variant's semantics
        toks = df.select(
            F.col(id_col).cast("bigint").alias("id"),
            F.explode(grams).alias("tok"),
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


def simhash_near_dup_pairs_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket: int | None = 4096,
    oversize_mode: str = "star",
    shingle_k: int = 1,
) -> DataFrame:
    """Near-dup pairs from the portable md5 SimHash: candidates share one
    of four 16-bit bands (pigeonhole => total recall at hamming<=3), then
    exact Hamming verify, all JVM-side. The default ``max_bucket=4096``
    keeps the hot-bucket guard (a boilerplate corpus can put thousands of
    template docs into one (band, bh) bucket — an unbounded quadratic
    self-join without it); inside over-cap buckets pair recall follows
    ``oversize_mode`` rather than being total. Pass ``max_bucket=None``
    for the unconditional pigeonhole guarantee — the all-pairs SQL oracle
    queries do exactly that. The band self-join routes through
    :func:`lsh_candidate_pairs` either way."""
    if max_hamming > 3:
        raise ValueError("4-band pigeonhole guarantees recall only up to 3")
    sigs = simhash_signatures_portable(df, id_col, text_col, shingle_k)
    mask = F.lit(0xFFFF)
    bands = sigs.select(
        "id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"), F.col("hi").bitwiseAND(mask).alias("bh")),
                F.struct(F.lit(1).alias("band"), F.shiftright("hi", 16).bitwiseAND(mask).alias("bh")),
                F.struct(F.lit(2).alias("band"), F.col("lo").bitwiseAND(mask).alias("bh")),
                F.struct(F.lit(3).alias("band"), F.shiftright("lo", 16).bitwiseAND(mask).alias("bh")),
            )
        ).alias("e"),
    ).select("id", "e.band", "e.bh")
    cands = lsh_candidate_pairs(bands, max_bucket, oversize_mode, n_bands=4)
    sa = sigs.select(
        F.col("id").alias("a"), F.col("hi").alias("_ha"), F.col("lo").alias("_la")
    )
    sb = sigs.select(
        F.col("id").alias("b"), F.col("hi").alias("_hb"), F.col("lo").alias("_lb")
    )
    return (
        cands.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.expr("bit_count(_ha ^ _hb) + bit_count(_la ^ _lb)").alias(
                "hamming"
            ),
        )
        .where(F.col("hamming") <= max_hamming)
    )


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
    hash like empty ones and are dropped with them. With ``shingle_k >
    1``, docs with fewer than ``shingle_k`` tokens yield no shingles and
    are dropped too (the kernel emits no row for vote-less docs), so
    unrelated short docs cannot alias as sig=0 "exact" near-dups. The band self-join
    routes through :func:`lsh_candidate_pairs`, so the minhash hot-bucket
    guard applies here too (boilerplate corpora put thousands of template
    docs in one simhash band bucket) — note the default
    ``max_bucket=4096`` means pair recall inside buckets beyond the cap
    follows the ``oversize_mode`` policy rather than being total; pass
    ``max_bucket=None`` for unconditional pigeonhole recall."""
    if max_hamming > 3:
        raise ValueError("4-band pigeonhole guarantees recall only up to 3")
    nonempty = df.where(
        F.length(F.regexp_replace(F.col(text_col), r"\s", "")) > 0
    )
    sigs = simhash_signatures(nonempty, id_col, text_col, shingle_k)
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
    cands = lsh_candidate_pairs(bands, max_bucket, oversize_mode, n_bands=4)
    sa = sigs.select(F.col("id").alias("a"), F.col("simhash").alias("_sa"))
    sb = sigs.select(F.col("id").alias("b"), F.col("simhash").alias("_sb"))
    return (
        cands.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.expr("bit_count(_sa ^ _sb)").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


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
    exact-DuckDB-oracle contract) → inverted-index self-join on the
    8-byte fp (the ONLY shuffle moves (fp, id) rows — same shape as the
    ``fingerprint_shared`` query) → per-pair shared-fp count over
    ``min(nfp_a, nfp_b)``. Containment here is EXACT over the winnowed
    fingerprint sets; it equals true gram-containment whenever ``keep``
    covers a doc's distinct gram population (size ``keep`` for your
    p99 doc length for substring semantics; smaller ``keep`` keeps the
    cost-bounded proxy, biased low for very unequal lengths).

    ``max_fp_docs`` is the hot-bucket guard (same rationale as
    ``lsh_candidate_pairs``): a fingerprint present in more than that
    many docs — site-wide boilerplate — would fan out quadratically, so
    it is dropped from the JOIN (never from the per-doc ``nfp``
    denominators, which are counted first); recall inside such grams is
    traded for a bounded join, pass ``None`` for the exact oracle
    contract.

    Output: (a, b, shared, nfp_a, nfp_b, containment, trim) with
    ``a < b``; ``trim`` is the doc the keep/trim policy drops — the one
    with FEWER fingerprints (the contained side), ties dropping ``b``
    (first-seen wins).
    """
    from ..functions.text import (
        document_fingerprints,
        document_fingerprints_portable,
    )

    fn = document_fingerprints_portable if portable else document_fingerprints
    fps = fn(df, id_col, text_col, gram, keep).distinct()
    # materialize the fingerprint table ONCE (eager RDD checkpoint, same
    # pattern as ann_ivf_topk_batch): it feeds FIVE consumers below (two
    # join sides, two size lookups, the hot-fp aggregate), and the
    # fingerprint kernel is opaque to Catalyst — without this the corpus
    # would be re-scanned and re-fingerprinted per consumer. Blocks are
    # ContextCleaner-managed: freed when the result DataFrame is dropped.
    fps = fps.localCheckpoint(eager=True)
    sizes = fps.groupBy("id").agg(F.count("*").alias("nfp"))
    if max_fp_docs is not None:
        hot = (
            fps.groupBy("fp")
            .agg(F.count("*").alias("_nd"))
            .where(F.col("_nd") > int(max_fp_docs))
            .select("fp")
        )
        fps = fps.join(hot, "fp", "left_anti")
    l = fps.select(F.col("id").alias("a"), "fp")
    r = fps.select(F.col("id").alias("b"), "fp")
    shared = (
        l.join(r, "fp")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("id").alias("a"), F.col("nfp").alias("nfp_a"))
    sb = sizes.select(F.col("id").alias("b"), F.col("nfp").alias("nfp_b"))
    return (
        shared.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "containment",
            (F.col("shared") / F.least("nfp_a", "nfp_b")).cast("double"),
        )
        .where(F.col("containment") >= float(threshold))
        .withColumn(
            "trim",
            F.when(F.col("nfp_a") < F.col("nfp_b"), F.col("a")).otherwise(
                F.col("b")
            ),
        )
        .select("a", "b", "shared", "nfp_a", "nfp_b", "containment", "trim")
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
    trims = pairs.select(F.col("trim").alias("_trim_id")).distinct()
    return df.join(
        trims,
        df[id_col].cast("bigint") == trims["_trim_id"],
        "left_anti",
    )


def containment_pairs_between(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    gram: int = 8,
    keep: int = 64,
    threshold: float = 0.8,
    max_fp_pairs: int | None = 4096,
    portable: bool = False,
    denom: str = "left",
) -> DataFrame:
    """Cross-corpus containment — decontamination at CONTAINMENT level:
    "how much of this eval item appears inside that training document?"
    The fingerprint-intersection decontamination (``decontaminate_docs``)
    answers *whether* any gram is shared; :func:`near_dup_pairs_between`
    scores whole-doc Jaccard (which a short eval item quoted inside a
    long training doc never trips); this scores the COVERAGE of one
    side's fingerprints by the other — the Lee et al. 2021
    substring-level shape across two tables.

    Both sides run the SAME fingerprint kernel
    (:func:`~sprout_spark.functions.text.document_fingerprints`; the md5
    ``portable=True`` variant is the exact-DuckDB-oracle contract), so
    fingerprints are comparable across tables by construction. The ONLY
    shuffle moves (fp, id) rows — the inverted-index join of
    :func:`containment_pairs`, cross form.

    ``denom`` picks the score's denominator: ``"left"`` (default) is
    ``shared / nfp_a`` — the fraction of the LEFT doc's fingerprints
    found in the right doc, the decontamination question (run the EVAL
    slice as ``left``); ``"min"`` is ``shared / min(nfp_a, nfp_b)`` —
    the symmetric :func:`containment_pairs` convention.

    ``max_fp_pairs`` is the hot-fp guard, cross form: a fingerprint in
    ``nl`` left and ``nr`` right docs fans out ``nl*nr`` candidate rows
    (site-wide boilerplate explodes quadratically), so fps whose PRODUCT
    exceeds the cap are dropped from the JOIN — never from the per-doc
    ``nfp`` denominators, which are counted first. Recall inside such
    grams is traded for a bounded join; pass ``None`` for the exact
    oracle contract.

    Output: (a=left id, b=right id, shared, nfp_a, nfp_b, containment)
    with ``containment >= threshold``. Ids need not be disjoint — the
    pair is (left id, right id); interpretation is the caller's join
    back to either table."""
    if denom not in ("left", "min"):
        raise ValueError(f"denom must be 'left' or 'min', got {denom!r}")
    from ..functions.text import (
        document_fingerprints,
        document_fingerprints_portable,
    )

    fn = document_fingerprints_portable if portable else document_fingerprints
    # one localCheckpoint per side: each fingerprint table feeds its
    # size aggregate, the hot-fp count, and a join side — the kernel is
    # opaque to Catalyst, so without it each consumer re-fingerprints
    # the corpus (same pattern as containment_pairs / ann_ivf_topk_batch)
    lf = fn(left, id_col, text_col, gram, keep).distinct().localCheckpoint(
        eager=True
    )
    rf = fn(right, id_col, text_col, gram, keep).distinct().localCheckpoint(
        eager=True
    )
    sa = lf.groupBy("id").agg(F.count("*").alias("nfp_a")).withColumnRenamed(
        "id", "a"
    )
    sb = rf.groupBy("id").agg(F.count("*").alias("nfp_b")).withColumnRenamed(
        "id", "b"
    )
    if max_fp_pairs is not None:
        hot = (
            lf.groupBy("fp")
            .agg(F.count("*").alias("_nl"))
            .join(rf.groupBy("fp").agg(F.count("*").alias("_nr")), "fp")
            .where(F.col("_nl") * F.col("_nr") > int(max_fp_pairs))
            .select("fp")
        )
        lf = lf.join(hot, "fp", "left_anti")
        rf = rf.join(hot, "fp", "left_anti")
    shared = (
        lf.select(F.col("id").alias("a"), "fp")
        .join(rf.select(F.col("id").alias("b"), "fp"), "fp")
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
    )
    denom_col = (
        F.col("nfp_a") if denom == "left" else F.least("nfp_a", "nfp_b")
    )
    return (
        shared.join(sa, "a")
        .join(sb, "b")
        .withColumn("containment", (F.col("shared") / denom_col).cast("double"))
        .where(F.col("containment") >= float(threshold))
        .select("a", "b", "shared", "nfp_a", "nfp_b", "containment")
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
    :func:`containment_pairs_between` pair at ``containment >=
    threshold`` (left-denominator coverage: the fraction of the eval
    item's fingerprints found in the train doc) drops. One anti-join on
    the bigint id; all other train columns pass through. This is the
    policy step after scoring — the cross-table analogue of
    :func:`drop_contained`."""
    pairs = containment_pairs_between(
        evals, train, id_col, text_col, gram, keep, threshold,
        max_fp_pairs, portable, denom="left",
    )
    bad = pairs.select(F.col("b").alias("_contaminated_id")).distinct()
    return train.join(
        bad,
        train[id_col].cast("bigint") == bad["_contaminated_id"],
        "left_anti",
    )


def lsh_candidate_pairs_between(
    left_bands: DataFrame,
    right_bands: DataFrame,
    max_bucket: int | None = 4096,
    oversize_mode: str = "star",
) -> DataFrame:
    """Cross-corpus LSH candidates: join LEFT and RIGHT band rows on
    (band, bh) → distinct (a=left id, b=right id). The shuffle carries
    the same 12-byte band rows as the self-join path; documents never
    move.

    Hot-bucket guard, cross form: a bucket emits nl·nr pairs, so the
    guard caps the PRODUCT. Over the cap, ``oversize_mode="star"``
    pairs every left member with the bucket's min right id and every
    right member with the min left id — O(nl+nr) per bucket, and any
    left doc whose match group dominates the bucket stays connected to
    a right representative (the cross analogue of the self-join star:
    per-pair recall inside mixed oversized buckets is traded for
    bounded candidates). ``"drop"`` discards oversized buckets;
    ``max_bucket=None`` disables the guard (oracle paths)."""
    if max_bucket is None:
        return (
            left_bands.select("band", "bh", F.col("id").alias("a"))
            .join(
                right_bands.select("band", "bh", F.col("id").alias("b")),
                ["band", "bh"],
            )
            .select("a", "b")
            .distinct()
        )
    if oversize_mode not in ("star", "drop"):
        raise ValueError("oversize_mode must be 'star' or 'drop'")
    # per-bucket (size, min id) summaries: map-side partial aggregation,
    # one row per (band, bh) — the summary join is bucket-count sized
    lsum = left_bands.groupBy("band", "bh").agg(
        F.count("*").alias("_nl"), F.min("id").alias("_minl")
    )
    rsum = right_bands.groupBy("band", "bh").agg(
        F.count("*").alias("_nr"), F.min("id").alias("_minr")
    )
    sized = lsum.join(rsum, ["band", "bh"])
    ok = sized.where(F.col("_nl") * F.col("_nr") <= max_bucket)
    pairs = (
        left_bands.join(ok.select("band", "bh"), ["band", "bh"])
        .select("band", "bh", F.col("id").alias("a"))
        .join(
            right_bands.select("band", "bh", F.col("id").alias("b")),
            ["band", "bh"],
        )
        .select("a", "b")
    )
    if oversize_mode == "star":
        over = sized.where(F.col("_nl") * F.col("_nr") > max_bucket)
        star_l = (
            left_bands.join(
                over.select("band", "bh", "_minr"), ["band", "bh"]
            )
            .select(F.col("id").alias("a"), F.col("_minr").alias("b"))
        )
        star_r = (
            right_bands.join(
                over.select("band", "bh", "_minl"), ["band", "bh"]
            )
            .select(F.col("_minl").alias("a"), F.col("id").alias("b"))
        )
        pairs = pairs.union(star_l).union(star_r)
    return pairs.distinct()


def near_dup_pairs_between(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n_hashes: int = 128,
    band_r: int = 4,
    max_bucket: int | None = 4096,
    oversize_mode: str = "star",
    shingle_k: int = 1,
) -> DataFrame:
    """Cross-corpus near-duplicate pairs, exact-verified: (a, b, jaccard)
    with ``a`` from LEFT and ``b`` from RIGHT — "dedupe the new crawl
    against the existing corpus" / "decontaminate training data against
    an eval set at NEAR-dup level" (the fingerprint-intersection
    decontamination catches verbatim overlap; this catches paraphrased
    or lightly-edited overlap at the configured Jaccard).

    Both sides run the SAME seeded minhash kernel, so signatures are
    comparable across tables by construction. Columns named ``id_col``/
    ``text_col`` must exist on both sides; ids are not required to be
    disjoint (the pair is (left id, right id) — interpretation is the
    caller's join back to either table)."""
    def clean(d: DataFrame) -> DataFrame:
        return d.where(
            F.length(F.regexp_replace(F.col(text_col), r"\s", "")) > 0
        )

    lc, rc = clean(left), clean(right)
    lb = minhash_band_rows(lc, id_col, text_col, n_hashes, band_r, shingle_k)
    rb = minhash_band_rows(rc, id_col, text_col, n_hashes, band_r, shingle_k)
    cands = lsh_candidate_pairs_between(lb, rb, max_bucket, oversize_mode)
    mk = token_sets if shingle_k == 1 else (
        lambda d, i, t: shingle_sets(d, i, t, shingle_k)
    )
    tl, tr = mk(lc, id_col, text_col), mk(rc, id_col, text_col)
    # broadcast-verify fast path, cross form (see verify_jaccard): both
    # sides' code tables broadcast once, pairs verified in the kernel
    fast = _verify_jaccard_broadcast(cands, tl, tr, threshold)
    if fast is not None:
        return fast
    ta = tl.select(F.col("id").alias("a"), F.col("tokens").alias("ta"))
    tb = tr.select(F.col("id").alias("b"), F.col("tokens").alias("tb"))
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
