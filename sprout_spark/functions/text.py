"""Text-analysis column functions for training-data pipelines.

Everything here is either pure ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen, SQL-oracle-able) or one vectorized ``mapInArrow``
pass (fingerprinting). No per-row Python anywhere.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..hashing import murmur3_64_packed

# A BPE-ish word/number/punctuation segmentation: word pieces, numbers,
# single punctuation marks — deterministic and SQL-expressible.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

_STOPWORDS = {
    "en": "the of and to a in is it you that was for on are with as at be this".split(),
    "es": "el la de que y a en un ser se no por con para como su al lo".split(),
    "fr": "le la de et les des en un une du que est pour qui dans par sur".split(),
    "de": "der die das und ist von den zu mit sich des auf für im nicht ein".split(),
}


def ws_token_count(text: Column) -> Column:
    """Whitespace token count: separators+1 on trimmed text, 0 for blank.
    Exact and trivially SQL-oracle-able. The trim is regex-based: Spark's
    ``trim()`` strips only ASCII spaces, so leading tabs/newlines would
    otherwise produce a phantom empty first token (count off by one)."""
    t = F.regexp_replace(text, r"^\s+|\s+$", "")
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count via the BPE-ish regex (JVM regexp)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def with_text_stats(df: DataFrame, text_col: str) -> DataFrame:
    """Add exact quality-signal columns: n_chars, n_ws_tokens,
    n_bpe_tokens, n_punct, n_digits, n_upper (all ints → safe oracles)."""
    t = F.col(text_col)
    return (
        df.withColumn("n_chars", F.length(t))
        .withColumn("n_ws_tokens", ws_token_count(t))
        .withColumn("n_bpe_tokens", bpe_ish_token_count(t))
        .withColumn(
            "n_punct", F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
        )
        .withColumn(
            "n_digits", F.length(t) - F.length(F.regexp_replace(t, r"[0-9]", ""))
        )
        .withColumn(
            "n_upper", F.length(t) - F.length(F.regexp_replace(t, r"[A-Z]", ""))
        )
    )


def quality_score(df: DataFrame, text_col: str) -> DataFrame:
    """Heuristic quality score in [0,1]: penalize very short/very long
    docs, high punctuation density, high digit density. Deterministic
    arithmetic over the exact stats (JVM-side)."""
    d = with_text_stats(df, text_col)
    len_score = F.least(F.col("n_chars") / F.lit(200.0), F.lit(1.0)) * F.least(
        F.lit(4000.0) / F.greatest(F.col("n_chars"), F.lit(1)), F.lit(1.0)
    )
    punct_pen = F.greatest(
        F.lit(0.0),
        F.lit(1.0) - F.col("n_punct") / F.greatest(F.col("n_chars"), F.lit(1)) * 5.0,
    )
    digit_pen = F.greatest(
        F.lit(0.0),
        F.lit(1.0) - F.col("n_digits") / F.greatest(F.col("n_chars"), F.lit(1)) * 3.0,
    )
    return d.withColumn(
        "quality", (len_score * punct_pen * digit_pen).cast("double")
    )


def language_id(df: DataFrame, text_col: str, min_hits: int = 2) -> DataFrame:
    """Stopword-ratio language ID over {en, es, fr, de}; 'und' when no
    language reaches ``min_hits`` stopword matches. Pure array ops."""
    toks = F.array_distinct(
        F.split(F.lower(F.trim(F.col(text_col))), r"[^a-zàâçéèêëîïôûùüÿñöäß']+")
    )
    d = df.withColumns(
        {
            f"_hits_{lang}": F.size(
                F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
            )
            for lang, words in _STOPWORDS.items()
        }
    )
    langs = list(_STOPWORDS)
    best = F.greatest(*[F.col(f"_hits_{l}") for l in langs])
    guess = F.when(best < min_hits, F.lit("und"))
    for l in langs:
        guess = guess.when(F.col(f"_hits_{l}") == best, F.lit(l))
    # NULL text makes every branch condition NULL; the documented answer
    # for "no identifiable language" is 'und', not NULL
    out = d.withColumn("lang_guess", guess.otherwise(F.lit("und")))
    return out.drop(*[f"_hits_{l}" for l in langs])


def document_fingerprints_portable(
    df: DataFrame, id_col: str, text_col: str, gram: int = 8, keep: int = 4
) -> DataFrame:
    """Winnowing fingerprints, portable contract variant: min-``keep``
    md5-based hashes of character ``gram``-grams, built ENTIRELY from JVM
    expressions (transform+sequence gram expansion, md5, window min-k) —
    reproducible in any engine with md5 (DuckDB oracle in
    ``__spark_entry__``). ``document_fingerprints`` (the murmur mapInArrow
    kernel) is the single-pass throughput path for 100 TB runs.

    Output: (id, fp bigint) — fp is the first 60 md5 bits (15 hex chars),
    positive-int64-safe in both engines."""
    from pyspark.sql.window import Window

    t = F.col(text_col)
    grams = (
        df.where(F.length(t) >= gram)
        .select(
            F.col(id_col).cast("bigint").alias("id"),
            F.explode(
                F.expr(
                    f"transform(sequence(1, length({text_col}) - {gram - 1}),"
                    f" i -> substring({text_col}, i, {gram}))"
                )
            ).alias("g"),
        )
    )
    hashed = grams.select(
        "id",
        F.expr("cast(conv(substring(md5(g),1,15),16,10) as bigint)").alias("fp"),
    )
    w = Window.partitionBy("id").orderBy("fp")
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= keep)
        .select("id", "fp")
    )


def _gram_window_hashes(
    arr: pa.Array, gram: int, seed: int = 1
) -> tuple[np.ndarray, np.ndarray]:
    """Murmur hashes of every byte ``gram``-window of every row, computed
    from the Arrow string buffers with zero per-row Python: one flat
    window-start vector (repeat + arange over the offsets), one (W, gram)
    byte gather, ONE murmur pass over all windows of all rows.

    Returns (hashes uint64 flat (W,), counts int64 (n,)) where row i owns
    ``hashes[cum(counts)[i-1]:cum(counts)[i]]``.
    """
    from ..hashing import arrow_buffer_views

    data, offsets, lens = arrow_buffer_views(arr)
    counts = np.maximum(lens - gram + 1, 0)
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, dtype=np.uint64), counts
    excl = np.concatenate([[0], np.cumsum(counts)[:-1]])
    w_idx = np.arange(total, dtype=np.int64)
    starts = np.repeat(offsets[:-1], counts) + (w_idx - np.repeat(excl, counts))
    width = max(16, ((gram + 15) // 16) * 16)
    mat = np.zeros((total, width), dtype=np.uint8)
    for j in range(gram):  # column-wise gather: gram 1-D gathers beat one
        mat[:, j] = data[starts + j]  # (W, gram) 2-D fancy-index by ~5x
    return murmur3_64_packed(mat, np.full(total, gram, dtype=np.int64), seed), counts


def document_fingerprints(
    df: DataFrame, id_col: str, text_col: str, gram: int = 8, keep: int = 4
) -> DataFrame:
    """Winnowing-style fingerprints: min-``keep`` murmur hashes of byte
    ``gram``-grams per document, one vectorized pass (flat window matrix →
    one murmur call → per-doc ``np.partition`` min-k; no per-row Python
    hashing).

    Output: (id, fp bigint) — ``keep`` rows per non-trivial doc. Shared
    fingerprints indicate copied spans (containment, where token-level
    Jaccard misses reordered boilerplate)."""
    from ..spark.spread import spread_small_input

    df = spread_small_input(df)

    def fn(batches):
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            if len(ids) == 0:
                continue
            h, counts = _gram_window_hashes(batch.column(1), gram, seed=1)
            if len(h) == 0:
                continue
            n = len(ids)
            ends = np.cumsum(counts)
            starts = ends - counts
            # k-smallest (with multiplicity, order irrelevant — callers
            # dedupe on (id, fp)) via one np.partition per row: O(W)
            # total instead of the O(W log W) global lexsort this
            # replaced — the sort was ~half the containment
            # fingerprint cost at sf0.1 (~17M windows)
            out_fps, out_ids = [], []
            for i in range(n):
                c = int(counts[i])
                if c == 0:
                    continue
                row = h[starts[i]:ends[i]]
                sel = (
                    np.partition(row, keep - 1)[:keep] if c > keep else row
                )
                out_fps.append(sel)
                out_ids.append(np.full(len(sel), ids[i], np.int64))
            if not out_fps:
                continue
            yield pa.RecordBatch.from_pydict(
                {
                    "id": pa.array(np.concatenate(out_ids), pa.int64()),
                    "fp": pa.array(
                        np.concatenate(out_fps).view(np.int64), pa.int64()
                    ),
                }
            )

    return df.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(text_col).alias("t")
    ).mapInArrow(fn, "id bigint, fp bigint")


def with_repetition_stats(df: DataFrame, text_col: str) -> DataFrame:
    """Intra-document repetition counters (the Gopher-style repetition
    quality filters, Rae et al. 2021 §A1.1: documents dominated by
    repeated fragments are low-quality): per row, whitespace-token
    counts plus duplicate-token / duplicate-2-gram / duplicate-3-gram
    counts. Emitted as exact INTEGER numerator/denominator pairs
    (``n_dup_2grams`` / ``n_2grams`` etc.) rather than precomputed
    fractions, so the SQL oracle compares bit-exactly and callers pick
    their own thresholds (``n_dup_3grams > 0.1 * n_3grams`` style).

    Pure JVM expressions end to end (split → slice windows via
    ``transform(sequence)`` → ``array_distinct`` set sizes) — whole-stage
    codegen, no Python, no shuffle; blank/whitespace-only docs get all
    zeros. Tokenization matches :func:`ws_token_count` (regex trim +
    ``\\s+`` split), so the counters compose with `with_text_stats`."""
    out_names = [
        "n_tokens", "n_dup_tokens", "n_2grams", "n_dup_2grams",
        "n_3grams", "n_dup_3grams",
    ]
    clash = [c for c in out_names if c in df.columns]
    if clash:
        # the stat names ARE the API — silently replacing a user column
        # of the same name would corrupt their data (same class of bug
        # as the stratified_sample temp-column collision)
        raise ValueError(f"input already has column(s) {clash}; rename first")
    tmp = "_toks"
    while tmp in df.columns:  # collision-free temp name
        tmp += "_"
    t = F.regexp_replace(F.col(text_col), r"^\s+|\s+$", "")
    toks = F.when(F.length(t) == 0, F.array()).otherwise(F.split(t, r"\s+"))
    out = df.withColumn(tmp, toks)
    n = F.size(F.col(tmp))

    def gram_counts(k: int, prefix: str):
        if k == 1:
            grams = F.col(tmp)
        else:
            # window i..i+k-1 joined by a single space: slice is 1-based
            grams = F.when(n < k, F.array()).otherwise(
                F.transform(
                    F.sequence(F.lit(1), n - (k - 1)),
                    lambda i: F.concat_ws(" ", F.slice(F.col(tmp), i, k)),
                )
            )
        total = F.size(grams)
        dup = total - F.size(F.array_distinct(grams))
        return [
            (f"n_{prefix}", total.cast("long")),
            (f"n_dup_{prefix}", dup.cast("long")),
        ]

    cols = (
        gram_counts(1, "tokens") + gram_counts(2, "2grams") + gram_counts(3, "3grams")
    )
    for name, c in cols:
        out = out.withColumn(name, c)
    return out.drop(tmp)
