"""Line-level deduplication: boilerplate stripping and global line dedup.

The dedup family in :mod:`sprout_spark.operators.dedup` decides at DOCUMENT
granularity (drop/keep whole docs). Web corpora also need WITHIN-document
line surgery — the C4 pipeline drops lines repeated across the corpus
(Raffel et al. 2020 §2.2) and RefinedWeb/MassiveText strip site chrome
(nav bars, cookie banners, license footers) the same way. Two policies
over exact normalized-line identity:

* :func:`strip_boilerplate_lines` — drop every line whose trimmed text
  occurs in ``>= min_docs`` distinct documents. The standard boilerplate
  filter: chrome repeats across a site's pages; prose does not.
* :func:`dedup_lines_keep_first` — drop repeated occurrences of a line
  corpus-wide, keeping only the globally first (by (id, position)) — the
  C4-style "discard all but one of any repeated span" rule at line grain.
* :func:`boilerplate_lines` — the verified (line, n_docs) table itself,
  for auditing a threshold before rewriting anything.

Scale shape (100 TB):

1. **Count** — explode line KEYS only: the shuffle carries
   ``(xxhash64(trim(line)), id)`` = 16 bytes/row, never line text, with
   map-side partial dedup ahead of the distinct-count.
2. **Locate + verify** — re-scan, prune to SUSPECT lines with a
   broadcast Bloom built over the bad keys (the reference's lookup
   elision, ``bloom.go:220-236``, applied to corpus rewriting: zero
   false negatives means misses — almost every line — never shuffle
   their text). Surviving lines are decided by one window over the
   exact normalized TEXT (partitioned by ``(key, norm)``), so a 64-bit
   hash collision can never change a decision: the key-level count is a
   superset proposal, the norm-level count is the verdict. The window
   reads the probed lines once — one probe evaluation, one exchange —
   and emits the drop positions directly. Bloom false positives cost
   ~``err`` extra verify input, nothing else.
3. **Rewrite** — per-doc drop-position lists join back on the id (the
   one doc-sized shuffle; AQE broadcasts the list side when small) and
   lines drop JVM-side by position (``filter(lines, (x, i) -> ...)``).

Blank lines (empty after ``trim``) are never counted and never dropped —
they carry document structure, not content. Decisions are by exact
trimmed-line equality; the surrounding whitespace a line was written
with is preserved in the output. Output text is the kept lines rejoined
with ``joiner`` (default: the split pattern itself), so a doc whose
every line drops becomes ``""`` (and is kept as a row — dropping empty
docs is a separate policy the caller owns).

The input DataFrame is scanned more than once (count, locate, rewrite);
like every multi-pass operator here it assumes a deterministic input
plan (materialize first if your plan samples or uses ``rand()``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_GATES = ("bloom", "none")


def _lines_base(df: DataFrame, id_col: str, text_col: str, delim: str) -> DataFrame:
    """(id, lines array<string>) with the split applied once, uniformly."""
    lines = F.split(F.coalesce(F.col(text_col).cast("string"), F.lit("")), delim)
    return df.select(F.col(id_col).alias("id"), lines.alias("lines"))


def _exploded(base: DataFrame) -> DataFrame:
    """(id, pos, key, norm) per line; key = xxhash64(trim(line)).

    norm is projected here but Catalyst prunes it from any plan that
    only filters on it (the count stage shuffles (id, key) alone)."""
    return base.select(
        "id",
        F.posexplode(
            F.transform(
                F.col("lines"),
                lambda x: F.struct(
                    F.xxhash64(F.trim(x)).alias("key"),
                    F.trim(x).alias("norm"),
                ),
            )
        ).alias("pos", "kn"),
    ).select("id", "pos", F.col("kn.key").alias("key"), F.col("kn.norm").alias("norm"))


def _suspects(ex: DataFrame, bad_keys: DataFrame, gate: str, err: float) -> DataFrame:
    """Nonblank lines pruned to the bad-key superset.

    gate="bloom": broadcast Bloom over bad_keys; zero FN keeps the
    verify exact, misses never shuffle text. gate="none": every nonblank
    line goes to the verify (exact either way; for when the bad-key set
    is a large fraction of all lines and the bloom would not prune)."""
    nonblank = ex.where(F.col("norm") != "")
    if gate == "none":
        return nonblank
    from ..sketch.bloom import BloomFilter
    from ..spark.aggregate import build_sketch
    from ..spark.probe import might_contain

    # pin the key set once: the count() that sizes the filter and the
    # build must see the same rows (ContextCleaner reclaims the blocks)
    bad_keys = bad_keys.localCheckpoint(eager=True)
    n_bad = bad_keys.count()
    if n_bad == 0:
        return None  # caller short-circuits: nothing can drop
    spark = ex.sparkSession
    bloom = build_sketch(bad_keys, "key", lambda: BloomFilter(n_bad + 16, err))
    return nonblank.where(might_contain(spark, bloom, F.col("key")))


def _rewrite(
    base: DataFrame,
    drops: DataFrame,
    id_col: str,
    text_col: str,
    joiner: str,
) -> DataFrame:
    """Apply an (id, pos) drop list: filter lines by position, rejoin."""
    bad_pos = drops.groupBy("id").agg(F.collect_list("pos").alias("_bad"))
    bad = F.coalesce(F.col("_bad"), F.array().cast("array<int>"))
    return base.join(bad_pos, "id", "left").select(
        F.col("id").alias(id_col),
        F.array_join(
            F.filter(F.col("lines"), lambda x, i: ~F.array_contains(bad, i)),
            joiner,
        ).alias(text_col),
        F.size("lines").cast("bigint").alias("n_lines"),
        F.coalesce(F.size("_bad"), F.lit(0)).cast("bigint").alias("n_dropped"),
    )


def _unchanged(base: DataFrame, id_col: str, text_col: str, joiner: str) -> DataFrame:
    """No drops anywhere: same output shape, same split+rejoin round-trip
    as the rewrite path (so the short-circuit is value-identical)."""
    return base.select(
        F.col("id").alias(id_col),
        F.array_join(F.col("lines"), joiner).alias(text_col),
        F.size("lines").cast("bigint").alias("n_lines"),
        F.lit(0).cast("bigint").alias("n_dropped"),
    )


def boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    delim: str = "\n",
    min_docs: int = 2,
    err: float = 1e-3,
    gate: str = "bloom",
) -> DataFrame:
    """DataFrame[line string, n_docs bigint]: every trimmed line occurring
    in ``>= min_docs`` distinct documents, with its exact document count.

    The audit surface for :func:`strip_boilerplate_lines` — run it
    descending on ``n_docs`` to pick a threshold before rewriting."""
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    if gate not in _GATES:
        raise ValueError(f"gate must be one of {_GATES}, got {gate!r}")
    ex = _exploded(_lines_base(df, id_col, text_col, delim))
    bad_keys = (
        ex.where(F.col("norm") != "")
        .groupBy("key")
        .agg(F.count_distinct("id").alias("n"))
        .where(F.col("n") >= min_docs)
        .select("key")
    )
    suspects = _suspects(ex, bad_keys, gate, err)
    if suspects is None:
        return df.sparkSession.createDataFrame([], "line string, n_docs bigint")
    return (
        suspects.groupBy("norm")
        .agg(F.count_distinct("id").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select(F.col("norm").alias("line"), "n_docs")
    )


def strip_boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    delim: str = "\n",
    min_docs: int = 2,
    err: float = 1e-3,
    gate: str = "bloom",
    joiner: str | None = None,
) -> DataFrame:
    """Remove every line occurring in ``>= min_docs`` distinct documents.

    Returns DataFrame[id_col, text_col (rewritten), n_lines bigint,
    n_dropped bigint] — one row per input doc, lines in original order,
    kept lines byte-identical to the input (normalization decides, never
    rewrites). ``joiner`` rejoins kept lines (defaults to ``delim``;
    pass it explicitly when ``delim`` is a non-literal regex)."""
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    if gate not in _GATES:
        raise ValueError(f"gate must be one of {_GATES}, got {gate!r}")
    joiner = delim if joiner is None else joiner
    base = _lines_base(df, id_col, text_col, delim)
    ex = _exploded(base)
    bad_keys = (
        ex.where(F.col("norm") != "")
        .groupBy("key")
        .agg(F.count_distinct("id").alias("n"))
        .where(F.col("n") >= min_docs)
        .select("key")
    )
    suspects = _suspects(ex, bad_keys, gate, err)
    if suspects is None:
        return _unchanged(base, id_col, text_col, joiner)
    # a window, not an aggregate joined back to `suspects`: the join
    # would read `suspects` twice and so run the Bloom probe UDF twice.
    # Distinct non-NULL ids per (key, norm) = the top dense rank of a
    # NULLS LAST id order, taken over the non-NULL rows
    w = Window.partitionBy("key", "norm")
    rank = F.dense_rank().over(w.orderBy(F.col("id").asc_nulls_last()))
    drops = (
        suspects.withColumn("_r", rank)
        .withColumn(
            "_n", F.max(F.when(F.col("id").isNotNull(), F.col("_r"))).over(w)
        )
        .where(F.col("_n") >= min_docs)
        .select("id", "pos")
    )
    return _rewrite(base, drops, id_col, text_col, joiner)


def dedup_lines_keep_first(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    delim: str = "\n",
    err: float = 1e-3,
    gate: str = "bloom",
    joiner: str | None = None,
) -> DataFrame:
    """Drop repeated occurrences of a line corpus-wide, keeping only the
    globally first occurrence — first by the id column's ordering, then
    by position within the doc (ids should be orderable; with numeric
    ids this matches SQL ``ORDER BY id, pos``).

    Same output shape as :func:`strip_boilerplate_lines`. The count
    stage tallies OCCURRENCES (``>= 2`` anywhere, including twice within
    one doc); the verify stage recomputes the occurrence count and the
    exact first position over the suspect lines, so the bloom prune and
    hash collisions again cannot change a decision."""
    if gate not in _GATES:
        raise ValueError(f"gate must be one of {_GATES}, got {gate!r}")
    joiner = delim if joiner is None else joiner
    base = _lines_base(df, id_col, text_col, delim)
    ex = _exploded(base)
    dup_keys = (
        ex.where(F.col("norm") != "")
        .groupBy("key")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 2)
        .select("key")
    )
    suspects = _suspects(ex, dup_keys, gate, err)
    if suspects is None:
        return _unchanged(base, id_col, text_col, joiner)
    # one window over the probed suspects, as in strip_boilerplate_lines
    w = Window.partitionBy("key", "norm")
    drops = (
        suspects.withColumn("_n", F.count("*").over(w))
        .withColumn("_first", F.min(F.struct("id", "pos")).over(w))
        .where(F.col("_n") >= 2)
        .where(
            ~(
                (F.col("id") == F.col("_first.id"))
                & (F.col("pos") == F.col("_first.pos"))
            )
        )
        .select("id", "pos")
    )
    return _rewrite(base, drops, id_col, text_col, joiner)
