"""Per-document distinctive terms (tf-idf top-k) — keyword extraction
over a corpus: the standard summarization/routing/quality signal ("what
is this document about"), and the exploratory companion to the corpus-
level heavy-hitter probes (`operators/ngrams.py` finds globally frequent
grams; this finds what distinguishes EACH document from the corpus).

Plan (all JVM, four stages, each a standard shuffle):
  tokenize/explode -> (doc, term) counts [shuffle 1: tf — materialized
                      ONCE via an eager localCheckpoint, because three
                      branches consume it and column pruning defeats
                      exchange reuse; calling the operator therefore
                      runs that first job eagerly]
                   -> per-term doc counts over tf [shuffle 2: df — tf
                      rows are distinct (doc, term) pairs, so df is a
                      plain map-side-combined count]
                   -> tf JOIN df on the term [shuffle 3; the corpus size
                      N rides a broadcast 1-row cross join, never a
                      driver-side action]
                   -> per-doc top-k [shuffle 4; rank<=k runs as a
                      map-side WindowGroupLimit].
Every shuffle carries (id/term, counts) — never document text.

``idf`` modes:
  * ``"smooth_log"`` (default) — sklearn's smoothed idf,
    ``ln((N+1)/(df+1)) + 1``: the standard weighting. ``ln`` is NOT
    bit-identical across engines (java.lang.Math.log vs libm can differ
    in the last ulp), so this mode is pytest-gated against a Python
    reference, not the SQL oracle.
  * ``"rarity"`` — ``1/df``: score ``tf/df`` uses only IEEE division
    (correctly rounded, hence bit-identical in Spark and DuckDB), which
    makes the full ranking — including float comparisons — exactly
    reproducible by the SQL oracle. Rankings agree with smooth_log
    whenever tf and df order the same way; use it when cross-engine
    reproducibility matters more than the exact idf curve.

Tokens are the package's whitespace tokens
(:func:`~sprout_spark.functions.text.ws_tokens`) of the lowercased
text — term statistics are case-folded by standard practice.
Ties (equal score) break on the term string ascending: fully
deterministic output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import ws_tokens

_IDF_MODES = ("smooth_log", "rarity")


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    idf: str = "smooth_log",
    min_df: int = 1,
) -> DataFrame:
    """Top-``k`` terms per document by tf-idf: ``(id, term, tf, df,
    score, rank)``. ``min_df`` drops terms in fewer than that many
    documents (hapax junk) BEFORE ranking. Blank/NULL documents emit no
    rows."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_df < 1:
        raise ValueError(f"min_df must be >= 1, got {min_df}")
    if idf not in _IDF_MODES:
        raise ValueError(f"idf must be one of {_IDF_MODES}")

    tok = df.select(
        id_col, F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("term")
    )
    # tf is consumed by three branches (the join probe side, per-term
    # doc counts, and the corpus size N). Exchange reuse does NOT kick
    # in — column pruning specializes each branch's aggregate, so the
    # subtrees stop being canonically equal and Spark would re-run the
    # token explode + (id, term) shuffle once PER BRANCH (measured 3x
    # the cost at sf0.1). An eager localCheckpoint materializes tf once
    # (ContextCleaner-managed, the ann batch-probe pattern); tf carries
    # (id, term, count) — far smaller than the text it came from — and
    # df is then a plain count over it (tf rows are distinct (doc,
    # term) pairs), map-side-combined before the term shuffle.
    tf = (
        tok.groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )
    dft = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= min_df)
    )
    n = tf.agg(F.countDistinct(id_col).alias("__n"))
    scored = tf.join(dft, "term").crossJoin(F.broadcast(n))
    if idf == "smooth_log":
        score = F.col("tf") * (
            F.log((F.col("__n") + 1) / (F.col("df") + 1)) + F.lit(1.0)
        )
    else:
        score = F.col("tf") / F.col("df")
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("score", score.cast("double"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            id_col,
            "term",
            "tf",
            "df",
            "score",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )
