"""Unigram language-model quality scoring — the CCNet-style LM filter:
train a smoothed unigram model on a REFERENCE slice of the corpus
(wiki-like, curated), score every document by its mean negative token
log-probability (low = reads like the reference, high = junk /
boilerplate / wrong-language noise), keep or trim by threshold. CCNet
(Wenzek et al. 2019) uses a 5-gram KenLM for this step; the unigram
variant keeps the pipeline shape identical — reference-trained model,
per-document perplexity-like score, threshold decision — while staying
pure-JVM executable and exactly SQL-checkable.

Model (add-alpha smoothing over vocab + one OOV bucket):

    p(t)       = (count(t) + alpha) / (T + alpha * (V + 1))
    score(doc) = -(1/n) * sum ln p(t_i)
               = ln(T + alpha*(V+1)) - (1/n) * sum ln(count(t_i) + alpha)

with count(t) = 0 for out-of-vocabulary tokens, T = sum of kept vocab
counts, V = kept vocab size. ``exp(score)`` is the unigram perplexity.

Why this scales: the model is broadcast-sized BY CONSTRUCTION (top-V
terms, V a parameter), so scoring is a row-local token explode, one
broadcast hash join, and one aggregation on the document id — no
data-sized shuffle beyond the per-document agg, no Python in the hot
path (``F.log`` is whole-stage-codegen JVM). Training is the
``build_vocab`` plan: map-side-combined term counts + TakeOrdered
top-V (the driver never sees more than V rows).

Tokens are the package's whitespace tokens
(:func:`~sprout_spark.functions.text.ws_tokens`, case-preserving),
shared with operators/vocab.py — model and scorer
MUST tokenize identically or OOV rates silently inflate.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .vocab import _tokens, build_vocab


def train_unigram_lm(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 65536,
    min_count: int = 1,
    id_col: str | None = None,
) -> DataFrame:
    """``(term, count)`` for the reference slice's top-``vocab_size``
    terms — a thin wrapper over :func:`build_vocab` (same tokenization,
    same deterministic (count desc, term asc) total order) keeping
    exactly what the scorer needs. Train this on the CLEAN reference
    slice, not on the corpus being filtered."""
    return build_vocab(
        df, text_col, max_size=vocab_size, min_count=min_count, id_col=id_col
    ).select("term", "count")


def unigram_logprob_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model: DataFrame,
    alpha: float = 1.0,
) -> DataFrame:
    """Score every document against a :func:`train_unigram_lm` model:
    ``(id, n_tokens bigint, oov bigint, score double)``.

    ``score`` is the mean negative token log-probability (natural log;
    ``exp`` of it = unigram perplexity); lower reads more like the
    model's training slice. Token-less documents (NULL/blank text)
    come back with ``n_tokens = 0, oov = 0, score = NULL`` — emitting
    them keeps the output 1:1 with the input so a threshold filter
    downstream decides their fate explicitly instead of silently
    dropping them.

    The two model scalars (T, V) come from one agg over the
    broadcast-sized model; everything data-sized is JVM: row-local
    explode -> broadcast left join -> groupBy(id) with codegen'd
    ``ln``."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    if not {"term", "count"} <= set(model.columns):
        raise ValueError("model must have (term, count) columns")
    tv = model.agg(
        F.sum("count").alias("t"), F.count("*").alias("v")
    ).collect()[0]
    total, vsize = int(tv["t"] or 0), int(tv["v"])
    log_denom = math.log(total + alpha * (vsize + 1))
    tok = _tokens(df, id_col, text_col).select(id_col, "term")
    joined = tok.join(F.broadcast(model.select("term", "count")), "term", "left")
    agg = joined.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("count").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("oov"),
        F.sum(
            F.log(F.coalesce(F.col("count"), F.lit(0)) + F.lit(float(alpha)))
        ).alias("_logsum"),
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("oov", F.lit(0)).cast("bigint").alias("oov"),
            (F.lit(log_denom) - F.col("_logsum") / F.col("n_tokens")).alias(
                "score"
            ),
        )
    )


def quality_buckets(
    df: DataFrame,
    score_col: str,
    by: str | None = None,
    cuts: tuple[float, ...] = (1.0 / 3.0, 2.0 / 3.0),
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    out_col: str = "bucket",
) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020 §4.3: corpora
    split into head/middle/tail by per-language perplexity percentile):
    label each row by the PERCENT RANK of ``score_col`` within its
    ``by`` group (ascending — with the package's negative-log-prob
    ``score``, lower = more reference-like = ``head``). Rows with
    percent_rank < cuts[0] get labels[0], < cuts[1] labels[1], ...,
    else labels[-1]. NULL scores get a NULL bucket (the caller's
    threshold policy decides, never a silent drop — the
    ``unigram_logprob_scores`` token-less-doc convention).

    ``percent_rank`` (= (rank-1)/(n-1), ties SHARE a rank) is chosen
    over ``ntile`` deliberately: ntile splits ties by row order, which
    is shuffle-nondeterministic and engine-divergent; percent_rank is a
    pure function of the score multiset, so re-runs and the SQL twin
    agree exactly. Single-row groups (n=1) have percent_rank 0 ->
    labels[0].

    Plan: ONE exchange on the group key and an in-task sort — the
    window is the whole cost. At 10^12 rows per group, compute the cut
    VALUES on a per-group sketch instead (``build_grouped_sketches`` +
    t-digest ``quantile(c)``, broadcast the ≤groups×cuts map, one
    map-only comparison pass) and accept the sketch's rank tolerance at
    the boundaries; this exact operator is the oracle-comparable
    contract."""
    if len(labels) != len(cuts) + 1:
        raise ValueError(
            f"need len(labels) == len(cuts)+1, got {len(labels)} labels "
            f"for {len(cuts)} cuts"
        )
    if list(cuts) != sorted(cuts) or any(not 0.0 < c < 1.0 for c in cuts):
        raise ValueError(f"cuts must be strictly increasing in (0,1): {cuts}")
    from pyspark.sql import Window

    part = Window.partitionBy(F.lit(1) if by is None else F.col(by))
    w = part.orderBy(F.col(score_col).asc())
    scored = df.where(F.col(score_col).isNotNull()).withColumn(
        "_pr", F.percent_rank().over(w)
    )
    expr = F.lit(labels[-1])
    for c, lab in zip(reversed(cuts), reversed(labels[:-1])):
        expr = F.when(F.col("_pr") < float(c), F.lit(lab)).otherwise(expr)
    bucketed = scored.withColumn(out_col, expr).drop("_pr")
    nulls = df.where(F.col(score_col).isNull()).withColumn(
        out_col, F.lit(None).cast("string")
    )
    return bucketed.unionByName(nulls)
