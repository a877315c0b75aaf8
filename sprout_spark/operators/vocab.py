"""Vocabulary construction + token-id encoding — the tokenizer-adjacent
pair every training pipeline runs: fix a finite vocabulary over the
corpus (most-frequent terms win), then rewrite text as token-id
sequences with an OOV id for everything else.

``build_vocab`` — global top-``max_size`` terms by (count desc, term
asc): the tie-break makes the vocabulary a pure function of the corpus
(re-runs and different cluster sizes produce the identical id
assignment — ids are positions in that total order). Plan: token
explode -> map-side-combined term counts -> ``TakeOrdered`` top-k (no
global sort materialization; the driver never sees more than
``max_size`` rows) -> id assignment by a window over the ALREADY
truncated table (single-partition, but bounded by ``max_size``, not by
data — a vocabulary is broadcast-sized by definition).

``encode_tokens`` — rewrite each document as (position, token_id) rows:
token explode -> broadcast join against the vocabulary (vocab fits a
broadcast by construction; unknown terms take ``oov_id``). The exploded
form IS the output contract — it is what an id-sequence writer
consumes, it keeps the shuffle row-shaped, and it is exactly
SQL-reproducible; ``collect_ids`` re-assembles per-document arrays with
an order-proof ``array_sort(struct(pos, id))`` when arrays are wanted
(one shuffle on the doc id).

Tokens are the package's whitespace tokens
(:func:`~sprout_spark.functions.text.ws_tokens`), case-preserving —
vocabulary case folding is a corpus policy, not the operator's call;
lowercase upstream if wanted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import ws_tokens


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        id_col, F.posexplode(ws_tokens(F.col(text_col))).alias("pos", "term")
    )


def build_vocab(
    df: DataFrame,
    text_col: str,
    max_size: int = 65536,
    min_count: int = 1,
    id_col: str | None = None,
) -> DataFrame:
    """``(term, term_id, count)`` for the corpus's top-``max_size``
    terms with ``count >= min_count``; ``term_id`` is the 0-based rank
    in the total order (count desc, term asc)."""
    if max_size < 1:
        raise ValueError(f"max_size must be >= 1, got {max_size}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    idc = id_col or df.columns[0]
    counts = (
        _tokens(df, idc, text_col)
        .groupBy("term")
        .agg(F.count("*").alias("count"))
        .where(F.col("count") >= min_count)
    )
    top = counts.orderBy(F.col("count").desc(), F.col("term")).limit(max_size)
    # the window is single-partition but runs over <= max_size rows — a
    # vocabulary is broadcast-sized by definition, so this is bounded by
    # the parameter, never by the data
    w = Window.orderBy(F.col("count").desc(), F.col("term"))
    return top.select(
        "term",
        (F.row_number().over(w) - 1).cast("bigint").alias("term_id"),
        "count",
    )


def encode_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
    oov_id: int = -1,
) -> DataFrame:
    """One row per token: ``(id, pos, token_id)`` — ``pos`` is the
    0-based token position, ``token_id`` the vocabulary id or
    ``oov_id`` for unknown terms. Blank/NULL documents emit no rows.
    The vocabulary joins as a broadcast; the only data-sized work is
    the row-local explode."""
    if not {"term", "term_id"} <= set(vocab.columns):
        raise ValueError("vocab must have (term, term_id) columns")
    tok = _tokens(df, id_col, text_col)
    v = F.broadcast(vocab.select("term", "term_id"))
    return tok.join(v, "term", "left").select(
        id_col,
        F.col("pos").cast("bigint").alias("pos"),
        F.coalesce(F.col("term_id"), F.lit(oov_id)).cast("bigint").alias(
            "token_id"
        ),
    )


def collect_ids(encoded: DataFrame, id_col: str) -> DataFrame:
    """Re-assemble :func:`encode_tokens` rows into per-document id
    arrays: ``(id, token_ids)`` — order-proof against shuffle
    nondeterminism (``array_sort`` over (pos, id) structs, then project
    the ids), one shuffle on the doc id."""
    return (
        encoded.groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "token_id"))
                ),
                lambda x: x["token_id"],
            ).alias("token_ids")
        )
    )
