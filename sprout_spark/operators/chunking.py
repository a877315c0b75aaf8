"""Overlapping token-window chunking — long documents -> embedding-model
sized pieces (the RAG / embedding-pipeline preprocessing step; also the
pre-split for no-split packing when documents exceed the pack budget).

Each document's trimmed whitespace tokens are cut into windows of
``size`` tokens starting every ``size - overlap`` tokens; the last
window is whatever remains (>= 1 token), and every token of every
non-blank document lands in at least one chunk — chunking must never
silently drop text. Blank/NULL documents produce no chunks (there is
nothing to embed).

Pure JVM end to end: ``split`` -> ``explode(sequence(...))`` ->
``slice`` + ``array_join`` — no Python, no shuffle at all (chunking is
embarrassingly row-local; the explode multiplies rows in-task).
Tokens are the package's whitespace tokens
(:func:`~sprout_spark.functions.text.ws_tokens`), so chunk boundaries
agree with `ws_token_count` and the DuckDB oracle reproduces chunks
byte-for-byte (consecutive whitespace collapses to the single-space
join; chunk text is for downstream embedding, not byte-faithful
reconstruction — use (tok_from, tok_to) against the original when
fidelity matters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import ws_tokens


def chunk_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int,
    overlap: int = 0,
) -> DataFrame:
    """One row per chunk: ``(id, chunk_idx, tok_from, tok_to,
    chunk_text)`` — tokens ``[tok_from, tok_to)`` of the document's
    whitespace tokenization, re-joined with single spaces. Windows start
    every ``size - overlap`` tokens; consecutive chunks share exactly
    ``overlap`` tokens except possibly the shorter final chunk."""
    if size < 1:
        raise ValueError(f"size must be >= 1, got {size}")
    if not 0 <= overlap < size:
        raise ValueError(
            f"overlap must satisfy 0 <= overlap < size, got {overlap}"
        )
    step = size - overlap
    for tmp in ("__toks", "__n", "chunk_idx"):
        if tmp in df.columns:
            raise ValueError(f"reserved column name {tmp!r} in input")

    toks = ws_tokens(F.col(text_col))
    n = F.size(toks)
    base = (
        df.select(F.col(id_col), toks.alias("__toks"), n.alias("__n"))
        .where(F.col("__n") > 0)
    )
    nn = F.col("__n")
    n_chunks = F.when(nn <= size, F.lit(1)).otherwise(
        F.lit(1) + F.ceil((nn - size) / F.lit(step))
    )
    chunks = base.select(
        id_col,
        "__toks",
        "__n",
        F.explode(
            F.sequence(F.lit(0), (n_chunks - 1).cast("bigint"))
        ).alias("chunk_idx"),
    )
    frm = F.col("chunk_idx") * step
    ln = F.least(F.lit(size), F.col("__n") - frm)
    return chunks.select(
        id_col,
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        frm.cast("bigint").alias("tok_from"),
        (frm + ln).cast("bigint").alias("tok_to"),
        F.array_join(
            F.slice("__toks", (frm + 1).cast("int"), ln.cast("int")), " "
        ).alias("chunk_text"),
    )
