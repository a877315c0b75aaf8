"""Corpus-level heavy-hitter n-grams — sketch proposes, exact confirms.

"What are the most frequent word k-grams in the corpus?" is the
standard corpus-analysis probe for templates, boilerplate, and memorized
spans (the Gopher/C4 reports tabulate exactly this). Exact global
k-gram counts are a giant groupBy on a key set ~ the token count of the
corpus; a Misra-Gries sketch shrinks that to one tree-merged partial
pass, and — because MG admits NO false negatives for any key with
frequency ≥ total/k — a phi-heavy-hitter query needs the exact count
only for the ≤ k proposed candidates. One broadcast semi-join confirms,
so the final answer is EXACT (the oracle is plain SQL), while the full
shuffle only ever carries candidate grams.

The k-grams are the package's word k-grams
(:func:`~sprout_spark.functions.text.ws_grams` in the JVM, the same
windows over :func:`~sprout_spark.functions.text.ws_split_arrow` in the
Arrow propose pass) — the construction ``shingle_sets`` uses, but WITH
multiplicity: corpus frequency counts occurrences, not per-document
membership.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sprout_spark.functions.text import ws_grams, ws_split_arrow
from sprout_spark.sketch.misra_gries import MisraGries
from sprout_spark.spark.aggregate import (  # noqa: F401 (build_sketch re-export)
    build_sketch,
    coalesce_to_slots,
    collect_merged,
    emit_partials,
    tree_merge,
)


def _gram_strings(arr, k: int):
    """All k-token-window gram strings of an Arrow string column, with
    multiplicity, built entirely in Arrow/numpy: the tokens of
    :func:`~sprout_spark.functions.text.ws_split_arrow` → k shifted
    takes of the flat token array → one vectorized join. Same grams as
    :func:`ngram_rows`; rows with fewer than k tokens contribute
    nothing. The JVM equivalent (transform(sequence)+concat_ws+explode)
    re-slices the token array per window with interpreted higher-order
    expressions — measured ~4x slower than this kernel at sf0.1 (guide
    §4.2)."""
    import pyarrow.compute as pc

    flat, offsets = ws_split_arrow(arr)
    if k == 1:
        return flat
    counts = np.diff(offsets)
    out_counts = np.maximum(counts - (k - 1), 0)
    total = int(out_counts.sum())
    if total == 0:
        return pa.array([], pa.string())
    row_id = np.repeat(np.arange(len(counts), dtype=np.int64), out_counts)
    excl = np.concatenate([[0], np.cumsum(out_counts)[:-1]])
    local = np.arange(total, dtype=np.int64) - np.repeat(excl, out_counts)
    start = offsets[:-1][row_id] + local
    parts = [flat.take(pa.array(start + j)) for j in range(k)]
    return pc.binary_join_element_wise(*parts, " ")


def ngram_rows(df: DataFrame, text_col: str, k: int) -> DataFrame:
    """One row per k-gram OCCURRENCE (column ``ngram``): whitespace
    tokens, k-token windows joined by single spaces, multiplicity
    preserved (:func:`~sprout_spark.functions.text.ws_grams`). Docs with
    fewer than k tokens contribute nothing."""
    if k < 1:
        raise ValueError("k must be >= 1")
    return df.select(F.explode(ws_grams(F.col(text_col), k)).alias("ngram"))


def heavy_ngrams(
    df: DataFrame,
    text_col: str,
    k: int = 3,
    phi: float = 0.001,
    mg_k: int | None = None,
) -> DataFrame:
    """Exact (ngram, cnt) for every k-gram with corpus frequency ≥
    phi·total occurrences. ``mg_k`` (the sketch's counter budget)
    defaults to ceil(1/phi) — the smallest size at which Misra-Gries
    provably proposes every phi-heavy key; passing a smaller one is
    refused rather than silently dropping hitters."""
    if not 0.0 < phi <= 1.0:
        raise ValueError(f"phi must be in (0, 1], got {phi}")
    need = int(math.ceil(1.0 / phi))
    if mg_k is None:
        mg_k = max(need, 64)
    elif mg_k < need:
        raise ValueError(
            f"mg_k={mg_k} cannot guarantee phi={phi} proposals "
            f"(needs >= {need}): heavy keys could be silently missed"
        )
    from sprout_spark.spark.spread import spread_small_input

    text = spread_small_input(
        df.select(F.col(text_col).cast("string").alias("t"))
    )

    # Propose: one Arrow pass builds gram strings vectorized and feeds
    # the MG partial directly — the gram explode never runs in the JVM
    # and gram rows never materialize as a DataFrame (guide §2.3/§4.2:
    # the only thing shuffled is one MG partial per partition).
    def propose(sk, batch):
        g = _gram_strings(batch.column(0), k)
        if len(g):
            sk.update_arrow(g)

    def factory():
        return MisraGries(k=mg_k)

    frame, n = coalesce_to_slots(text)
    partials = emit_partials(frame, factory, propose)
    mg = collect_merged(tree_merge(partials, n, stop_at=64), factory)
    cands = mg.heavy_hitters(phi)
    spark = df.sparkSession
    if not cands:
        return spark.createDataFrame([], "ngram string, cnt bigint")
    cand_values = [v for v, _, _ in cands]

    # Confirm: a second Arrow pass re-derives the grams, prunes to the
    # <= mg_k candidates with one vectorized is_in, and emits per-
    # partition candidate counts — the confirm shuffle carries at most
    # (partitions x candidates) count rows, never gram occurrences.
    def confirm(batches):
        import pyarrow.compute as pc

        vs = pa.array(cand_values, pa.string())
        acc: dict[str, int] = {}
        for batch in batches:
            g = _gram_strings(batch.column(0), k)
            if not len(g):
                continue
            hits = g.filter(pc.is_in(g, value_set=vs))
            if not len(hits):
                continue
            vc = pc.value_counts(hits)
            for v, c in zip(
                vc.field("values").to_pylist(), vc.field("counts").to_pylist()
            ):
                acc[v] = acc.get(v, 0) + c
        if acc:
            yield pa.RecordBatch.from_pydict(
                {
                    "ngram": pa.array(list(acc.keys()), pa.string()),
                    "cnt": pa.array(list(acc.values()), pa.int64()),
                }
            )

    counted = text.mapInArrow(confirm, "ngram string, cnt bigint")
    return (
        counted.groupBy("ngram")
        .agg(F.sum("cnt").alias("cnt"))
        .where(F.col("cnt") >= phi * mg.total)
        .select("ngram", "cnt")
    )
