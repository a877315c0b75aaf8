"""Cross-corpus near-dup (operators/dedup.py::near_dup_pairs_between):
equality with the exact cross-Jaccard all-pairs on disjoint slices,
self-identity when both sides are the same corpus, the product-cap
hot-bucket guard, the self form of each pair family equal to its cross
form on (X, X) with ``a < b``, and the self containment form's single
scoring rule."""

import os

import pytest
from pyspark.sql import functions as F

from sprout_spark.operators.dedup import (
    containment_pairs,
    lsh_candidate_pairs,
    minhash_band_rows,
    near_dup_pairs,
    near_dup_pairs_between,
    token_sets,
)


@pytest.fixture(scope="module")
def halves(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    left = docs.where(F.col("doc_id") % 3 != 0)
    right = docs.where(F.col("doc_id") % 3 == 0)
    return docs, left, right


def _exact_cross(spark, left, right, threshold):
    """Exact cross Jaccard via collected token sets (fixture-sized)."""
    lt = {r["id"]: set(r["tokens"]) for r in token_sets(left, "doc_id", "text").collect()}
    rt = {r["id"]: set(r["tokens"]) for r in token_sets(right, "doc_id", "text").collect()}
    out = set()
    for a, ta in lt.items():
        if not ta:
            continue
        for b, tb in rt.items():
            if not tb:
                continue
            j = len(ta & tb) / len(ta | tb)
            if j >= threshold:
                out.add((a, b))
    return out


def test_matches_exact_cross_jaccard(spark, halves):
    _, left, right = halves
    got = {
        (r["a"], r["b"])
        for r in near_dup_pairs_between(
            left, right, "doc_id", "text", threshold=0.9, max_bucket=None
        ).collect()
    }
    want = _exact_cross(spark, left, right, 0.9)
    assert got == want
    assert want, "fixture must contain true cross pairs"


def test_same_corpus_self_identity(halves):
    docs, _, _ = halves
    small = docs.limit(30)
    pairs = near_dup_pairs_between(
        small, small, "doc_id", "text", threshold=1.0, max_bucket=None
    )
    ids = {r["doc_id"] for r in small.where(
        F.length(F.regexp_replace(F.col("text"), r"\s", "")) > 0
    ).select("doc_id").collect()}
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert {(i, i) for i in ids} <= got  # every doc matches itself


def test_product_cap_guard_star_and_drop(halves):
    _, left, right = halves
    lb = minhash_band_rows(left, "doc_id", "text")
    rb = minhash_band_rows(right, "doc_id", "text")
    full = lsh_candidate_pairs(lb, rb, max_bucket=None)
    starred = lsh_candidate_pairs(lb, rb, max_bucket=1, oversize_mode="star")
    dropped = lsh_candidate_pairs(lb, rb, max_bucket=1, oversize_mode="drop")
    n_full, n_star, n_drop = full.count(), starred.count(), dropped.count()
    # cap=1: only 1x1 buckets join all-pairs; star bounds candidates
    assert n_star <= n_full
    assert n_drop <= n_star
    # star keeps every left band-row holder connected to something
    left_ids = {r["id"] for r in lb.select("id").distinct().collect()}
    star_lefts = {r["a"] for r in starred.collect()}
    assert left_ids <= star_lefts
    with pytest.raises(ValueError, match="oversize_mode"):
        lsh_candidate_pairs(lb, rb, max_bucket=4, oversize_mode="split")


def _self_and_cross(family, docs):
    """(self rows, cross rows on (docs, docs) with a < b), guards off."""
    if family == "lsh_candidate_pairs":
        bands = minhash_band_rows(docs, "doc_id", "text")
        return (lsh_candidate_pairs(bands, max_bucket=None),
                lsh_candidate_pairs(bands, bands, max_bucket=None))
    if family == "near_dup_pairs":
        kw = dict(threshold=0.5, max_bucket=None)
        return (near_dup_pairs(docs, "doc_id", "text", **kw),
                near_dup_pairs(docs, "doc_id", "text", right=docs, **kw))
    kw = dict(gram=8, keep=16, threshold=0.5, max_fp_docs=None, denom="min")
    return (containment_pairs(docs, "doc_id", "text", **kw).drop("trim"),
            containment_pairs(docs, "doc_id", "text", right=docs, **kw))


@pytest.mark.parametrize(
    "family", ["lsh_candidate_pairs", "near_dup_pairs", "containment_pairs"]
)
def test_self_form_equals_cross_on_same_corpus(halves, family):
    """The self form is the cross form on (X, X) filtered to a < b: the
    relation that lets one function serve both."""
    docs, _, _ = halves
    self_rows, cross_rows = _self_and_cross(family, docs)
    cols = self_rows.columns
    assert cross_rows.columns == cols
    got = sorted(tuple(r) for r in self_rows.collect())
    want = sorted(
        tuple(r) for r in cross_rows.where(F.col("a") < F.col("b")).collect()
    )
    assert got == want
    assert got, "fixture must contain pairs"


def test_self_containment_scores_over_min_only(halves):
    """The self form has one scoring rule: denom='left' needs a right
    table (in the self form "left" would only mean "the smaller id")."""
    docs, _, _ = halves
    with pytest.raises(ValueError, match="denom"):
        containment_pairs(docs, "doc_id", "text", denom="left")
