"""Mimics the driver's oracle gate: every queries() entry at sf0.01 must
match its oracle_sql() DuckDB result on row count, column names, and
order-insensitive values (SURVEY.md §5.2 item 6)."""

import logging
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from sprout_spark.spark import fastpath

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_ORACLE", "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in entrymod.queries.__globals__["load"].__globals__["TABLES"]:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    return v


def _rows_to_set(cols, rows):
    return sorted(tuple(_norm(r[c]) for c in cols) for r in rows)


def _check_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    df = q(spark, SF_DIR)
    cols = sorted(df.columns)
    got = _rows_to_set(cols, [r.asDict() for r in df.collect()])
    if sql is None:
        assert len(got) >= 0  # rows-only check
        return
    res = ddb.execute(sql).fetchdf()
    assert sorted(res.columns.tolist()) == cols, (name, res.columns, cols)
    want = _rows_to_set(cols, res.to_dict("records"))
    assert len(got) == len(want), (name, len(got), len(want))
    assert got == want, name


# Queries that reach a size-capped fast path (sprout_spark/spark/
# fastpath.py). Kept honest both ways by the decision log: each logs a
# decision, and a query that logs one must be listed here.
GUARDED = (
    # sharded probe
    "sharded_bloom_recall",
    "sharded_sbf_recall",
    "kv_store_sharded_get",
    # near-dup verify, duplicate clusters, cross-corpus near-dup
    "minhash_near_dup_pairs",
    "minhash_shingle_pairs",
    "near_dup_clusters",
    "resolve_dup_docs",
    "pipeline_corpus_clean",
    "cross_near_dup_pairs",
    # exact cosine pairs
    "embedding_cosine_pairs",
    "semantic_dedup_embeddings",
    # spread_small_input
    "heavy_ngrams_docs",
    "ann_lsh_recall",
)


def _decisions(caplog):
    return [
        r.getMessage() for r in caplog.records if r.name == fastpath.log.name
    ]


@pytest.mark.parametrize("name", list(entrymod.queries().keys()))
def test_query_matches_oracle(spark, ddb, name, caplog):
    caplog.set_level(logging.DEBUG, logger=fastpath.log.name)
    _check_oracle(spark, ddb, name)
    decided = _decisions(caplog)
    assert not decided or name in GUARDED, (name, decided)


@pytest.mark.parametrize("name", GUARDED)
def test_query_matches_oracle_fast_paths_off(
    spark, ddb, name, caplog, fast_paths_off
):
    """Every guarded query again with each fallback forced: the
    distributed plans must give the oracle's rows too."""
    caplog.set_level(logging.DEBUG, logger=fastpath.log.name)
    _check_oracle(spark, ddb, name)
    decided = _decisions(caplog)
    assert decided, name
    assert all("distributed path" in d for d in decided), (name, decided)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
