"""Line-level dedup operators (C4-style boilerplate strip + keep-first)."""

import os

import pytest
from pyspark.sql import functions as F

from sprout_spark.operators.lines import (
    boilerplate_lines,
    dedup_lines_keep_first,
    strip_boilerplate_lines,
)

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "COOKIE BANNER\nalpha prose one\n\nCOOKIE BANNER"),
            (2, "COOKIE BANNER\nbeta prose two\nfooter (c) site"),
            (3, "gamma prose three\nfooter (c) site\n  COOKIE BANNER  "),
            (4, "delta unique text"),
            (5, ""),
        ],
        "id bigint, text string",
    )


def test_boilerplate_lines_audit(spark, docs):
    got = {(r["line"], r["n_docs"]) for r in
           boilerplate_lines(docs, "id", "text", min_docs=3).collect()}
    # the banner appears in 3 DISTINCT docs (twice in doc 1 counts once;
    # doc 3's padded variant matches via trim); the footer only in 2
    assert got == {("COOKIE BANNER", 3)}
    got2 = {(r["line"], r["n_docs"]) for r in
            boilerplate_lines(docs, "id", "text", min_docs=2).collect()}
    assert got2 == {("COOKIE BANNER", 3), ("footer (c) site", 2)}


def test_strip_boilerplate_semantics(spark, docs):
    out = {r["id"]: r for r in
           strip_boilerplate_lines(docs, "id", "text", min_docs=3).collect()}
    # every occurrence drops (both in doc 1), blank lines survive, kept
    # lines stay byte-identical (doc 3's footer keeps its exact bytes)
    assert out[1]["text"] == "alpha prose one\n"
    assert (out[1]["n_lines"], out[1]["n_dropped"]) == (4, 2)
    assert out[2]["text"] == "beta prose two\nfooter (c) site"
    assert out[3]["text"] == "gamma prose three\nfooter (c) site"
    assert out[4]["text"] == "delta unique text"
    assert out[4]["n_dropped"] == 0
    assert out[5]["text"] == "" and out[5]["n_lines"] == 1
    assert len(out) == 5  # fully-stripped docs would still keep their row


def test_strip_whitespace_normalizes_decisions_not_bytes(spark):
    # padded variants all match one trimmed identity; the kept line in
    # the surviving doc is untouched
    df = spark.createDataFrame(
        [(1, " chrome \nkeep a"), (2, "chrome\nkeep b"), (3, "chrome  \nkeep c")],
        "id bigint, text string",
    )
    out = {r["id"]: r["text"] for r in
           strip_boilerplate_lines(df, "id", "text", min_docs=3).collect()}
    assert out == {1: "keep a", 2: "keep b", 3: "keep c"}


def test_dedup_lines_keep_first(spark, docs):
    out = {r["id"]: r for r in
           dedup_lines_keep_first(docs, "id", "text").collect()}
    # global first occurrence survives: banner at (1, 0); doc 1's second
    # occurrence drops; footer first seen at (2, 2)
    assert out[1]["text"] == "COOKIE BANNER\nalpha prose one\n"
    assert out[1]["n_dropped"] == 1
    assert out[2]["text"] == "beta prose two\nfooter (c) site"
    assert out[3]["text"] == "gamma prose three"
    assert out[3]["n_dropped"] == 2
    assert out[4]["n_dropped"] == 0
    assert out[5]["text"] == ""


def test_dedup_lines_within_doc_repeat(spark):
    # a line repeated only WITHIN one doc still dedups (occurrence
    # count, not doc count) and keeps the earlier position
    df = spark.createDataFrame([(7, "x\ny\nx\nx")], "id bigint, text string")
    r = dedup_lines_keep_first(df, "id", "text").collect()[0]
    assert r["text"] == "x\ny" and r["n_dropped"] == 2


def test_gate_none_equals_bloom(spark, docs):
    a = strip_boilerplate_lines(docs, "id", "text", min_docs=2, gate="bloom")
    b = strip_boilerplate_lines(docs, "id", "text", min_docs=2, gate="none")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    c = dedup_lines_keep_first(docs, "id", "text", gate="bloom")
    d = dedup_lines_keep_first(docs, "id", "text", gate="none")
    assert sorted(map(tuple, c.collect())) == sorted(map(tuple, d.collect()))


def test_no_boilerplate_short_circuit_roundtrips(spark, docs):
    out = {r["id"]: r for r in
           strip_boilerplate_lines(docs, "id", "text", min_docs=5).collect()}
    orig = {r["id"]: r["text"] for r in docs.collect()}
    for i, t in orig.items():
        assert out[i]["text"] == t and out[i]["n_dropped"] == 0


def test_param_guards(spark, docs):
    with pytest.raises(ValueError, match="min_docs"):
        strip_boilerplate_lines(docs, "id", "text", min_docs=1)
    with pytest.raises(ValueError, match="gate"):
        dedup_lines_keep_first(docs, "id", "text", gate="magic")


def test_count_stage_prunes_text_from_scan(spark):
    """The count shuffle's scan reads only (doc_id, text) from a wide
    parquet table — lang/source/n_chars never leave the reader — and the
    aggregation groups on the xxhash64 line key, not line text."""
    docs = spark.read.parquet(
        os.path.join(TESTDATA, "sf0.001", "documents.parquet")
    )
    bp = boilerplate_lines(docs, "doc_id", "text", min_docs=2, gate="none")
    plan = bp._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m, plan
    assert "doc_id" in m.group(1) and "text" in m.group(1)
    assert "lang" not in m.group(1) and "source" not in m.group(1)
    assert "xxhash64" in plan


def test_strip_on_derived_corpus_matches_duckdb(spark):
    """End-to-end equality vs DuckDB on the 2-token-line derived corpus
    at sf0.001 (the oracle-query shape, smaller scale)."""
    import duckdb

    p = os.path.join(TESTDATA, "sf0.001", "documents.parquet")
    docs = spark.read.parquet(p)
    toks = F.split(F.col("text"), " ")
    nline = F.greatest(F.ceil(F.size(toks) / F.lit(2)), F.lit(1)).cast("int")
    lines_arr = F.transform(
        F.sequence(F.lit(0), nline - 1),
        lambda i: F.array_join(F.slice(toks, i * 2 + 1, 2), " "),
    )
    docs2 = docs.select(
        "doc_id", F.array_join(lines_arr, "\n").alias("text")
    )
    got = sorted(
        map(tuple, strip_boilerplate_lines(
            docs2, "doc_id", "text", min_docs=8).collect())
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}')"
    )
    want = sorted(
        map(tuple, con.execute("""
WITH d AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
lines AS (
  SELECT doc_id, i AS g,
         array_to_string(toks[(i*2+1):(i*2+2)], ' ') AS line
  FROM d, unnest(range(0, CAST(greatest(ceil(len(toks)/2.0), 1) AS BIGINT))) AS t(i)
),
bad AS (
  SELECT trim(line) AS norm FROM lines WHERE trim(line) <> ''
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 8
),
flagged AS (
  SELECT l.doc_id, l.g, l.line, (b.norm IS NOT NULL) AS is_bad
  FROM lines l LEFT JOIN bad b ON trim(l.line) = b.norm
)
SELECT doc_id,
       coalesce(string_agg(line, chr(10) ORDER BY g)
                FILTER (WHERE NOT is_bad), '') AS text,
       count(*) AS n_lines,
       count(*) FILTER (WHERE is_bad) AS n_dropped
FROM flagged GROUP BY doc_id
""").fetchall())
    )
    assert got == want


def _final_plan(df) -> str:
    """The AQE final plan of an executed query (its initial plan cut)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


@pytest.mark.parametrize("op", [strip_boilerplate_lines, dedup_lines_keep_first])
def test_verify_evaluates_probe_once(spark, docs, op):
    """The verify is one window over the probed suspect lines, so the
    Bloom probe UDF runs once (an aggregate joined back to the suspects
    would evaluate it on both sides of the join)."""
    out = op(docs, "id", "text")
    out.collect()
    assert _final_plan(out).count("ArrowEvalPython") == 1


@pytest.mark.parametrize("gate", ["bloom", "none"])
def test_strip_null_ids_never_count_as_docs(spark, gate):
    """A NULL id is not a document for the distinct-doc count (SQL
    ``count(DISTINCT id)`` semantics), and a NULL-id doc never gets
    lines dropped (its drop list cannot join back on the id)."""
    docs = spark.createDataFrame(
        [(1, "A\nx"), (None, "A\ny"), (None, "A\nz"), (2, "B\nw"),
         (3, "B\nv")],
        "id bigint, text string",
    )
    out = {
        (r["id"], r["text"])
        for r in strip_boilerplate_lines(docs, "id", "text", gate=gate).collect()
    }
    assert out == {(1, "A\nx"), (None, "A\ny"), (None, "A\nz"), (2, "w"),
                   (3, "v")}
