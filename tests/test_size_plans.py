"""Plans picked by input size: the driver-side near-dup plan gives the
rows of the distributed plan it stands in for, and falls back when over
its caps with one collect of the corpus at most."""

import logging

import numpy as np
import pytest

from sprout_spark.operators import dedup
from sprout_spark.operators.dedup import near_dup_pairs
from sprout_spark.spark import fastpath

VOCAB = [f"w{i:03d}" for i in range(300)]


@pytest.fixture(scope="module")
def corpus(spark):
    """Near-dups, a block of identical boilerplate docs (hot buckets),
    short docs (no 3-shingles), NULL ids and empty or blank texts."""
    rng = np.random.RandomState(3)
    rows = [(i, " ".join(rng.choice(VOCAB, 30))) for i in range(60)]
    for j in range(8):
        toks = rows[j][1].split()
        toks[j % 30] = f"edit{j}"
        rows.append((100 + j, " ".join(toks)))
    rows += [(200 + j, "accept all cookies to continue") for j in range(12)]
    rows += [(300, "two words"), (301, "two words"), (302, "")]
    rows += [(303, " \t\n"), (304, None), (None, rows[0][1]), (None, "x y")]
    return spark.createDataFrame(rows, "id bigint, text string")


def _decisions(caplog, name):
    return [
        r.getMessage() for r in caplog.records
        if r.name == fastpath.log.name and r.getMessage().startswith(name)
    ]


def _pairs(df, **kw):
    return sorted(map(tuple, near_dup_pairs(df, "id", "text", **kw).collect()))


def _distributed(monkeypatch, df, **kw):
    # over the docs cap: no collect, the join verify
    with monkeypatch.context() as m:
        m.setitem(fastpath.CAPS, "verify_jaccard.docs", 0)
        return _pairs(df, **kw)


@pytest.mark.parametrize("shingle_k", [1, 3])
@pytest.mark.parametrize(
    "guard",
    [
        dict(),
        dict(max_bucket=5, oversize_mode="star"),
        dict(max_bucket=5, oversize_mode="drop"),
        dict(max_bucket=None),
    ],
    ids=["star4096", "star5", "drop5", "unguarded"],
)
def test_local_near_dup_equals_distributed(
    spark, corpus, monkeypatch, caplog, guard, shingle_k
):
    caplog.set_level(logging.DEBUG, logger=fastpath.log.name)
    kw = dict(threshold=0.5, shingle_k=shingle_k, **guard)
    local = _pairs(corpus, **kw)
    assert _decisions(caplog, "near_dup_local.candidates")[-1].startswith(
        "near_dup_local.candidates: fast path"
    )
    assert local == _distributed(monkeypatch, corpus, **kw)
    assert all(a is not None and b is not None and a < b for a, b, _ in local)
    if shingle_k == 1:
        assert (0, 100) in {(a, b) for a, b, _ in local}
        assert (300, 301) in {(a, b) for a, b, _ in local}


def test_local_near_dup_duplicate_ids_fall_back(spark, corpus, monkeypatch, caplog):
    """Duplicate ids fan the distributed joins out; the driver plan
    leaves them to it, with the same rows."""
    caplog.set_level(logging.DEBUG, logger=fastpath.log.name)
    dup = corpus.union(corpus.where("id = 100"))
    got = _pairs(dup, threshold=0.5)
    assert not _decisions(caplog, "near_dup_local.candidates")
    assert got == _distributed(monkeypatch, dup, threshold=0.5)


def test_local_near_dup_empty_corpus(spark, corpus, monkeypatch):
    empty = corpus.where("id < 0")
    assert _pairs(empty) == _distributed(monkeypatch, empty) == []


@pytest.fixture
def identical_docs(spark, monkeypatch):
    """Identical docs share every bucket; each collect is recorded."""
    collects = []
    real = fastpath.collect_at_most

    def counting(name, df):
        collects.append(name)
        return real(name, df)

    monkeypatch.setattr(fastpath, "collect_at_most", counting)
    docs = spark.createDataFrame(
        [(i, "the same boilerplate text every time") for i in range(20)],
        "id bigint, text string",
    )
    return docs, collects


def test_local_near_dup_over_candidate_cap_collects_once(
    identical_docs, monkeypatch, caplog
):
    """Over the candidate cap the distributed plan runs, and its verify
    reuses the rows the driver plan collected instead of collecting the
    corpus again."""
    docs, collects = identical_docs
    caplog.set_level(logging.DEBUG, logger=fastpath.log.name)
    monkeypatch.setitem(fastpath.CAPS, "near_dup_local.candidates", 100)
    got = _pairs(docs, threshold=0.9)
    assert _decisions(caplog, "near_dup_local.candidates")[-1].startswith(
        "near_dup_local.candidates: distributed path"
    )
    assert collects == ["verify_jaccard.docs"]
    assert _decisions(caplog, "verify_jaccard.docs") == [
        "verify_jaccard.docs: fast path (observed 20, cap 131072)"
    ]
    assert len(got) == 20 * 19 // 2


def test_local_near_dup_over_docs_cap_joins_without_recollect(
    identical_docs, monkeypatch, caplog
):
    """Over the docs cap the truncated collect is the only one: the
    verify goes straight to the join plan, with the same rows."""
    docs, collects = identical_docs
    caplog.set_level(logging.DEBUG, logger=fastpath.log.name)
    monkeypatch.setitem(fastpath.CAPS, "verify_jaccard.docs", 5)
    out = near_dup_pairs(docs, "id", "text", threshold=0.9)
    got = sorted(map(tuple, out.collect()))
    assert collects == ["verify_jaccard.docs"]
    assert not _decisions(caplog, "near_dup_local.candidates")
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    # the MinHash kernel is the plan's only Python stage
    assert plan.count("MapInArrow") == 1, plan
    assert [(a, b) for a, b, _ in got] == [
        (a, b) for a in range(20) for b in range(a + 1, 20)
    ]


def test_local_near_dup_runs_no_python_stage(spark, corpus):
    """The driver plan hands back a local relation: no Spark-side
    MinHash or verify kernel is left in the plan."""
    out = near_dup_pairs(corpus, "id", "text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan and "Exchange" not in plan


def test_jaccard_kernel_chunks_match_one_pass(monkeypatch):
    """Chunking the verify by gathered entries leaves every value as
    one pass over all pairs gives it."""
    import pyarrow as pa

    rng = np.random.RandomState(1)
    toks = [[str(t) for t in rng.choice(VOCAB[:40], rng.randint(0, 12))]
            for _ in range(50)]
    tbl = pa.table({"id": pa.array(range(50), pa.int64()),
                    "tokens": pa.array(toks, pa.list_(pa.string()))})
    (side,), vocab = dedup._token_index([tbl])
    ra, rb = np.triu_indices(50, 1)
    whole = dedup._jaccard(ra, rb, side, side, vocab)
    monkeypatch.setattr(dedup, "_VERIFY_CHUNK", 7)
    np.testing.assert_array_equal(dedup._jaccard(ra, rb, side, side, vocab), whole)
    want = [
        len(set(toks[a]) & set(toks[b])) / len(set(toks[a]) | set(toks[b]))
        if toks[a] or toks[b] else np.nan
        for a, b in zip(ra, rb)
    ]
    np.testing.assert_array_equal(whole, np.array(want))


@pytest.fixture(scope="module")
def stored(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stored") / "docs.parquet")
    spark.createDataFrame(
        [(1, "MENU\nalpha one"), (2, "beta two")], "id bigint, text string"
    ).write.parquet(path)
    return spark.read.parquet(path)


def test_plan_bytes_refuses_unbounded_estimates(spark, stored):
    from pyspark.sql import functions as F

    assert fastpath.plan_bytes(stored) > 0
    assert fastpath.plan_bytes(spark.createDataFrame([(1,)], "x int")) is None
    exploded = stored.select(F.explode(F.split("text", "\n")))
    assert fastpath.plan_bytes(exploded) is None


def test_scan_only_tells_stored_rows_from_computed(spark, stored):
    assert fastpath.scan_only(stored)
    assert fastpath.scan_only(stored.where("id > 1").select("text"))
    assert not fastpath.scan_only(stored.groupBy("id").count())
    assert not fastpath.scan_only(stored.mapInArrow(lambda b: b, stored.schema))
    # an RDD-backed frame reruns its lineage on each read
    assert not fastpath.scan_only(spark.createDataFrame([(1,)], "x int"))
