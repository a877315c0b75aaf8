"""Training-data pipeline operator tests: dedup (exact / MinHash-LSH /
SimHash / n-gram Jaccard), similarity search (brute-force + SRP-LSH),
text analysis, multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sprout_spark.spark import fastpath
from sprout_spark.functions.text import (
    document_fingerprints,
    language_id,
    quality_score,
    with_text_stats,
)
from sprout_spark.operators.dedup import (
    exact_dedup,
    exact_jaccard_pairs,
    minhash_band_rows,
    near_dup_pairs,
    simhash_near_dup_pairs,
)
from sprout_spark.operators.multimodal import (
    extract_image_features,
    repartition_by_bytes,
    sample_video_frames,
    synthesize_media,
)
from sprout_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_topk,
    embedding_near_dup_pairs,
)

VOCAB = [f"w{i:03d}" for i in range(400)]


def _doc(rng, n_tokens):
    return " ".join(rng.choice(VOCAB, size=n_tokens))


@pytest.fixture(scope="module")
def docs(spark):
    """Synthetic corpus with planted near-duplicates."""
    rng = np.random.RandomState(42)
    rows = []
    for i in range(120):
        rows.append((i, _doc(rng, 40)))
    # planted near-dups: copy docs 0-9 with ~10% token perturbation
    for j in range(10):
        base = rows[j][1].split()
        k = max(1, len(set(base)) // 12)
        mutated = list(base)
        for t in range(k):
            mutated[(7 * t) % len(mutated)] = f"mut{j}_{t}"
        rows.append((200 + j, " ".join(mutated)))
    # planted exact dups of docs 10-12
    for j in range(3):
        rows.append((300 + j, rows[10 + j][1]))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs, "doc_id", ["text"]).collect()
    by_id = {r["doc_id"]: r["n_copies"] for r in out}
    assert by_id[10] == 2 and by_id[11] == 2 and by_id[12] == 2
    assert 300 not in by_id  # duplicate collapsed onto the lowest id
    assert sum(r["n_copies"] for r in out) == docs.count()


def test_minhash_lsh_matches_exact_jaccard(spark, docs):
    got = {
        (r["a"], r["b"])
        for r in near_dup_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    }
    want = {
        (r["a"], r["b"])
        for r in exact_jaccard_pairs(docs, "doc_id", "text", 0.8).collect()
    }
    assert got == want
    # the planted near-dups are found
    for j in range(10):
        assert (j, 200 + j) in got
    # exact dups found at threshold 1.0
    exact = {
        (r["a"], r["b"])
        for r in near_dup_pairs(docs, "doc_id", "text", threshold=1.0).collect()
    }
    assert {(10, 300), (11, 301), (12, 302)} <= exact


def test_near_dup_null_ids_never_pair(spark, monkeypatch):
    """A NULL id is no pair partner: the broadcast verify and the join
    plan agree, and no pair carries NULL or the int64 cast of one."""
    monkeypatch.setitem(fastpath.CAPS, "near_dup_local.candidates", 0)
    t = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(1, t), (None, t), (3, t + " x")], "id bigint, text string"
    )

    def pairs():
        return sorted(
            tuple(r) for r in near_dup_pairs(docs, "id", "text", 0.5).collect()
        )

    fast = pairs()
    monkeypatch.setitem(fastpath.CAPS, "verify_jaccard.docs", 0)
    assert pairs() == fast
    assert [(a, b) for a, b, _ in fast] == [(1, 3)]


def test_near_dup_minhash_kernel_runs_once(spark, docs, monkeypatch):
    """The band rows are declared NOT NULL, so both branches of the
    candidate stage (bucket join and hot-bucket star) read one reused
    exchange and the MinHash kernel runs once."""
    import re

    monkeypatch.setitem(fastpath.CAPS, "near_dup_local.candidates", 0)
    out = near_dup_pairs(docs, "doc_id", "text", threshold=0.8)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    band_rows = r"MapInArrow .*\[id#\d+L?, band#\d+, bh#\d+L?\]"
    minhash = re.findall(band_rows, plan)
    assert len(minhash) == 1, plan
    assert "ReusedExchange" in plan


def test_minhash_band_rows_shape(spark, docs):
    bands = minhash_band_rows(docs, "doc_id", "text", n_hashes=64, band_r=4)
    pdf = bands.toPandas()
    assert set(pdf.columns) == {"id", "band", "bh"}
    assert (pdf.groupby("id").size() == 16).all()  # 64/4 bands per doc


def test_simhash_near_dups(spark, docs):
    pairs = simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3)
    got = {(r["a"], r["b"]): r["hamming"] for r in pairs.collect()}
    assert {(10, 300), (11, 301), (12, 302)} <= set(got)
    for p in [(10, 300), (11, 301), (12, 302)]:
        assert got[p] == 0  # identical text -> identical simhash


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(7)
    base = rng.normal(size=(100, 32)).astype(np.float32)
    # rows 0-4 get close neighbors at ids 100-104
    rows = [(i, base[i].tolist()) for i in range(100)]
    for j in range(5):
        near = base[j] + rng.normal(scale=0.05, size=32).astype(np.float32)
        rows.append((100 + j, near.tolist()))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_cosine_topk_exact(spark, emb):
    q = [r["embedding"] for r in emb.where("vec_id = 0").collect()][0]
    top = cosine_topk(emb, "vec_id", "embedding", q, k=3).collect()
    assert top[0]["id"] == 0 and top[0]["cosine"] == pytest.approx(1.0)
    assert top[1]["id"] == 100  # planted near neighbor
    assert top[1]["cosine"] > 0.99


def test_ann_lsh_recall(spark, emb):
    hits = 0
    for probe in range(5):
        q = [r["embedding"] for r in emb.where(f"vec_id = {probe}").collect()][0]
        exact = [r["id"] for r in cosine_topk(emb, "vec_id", "embedding", q, 3).collect()]
        approx = [
            r["id"]
            for r in ann_lsh_topk(
                emb, "vec_id", "embedding", q, k=3, n_planes=10, n_tables=8
            ).collect()
        ]
        hits += len(set(exact[:2]) & set(approx))
    assert hits >= 8  # >= 80% recall of the top-2 across probes


def test_ann_ivf_recall_and_determinism(spark, emb):
    from sprout_spark.operators.similarity import (
        ann_ivf_topk,
        build_ivf_index,
        train_ivf_centroids,
    )

    cents = train_ivf_centroids(emb, "vec_id", "embedding", 32, n_cells=8)
    cents2 = train_ivf_centroids(emb, "vec_id", "embedding", 32, n_cells=8)
    assert np.array_equal(cents, cents2)  # rerun-stable (oracle depends on it)
    index = build_ivf_index(emb, "vec_id", "embedding", 32, cents)
    hits = 0
    for probe in range(5):
        q = [r["embedding"] for r in emb.where(f"vec_id = {probe}").collect()][0]
        exact = [r["id"] for r in cosine_topk(emb, "vec_id", "embedding", q, 3).collect()]
        approx = [
            r["id"]
            for r in ann_ivf_topk(
                emb, "vec_id", "embedding", q, k=3,
                centroids=cents, nprobe=3, index=index,
            ).collect()
        ]
        hits += len(set(exact[:2]) & set(approx))
    assert hits >= 8  # >= 80% recall of the top-2 across probes


def test_ann_ivf_full_probe_is_exact(spark, emb):
    """nprobe == n_cells degenerates to brute force: results identical."""
    from sprout_spark.operators.similarity import ann_ivf_topk

    q = [r["embedding"] for r in emb.where("vec_id = 0").collect()][0]
    exact = [r["id"] for r in cosine_topk(emb, "vec_id", "embedding", q, 5).collect()]
    full = [
        r["id"]
        for r in ann_ivf_topk(
            emb, "vec_id", "embedding", q, k=5, nprobe=8, n_cells=8
        ).collect()
    ]
    assert full == exact


def test_ivf_index_partition_pruned(spark, emb, tmp_path):
    """A persisted IVF index is cell-partitioned parquet: probing reads
    only the probed cells' directories (PartitionFilters, not a post-scan
    filter)."""
    from sprout_spark.operators.similarity import (
        build_ivf_index,
        train_ivf_centroids,
    )
    from pyspark.sql import functions as F

    cents = train_ivf_centroids(emb, "vec_id", "embedding", 32, n_cells=4)
    path = str(tmp_path / "ivf_index")
    index = build_ivf_index(emb, "vec_id", "embedding", 32, cents, path=path)
    import os

    cell_dirs = {d for d in os.listdir(path) if d.startswith("cell=")}
    assert len(cell_dirs) >= 2  # spread across cells
    plan = index.where(F.col("cell").isin([0, 1]))._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    # every base row is in exactly one cell
    assert index.count() == emb.count()


def test_embedding_near_dup_pairs(spark, emb):
    pairs = embedding_near_dup_pairs(
        emb, "vec_id", "embedding", dim=32, min_cosine=0.98
    ).collect()
    got = {(r["a"], r["b"]) for r in pairs}
    assert {(j, 100 + j) for j in range(5)} <= got


def test_cosine_pairs_exact_mixed_dims_and_nulls(spark, monkeypatch):
    """The broadcast cosine kernel must reproduce the JVM fold's edge
    semantics: vectors only pair within their own length group (zip_with
    pads the shorter side with NULL -> NULL cosine -> dropped), and
    NULL vectors / NULL elements never produce a pair."""
    from sprout_spark.operators.similarity import cosine_pairs_exact

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),      # pairs with 0 at cosine 1.0
        (2, [1.0, 0.0]),           # dim-2 group
        (3, [1.0, 0.0]),           # pairs with 2 at cosine 1.0
        (4, None),                 # NULL vector: no pairs
        (5, [1.0, None, 0.0]),     # NULL element: no pairs
        (6, [-1.0, 0.0, 0.0]),     # pairs below threshold: dropped
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {(r["a"], r["b"]): r["cosine"]
           for r in cosine_pairs_exact(df, "vec_id", "embedding", 0.5).collect()}
    assert set(got) == {(0, 1), (2, 3)}
    assert got[(0, 1)] == 1.0 and got[(2, 3)] == 1.0
    # above the broadcast cap the crossJoin + pair kernel must agree
    monkeypatch.setitem(fastpath.CAPS, "cosine_pairs_exact.rows", 0)
    got2 = {(r["a"], r["b"]): r["cosine"] for r in cosine_pairs_exact(
        df, "vec_id", "embedding", 0.5).collect()}
    assert got2 == got


def test_verify_jaccard_fallback_paths(spark, monkeypatch):
    """Duplicate ids and NULL token elements must disqualify the
    broadcast verify (falling back to the join plan), with identical
    results from both plans on clean input."""
    from sprout_spark.operators.dedup import verify_jaccard

    toks = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["a", "b", "d"]), (3, ["x"])],
        "id bigint, tokens array<string>",
    )
    cands = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 9)], "a bigint, b bigint"
    )
    fast = {(r["a"], r["b"], r["jaccard"])
            for r in verify_jaccard(cands, toks, 0.4).collect()}
    with monkeypatch.context() as m:
        m.setitem(fastpath.CAPS, "verify_jaccard.docs", 0)
        slow = {(r["a"], r["b"], r["jaccard"])
                for r in verify_jaccard(cands, toks, 0.4).collect()}
    assert fast == slow == {(1, 2, 0.5)}  # (1,3) below thr; (2,9) no b row
    # NULL element -> fall back (same answer, join plan)
    toks_null = spark.createDataFrame(
        [(1, ["a", "b", None]), (2, ["a", "b", "d"])],
        "id bigint, tokens array<string>",
    )
    out = verify_jaccard(
        spark.createDataFrame([(1, 2)], "a bigint, b bigint"), toks_null, 0.1
    ).collect()
    assert len(out) == 1  # array_intersect/union handle the null slot
    # duplicate id -> fall back (join fans out, matching JVM semantics)
    toks_dup = spark.createDataFrame(
        [(1, ["a"]), (1, ["a"]), (2, ["a"])],
        "id bigint, tokens array<string>",
    )
    out = verify_jaccard(
        spark.createDataFrame([(1, 2)], "a bigint, b bigint"), toks_dup, 0.1
    ).collect()
    assert len(out) == 2  # two id=1 rows both join


def test_embedding_srp_hot_bucket_guard(spark):
    """Mass-identical embeddings (identically-embedded boilerplate, zero
    vectors from a failed encoder) put every copy in ONE SRP bucket per
    table; the guard must keep candidates O(n·cap) star pairs instead of
    the quadratic all-pairs join, and semantic_dedup survivors must be
    unchanged (the star spans the clique and every star pair survives
    the exact cosine verify)."""
    import numpy as np

    from sprout_spark.operators.similarity import semantic_dedup

    rng = np.random.RandomState(11)
    base = rng.normal(size=16)
    base /= np.linalg.norm(base)
    rows = [(i, [float(x) for x in base], i) for i in range(50)]
    for i in range(50, 60):
        v = rng.normal(size=16)
        rows.append((i, [float(x) for x in v], i))
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    guarded = embedding_near_dup_pairs(
        df, "vec_id", "embedding", dim=16, min_cosine=0.95, max_bucket=8
    ).collect()
    clique_pairs = {
        (r["a"], r["b"]) for r in guarded if r["a"] < 50 and r["b"] < 50
    }
    # star, not quadratic: 49 (rep, member) pairs, never C(50,2)=1225
    assert clique_pairs == {(0, b) for b in range(1, 50)}
    unguarded = embedding_near_dup_pairs(
        df, "vec_id", "embedding", dim=16, min_cosine=0.95, max_bucket=None
    ).collect()
    assert len({(r["a"], r["b"]) for r in unguarded if r["a"] < 50}) >= 1225
    kw = dict(dim=16, min_cosine=0.95)
    s_guard = {r["vec_id"] for r in semantic_dedup(
        df, "vec_id", "embedding", "label", max_bucket=8, **kw
    ).collect()}
    s_full = {r["vec_id"] for r in semantic_dedup(
        df, "vec_id", "embedding", "label", max_bucket=None, **kw
    ).collect()}
    assert s_guard == s_full  # one clique survivor + the 10 isolates
    assert len(s_guard) == 11


@pytest.fixture()
def langdocs(docs):
    from pyspark.sql import functions as F

    return docs.withColumn(
        "lang", F.concat(F.lit("l"), F.pmod(F.col("doc_id"), F.lit(3)))
    )


def test_stratified_sample_salted_equals_single_window(spark, langdocs):
    """The two-phase salted ranking must select EXACTLY the same rows as
    the single-window form (phase 1 never discards a global winner)."""
    from sprout_spark.operators.sampling import stratified_sample

    docs = langdocs
    plain = stratified_sample(docs, ["lang"], "doc_id", 7, salt=1)
    salted = stratified_sample(docs, ["lang"], "doc_id", 7, salt=8)
    a = {(r["lang"], r["doc_id"]) for r in plain.collect()}
    b = {(r["lang"], r["doc_id"]) for r in salted.collect()}
    assert a == b and len(a) > 0


def test_stratified_sample_caps_and_determinism(spark, langdocs):
    from sprout_spark.operators.sampling import stratified_sample

    docs = langdocs
    s1 = stratified_sample(docs, ["lang"], "doc_id", 5, salt=4)
    counts = s1.groupBy("lang").count().collect()
    assert all(r["count"] <= 5 for r in counts)
    # small strata keep everything
    truth = dict(docs.groupBy("lang").count().collect())
    got = dict(counts)
    for lang, n in truth.items():
        assert got[lang] == min(5, n)
    # rerun at different parallelism -> identical sample
    s2 = stratified_sample(docs.repartition(13), ["lang"], "doc_id", 5, salt=4)
    assert {tuple(r) for r in s1.select("doc_id").collect()} == {
        tuple(r) for r in s2.select("doc_id").collect()
    }


def test_stratified_sample_xxhash_mode(spark, langdocs):
    from sprout_spark.operators.sampling import stratified_sample

    docs = langdocs
    s = stratified_sample(docs, ["lang"], "doc_id", 3, salt=4, hash_mode="xxhash64")
    assert all(r["count"] <= 3 for r in s.groupBy("lang").count().collect())
    with pytest.raises(ValueError):
        stratified_sample(docs, ["lang"], "doc_id", 3, hash_mode="bogus")


def _naive_budget(df, groups, key, wcol, budget, mode):
    """Reference single-window form of budget_sample (sorts whole strata
    — correct, not scalable): the two-phase plan must match it exactly."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from sprout_spark.operators.sampling import _order_hash

    w = (
        Window.partitionBy(*groups)
        .orderBy(_order_hash(key, mode), key)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.where(F.col(wcol).isNotNull() & (F.col(wcol) > 0))
        .withColumn("_cw", F.sum(wcol).over(w))
        .where(F.col("_cw") <= budget)
        .drop("_cw")
    )


@pytest.fixture()
def wdocs(langdocs):
    from pyspark.sql import functions as F

    return langdocs.withColumn("n_chars", F.length("text").cast("bigint"))


def test_budget_sample_equals_naive_window(spark, wdocs):
    """Bucket-histogram classification ≡ the global window cumsum, at
    budgets hitting empty/partial/full strata, in both hash modes."""
    from sprout_spark.operators.sampling import budget_sample

    total = wdocs.agg({"n_chars": "sum"}).collect()[0][0]
    for mode in ("portable", "xxhash64"):
        for budget in (50, total // 6, total):
            a = sorted(
                map(tuple, budget_sample(
                    wdocs, ["lang"], "doc_id", "n_chars", budget,
                    hash_mode=mode).collect())
            )
            b = sorted(
                map(tuple, _naive_budget(
                    wdocs, ["lang"], "doc_id", "n_chars", budget,
                    mode).collect())
            )
            assert a == b, (mode, budget)
    # the full-corpus budget keeps every positive-weight row
    assert len(a) == wdocs.count()


def test_budget_sample_budget_held_and_maximal(spark, wdocs):
    from pyspark.sql import functions as F

    from sprout_spark.operators.sampling import budget_sample

    budget = 900
    s = budget_sample(wdocs, ["lang"], "doc_id", "n_chars", budget)
    sums = {r["lang"]: r["s"] for r in
            s.groupBy("lang").agg(F.sum("n_chars").alias("s")).collect()}
    assert sums and all(v <= budget for v in sums.values())
    # maximality: the next row in hash order would overflow the budget
    nxt = {r["lang"]: r for r in
           _naive_budget(wdocs, ["lang"], "doc_id", "n_chars", 10**15,
                         "portable")
           .join(s.select("doc_id").withColumn("_in", F.lit(1)),
                 "doc_id", "left_anti")
           .groupBy("lang").agg(F.min("n_chars").alias("w")).collect()}
    for lang, r in nxt.items():
        assert sums.get(lang, 0) + r["w"] > budget


def test_budget_sample_parallelism_invariant(spark, wdocs):
    from sprout_spark.operators.sampling import budget_sample

    a = {r["doc_id"] for r in budget_sample(
        wdocs, ["lang"], "doc_id", "n_chars", 700).collect()}
    b = {r["doc_id"] for r in budget_sample(
        wdocs.repartition(13), ["lang"], "doc_id", "n_chars", 700
    ).collect()}
    assert a == b and a


def test_budget_sample_edge_weights_and_guards(spark):
    from sprout_spark.operators.sampling import budget_sample

    df = spark.createDataFrame(
        [(1, None, 10), (2, None, 20), (3, "s", None), (4, "s", -5),
         (5, "s", 7)],
        "id bigint, src string, w bigint",
    )
    got = sorted((r["id"], r["src"]) for r in
                 budget_sample(df, ["src"], "id", "w", 15).collect())
    # NULL stratum works (null-safe join); NULL/negative weights drop
    assert got == [(1, None), (5, "s")]
    with pytest.raises(ValueError, match="budget"):
        budget_sample(df, ["src"], "id", "w", 0)
    with pytest.raises(ValueError, match="hash_mode"):
        budget_sample(df, ["src"], "id", "w", 5, hash_mode="bogus")


def test_text_stats_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "Hello, World 42!"), (2, ""), (3, "   "), (4, "a b  c")],
        "id bigint, text string",
    )
    got = {r["id"]: r.asDict() for r in with_text_stats(df, "text").collect()}
    assert got[1]["n_chars"] == 16
    assert got[1]["n_ws_tokens"] == 3
    assert got[1]["n_punct"] == 2  # ',' and '!'
    assert got[1]["n_digits"] == 2
    assert got[1]["n_upper"] == 2
    assert got[2]["n_ws_tokens"] == 0 and got[3]["n_ws_tokens"] == 0
    assert got[4]["n_ws_tokens"] == 3
    q = {r["id"]: r["quality"] for r in quality_score(df, "text").collect()}
    assert 0.0 <= q[1] <= 1.0 and q[2] == 0.0


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is on the mat and it was a good day for this"),
            (2, "el gato es un animal que vive en la casa con su familia"),
            (3, "le chat est dans la maison et les enfants sont pour une fête"),
            (4, "der hund ist mit den kindern im garten und das ist gut"),
            (5, "xyzzy plugh abcd efgh"),
        ],
        "id bigint, text string",
    )
    got = {r["id"]: r["lang_guess"] for r in language_id(df, "text").collect()}
    assert got[1] == "en" and got[2] == "es" and got[3] == "fr" and got[4] == "de"
    assert got[5] == "und"


def test_document_fingerprints(spark, docs):
    fps = document_fingerprints(docs, "doc_id", "text", gram=8, keep=4)
    pdf = fps.toPandas()
    assert (pdf.groupby("id").size() <= 4).all()
    # identical docs share all fingerprints
    a = set(pdf[pdf["id"] == 10]["fp"])
    b = set(pdf[pdf["id"] == 300]["fp"])
    assert a == b and len(a) == 4


def test_multimodal_pipeline(spark):
    media = synthesize_media(spark, n=60)
    feats = extract_image_features(media).collect()
    assert len(feats) == media.where("kind = 'image'").count()
    for r in feats:
        assert len(r["thumb"]) == 64
        assert 0 <= r["mean"] <= 255
    frames = sample_video_frames(media, every=2).collect()
    assert len(frames) > 0
    vids = {r["media_id"] for r in frames}
    assert vids == {
        r["media_id"] for r in media.where("kind = 'video'").collect()
    }
    # deterministic fake decode: rerun gives identical features
    feats2 = extract_image_features(media).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))
    rep = repartition_by_bytes(media, target_bytes=4096)
    assert rep.count() == media.count()
    with pytest.raises(NotImplementedError):
        extract_image_features(media, decode="strict")


def test_media_metadata_scan_prunes_payload(spark, tmp_path):
    """Metadata-only queries over a real media parquet must not read the
    blob column (the design rule the module docstring promises)."""
    media = synthesize_media(spark, n=30)
    path = str(tmp_path / "media")
    media.write.parquet(path)
    q = (
        spark.read.parquet(path)
        .groupBy("kind")
        .agg({"width": "sum", "*": "count"})
    )
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "payload" not in read_schema
    assert "kind" in read_schema and "width" in read_schema


def test_repartition_by_bytes_balances_and_is_deterministic(spark):
    media = synthesize_media(spark, n=120)
    target = 8192
    rep = repartition_by_bytes(media, target_bytes=target)
    assert rep.count() == media.count()  # no row lost or duplicated
    sizes = (
        rep.withColumn("_b", F.length("payload").cast("bigint"))
        .withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.sum("_b").alias("bytes"))
        .collect()
    )
    total = sum(r["bytes"] for r in sizes)
    n_expected = (total + target - 1) // target
    # partition count matches the byte budget (+/- hash-collision slack)
    assert len(sizes) <= n_expected
    # no partition grossly over target: fine-bucket smoothing keeps the
    # balls-in-bins max load near target (2x + one max row bound)
    max_row = max(
        r["b"]
        for r in media.select(F.length("payload").alias("b")).collect()
    )
    assert all(r["bytes"] <= 2 * target + max_row for r in sizes)
    # deterministic: identical bucket assignment on rerun
    a = sorted(r["bytes"] for r in sizes)
    sizes2 = (
        repartition_by_bytes(media, target_bytes=target)
        .withColumn("_b", F.length("payload").cast("bigint"))
        .withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.sum("_b").alias("bytes"))
        .collect()
    )
    assert sorted(r["bytes"] for r in sizes2) == a


def test_persisted_srp_index_reuse(spark, emb, tmp_path):
    """A persisted SRP index answers queries identically to the
    recompute-per-query path (same seeded hyperplane family)."""
    from sprout_spark.operators.similarity import build_srp_index

    path = str(tmp_path / "srp_index")
    idx = build_srp_index(
        emb, "vec_id", "embedding", dim=32, n_planes=10, n_tables=8, path=path
    )
    q = [r["embedding"] for r in emb.where("vec_id = 2").collect()][0]
    fresh = [
        r["id"]
        for r in ann_lsh_topk(
            emb, "vec_id", "embedding", q, k=3, n_planes=10, n_tables=8
        ).collect()
    ]
    reloaded = spark.read.parquet(path)
    cached = [
        r["id"]
        for r in ann_lsh_topk(
            emb, "vec_id", "embedding", q, k=3, n_planes=10, n_tables=8,
            index=reloaded,
        ).collect()
    ]
    assert fresh == cached
    assert idx.count() == emb.count() * 8  # one row per (vector, table)


def test_cosine_pairs_exact_threshold(spark, emb):
    from sprout_spark.operators.similarity import cosine_pairs_exact

    pairs = cosine_pairs_exact(emb, "vec_id", "embedding", 0.98).collect()
    got = {(r["a"], r["b"]) for r in pairs}
    assert {(j, 100 + j) for j in range(5)} <= got
    assert all(r["cosine"] >= 0.98 for r in pairs)


def test_duplicate_clusters_connected_components(spark):
    from sprout_spark.operators.dedup import duplicate_clusters

    # two components: a 5-node chain (diameter stress) + a triangle
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12)],
        "a bigint, b bigint",
    )
    got = {r["id"]: r["cluster"] for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10}


def test_duplicate_clusters_on_near_dups(spark, docs):
    from sprout_spark.operators.dedup import duplicate_clusters

    pairs = near_dup_pairs(docs, "doc_id", "text", threshold=0.8)
    got = {r["id"]: r["cluster"] for r in duplicate_clusters(pairs).collect()}
    for j in range(10):  # planted pair (j, 200+j) must co-cluster
        assert got[200 + j] == got[j]


def test_duplicate_clusters_chain_converges_logarithmically(spark):
    """O(log n) convergence (VERDICT r2 #4): a 1000-node path graph has
    diameter 999 — plain min-label propagation needs ~999 rounds; the
    pointer-jumping variant must finish within ~log2(1000) + slack."""
    from sprout_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(999)], "a bigint, b bigint"
    )
    got = duplicate_clusters(pairs, max_iters=12)
    assert got.where(F.col("cluster") != 0).count() == 0
    assert got.count() == 1000


def test_duplicate_clusters_raises_when_not_converged(spark, monkeypatch):
    """Exhausting max_iters must be a hard error, not silent partial
    labels (ADVICE r2: wrong cluster assignments with no signal). The
    driver union-find fast path solves any in-cap graph without
    iterating, so pin the cap to 0 to exercise the distributed rounds'
    guard."""
    from sprout_spark.operators import dedup as dedup_mod

    monkeypatch.setitem(fastpath.CAPS, "duplicate_clusters.rows", 0)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "a bigint, b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_mod.duplicate_clusters(pairs, max_iters=2)


def test_duplicate_clusters_driver_equals_distributed(spark, monkeypatch):
    """The union-find fast path and the distributed label propagation
    must produce identical (id, cluster) rows on a mixed graph (chain +
    clique + isolates-in-pairs)."""
    from sprout_spark.operators import dedup as dedup_mod

    edges = (
        [(i, i + 1) for i in range(40)]  # chain: one component, min 0
        + [(100 + i, 100 + j) for i in range(5) for j in range(i + 1, 5)]
        + [(500, 501), (600, 601)]
    )
    pairs = spark.createDataFrame(edges, "a bigint, b bigint")
    fast = {
        (r["id"], r["cluster"])
        for r in dedup_mod.duplicate_clusters(pairs).collect()
    }
    monkeypatch.setitem(fastpath.CAPS, "duplicate_clusters.rows", 0)
    dist = {
        (r["id"], r["cluster"])
        for r in dedup_mod.duplicate_clusters(pairs).collect()
    }
    assert fast == dist
    assert {(0, 0), (40, 0), (104, 100), (601, 600)} <= fast


def test_lsh_hot_bucket_guard_star_mode(spark):
    """Boilerplate corpus (VERDICT r2 #2): 10k copies of one header land
    in ONE bucket in EVERY band. Unguarded, the candidate self-join emits
    ~50M pairs x 32 bands; the star guard emits exactly n-1 pairs, every
    member connected to the bucket representative, so verify + clustering
    still resolve the duplicate set."""
    from sprout_spark.operators.dedup import duplicate_clusters, near_dup_pairs

    boiler = spark.range(0, 10_000).select(
        F.col("id").alias("doc_id"),
        F.lit("From: noreply Subject: your weekly digest unsubscribe here").alias(
            "text"
        ),
    )
    pairs = near_dup_pairs(
        boiler, "doc_id", "text", threshold=0.9, max_bucket=1000
    )
    rows = pairs.collect()
    assert len(rows) == 9_999  # star: (min, other), never quadratic
    assert all(r["a"] == 0 and r["jaccard"] == 1.0 for r in rows)
    clusters = duplicate_clusters(pairs)
    assert clusters.where(F.col("cluster") != 0).count() == 0
    assert clusters.count() == 10_000


def test_lsh_hot_bucket_guard_drop_mode_and_small_buckets_unaffected(spark, docs):
    from sprout_spark.operators.dedup import (
        lsh_bucket_stats,
        minhash_band_rows,
        near_dup_pairs,
    )

    boiler = spark.range(0, 3_000).select(
        F.col("id").alias("doc_id"), F.lit("same header text every time").alias("text")
    )
    dropped = near_dup_pairs(
        boiler, "doc_id", "text", threshold=0.9, max_bucket=1000,
        oversize_mode="drop",
    )
    assert dropped.count() == 0  # oversized buckets discarded entirely
    # corpora whose buckets are all under the cap: guarded == unguarded
    guarded = {
        (r["a"], r["b"])
        for r in near_dup_pairs(
            docs, "doc_id", "text", threshold=0.8, max_bucket=64
        ).collect()
    }
    unguarded = {
        (r["a"], r["b"])
        for r in near_dup_pairs(
            docs, "doc_id", "text", threshold=0.8, max_bucket=None
        ).collect()
    }
    assert guarded == unguarded
    # monitoring companion: the boilerplate corpus shows one giant bucket
    stats = lsh_bucket_stats(
        minhash_band_rows(boiler, "doc_id", "text")
    ).collect()
    assert max(r["bucket_size"] for r in stats) == 3_000


def test_extract_audio_features_kernel(spark):
    """Hand-checked fake-decode audio features + empty-payload handling."""
    from sprout_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_audio_features,
        synthesize_media,
    )

    rows = [
        (1, "audio", "raw", 0, 0, 16000, 1, bytearray(bytes([1, 9]))),
        (2, "audio", "raw", 0, 0, 16000, 1, bytearray(b"")),
        (3, "image", "raw", 2, 1, 0, 1, bytearray(bytes([5, 5]))),
        (4, "audio", "raw", 0, 0, 16000, 1, bytearray(bytes([10, 10, 10]))),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in extract_audio_features(media).collect()}
    assert set(got) == {1, 2, 4}  # image rows filtered out
    # [1, 9]: total=10, signs (1*2>10, 9*2>10) = (F, T) -> one crossing
    assert got[1]["n_samples"] == 2
    assert got[1]["rms"] == pytest.approx(np.sqrt((1 + 81) / 2))
    assert got[1]["mean_crossings"] == 1
    assert got[2]["n_samples"] == 0 and got[2]["rms"] == 0.0
    assert got[2]["mean_crossings"] == 0
    # constant signal: never crosses its own mean
    assert got[4]["mean_crossings"] == 0
    assert got[4]["rms"] == pytest.approx(10.0)
    # synthesized media: one feature row per audio clip, deterministic
    syn = synthesize_media(spark, n=30)
    feats = extract_audio_features(syn).collect()
    assert len(feats) == syn.where("kind = 'audio'").count()
    assert sorted(map(str, feats)) == sorted(
        map(str, extract_audio_features(syn).collect())
    )
    with pytest.raises(NotImplementedError):
        extract_audio_features(syn, decode="strict")


def test_audio_kernel_sliced_and_offset_arrays():
    """Regression: the crossings gather must index the Arrow data buffer
    by ABSOLUTE starts — a sliced binary array (offset > 0, buffer longer
    than the concatenated row segments) previously raised a broadcast
    ValueError. Results must equal the unsliced equivalent."""
    import pyarrow as pa

    from sprout_spark.operators.multimodal import _audio_features_kernel

    payloads = [b"hello", b"world!!", b"abcXYZabc"]
    full = pa.array(payloads, pa.binary())
    sliced = full.slice(1)  # offset=1: buffer keeps b"hello" bytes in front
    ids = pa.array([10, 11], pa.int64())
    got = _audio_features_kernel(
        pa.RecordBatch.from_arrays([ids, sliced], ["media_id", "payload"])
    ).to_pydict()
    want = _audio_features_kernel(
        pa.RecordBatch.from_arrays(
            [ids, pa.array(payloads[1:], pa.binary())], ["media_id", "payload"]
        )
    ).to_pydict()
    assert got == want

    # null slot mixed in: behaves as empty, neighbors unaffected
    with_null = pa.array([b"hello", None, b"world!!"], pa.binary())
    ids3 = pa.array([1, 2, 3], pa.int64())
    out = _audio_features_kernel(
        pa.RecordBatch.from_arrays([ids3, with_null], ["media_id", "payload"])
    ).to_pydict()
    assert out["n_samples"] == [5, 0, 7]
    solo = _audio_features_kernel(
        pa.RecordBatch.from_arrays(
            [pa.array([3], pa.int64()), pa.array([b"world!!"], pa.binary())],
            ["media_id", "payload"],
        )
    ).to_pydict()
    assert out["mean_crossings"][2] == solo["mean_crossings"][0]
    assert out["rms"][2] == solo["rms"][0]


def test_simhash_drops_empty_docs_no_quadratic_pairs(spark):
    """Regression: empty/whitespace-only docs all hashed to sig=0 and
    paired quadratically with hamming 0. They must be dropped (same
    policy as minhash), in BOTH simhash variants."""
    from sprout_spark.operators.dedup import (
        simhash_near_dup_pairs,
        simhash_near_dup_pairs_portable,
    )

    rows = [(i, "") if i % 2 else (i, " \t\n") for i in range(20)]
    rows += [(100, "alpha beta gamma delta"), (101, "alpha beta gamma delta")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {(r["a"], r["b"]) for r in simhash_near_dup_pairs(df, "doc_id", "text").collect()}
    assert got == {(100, 101)}  # no empty~empty pairs
    gotp = {
        (r["a"], r["b"])
        for r in simhash_near_dup_pairs_portable(df, "doc_id", "text").collect()
    }
    assert gotp == {(100, 101)}


def test_simhash_shingled_drops_short_docs(spark):
    """Regression (ADVICE r4, high): with shingle_k>1, docs with 1..k-1
    tokens yield zero shingles; the kernel used to emit sig=0 for them,
    so every unrelated short doc collided in every band and verified at
    hamming 0 — wrongful deletions. They must be dropped, in BOTH
    variants, matching the minhash no-shingles policy."""
    from sprout_spark.operators.dedup import (
        simhash_near_dup_pairs,
        simhash_near_dup_pairs_portable,
        simhash_signatures,
    )

    rows = [(i, f"tok{i} uniq{i}") for i in range(20)]  # 2 toks < k=3
    rows += [
        (100, "alpha beta gamma delta epsilon"),
        (101, "alpha beta gamma delta epsilon"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    # the signature kernel itself emits no row for vote-less docs
    sig_ids = {
        r["id"]
        for r in simhash_signatures(df, "doc_id", "text", shingle_k=3).collect()
    }
    assert sig_ids == {100, 101}
    got = {
        (r["a"], r["b"])
        for r in simhash_near_dup_pairs(df, "doc_id", "text", shingle_k=3).collect()
    }
    assert got == {(100, 101)}  # no short-doc sig=0 collisions
    gotp = {
        (r["a"], r["b"])
        for r in simhash_near_dup_pairs_portable(
            df, "doc_id", "text", shingle_k=3
        ).collect()
    }
    assert gotp == {(100, 101)}


def test_minhash_band_r_1_no_crash(spark, docs):
    """Regression: band_r=1 made the packed band matrix 8 bytes wide,
    violating the hash kernel's width contract (IndexError)."""
    bands = minhash_band_rows(docs, "doc_id", "text", n_hashes=16, band_r=1)
    assert bands.groupBy("id").count().collect()  # runs; 16 bands per doc


def test_image_kernel_all_empty_payload_batch(spark):
    """Regression: a batch whose image payloads are all empty gave a
    zero-length data buffer and the thumbnail gather raised IndexError."""
    rows = [
        (1, "image", "raw", 4, 4, 0, 0, bytearray(b"")),
        (2, "image", "raw", 2, 2, 0, 0, None),
    ]
    schema = (
        "media_id bigint, kind string, codec string, width int, height int, "
        "sample_rate int, n_frames int, payload binary"
    )
    media = spark.createDataFrame(rows, schema)
    got = {r["media_id"]: r for r in extract_image_features(media).collect()}
    assert got[1]["mean"] == 0.0 and list(got[1]["thumb"]) == [0.0] * 64
    assert got[2]["mean"] == 0.0


def test_ws_token_count_non_space_whitespace(spark):
    """Regression: Spark trim() strips only ASCII spaces, so '\\ta b'
    counted a phantom empty token (3 instead of 2) and '\\t' counted 2."""
    from sprout_spark.functions.text import ws_token_count

    df = spark.createDataFrame(
        [("\ta b",), ("\t",), ("a b",), ("",), ("  x  ",)], "t string"
    )
    got = [r["n"] for r in df.select(ws_token_count(F.col("t")).alias("n")).collect()]
    assert got == [2, 0, 2, 0, 1]


def test_language_id_null_text_is_und(spark):
    df = spark.createDataFrame([(1, None), (2, "the of and to a in")],
                               "doc_id bigint, text string")
    got = {r["doc_id"]: r["lang_guess"] for r in language_id(df, "text").collect()}
    assert got[1] == "und" and got[2] == "en"


def test_srp_and_ivf_reject_bad_embeddings(spark):
    """NULL embeddings drop (no signature/cell); wrong-length rows raise
    with the offending id instead of an inscrutable reshape error."""
    from sprout_spark.operators.similarity import (
        build_ivf_index,
        srp_signatures,
        train_ivf_centroids,
    )

    rows = [(i, [float(i)] * 8) for i in range(40)] + [(90, None)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    sigs = srp_signatures(df, "vec_id", "embedding", 8, n_planes=4, n_tables=2)
    assert sigs.where("id = 90").count() == 0  # null dropped
    assert sigs.select("id").distinct().count() == 40
    cents = train_ivf_centroids(df.where("embedding IS NOT NULL"),
                                "vec_id", "embedding", 8, n_cells=4,
                                train_rows_per_cell=16)
    ix = build_ivf_index(df, "vec_id", "embedding", 8, cents)
    assert ix.where("id = 90").count() == 0 and ix.count() == 40
    bad = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [1.0] * 5)], "vec_id bigint, embedding array<float>"
    )
    with pytest.raises(Exception, match="length != dim"):
        srp_signatures(bad, "vec_id", "embedding", 8, 4, 2).collect()


def test_train_ivf_centroids_tolerates_null_and_rejects_bad_length(spark):
    """ADVICE r3: the training sample must skip NULL embeddings (instead
    of collapsing to an object array deep in the matmul) and reject
    wrong-length vectors with the same loud error style as _vec_matrix."""
    from sprout_spark.operators.similarity import train_ivf_centroids

    rows = [(i, [float(i % 7)] * 6) for i in range(60)] + [(99, None)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents = train_ivf_centroids(df, "vec_id", "embedding", 6, n_cells=3,
                                train_rows_per_cell=32)
    assert cents.shape == (3, 6)
    bad = spark.createDataFrame(
        [(1, [1.0] * 6), (2, [1.0] * 4)], "vec_id bigint, embedding array<float>"
    )
    with pytest.raises(ValueError, match="length != dim"):
        train_ivf_centroids(bad, "vec_id", "embedding", 6, n_cells=2,
                            train_rows_per_cell=1)


def test_build_ivf_index_preserves_double_embeddings(spark):
    """ADVICE r3: the mapInArrow output schema must follow the INPUT
    element type — array<double> embeddings (parquet float64) previously
    hit an arrow schema mismatch against the hardcoded array<float>."""
    from sprout_spark.operators.similarity import (
        build_ivf_index,
        train_ivf_centroids,
    )

    rows = [(i, [float(i % 5) + 0.25] * 4) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = train_ivf_centroids(df, "vec_id", "embedding", 4, n_cells=2,
                                train_rows_per_cell=16)
    ix = build_ivf_index(df, "vec_id", "embedding", 4, cents)
    assert dict(ix.dtypes)["vec"] == "array<double>"
    assert ix.count() == 50
    # values survive the round-trip exactly (no float32 downcast)
    v = ix.where("id = 7").collect()[0]["vec"]
    assert v == [2.25] * 4


def test_stratified_sample_survives_reserved_column_names(spark):
    """ADVICE r3: input columns named like the op's temp columns (_sh,
    _r2, ...) must pass through unharmed, not be overwritten and dropped."""
    from sprout_spark.operators.sampling import stratified_sample

    rows = [(f"d{i}", "en" if i % 2 else "fr", i * 10) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id string, lang string, _sh int")
    out = stratified_sample(df, ["lang"], "doc_id", 5, salt=4)
    assert set(out.columns) == {"doc_id", "lang", "_sh"}
    got = {r["doc_id"]: r["_sh"] for r in out.collect()}
    assert len(got) == 10  # 5 per lang
    for d, v in got.items():
        assert v == int(d[1:]) * 10  # original _sh values intact


def test_ann_ivf_topk_batch_full_probe_equals_per_query_exact(spark, emb):
    """nprobe == n_cells makes the batch path exact: for every query it
    must reproduce the brute-force per-query top-k, ranks and all."""
    from sprout_spark.operators.similarity import (
        ann_ivf_topk_batch,
        build_ivf_index,
        cosine_topk,
        train_ivf_centroids,
    )

    dim = len(emb.where("vec_id = 0").collect()[0]["embedding"])
    cents = train_ivf_centroids(emb, "vec_id", "embedding", dim, n_cells=4,
                                train_rows_per_cell=64)
    index = build_ivf_index(emb, "vec_id", "embedding", dim, cents)
    queries = emb.where("vec_id < 6")
    got = ann_ivf_topk_batch(queries, "vec_id", "embedding", index, cents,
                             k=3, nprobe=4)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["qid"], []).append((r["rank"], r["id"]))
    assert set(by_q) == set(range(6))
    for qid in range(6):
        qv = emb.where(f"vec_id = {qid}").collect()[0]["embedding"]
        exact = [r["id"] for r in
                 cosine_topk(emb, "vec_id", "embedding", list(qv), 3).collect()]
        batch = [i for _, i in sorted(by_q[qid])]
        assert batch == exact, (qid, batch, exact)


def test_ann_ivf_topk_batch_no_lingering_cache_and_edge_guards(spark, emb):
    """ADVICE r4: the batch probe must not leave a CacheManager entry
    behind after the result is consumed (repeated probes in a long-lived
    session accumulated cached plans); an empty query table must
    short-circuit to an empty typed result instead of isin([]) +
    argpartition edge cases; nprobe=0 must be lifted to 1, not crash."""
    from sprout_spark.operators.similarity import (
        ann_ivf_topk_batch,
        build_ivf_index,
        train_ivf_centroids,
    )

    dim = len(emb.where("vec_id = 0").collect()[0]["embedding"])
    cents = train_ivf_centroids(emb, "vec_id", "embedding", dim, n_cells=4,
                                train_rows_per_cell=64)
    index = build_ivf_index(emb, "vec_id", "embedding", dim, cents)
    spark.catalog.clearCache()
    got = ann_ivf_topk_batch(emb.where("vec_id < 4"), "vec_id", "embedding",
                             index, cents, k=3, nprobe=2)
    assert len(got.collect()) > 0
    # localCheckpoint blocks are ContextCleaner-managed, not CacheManager
    # entries — nothing survives in the cache registry after the probe
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    # empty query table: typed empty result, no job
    nothing = ann_ivf_topk_batch(emb.where("vec_id < 0"), "vec_id",
                                 "embedding", index, cents, k=3, nprobe=2)
    assert nothing.collect() == []
    assert [f.name for f in nothing.schema.fields] == [
        "qid", "id", "cosine", "rank"]
    # nprobe=0 guard: probes 1 cell instead of argpartition(-1)
    one = ann_ivf_topk_batch(emb.where("vec_id = 0"), "vec_id", "embedding",
                             index, cents, k=3, nprobe=0)
    assert {r["qid"] for r in one.collect()} == {0}


def test_ann_ivf_topk_batch_partial_probe_recall(spark, emb):
    """nprobe < n_cells: one job for all queries, recall stays high and
    every returned hit's cosine is exact (verifiable against brute force)."""
    from sprout_spark.operators.similarity import (
        ann_ivf_topk_batch,
        build_ivf_index,
        cosine_topk,
        train_ivf_centroids,
    )

    dim = len(emb.where("vec_id = 0").collect()[0]["embedding"])
    cents = train_ivf_centroids(emb, "vec_id", "embedding", dim, n_cells=8,
                                train_rows_per_cell=64)
    index = build_ivf_index(emb, "vec_id", "embedding", dim, cents)
    queries = emb.where("vec_id < 8")
    got = ann_ivf_topk_batch(queries, "vec_id", "embedding", index, cents,
                             k=3, nprobe=3)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["qid"], []).append(r["id"])
    hits = 0
    for qid in range(8):
        qv = emb.where(f"vec_id = {qid}").collect()[0]["embedding"]
        exact = [r["id"] for r in
                 cosine_topk(emb, "vec_id", "embedding", list(qv), 2).collect()]
        hits += len(set(exact) & set(by_q.get(qid, [])))
    assert hits >= 12  # >= 75% top-2 recall across 8 queries


def test_ann_lsh_topk_batch_matches_per_query(spark, emb):
    """The SRP batch probe returns, per query, the same candidates-and-
    rerank answer as the existing single-query path with identical
    plane family / table count."""
    from sprout_spark.operators.similarity import (
        ann_lsh_topk,
        ann_lsh_topk_batch,
        build_srp_index,
    )

    dim = len(emb.where("vec_id = 0").collect()[0]["embedding"])
    index = build_srp_index(emb, "vec_id", "embedding", dim,
                            n_planes=10, n_tables=8)
    queries = emb.where("vec_id < 5")
    got = ann_lsh_topk_batch(emb, "vec_id", "embedding", queries, "vec_id",
                             "embedding", dim, k=3, n_planes=10, n_tables=8,
                             index=index)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["qid"], []).append((r["rank"], r["id"]))
    for qid in range(5):
        qv = emb.where(f"vec_id = {qid}").collect()[0]["embedding"]
        single = [r["id"] for r in
                  ann_lsh_topk(emb, "vec_id", "embedding", list(qv), k=3,
                               n_planes=10, n_tables=8, index=index).collect()]
        batch = [i for _, i in sorted(by_q.get(qid, []))]
        assert batch == single, (qid, batch, single)


def test_ann_batch_probe_plan_health(spark, emb):
    """The batch probe's plan keeps the scale shape: map-side
    WindowGroupLimit for the per-query top-k and no row-at-a-time
    Python anywhere."""
    from sprout_spark.operators.similarity import (
        ann_ivf_topk_batch,
        build_ivf_index,
        train_ivf_centroids,
    )
    from sprout_spark.plans.explain import formatted_plan

    dim = len(emb.where("vec_id = 0").collect()[0]["embedding"])
    cents = train_ivf_centroids(emb, "vec_id", "embedding", dim, n_cells=4,
                                train_rows_per_cell=64)
    index = build_ivf_index(emb, "vec_id", "embedding", dim, cents)
    got = ann_ivf_topk_batch(emb.where("vec_id < 4"), "vec_id", "embedding",
                             index, cents, k=3, nprobe=2)
    plan = formatted_plan(got)
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan


def test_lsh_split_mode_recovers_mixed_bucket_pairs(spark):
    """oversize_mode='split': a MIXED oversized bucket (two internally-
    similar subgroups) re-partitions by the next band's hash, recovering
    the within-subgroup all-pairs that star mode trades away, while pure
    boilerplate (one giant sub-bucket) still degrades to O(n) star pairs."""
    from sprout_spark.operators.dedup import lsh_candidate_pairs

    # band 0 bucket bh=1: 12 members, subgroup A (0-5) and B (6-11);
    # band 1 separates them (bh=100 vs bh=200) — but BOTH band-1 buckets
    # are pushed over the cap with extra members (20-27 join A's band-1
    # bucket, 30-37 join B's), so no small-bucket path can emit the
    # within-subgroup pairs; only split's sub-bucketing of the band-0
    # hot bucket recovers them
    rows = []
    for i in range(12):
        rows.append((i, 0, 1))
        rows.append((i, 1, 100 if i < 6 else 200))
    for j, x in enumerate(range(20, 28)):
        rows.append((x, 0, 1000 + j))  # unique band-0 buckets
        rows.append((x, 1, 100))
    for j, x in enumerate(range(30, 38)):
        rows.append((x, 0, 2000 + j))
        rows.append((x, 1, 200))
    bands = spark.createDataFrame(rows, "id bigint, band int, bh bigint")

    star = {(r["a"], r["b"]) for r in
            lsh_candidate_pairs(bands, max_bucket=10,
                                oversize_mode="star").collect()}
    split = {(r["a"], r["b"]) for r in
             lsh_candidate_pairs(bands, max_bucket=10, oversize_mode="split",
                                 n_bands=2).collect()}
    # star loses the within-subgroup pairs not touching a representative
    assert (7, 8) not in star and (1, 2) not in star
    # split recovers every within-subgroup pair...
    for g in (range(0, 6), range(6, 12)):
        for a in g:
            for b in g:
                if a < b:
                    assert (a, b) in split, (a, b)
    # ...and never invents cross-subgroup candidates from the hot bucket
    assert (0, 6) not in split and (5, 11) not in split

    # pure boilerplate: all 20 share BOTH bands -> one oversized
    # sub-bucket -> star within the sub-bucket, O(n) not O(n^2)
    boiler = spark.createDataFrame(
        [(i, b, 7) for i in range(20) for b in (0, 1)],
        "id bigint, band int, bh bigint",
    )
    got = lsh_candidate_pairs(boiler, max_bucket=10, oversize_mode="split",
                              n_bands=2).collect()
    assert len(got) == 19  # star: rep connects the other 19, no blowup
    # n_bands omitted: derived via the one-row agg, same answer
    got2 = lsh_candidate_pairs(boiler, max_bucket=10,
                               oversize_mode="split").collect()
    assert len(got2) == 19


def test_near_dup_pairs_split_mode_end_to_end(spark):
    """Split mode through the full minhash pipeline: a boilerplate corpus
    with two internally-identical template families in one hot bucket
    still yields verified pairs inside each family."""
    from sprout_spark.operators.dedup import near_dup_pairs

    docs = [(i, "alpha beta gamma delta epsilon zeta " + ("x" if i < 30 else "y"))
            for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    pairs = near_dup_pairs(df, "doc_id", "text", threshold=0.99,
                           max_bucket=8, oversize_mode="split")
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    # identical docs within each family must be paired (connectivity at
    # minimum; split gives all-pairs when the sub-bucket fits the cap)
    assert got, "split mode produced no verified pairs"
    for a, b in got:
        assert (a < 30) == (b < 30)  # never across families at j=0.99


def test_ann_batch_probe_partition_pruned_on_persisted_index(spark, emb, tmp_path):
    """The batch probe against a PERSISTED index must prune at the
    directory level: its cell-isin filter reaches the scan as a
    PartitionFilter, and input_file_name over the scored frame shows
    only probed-cell files were read."""
    from pyspark.sql import functions as F

    from sprout_spark.operators.similarity import (
        ann_ivf_topk_batch,
        build_ivf_index,
        train_ivf_centroids,
    )
    from sprout_spark.plans.explain import formatted_plan

    dim = len(emb.where("vec_id = 0").collect()[0]["embedding"])
    cents = train_ivf_centroids(emb, "vec_id", "embedding", dim, n_cells=8,
                                train_rows_per_cell=64)
    path = str(tmp_path / "bivf")
    index = build_ivf_index(emb, "vec_id", "embedding", dim, cents, path=path)
    queries = emb.where("vec_id < 3")
    got = ann_ivf_topk_batch(queries, "vec_id", "embedding", index, cents,
                             k=3, nprobe=2)
    plan = formatted_plan(got)
    assert "PartitionFilters" in plan and "cell" in plan
    rows = got.collect()
    assert {r["qid"] for r in rows} == {0, 1, 2}
    # probed cells: union over the 3 queries at nprobe=2 — strict subset
    import numpy as np
    q = np.asarray([r["embedding"] for r in queries.collect()], dtype=np.float64)
    scores = q @ cents.T - 0.5 * (cents * cents).sum(axis=1)
    probed = {int(c) for row in np.argsort(-scores, axis=1)[:, :2] for c in row}
    assert len(probed) < 8
    pruned = index.where(F.col("cell").isin(sorted(probed)))
    files = [r["f"] for r in
             pruned.select(F.input_file_name().alias("f")).distinct().collect()]
    assert files
    for f in files:
        assert any(f"cell={c}/" in f for c in probed), f


def test_repetition_stats_counts_and_plan(spark):
    """Gopher-style repetition counters: exact numerators/denominators
    on crafted docs, zeros for blank/short docs, and a pure-JVM plan
    (whole-stage codegen, no Python eval anywhere)."""
    from sprout_spark.functions.text import with_repetition_stats
    from sprout_spark.plans.explain import formatted_plan

    df = spark.createDataFrame(
        [
            (1, "a b a b c"),   # dup tokens + one dup 2-gram
            (2, "x x x x"),     # heavy repetition
            (3, "   "),         # blank -> all zeros
            (4, "solo"),        # single token: no 2/3-grams
            (5, "p q r p q r"), # repeated phrase: dup 2- and 3-grams
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in with_repetition_stats(df, "text").collect()}
    assert (got[1]["n_tokens"], got[1]["n_dup_tokens"]) == (5, 2)
    assert (got[1]["n_2grams"], got[1]["n_dup_2grams"]) == (4, 1)
    assert (got[2]["n_2grams"], got[2]["n_dup_2grams"]) == (3, 2)
    assert (got[2]["n_3grams"], got[2]["n_dup_3grams"]) == (2, 1)
    assert all(got[3][c] == 0 for c in
               ["n_tokens", "n_dup_tokens", "n_2grams", "n_dup_2grams",
                "n_3grams", "n_dup_3grams"])
    assert (got[4]["n_tokens"], got[4]["n_2grams"], got[4]["n_3grams"]) == (1, 0, 0)
    assert (got[5]["n_dup_2grams"], got[5]["n_dup_3grams"]) == (2, 1)
    plan = formatted_plan(with_repetition_stats(df, "text"))
    assert "EvalPython" not in plan  # pure JVM, codegen-able


def test_shingled_minhash_matches_exact_shingle_jaccard(spark, docs):
    """shingle_k=3: LSH+verify over word-3-gram shingles equals the
    exact all-pairs shingle Jaccard, and shingling distinguishes
    word-order scrambles that token-set Jaccard calls identical."""
    from sprout_spark.operators.dedup import (
        exact_jaccard_pairs,
        near_dup_pairs,
        shingle_sets,
    )

    got = {
        (r["a"], r["b"])
        for r in near_dup_pairs(docs, "doc_id", "text", threshold=0.7,
                                shingle_k=3).collect()
    }
    want = {
        (r["a"], r["b"])
        for r in exact_jaccard_pairs(docs, "doc_id", "text", 0.7,
                                     shingle_k=3).collect()
    }
    assert got == want
    # exact dups still match at shingle level
    assert {(10, 300), (11, 301), (12, 302)} <= got

    # order sensitivity: same token SET, scrambled order
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    scr = " ".join(reversed(base.split()))
    pair_df = spark.createDataFrame(
        [(1, base), (2, scr)], "doc_id bigint, text string"
    )
    tok_pairs = near_dup_pairs(pair_df, "doc_id", "text", threshold=0.99)
    assert {(r["a"], r["b"]) for r in tok_pairs.collect()} == {(1, 2)}
    sh_pairs = near_dup_pairs(pair_df, "doc_id", "text", threshold=0.5,
                              shingle_k=3)
    assert sh_pairs.collect() == []  # no shared 3-gram at all

    # shingle_sets shape: short docs -> empty, windows joined by spaces
    ss = {r["id"]: sorted(r["tokens"]) for r in
          shingle_sets(spark.createDataFrame(
              [(1, "a b c d"), (2, "a b")], "doc_id bigint, text string"),
              "doc_id", "text", 3).collect()}
    assert ss[1] == ["a b c", "b c d"] and ss[2] == []


def test_repetition_stats_rejects_colliding_columns(spark):
    """review r4: stat output names are API — a same-named input column
    must raise, not be silently replaced; temp name avoids collisions."""
    from sprout_spark.functions.text import with_repetition_stats

    bad = spark.createDataFrame([(1, "a b", 9)],
                                "doc_id bigint, text string, n_tokens int")
    with pytest.raises(ValueError, match="n_tokens"):
        with_repetition_stats(bad, "text")
    ok = spark.createDataFrame([(1, "a b", "keep")],
                               "doc_id bigint, text string, _toks string")
    row = with_repetition_stats(ok, "text").collect()[0]
    assert row["_toks"] == "keep" and row["n_tokens"] == 2


def test_lsh_split_mode_empty_band_rows(spark):
    """review r4: split mode with inferred n_bands must return empty on
    an empty band table instead of crashing on None + 1."""
    from sprout_spark.operators.dedup import lsh_candidate_pairs

    empty = spark.createDataFrame([], "id bigint, band int, bh bigint")
    got = lsh_candidate_pairs(empty, max_bucket=4, oversize_mode="split")
    assert got.collect() == []


def test_simhash_shingles_are_order_sensitive(spark):
    """shingle_k on both simhash variants: identical docs still hamming
    0; a word-order scramble (identical token multiset) produces a
    DIFFERENT signature at shingle level while the unigram variant
    (order-blind votes) calls them identical."""
    from sprout_spark.operators.dedup import (
        simhash_near_dup_pairs,
        simhash_near_dup_pairs_portable,
        simhash_signatures,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    scr = " ".join(reversed(base.split()))
    df = spark.createDataFrame(
        [(1, base), (2, scr), (3, base)], "doc_id bigint, text string"
    )
    # unigram: votes are order-blind -> 1~2 identical signatures
    uni = {(r["a"], r["b"]): r["hamming"]
           for r in simhash_near_dup_pairs(df, "doc_id", "text").collect()}
    assert uni[(1, 2)] == 0 and uni[(1, 3)] == 0
    # shingled murmur kernel: scramble diverges, identical copy does not
    sigs = {r["id"]: r["simhash"] for r in
            simhash_signatures(df, "doc_id", "text", shingle_k=3).collect()}
    assert sigs[1] == sigs[3] and sigs[1] != sigs[2]
    sh = {(r["a"], r["b"]): r["hamming"]
          for r in simhash_near_dup_pairs(df, "doc_id", "text",
                                          shingle_k=3).collect()}
    assert sh[(1, 3)] == 0 and (1, 2) not in sh
    # portable variant agrees on the discrimination
    shp = {(r["a"], r["b"]) for r in simhash_near_dup_pairs_portable(
        df, "doc_id", "text", shingle_k=3).collect()}
    assert (1, 3) in shp and (1, 2) not in shp


def test_containment_pairs_catches_substring_dup_jaccard_misses(spark):
    """VERDICT r4 #1: doc A pasted verbatim inside a much larger doc B —
    token-set Jaccard ~ |A|/|B| never trips 0.8, but containment is 1.0.
    Both fingerprint variants; trim picks the contained (smaller) side;
    unrelated docs never pair."""
    from sprout_spark.operators.dedup import containment_pairs, near_dup_pairs

    a = " ".join(f"alpha{i} beta{i}" for i in range(30))  # 60 tokens
    b = (
        " ".join(f"pre{i} amble{i}" for i in range(60))
        + " " + a + " "
        + " ".join(f"post{i} fix{i}" for i in range(60))
    )  # A is a verbatim substring, ~1/5 of B
    other = " ".join(f"gamma{i} delta{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, other)], "doc_id bigint, text string"
    )
    # token Jaccard structurally misses the pair
    jac = {(r["a"], r["b"]) for r in
           near_dup_pairs(df, "doc_id", "text", threshold=0.8,
                          max_bucket=None).collect()}
    assert (1, 2) not in jac
    for portable in (False, True):
        got = {(r["a"], r["b"]): r for r in containment_pairs(
            df, "doc_id", "text", gram=8, keep=10_000, threshold=0.8,
            max_fp_docs=None, portable=portable).collect()}
        assert set(got) == {(1, 2)}, (portable, set(got))
        row = got[(1, 2)]
        assert row["containment"] == 1.0  # every gram of A occurs in B
        assert row["trim"] == 1  # the contained side is dropped
        assert row["nfp_a"] < row["nfp_b"]


def test_containment_pairs_hot_fp_guard_bounds_join(spark):
    """max_fp_docs drops site-wide-boilerplate fingerprints from the
    JOIN (bounding the quadratic fanout) but never from the nfp
    denominators; real containment pairs that share non-hot grams
    survive."""
    from sprout_spark.operators.dedup import containment_pairs

    boiler = "common footer text shared by every page on the site"
    rows = [(i, f"unique{i} content{i} " + boiler) for i in range(30)]
    rows += [(100, "special payload only here exactly"),
             (101, "special payload only here exactly plus a trailing tail")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = containment_pairs(
        df, "doc_id", "text", gram=8, keep=10_000, threshold=0.9,
        max_fp_docs=5, portable=True,
    ).collect()
    pairs = {(r["a"], r["b"]) for r in got}
    assert (100, 101) in pairs  # non-hot grams still pair
    # the 30 boilerplate docs share ONLY hot (>5-doc) fingerprints:
    # with the guard none of their C(30,2) pairs survive
    assert all(p[0] >= 100 for p in pairs)


def test_containment_pairs_between_decontamination(spark):
    """Cross-corpus containment: a short eval item quoted verbatim inside
    a long training doc — cross-Jaccard never trips, left-denominator
    containment is 1.0. denom='min' matches the symmetric convention;
    bad denom refuses."""
    import pytest

    from sprout_spark.operators.dedup import (
        containment_pairs_between,
        near_dup_pairs_between,
    )

    ev = " ".join(f"quiz{i} answer{i}" for i in range(20))  # 40 tokens
    train_big = (
        " ".join(f"lead{i} para{i}" for i in range(80))
        + " " + ev + " "
        + " ".join(f"tail{i} coda{i}" for i in range(80))
    )
    evals = spark.createDataFrame(
        [(1, ev), (3, "unrelated eval probe entirely")],
        "doc_id bigint, text string",
    )
    train = spark.createDataFrame(
        [(2, train_big), (4, "plain training text with no overlap")],
        "doc_id bigint, text string",
    )
    jac = {(r["a"], r["b"]) for r in near_dup_pairs_between(
        evals, train, "doc_id", "text", threshold=0.8, max_bucket=None
    ).collect()}
    assert (1, 2) not in jac  # whole-doc Jaccard structurally misses
    for portable in (False, True):
        got = {(r["a"], r["b"]): r for r in containment_pairs_between(
            evals, train, "doc_id", "text", gram=8, keep=10_000,
            threshold=0.8, max_fp_pairs=None, portable=portable,
        ).collect()}
        assert set(got) == {(1, 2)}, (portable, set(got))
        row = got[(1, 2)]
        assert row["containment"] == 1.0  # every eval gram is in the train doc
        assert row["nfp_a"] < row["nfp_b"]
    # denom='min' reproduces the symmetric containment_pairs convention
    sym = containment_pairs_between(
        evals, train, "doc_id", "text", gram=8, keep=10_000,
        threshold=0.8, max_fp_pairs=None, portable=True, denom="min",
    ).collect()
    assert {(r["a"], r["b"]) for r in sym} == {(1, 2)}
    assert sym[0]["containment"] == 1.0
    with pytest.raises(ValueError, match="denom"):
        containment_pairs_between(
            evals, train, "doc_id", "text", denom="right"
        )


def test_containment_pairs_between_product_cap_guard(spark):
    """max_fp_pairs caps the cross fan-out on the PRODUCT nl*nr: shared
    boilerplate fps are dropped from the join (none of the boiler-only
    cross pairs survive) while pairs sharing non-hot grams — and every
    nfp denominator — are untouched."""
    from sprout_spark.operators.dedup import containment_pairs_between

    boiler = "common footer text shared by every page on the site"
    evals = spark.createDataFrame(
        [(i, f"evalside{i} probe{i} " + boiler) for i in range(10)]
        + [(100, "special payload only here exactly")],
        "doc_id bigint, text string",
    )
    train = spark.createDataFrame(
        [(1000 + i, f"trainside{i} body{i} " + boiler) for i in range(10)]
        + [(1100, "special payload only here exactly plus trailing tail")],
        "doc_id bigint, text string",
    )
    got = containment_pairs_between(
        evals, train, "doc_id", "text", gram=8, keep=10_000,
        threshold=0.9, max_fp_pairs=5, portable=True,
    ).collect()
    pairs = {(r["a"], r["b"]) for r in got}
    assert (100, 1100) in pairs  # non-hot grams still pair
    assert all(a == 100 for a, _ in pairs)  # boiler-only pairs guarded out
    # denominators counted before the guard: the surviving pair's nfp
    # reflects the full fingerprint sets, not the post-guard join rows
    row = next(r for r in got if r["a"] == 100)
    assert row["nfp_a"] > 0 and row["nfp_b"] > row["shared"] - 1


def test_drop_contaminated_removes_containing_train_docs(spark):
    """The decontamination policy: train docs containing an eval item
    drop; clean train docs (including ones Jaccard-similar to nothing)
    pass through with all columns."""
    from sprout_spark.operators.dedup import drop_contaminated

    ev = " ".join(f"bench{i} item{i}" for i in range(20))
    evals = spark.createDataFrame([(1, ev)], "doc_id bigint, text string")
    train = spark.createDataFrame(
        [
            (10, "padding start " + ev + " padding end", "keepme-meta"),
            (11, "completely unrelated training document", "other-meta"),
        ],
        "doc_id bigint, text string, meta string",
    )
    out = drop_contaminated(
        train, evals, "doc_id", "text", gram=8, keep=10_000,
        threshold=0.8, max_fp_pairs=None, portable=True,
    ).collect()
    assert [(r["doc_id"], r["meta"]) for r in out] == [(11, "other-meta")]


def test_ivf_append_equals_rebuild_and_refuses_mismatch(spark, emb, tmp_path):
    """VERDICT r4 #3: append_to_ivf_index with the frozen quantizer is
    row-set-identical to a one-shot rebuild over the union; appending
    with different centroids (or to an unpinned index) fails loud; the
    batch probe stays exact against the appended index; ivf_cell_stats
    accounts for every row."""
    import pytest

    from sprout_spark.operators.similarity import (
        ann_ivf_topk_batch,
        append_to_ivf_index,
        build_ivf_index,
        cosine_topk,
        ivf_cell_stats,
        read_ivf_centroids,
        train_ivf_centroids,
    )

    old = emb.where("vec_id < 80")
    new = emb.where("vec_id >= 80")
    cents = train_ivf_centroids(old, "vec_id", "embedding", 32, n_cells=4,
                                train_rows_per_cell=64)
    p_inc = str(tmp_path / "inc")
    build_ivf_index(old, "vec_id", "embedding", 32, cents, path=p_inc)
    idx = append_to_ivf_index(new, "vec_id", "embedding", 32, cents, p_inc)
    p_full = str(tmp_path / "full")
    full = build_ivf_index(emb, "vec_id", "embedding", 32, cents, path=p_full)

    def rows(df):
        return sorted((r["id"], r["cell"], tuple(r["vec"])) for r in df.collect())

    assert rows(idx) == rows(full)  # append == rebuild, exactly
    assert np.array_equal(read_ivf_centroids(p_inc), cents)
    # cell stats account for every row; the histogram is the skew monitor
    stats = ivf_cell_stats(idx).collect()
    assert sum(r["n_rows"] for r in stats) == emb.count()
    assert stats[0]["n_rows"] >= stats[-1]["n_rows"]  # sorted desc
    # batch probe against the APPENDED index: nprobe=n_cells is exact
    queries = emb.where("vec_id IN (0, 81, 104)")
    got = ann_ivf_topk_batch(queries, "vec_id", "embedding", idx, cents,
                             k=3, nprobe=4)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["qid"], []).append((r["rank"], r["id"]))
    for qid in (0, 81, 104):
        qv = emb.where(f"vec_id = {qid}").collect()[0]["embedding"]
        exact = [r["id"] for r in
                 cosine_topk(emb, "vec_id", "embedding", list(qv), 3).collect()]
        assert [i for _, i in sorted(by_q[qid])] == exact
    # wrong quantizer: hard error, never silent recall loss
    other = train_ivf_centroids(emb, "vec_id", "embedding", 32, n_cells=8,
                                train_rows_per_cell=64)
    with pytest.raises(ValueError, match="quantizer"):
        append_to_ivf_index(new, "vec_id", "embedding", 32, other, p_inc)
    # unpinned dir (no sidecar): refuse
    bare = str(tmp_path / "bare")
    build_ivf_index(old, "vec_id", "embedding", 32, cents).write.mode(
        "overwrite").partitionBy("cell").parquet(bare)
    with pytest.raises(ValueError, match="sidecar"):
        append_to_ivf_index(new, "vec_id", "embedding", 32, cents, bare)


def test_srp_append_equals_rebuild_and_refuses_mismatch(spark, emb, tmp_path):
    """SRP analog: append with the pinned seeded family equals a
    one-shot rebuild; geometry mismatch fails loud; queries answer
    against the appended index; bucket histogram covers all rows."""
    import pytest

    from sprout_spark.operators.similarity import (
        ann_lsh_topk,
        append_to_srp_index,
        build_srp_index,
        srp_bucket_stats,
    )

    old = emb.where("vec_id < 80")
    new = emb.where("vec_id >= 80")
    p = str(tmp_path / "srp")
    build_srp_index(old, "vec_id", "embedding", 32, 10, 8, path=p)
    idx = append_to_srp_index(new, "vec_id", "embedding", 32, 10, 8, path=p)
    full = build_srp_index(emb, "vec_id", "embedding", 32, 10, 8)
    assert (sorted(map(tuple, idx.collect()))
            == sorted(map(tuple, full.collect())))
    hist = srp_bucket_stats(idx).collect()
    assert sum(r["bucket_size"] * r["n_buckets"] for r in hist) == idx.count()
    with pytest.raises(ValueError, match="geometry mismatch"):
        append_to_srp_index(new, "vec_id", "embedding", 32, 12, 8, path=p)
    q = emb.where("vec_id = 100").collect()[0]["embedding"]
    top = ann_lsh_topk(emb, "vec_id", "embedding", list(q), k=3,
                       n_planes=10, n_tables=8, index=idx).collect()
    assert top[0]["id"] == 100  # the appended row answers its own probe


def test_drop_contained_applies_trim_policy(spark):
    """drop_contained removes exactly the trimmed (contained) sides;
    containment chains collapse toward the largest doc."""
    from sprout_spark.operators.dedup import drop_contained

    a = " ".join(f"alpha{i} beta{i}" for i in range(30))
    b = a + " " + " ".join(f"mid{i} dle{i}" for i in range(30))
    c = b + " " + " ".join(f"out{i} er{i}" for i in range(30))  # a ⊂ b ⊂ c
    other = " ".join(f"gamma{i} delta{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, other)], "doc_id bigint, text string"
    )
    kept = {r["doc_id"] for r in drop_contained(
        df, "doc_id", "text", gram=8, keep=10_000, threshold=0.8,
        max_fp_docs=None).collect()}
    assert kept == {3, 4}  # chain collapses to the largest; other untouched


def test_compact_ivf_index_one_file_per_cell(spark, emb, tmp_path):
    """Repeated appends accumulate small files per cell dir; compaction
    folds each cell to ONE file, preserves rows and the quantizer
    sidecar bit-for-bit, and appends keep working afterwards."""
    import glob
    import os

    from sprout_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        read_ivf_centroids,
        train_ivf_centroids,
    )

    cents = train_ivf_centroids(emb, "vec_id", "embedding", 32, n_cells=4,
                                train_rows_per_cell=64)
    p = str(tmp_path / "ivf")
    build_ivf_index(emb.where("vec_id < 50"), "vec_id", "embedding", 32,
                    cents, path=p)
    for lo, hi in ((50, 70), (70, 90), (90, 200)):
        append_to_ivf_index(emb.where(f"vec_id >= {lo} AND vec_id < {hi}"),
                            "vec_id", "embedding", 32, cents, p)

    def files_per_cell():
        return {
            d: len(glob.glob(os.path.join(p, d, "*.parquet")))
            for d in os.listdir(p) if d.startswith("cell=")
        }

    before = files_per_cell()
    assert max(before.values()) > 1  # appends really fragmented it
    rows_before = sorted(
        (r["id"], r["cell"]) for r in spark.read.parquet(p).collect())
    idx = compact_ivf_index(spark, p)
    after = files_per_cell()
    assert set(after.values()) == {1}  # one file per cell dir
    assert sorted((r["id"], r["cell"]) for r in idx.collect()) == rows_before
    assert np.array_equal(read_ivf_centroids(p), cents)  # sidecar intact
    # maintenance keeps composing: append after compact
    append_to_ivf_index(emb.where("vec_id >= 200"), "vec_id", "embedding",
                        32, cents, p)
    assert spark.read.parquet(p).count() == emb.count()


def test_compact_srp_index_folds_small_files(spark, emb, tmp_path):
    """Repeated SRP appends accumulate small files in the flat index
    dir; compaction folds them to n_files, preserves the row set and
    the geometry sidecar, and appends + probes keep working after."""
    import glob
    import json
    import os

    from sprout_spark.operators.similarity import (
        append_to_srp_index,
        build_srp_index,
        compact_srp_index,
    )

    p = str(tmp_path / "srp")
    build_srp_index(emb.where("vec_id < 50"), "vec_id", "embedding", 32,
                    n_planes=8, n_tables=4, path=p)
    for lo, hi in ((50, 70), (70, 90), (90, 200)):
        append_to_srp_index(emb.where(f"vec_id >= {lo} AND vec_id < {hi}"),
                            "vec_id", "embedding", 32, n_planes=8,
                            n_tables=4, path=p)
    n_parts = len(glob.glob(os.path.join(p, "*.parquet")))
    assert n_parts > 4  # appends really fragmented it
    with open(os.path.join(p, "_srp_meta.json")) as f:
        meta_before = json.load(f)
    rows_before = sorted(
        (r["id"], r["table"], r["bucket"])
        for r in spark.read.parquet(p).collect()
    )
    idx = compact_srp_index(spark, p, n_files=4)
    assert len(glob.glob(os.path.join(p, "*.parquet"))) <= 4
    assert sorted(
        (r["id"], r["table"], r["bucket"]) for r in idx.collect()
    ) == rows_before
    with open(os.path.join(p, "_srp_meta.json")) as f:
        assert json.load(f) == meta_before  # sidecar intact
    # maintenance keeps composing: append after compact
    append_to_srp_index(emb.where("vec_id >= 200"), "vec_id", "embedding",
                        32, n_planes=8, n_tables=4, path=p)
    assert spark.read.parquet(p).select("id").distinct().count() == emb.count()


def test_semantic_dedup_one_call_srp_vs_exact(spark):
    """The one-call SemDeDup operator: exact mode reproduces the
    composed chain; the SRP candidate path with enough tables finds
    the same survivors on a planted-cluster fixture; dim guard."""
    import numpy as np
    import pytest as _pytest

    from sprout_spark.operators.similarity import semantic_dedup

    rng = np.random.RandomState(7)
    rows = []
    # 4 tight semantic clusters of 5 + 10 isolated vectors, dim 16
    vid = 0
    for c in range(4):
        center = rng.normal(size=16)
        center /= np.linalg.norm(center)
        for i in range(5):
            v = center + rng.normal(scale=0.01, size=16)
            rows.append((vid, [float(x) for x in v], c * 10 + i))
            vid += 1
    for i in range(10):
        v = rng.normal(size=16)
        rows.append((vid, [float(x) for x in v], 0))
        vid += 1
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    exact = {r["vec_id"] for r in semantic_dedup(
        df, "vec_id", "embedding", "label", min_cosine=0.95, exact=True
    ).collect()}
    # one survivor per planted cluster (the label-max member) + isolates
    assert len(exact) == 4 + 10
    assert {4, 9, 14, 19} <= exact  # the i=4 (max-label) member wins each cluster
    srp = {r["vec_id"] for r in semantic_dedup(
        df, "vec_id", "embedding", "label", dim=16, min_cosine=0.95,
        n_planes=8, n_tables=24,
    ).collect()}
    assert srp == exact  # enough tables: same pair graph, same survivors
    with _pytest.raises(ValueError, match="dim"):
        semantic_dedup(df, "vec_id", "embedding", "label")
