"""The package's one whitespace token rule, across every surface that
tokenizes: the JVM helpers, the Arrow split kernel, the MinHash and
SimHash token hashes, the n-gram propose kernel and the text stats.
Whitespace is Java's ``\\s`` class ``[ \\t\\n\\x0B\\f\\r]`` everywhere
(RE2's ``\\s`` omits U+000B)."""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

TEXTS = [
    None,
    "",
    " ",
    "\t\n\r\f\x0b",
    "a\x0bb",
    "\x0bx\x0b",
    "  lead and trail  ",
    "\ttab\tsep\t",
    "line\none\r\ntwo\fthree",
    "x x x y x x x y",
    "a b c d a b c d a b",
    "one",
    "\x0b\x0bsolo\x0b",
    "nbsp is a token char",
]


def _ref_tokens(s):
    """The rule in plain Python: split on runs of Java \\s, drop empties."""
    if s is None:
        return None
    return [t for t in re.split(r"[ \t\n\x0b\f\r]+", s) if t]


def _ref_grams(s, k):
    toks = _ref_tokens(s) or []
    return [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]


@pytest.fixture(scope="module")
def texts(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "id bigint, text string"
    )


def test_ws_tokens_and_grams_match_the_rule(spark, texts):
    from sprout_spark.functions.text import ws_grams, ws_tokens

    rows = texts.select(
        "id",
        ws_tokens(F.col("text")).alias("t"),
        *[ws_grams(F.col("text"), k).alias(f"g{k}") for k in (1, 2, 3)],
    ).collect()
    for r in rows:
        s = TEXTS[r["id"]]
        assert r["t"] == _ref_tokens(s), repr(s)
        assert r["g1"] == _ref_tokens(s), repr(s)
        if s is not None:
            for k in (2, 3):
                assert r[f"g{k}"] == _ref_grams(s, k), (repr(s), k)


def test_arrow_split_matches_jvm_tokens(spark, texts):
    from sprout_spark.functions.text import ws_split_arrow, ws_tokens

    jvm = [
        r["t"] or []
        for r in texts.orderBy("id")
        .select(ws_tokens(F.col("text")).alias("t"))
        .collect()
    ]
    for arr, first in (
        (pa.array(TEXTS, pa.string()), 0),
        (pa.chunked_array([TEXTS[:5], TEXTS[5:]], pa.string()), 0),
        (pa.array(TEXTS, pa.string()).slice(3, 7), 3),
    ):
        flat, offsets = ws_split_arrow(arr)
        got = [
            flat.slice(offsets[i], offsets[i + 1] - offsets[i]).to_pylist()
            for i in range(len(offsets) - 1)
        ]
        assert got == jvm[first:first + len(arr)]


def test_minhash_token_hashes_are_murmur_of_jvm_tokens(spark, texts):
    """The MinHash/SimHash kernels hash exactly the tokens the exact
    verify's token sets hold, U+000B included."""
    from sprout_spark.hashing import murmur3_64_packed, pack_arrow
    from sprout_spark.operators.dedup import _tokenize_batch, token_sets

    sets = {
        r["id"]: r["tokens"] or []
        for r in token_sets(texts, "id", "text").collect()
    }
    h, offsets = _tokenize_batch(pa.array(TEXTS, pa.string()))
    for i in range(len(TEXTS)):
        want = sets[i]
        if want:
            buf, lens = pack_arrow(pa.array(want, pa.string()))
            want_h = set(murmur3_64_packed(buf, lens, 0).tolist())
        else:
            want_h = set()
        assert set(h[offsets[i]:offsets[i + 1]].tolist()) == want_h, repr(
            TEXTS[i]
        )


@pytest.mark.parametrize("k", [1, 2, 3])
def test_ngram_rows_match_arrow_gram_strings(spark, texts, k):
    from sprout_spark.operators.ngrams import _gram_strings, ngram_rows

    jvm = Counter(r["ngram"] for r in ngram_rows(texts, "text", k).collect())
    arrow = Counter(_gram_strings(pa.array(TEXTS, pa.string()), k).to_pylist())
    want = Counter(g for s in TEXTS if s is not None for g in _ref_grams(s, k))
    assert jvm == arrow == want


def test_repetition_token_count_matches_ws_token_count(spark, texts):
    from sprout_spark.functions.text import with_repetition_stats, ws_token_count

    rows = (
        with_repetition_stats(texts, "text")
        .select("id", "n_tokens", ws_token_count(F.col("text")).alias("n"))
        .collect()
    )
    for r in rows:
        assert r["n_tokens"] == r["n"], repr(TEXTS[r["id"]])
        s = TEXTS[r["id"]]
        if s is not None:
            assert r["n"] == len(_ref_tokens(s))


def test_simhash_signatures_vote_over_jvm_tokens(spark, texts):
    """Blank docs (U+000B-only included) have no votes and no row in
    either signature; a U+000B separator splits like a space."""
    from sprout_spark.operators.dedup import (
        simhash_signatures,
        simhash_signatures_portable,
    )

    both = spark.createDataFrame(
        [(100, "a b c"), (101, "a\x0bb\x0bc")], "id bigint, text string"
    ).union(texts)
    keep = {i for i, s in enumerate(TEXTS) if _ref_tokens(s)} | {100, 101}
    mm = {r["id"]: r["simhash"] for r in simhash_signatures(both, "id", "text").collect()}
    md5 = {
        r["id"]: (r["hi"], r["lo"])
        for r in simhash_signatures_portable(both, "id", "text").collect()
    }
    assert set(mm) == set(md5) == keep
    assert mm[100] == mm[101] and md5[100] == md5[101]


# -- the rule lives in one module -------------------------------------------

_PKG = os.path.join(os.path.dirname(__file__), os.pardir, "sprout_spark")
_HOME = os.path.join("functions", "text.py")
# the whitespace escapes of the token rule, and the Arrow spelling of
# Java's class
_RULE = re.compile(r"\\[sS]|\\x0B", re.IGNORECASE)


def _rule_literals(src: str) -> list[tuple[int, str]]:
    """(line, value) of every code string constant in ``src`` that
    spells a whitespace class; docstrings are not code."""
    tree = ast.parse(src)
    docs = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if body and isinstance(body[0], ast.Expr):
                docs.add(id(body[0].value))
    return [
        (n.lineno, n.value)
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and id(n) not in docs
        and _RULE.search(n.value)
    ]


def test_token_rule_lives_in_functions_text():
    """Whitespace-class regex literals appear in code (not docstrings)
    only in ``functions/text.py``."""
    offenders = []
    for root, _, files in os.walk(_PKG):
        for name in files:
            path = os.path.join(root, name)
            rel = os.path.relpath(path, _PKG)
            if not name.endswith(".py") or rel == _HOME:
                continue
            with open(path, encoding="utf-8") as f:
                offenders += [
                    f"{rel}:{line}: {v!r}" for line, v in _rule_literals(f.read())
                ]
    assert not offenders, offenders
