"""The benchmark workloads: their operations and output checks.

A workload is a list of operations run back to back, one at a time, as one
round. Each operation calls the library's public API the way a user would
and returns a small result (a sketch, a few aggregates, a pair list) that
its ``check`` compares with the exact answers the input generator knew.
``trace.call(label)`` wraps every public call; it sets a Spark job group
in the traced run and does nothing otherwise.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from typing import Callable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BLOOM_EPS = 0.01
FPR_SLACK = 1.5  # observed FPR may reach 1.5x the configured epsilon
HLL_SLACK = 3.0  # HLL may miss by 3x its own relative_error()
NEAR_DUP_THRESHOLD = 0.8
SHARDS = 16


@dataclass
class Op:
    name: str
    metric: str  # name of the op's own throughput figure
    items: int  # input items one run processes: rows, keys or documents
    run: Callable  # (trace) -> result
    check: Callable  # (result) -> list of failure messages


class Workload:
    """Subclasses set ``ops`` in ``prepare`` and describe their kernel keys."""

    name = ""

    def __init__(self, path: str, truth: dict):
        self.path = path
        self.truth = truth
        self.ops: list[Op] = []
        self.named: dict[str, float] = {}  # accuracy figures of the last check

    def read(self, spark, name: str):
        return spark.read.parquet(os.path.join(self.path, name))

    def prepare(self, spark) -> None:
        raise NotImplementedError

    def end_round(self) -> None:
        """Release per-round state (cached tables); untimed."""

    def kernel_inputs(self) -> dict:
        """Driver-side key arrays for the traced run's kernel timings."""
        raise NotImplementedError

    def layer_counters(self) -> dict:
        """Per-layer counts known from the outputs of the last round."""
        return {}

    def scan_inputs(self, spark) -> list:
        """DataFrames of the columns each operation scans (noop-sink floor)."""
        raise NotImplementedError


class TranscriptsBuild(Workload):
    name = "transcripts_build"

    def prepare(self, spark) -> None:
        from sprout_spark.sketch import BloomFilter, CountMinSketch, HyperLogLog
        from sprout_spark.spark.aggregate import build_sketches

        t = self.truth
        self.df = self.read(spark, "transcripts")
        self.distinct_conv = pc.unique(
            pq.read_table(
                os.path.join(self.path, "transcripts"), columns=["conv_id"]
            ).column("conv_id")
        )
        cap = t["distinct_conv"]
        self.specs = {
            "bloom_conv": (
                "conv_id",
                lambda: BloomFilter(
                    cap, BLOOM_EPS, hash_mode="seeded", enforce_capacity=False
                ),
            ),
            "hll_text": ("text", lambda: HyperLogLog(p=14)),
            "cms_tool": (
                "tool",
                lambda: CountMinSketch(0.0005, 0.01, hash_mode="seeded"),
            ),
        }

        def run(trace):
            with trace.call("spark.aggregate.build_sketches"):
                # fanin 4 over 8 partitions: one merge level of tiny partials
                return build_sketches(self.df, self.specs, fanin=4)

        self.ops = [Op("build_sketches", "build_rows_per_s", t["rows"], run, self.check)]

    def check(self, sks) -> list:
        t, bad = self.truth, []
        bloom, hll, cms = sks["bloom_conv"], sks["hll_text"], sks["cms_tool"]
        if bloom.count != t["rows"]:
            bad.append(f"bloom count {bloom.count} != rows {t['rows']}")
        misses = len(self.distinct_conv) - int(
            bloom.contains_arrow(self.distinct_conv).sum()
        )
        if misses:
            bad.append(f"bloom has {misses} false negatives")
        est, exact = hll.estimate(), t["distinct_text"]
        rel = abs(est - exact) / exact
        if rel > HLL_SLACK * hll.relative_error():
            bad.append(f"hll estimate {est:.0f} vs exact {exact}: rel err {rel:.4f}")
        tools = list(t["tool_counts"])
        ests = cms.estimate_values(tools)
        for tool, e in zip(tools, ests):
            true = t["tool_counts"][tool]
            if not true <= e <= true + cms.error_bound():
                bad.append(f"cms {tool!r}: estimate {e} outside [{true}, +eps*N]")
        self.named["hll_rel_err"] = rel
        return bad

    def kernel_inputs(self) -> dict:
        tbl = pq.read_table(os.path.join(self.path, "transcripts", "part-0000.parquet"))
        return {
            "keys": {c: tbl.column(c).combine_chunks() for c in ("conv_id", "text", "tool")},
            "sketches": {
                kind: self.specs[name]
                for kind, name in (("bloom", "bloom_conv"), ("hll", "hll_text"), ("cms", "cms_tool"))
            },
            "probe": tbl.column("conv_id").combine_chunks(),
        }

    def scan_inputs(self, spark) -> list:
        return [("build_sketches", self.df.select("conv_id", "text", "tool"))]


class MembershipProbe(Workload):
    name = "membership_probe"

    def prepare(self, spark) -> None:
        from pyspark.sql import functions as F

        from sprout_spark.sketch import BloomFilter
        from sprout_spark.spark.aggregate import build_sketch
        from sprout_spark.spark.probe import might_contain
        from sprout_spark.spark.sharded import (
            build_sharded_bloom,
            sharded_might_contain,
        )

        t = self.truth
        self.keys = self.read(spark, "keys")
        self.stream = self.read(spark, "stream")
        self.bloom = self.filters = None
        cap = t["keys"]
        self.bloom_factory = lambda: BloomFilter(cap, BLOOM_EPS)

        def probe_counts(df, hit):
            row = df.agg(
                F.count("*").alias("n"),
                F.count_if(hit).alias("hits"),
                F.count_if(hit & F.col("member")).alias("member_hits"),
                F.sum(F.crc32(F.col("key").cast("binary"))).alias("key_crc"),
            ).collect()[0]
            return row.asDict()

        def bloom_build(trace):
            with trace.call("spark.aggregate.build_sketch"):
                self.bloom = build_sketch(self.keys, "key", self.bloom_factory, fanin=4)
            return self.bloom

        def sharded_build(trace):
            with trace.call("spark.sharded.build_sharded_bloom"):
                self.filters = build_sharded_bloom(
                    self.keys, "key", SHARDS, t["keys"], err_rate=BLOOM_EPS
                ).persist()
                return self.filters.agg(
                    F.count("*").alias("shards"), F.sum("rows").alias("rows")
                ).collect()[0].asDict()

        def probe(trace):
            with trace.call("spark.probe.might_contain"):
                hit = might_contain(spark, self.bloom, F.col("key"))
                return probe_counts(self.stream.withColumn("hit", hit), F.col("hit"))

        def sharded_probe(trace):
            with trace.call("spark.sharded.sharded_might_contain"):
                out = sharded_might_contain(
                    self.stream, "key", self.filters, n_shards=SHARDS, out_col="hit"
                )
                return probe_counts(out, F.col("hit"))

        self.ops = [
            Op("bloom_build", "build_rows_per_s", t["keys"], bloom_build, self.check_bloom),
            Op(
                "sharded_build",
                "sharded_build_rows_per_s",
                t["keys"],
                sharded_build,
                self.check_shards,
            ),
            Op(
                "probe",
                "probe_keys_per_s",
                t["probes"],
                probe,
                self.check_probe("bloom_fpr_observed"),
            ),
            Op(
                "sharded_probe",
                "sharded_probe_keys_per_s",
                t["probes"],
                sharded_probe,
                self.check_probe("sharded_fpr_observed"),
            ),
        ]

    def end_round(self) -> None:
        if self.filters is not None:
            self.filters.unpersist()
            self.filters = None

    def layer_counters(self) -> dict:
        return {
            "spark.probe.broadcast_bytes": len(self.bloom.to_bytes()),
            "spark.probe.hit_ratio": self.named["bloom_hit_ratio"],
        }

    def check_bloom(self, bloom) -> list:
        if bloom.count != self.truth["keys"]:
            return [f"bloom count {bloom.count} != keys {self.truth['keys']}"]
        return []

    def check_shards(self, res) -> list:
        bad = []
        if res["rows"] != self.truth["keys"]:
            bad.append(f"sharded filters hold {res['rows']} rows != {self.truth['keys']}")
        if res["shards"] != SHARDS:
            bad.append(f"{res['shards']} shard filters, expected {SHARDS}")
        return bad

    def check_probe(self, fpr_name: str):
        def check(res) -> list:
            t, bad = self.truth, []
            if res["n"] != t["probes"]:
                bad.append(f"probe returned {res['n']} rows != {t['probes']}")
            if res["key_crc"] != t["stream_key_crc"]:
                bad.append("probe output keys differ from the stream's keys")
            if res["member_hits"] != t["member_probes"]:
                bad.append(
                    f"{t['member_probes'] - res['member_hits']} false negatives"
                )
            fpr = (res["hits"] - res["member_hits"]) / t["outsider_probes"]
            if fpr > FPR_SLACK * BLOOM_EPS:
                bad.append(f"observed FPR {fpr:.5f} > {FPR_SLACK} x {BLOOM_EPS}")
            self.named[fpr_name] = fpr
            self.named[fpr_name.replace("fpr_observed", "hit_ratio")] = (
                res["hits"] / res["n"]
            )
            return bad

        return check

    def kernel_inputs(self) -> dict:
        from sprout_spark.sketch import CountMinSketch, HyperLogLog

        keys = pq.read_table(os.path.join(self.path, "keys")).column("key")
        stream = pq.read_table(
            os.path.join(self.path, "stream", "part-0000.parquet")
        ).column("key")
        return {
            "keys": {"key": keys.combine_chunks()},
            "sketches": {
                "bloom": ("key", self.bloom_factory),
                "hll": ("key", lambda: HyperLogLog(p=14)),
                "cms": ("key", lambda: CountMinSketch(0.0005, 0.01)),
            },
            "probe": stream.combine_chunks(),
        }

    def scan_inputs(self, spark) -> list:
        return [
            ("bloom_build", self.keys.select("key")),
            ("sharded_build", self.keys.select("key")),
            ("probe", self.stream.select("key", "member")),
            ("sharded_probe", self.stream.select("key", "member")),
        ]


_WS = re.compile(r"\s+")


def _token_set(text: str) -> frozenset:
    return frozenset(_WS.split(text)) - {""}


class DedupDocs(Workload):
    name = "dedup_docs"

    def prepare(self, spark) -> None:
        from pyspark.sql import functions as F

        from sprout_spark.operators.dedup import near_dup_pairs
        from sprout_spark.operators.lines import strip_boilerplate_lines

        t = self.truth
        self.df = self.read(spark, "docs")
        docs = pq.read_table(os.path.join(self.path, "docs"))
        self.tokens = {
            i: _token_set(s)
            for i, s in zip(
                docs.column("id").to_pylist(), docs.column("text").to_pylist()
            )
        }
        self.planted = {
            (min(a, b), max(a, b))
            for a, b in t["planted_pairs"]
            if self.jaccard(a, b) >= NEAR_DUP_THRESHOLD
        }

        def near_dup(trace):
            with trace.call("operators.dedup.near_dup_pairs"):
                return near_dup_pairs(
                    self.df, "id", "text", threshold=NEAR_DUP_THRESHOLD
                ).toArrow()

        def strip(trace):
            with trace.call("operators.lines.strip_boilerplate_lines"):
                out = strip_boilerplate_lines(self.df, "id", "text")
                return out.agg(
                    F.count("*").alias("docs"),
                    F.sum("n_dropped").alias("dropped"),
                    F.sum("n_lines").alias("lines"),
                    F.sum(F.length("text")).alias("chars"),
                ).collect()[0].asDict()

        self.ops = [
            Op("near_dup_pairs", "near_dup_docs_per_s", t["docs"], near_dup, self.check_pairs),
            Op(
                "strip_boilerplate_lines",
                "boilerplate_docs_per_s",
                t["docs"],
                strip,
                self.check_strip,
            ),
        ]

    def layer_counters(self) -> dict:
        return {"operators.lines.dropped": self.named["boilerplate_dropped"]}

    def jaccard(self, a: int, b: int) -> float:
        sa, sb = self.tokens[a], self.tokens[b]
        inter = len(sa & sb)
        return inter / (len(sa) + len(sb) - inter)

    def check_pairs(self, tbl: pa.Table) -> list:
        bad = []
        a = tbl.column("a").to_pylist()
        b = tbl.column("b").to_pylist()
        j = tbl.column("jaccard").to_pylist()
        found = set(zip(a, b))
        if len(found) != len(a):
            bad.append(f"{len(a) - len(found)} duplicate pairs emitted")
        missed = self.planted - found
        if missed:
            bad.append(f"{len(missed)} planted near-duplicate pairs not found")
        wrong = sum(
            1
            for x, y, v in zip(a, b, j)
            if v < NEAR_DUP_THRESHOLD or abs(self.jaccard(x, y) - v) > 1e-12
        )
        if wrong:
            bad.append(f"{wrong} emitted pairs fail the exact Jaccard check")
        self.named["near_dup_pairs"] = len(a)
        return bad

    def check_strip(self, res) -> list:
        t, bad = self.truth, []
        if res["docs"] != t["docs"]:
            bad.append(f"strip returned {res['docs']} docs != {t['docs']}")
        if res["dropped"] != t["planted_boilerplate_lines"]:
            bad.append(
                f"dropped {res['dropped']} lines != planted "
                f"{t['planted_boilerplate_lines']}"
            )
        if res["lines"] != t["lines"]:
            bad.append(f"n_lines sum {res['lines']} != {t['lines']}")
        if res["chars"] != t["stripped_chars"]:
            bad.append(f"stripped text is {res['chars']} chars != {t['stripped_chars']}")
        self.named["boilerplate_dropped"] = res["dropped"]
        return bad

    def kernel_inputs(self) -> dict:
        from sprout_spark.sketch import BloomFilter, CountMinSketch, HyperLogLog

        text = pq.read_table(os.path.join(self.path, "docs")).column("text")
        # the whitespace tokens the minhash kernel hashes
        tokens = pc.split_pattern_regex(text, r"\s+").combine_chunks().flatten()
        return {
            "keys": {"tokens": tokens},
            "sketches": {
                # the boilerplate gate's error rate, sized for the tokens
                "bloom": ("tokens", lambda: BloomFilter(len(tokens), 1e-3)),
                "hll": ("tokens", lambda: HyperLogLog(p=14)),
                "cms": ("tokens", lambda: CountMinSketch(0.0005, 0.01)),
            },
            "probe": tokens,
        }

    def scan_inputs(self, spark) -> list:
        return [
            ("near_dup_pairs", self.df.select("id", "text")),
            ("strip_boilerplate_lines", self.df.select("id", "text")),
        ]


class MembershipDedup(Workload):
    """``membership_probe``'s operations, then ``dedup_docs``' ones, as one
    round over both inputs: every layer but the flagship build's kernels
    in one run, at one session's set-up cost."""

    name = "membership_dedup"

    def __init__(self, path: str, truth: dict):
        super().__init__(path, truth)
        self.parts = [MembershipProbe(path, truth), DedupDocs(path, truth)]
        for part in self.parts:
            part.named = self.named

    def prepare(self, spark) -> None:
        for part in self.parts:
            part.prepare(spark)
        self.ops = [op for part in self.parts for op in part.ops]

    def end_round(self) -> None:
        for part in self.parts:
            part.end_round()

    def kernel_inputs(self) -> dict:
        return self.parts[0].kernel_inputs()

    def layer_counters(self) -> dict:
        return {k: v for part in self.parts for k, v in part.layer_counters().items()}

    def scan_inputs(self, spark) -> list:
        return [scan for part in self.parts for scan in part.scan_inputs(spark)]


WORKLOADS = {
    w.name: w for w in (TranscriptsBuild, MembershipProbe, DedupDocs, MembershipDedup)
}
