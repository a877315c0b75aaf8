"""Traced-run support: job-group spans, Spark event-log roll-up, kernel timings.

The traced phase attaches Spark's event log to the session, sets one
Spark job group per public library call (``pb|<round>|<op>|<layer.call>``)
and keeps the driver-side span of each call in memory. After the phase,
the event log (uncompressed, non-rolling) is read back and every job,
stage and task is attributed to its call through the job group. Per-layer figures are computed per round
and reported as medians over the timed rounds.

Layers are this repository's modules. A layer that a workload never calls
reads 0, so busy times of layer-specific calls are reported as rates
(work per second of the call's span) rather than as times.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict
from pathlib import Path


class NullTrace:
    """Untraced runs: no job groups, no spans."""

    round = op = None

    def call(self, label: str):
        return contextlib.nullcontext()


class Trace:
    """In-memory spans of the traced run; written out when the run ends."""

    def __init__(self, sc):
        self.sc = sc
        self.round = 0
        self.op = ""
        self.calls: list[dict] = []

    @contextlib.contextmanager
    def call(self, label: str):
        group = f"pb|{self.round}|{self.op}|{label}"
        self.sc.setJobGroup(group, label)
        t0 = time.time()
        try:
            yield
        finally:
            self.calls.append(
                {"round": self.round, "op": self.op, "label": label,
                 "group": group, "t0": t0, "t1": time.time()}
            )
            self.sc.setLocalProperty("spark.jobGroup.id", None)


# -- event log --------------------------------------------------------------


@contextlib.contextmanager
def event_log(spark, log_dir: str):
    """Spark's own event-log writer (uncompressed, non-rolling), attached
    to the running session for the block, so the traced phase shares the
    untraced phase's session. Waits for the listener bus to deliver every
    event of the block before the log is closed."""
    sc = spark.sparkContext
    jsc, jvm = sc._jsc.sc(), sc._jvm
    conf = (
        jsc.conf()
        .clone()
        .set("spark.eventLog.compress", "false")
        .set("spark.eventLog.rolling.enabled", "false")
    )
    no_attempt = getattr(getattr(jvm.scala, "None$"), "MODULE$")
    listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
        sc.applicationId, no_attempt, jvm.java.net.URI(Path(log_dir).as_uri()), conf
    )
    listener.start()
    jsc.addSparkListener(listener)
    try:
        yield
    finally:
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(listener)
        listener.stop()


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """(jobs, stages) from the single event-log file in ``log_dir``.

    jobs: id -> {group, t0, t1 (epoch s), stages [ids]}
    stages: id -> {t0, t1, scopes {operator names}, acc {name: sum},
                   out_rows {plan node name: output rows},
                   tasks [(duration s, run s)]}"""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    jobs, stages = {}, {}
    tasks = defaultdict(list)
    row_accs = {}  # accumulator id -> plan node whose output rows it counts
    stage_accs = {}

    def plan_nodes(node):
        for metric in node.get("metrics", []):
            if metric["name"] == "number of output rows":
                row_accs[metric["accumulatorId"]] = node["nodeName"]
        for child in node.get("children", []):
            plan_nodes(child)

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if "sparkPlanInfo" in e:  # SQL execution start, AQE re-plans
                plan_nodes(e["sparkPlanInfo"])
            elif kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {
                    "group": e.get("Properties", {}).get("spark.jobGroup.id"),
                    "t0": e["Submission Time"] / 1000.0,
                    "t1": None,
                    "stages": e["Stage IDs"],
                }
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                acc = defaultdict(float)
                ids = stage_accs[si["Stage ID"]] = []
                for a in si.get("Accumulables", []):
                    try:
                        acc[a["Name"]] += float(a["Value"])
                        ids.append((a["ID"], float(a["Value"])))
                    except (KeyError, TypeError, ValueError):
                        pass
                scopes = set()
                for rdd in si.get("RDD Info", []):
                    if rdd.get("Scope"):
                        scopes.add(json.loads(rdd["Scope"])["name"])
                stages[si["Stage ID"]] = {
                    "t0": si["Submission Time"] / 1000.0,
                    "t1": si["Completion Time"] / 1000.0,
                    "scopes": scopes,
                    "acc": acc,
                }
            elif kind == "SparkListenerTaskEnd":
                ti = e["Task Info"]
                run_ms = (e.get("Task Metrics") or {}).get("Executor Run Time", 0)
                tasks[e["Stage ID"]].append(
                    ((ti["Finish Time"] - ti["Launch Time"]) / 1000.0, run_ms / 1000.0)
                )
    for sid, st in stages.items():
        st["tasks"] = tasks.get(sid, [])
        st["out_rows"] = defaultdict(float)
        for acc_id, value in stage_accs[sid]:
            if acc_id in row_accs:
                st["out_rows"][row_accs[acc_id]] += value
    return jobs, stages


def _dedup_part(stage) -> str:
    """The ``near_dup_pairs`` step a stage of its plan belongs to.

    Minhash stages run the ``mapInArrow`` signature kernel over the scan;
    the verify step collects the token sets (a scan without Python) and
    runs its ``mapInArrow`` kernel over the distinct candidates; the
    remaining stages (window, self-join, distinct) are the LSH join."""
    scan = any(s.startswith("Scan") for s in stage["scopes"])
    python = "MapInArrow" in stage["scopes"]
    if scan and python:
        return "minhash_band_rows"
    if scan or python:
        return "verify_jaccard"
    return "lsh_candidate_pairs"


def _union(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _acc(stage, name: str) -> float:
    return stage["acc"].get(name, 0.0)


def _rate(work: float, seconds: float) -> float:
    return work / seconds if seconds > 0 else 0.0


def _round_layers(calls, ops, jobs, stages, items) -> dict:
    """Per-layer figures for one round.

    calls: the round's call spans; ops: {op: (t0, t1)}; items: {op: n}."""
    by_group = defaultdict(list)
    for j in jobs.values():
        if j["group"] and j["t1"] is not None:
            by_group[j["group"]].append(j)

    def call_stages(c):
        seen = []
        for j in by_group.get(c["group"], []):
            seen += [stages[s] for s in j["stages"] if s in stages]
        return seen

    def call_jobs(c):
        return [(j["t0"], j["t1"]) for j in by_group.get(c["group"], [])]

    m = defaultdict(float)
    all_stages = []
    job_time = 0.0
    skews = []
    for op, (t0, t1) in ops.items():
        op_calls = [c for c in calls if c["op"] == op]
        spans = [iv for c in op_calls for iv in call_jobs(c)]
        covered = _union(spans)
        job_time += covered
        m["engine.driver_s"] += (t1 - t0) - covered
        op_stages = [s for c in op_calls for s in call_stages(c)]
        all_stages += op_stages
        m["engine.jobs"] += len(spans)
        busiest = max(
            (s for s in op_stages if len(s["tasks"]) > 1),
            key=lambda s: sum(r for _, r in s["tasks"]),
            default=None,
        )
        if busiest is not None:
            durs = [d for d, _ in busiest["tasks"]]
            med = statistics.median(durs)
            skews.append(max(durs) / med if med > 0 else 1.0)
    wall = sum(t1 - t0 for t0, t1 in ops.values())
    m["trace.job_span_coverage"] = job_time / wall if wall else 0.0
    m["engine.stages"] = len(all_stages)
    m["engine.tasks"] = sum(len(s["tasks"]) for s in all_stages)
    m["engine.executor_run_s"] = sum(_acc(s, "internal.metrics.executorRunTime") for s in all_stages) / 1e3
    m["engine.python_worker_s"] = sum(_acc(s, "time to run Python workers") for s in all_stages) / 1e3
    m["engine.shuffle_write_bytes"] = sum(
        _acc(s, "internal.metrics.shuffle.write.bytesWritten") for s in all_stages
    )
    m["engine.task_skew"] = max(skews, default=1.0)

    for c in calls:
        label, st = c["label"], call_stages(c)
        span = c["t1"] - c["t0"]
        shuffle = sum(_acc(s, "internal.metrics.shuffle.write.bytesWritten") for s in st)
        py = sum(_acc(s, "time to run Python workers") for s in st)
        run = sum(_acc(s, "internal.metrics.executorRunTime") for s in st)
        n = items[c["op"]]
        if label.startswith("spark.aggregate."):
            parts = [s for s in st if "MapInArrow" in s["scopes"]]
            merges = [s for s in st if "FlatMapGroupsInArrow" in s["scopes"]]
            part_s = sum(s["t1"] - s["t0"] for s in parts)
            merge_s = sum(s["t1"] - s["t0"] for s in merges)
            collected = sum(
                _acc(s, "internal.metrics.resultSize")
                for s in st
                if not _acc(s, "internal.metrics.shuffle.write.bytesWritten")
            )
            fold_s = span - _union(call_jobs(c))
            m["spark.aggregate.partials.rows_per_s"] = _rate(n, part_s)
            part_run = sum(_acc(s, "internal.metrics.executorRunTime") for s in parts)
            m["spark.aggregate.partials.python_share"] = _rate(
                sum(_acc(s, "time to run Python workers") for s in parts), part_run
            )
            m["spark.aggregate.tree_merge.mb_per_s"] = _rate(shuffle / 1e6, merge_s)
            m["spark.aggregate.tree_merge.stages"] = len(merges)
            m["spark.aggregate.tree_merge.shuffle_bytes"] = shuffle
            m["spark.aggregate.collect.bytes"] = collected
            m["spark.aggregate.fold.mb_per_s"] = _rate(collected / 1e6, fold_s)
            m["_s.spark.aggregate.partials.s"] = part_s
            m["_s.spark.aggregate.tree_merge.s"] = merge_s
            m["_s.spark.aggregate.fold.s"] = fold_s
        elif label == "spark.probe.might_contain":
            m["spark.probe.keys_per_s"] = _rate(n, span)
            m["spark.probe.python_share"] = _rate(py, run)
            m["_s.spark.probe.s"] = span
        elif label == "spark.sharded.build_sharded_bloom":
            m["spark.sharded.build.keys_per_s"] = _rate(n, span)
            m["spark.sharded.build.shuffle_bytes"] = shuffle
            m["_s.spark.sharded.build.s"] = span
        elif label == "spark.sharded.sharded_might_contain":
            m["spark.sharded.probe.keys_per_s"] = _rate(n, span)
            m["spark.sharded.probe.shuffle_bytes"] = shuffle
            m["_s.spark.sharded.probe.s"] = span
        elif label == "operators.dedup.near_dup_pairs":
            parts = defaultdict(list)
            for stage in st:
                parts[_dedup_part(stage)].append(stage)
            secs = {
                part: _union((s["t0"], s["t1"]) for s in parts[part])
                for part in ("minhash_band_rows", "lsh_candidate_pairs")
            }
            # the rest of the call: verify stages plus driver-side work
            secs["verify_jaccard"] = span - sum(secs.values())
            kernel = [s for s in parts["verify_jaccard"] if "MapInArrow" in s["scopes"]]
            cands = sum(s["out_rows"].get("HashAggregate", 0.0) for s in kernel)
            pairs = sum(s["out_rows"].get("MapInArrow", 0.0) for s in kernel)
            m["operators.dedup.minhash_band_rows.docs_per_s"] = _rate(n, secs["minhash_band_rows"])
            m["operators.dedup.lsh_candidate_pairs.docs_per_s"] = _rate(n, secs["lsh_candidate_pairs"])
            m["operators.dedup.verify_jaccard.pairs_per_s"] = _rate(cands, secs["verify_jaccard"])
            m["operators.dedup.candidates"] = cands
            m["operators.dedup.pairs"] = pairs
            m["operators.dedup.verify_yield"] = _rate(pairs, cands)
            m["operators.dedup.shuffle_bytes"] = shuffle
            for part, sec in secs.items():
                m[f"_s.operators.dedup.{part}.s"] = sec
        elif label == "operators.lines.strip_boilerplate_lines":
            m["operators.lines.strip.docs_per_s"] = _rate(n, span)
            m["operators.lines.shuffle_bytes"] = shuffle
            m["_s.operators.lines.strip.s"] = span
    return dict(m)


def layer_report(trace: Trace, op_spans: list, items: dict, log_dir: str) -> dict:
    """Median over timed rounds of every per-round layer figure.

    op_spans: [(round, op, t0, t1)] for the timed rounds."""
    jobs, stages = read_event_log(log_dir)
    rounds = sorted({r for r, *_ in op_spans})
    per_round = []
    for r in rounds:
        ops = {op: (t0, t1) for rr, op, t0, t1 in op_spans if rr == r}
        calls = [c for c in trace.calls if c["round"] == r]
        per_round.append(_round_layers(calls, ops, jobs, stages, items))
    keys = sorted({k for d in per_round for k in d})
    return {k: statistics.median(d.get(k, 0.0) for d in per_round) for k in keys}


# -- driver-side kernel timings ----------------------------------------------


def _median_time(fn, reps: int = 5) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_report(inputs: dict) -> dict:
    """Time the public hashing and sketch kernels in the driver on the
    workload's own keys: ``pack_arrow``, ``add_packed`` for each sketch,
    Bloom ``contains_packed``, ``to_bytes`` + ``sketch_from_bytes`` and
    ``merge``."""
    from sprout_spark.hashing import pack_arrow
    from sprout_spark.sketch.base import sketch_from_bytes

    m = {}
    keys = inputs["keys"]
    packed = {c: pack_arrow(a) for c, a in keys.items()}
    n_keys = sum(len(a) for a in keys.values())
    t = sum(_median_time(lambda a=a: pack_arrow(a)) for a in keys.values())
    m["hashing.pack_arrow.keys_per_s"] = _rate(n_keys, t)

    built = {}
    for kind, (col, factory) in inputs["sketches"].items():
        mat, lens = packed[col]

        def add():
            sk = factory()
            sk.add_packed(mat, lens)
            built[kind] = sk

        m[f"sketch.{kind}.add_packed.keys_per_s"] = _rate(len(lens), _median_time(add))

    pmat, plens = pack_arrow(inputs["probe"])
    m["sketch.bloom.contains_packed.keys_per_s"] = _rate(
        len(plens), _median_time(lambda: built["bloom"].contains_packed(pmat, plens))
    )
    payloads = {k: sk.to_bytes() for k, sk in built.items()}
    size = sum(len(p) for p in payloads.values())
    m["sketch.payload_bytes"] = size
    serde = sum(
        _median_time(lambda sk=sk: sketch_from_bytes(sk.to_bytes())) for sk in built.values()
    )
    m["sketch.serde.mb_per_s"] = _rate(size / 1e6, serde)
    merge_s = 0.0
    for p in payloads.values():
        a, b = sketch_from_bytes(p), sketch_from_bytes(p)
        merge_s += _median_time(lambda a=a, b=b: a.merge(b))
    m["sketch.merge.mb_per_s"] = _rate(size / 1e6, merge_s)
    return m
