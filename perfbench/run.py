#!/usr/bin/env python3
"""sprout_spark benchmark: seeded sketch and pipeline workloads on local Spark.

    python3 perfbench/run.py --workload transcripts_build --seed 1 \\
        --seconds 10 --trace 0

One closed-loop client: a single driver runs one operation at a time on a
fresh ``local[<cores>]`` session. A run generates (or reuses) the seeded
inputs, starts the session and runs one untimed warm-up round (together
``setup_s``), then repeats rounds of the workload's operations until
``--seconds`` have passed, checking every output. A library-free canary
job timed between operations rescales ``setup_s`` and ``items_per_s`` to
a fixed box speed. ``--trace 1`` splits ``--seconds`` between an untraced
session and a second one with Spark's event log on and one job group per
public call, and reports per-layer figures plus the tracing overhead.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer metrics
traced). Lines before it give every figure by name and unit. Exits non-zero
without a result when the library cannot be imported or set-up fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
NPROC = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
DRIVER_MEMORY = "3g"
# setup_s and items_per_s are rescaled to a box on which the canary takes this long
CANARY_REF_S = 0.5
CANARY_ELEMS = 1 << 22

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "driver_peak_rss_mb": "MB",
}

PER_LAYER = {
    "hashing.pack_arrow.keys_per_s": "1/s",
    "sketch.bloom.add_packed.keys_per_s": "1/s",
    "sketch.hll.add_packed.keys_per_s": "1/s",
    "sketch.cms.add_packed.keys_per_s": "1/s",
    "sketch.bloom.contains_packed.keys_per_s": "1/s",
    "sketch.serde.mb_per_s": "MB/s",
    "sketch.merge.mb_per_s": "MB/s",
    "sketch.payload_bytes": "bytes",
    "spark.aggregate.partials.rows_per_s": "1/s",
    "spark.aggregate.partials.python_share": "ratio",
    "spark.aggregate.tree_merge.mb_per_s": "MB/s",
    "spark.aggregate.tree_merge.stages": "count",
    "spark.aggregate.tree_merge.shuffle_bytes": "bytes",
    "spark.aggregate.collect.bytes": "bytes",
    "spark.aggregate.fold.mb_per_s": "MB/s",
    "spark.probe.keys_per_s": "1/s",
    "spark.probe.python_share": "ratio",
    "spark.probe.broadcast_bytes": "bytes",
    "spark.probe.hit_ratio": "ratio",
    "spark.sharded.build.keys_per_s": "1/s",
    "spark.sharded.build.shuffle_bytes": "bytes",
    "spark.sharded.probe.keys_per_s": "1/s",
    "spark.sharded.probe.shuffle_bytes": "bytes",
    "operators.dedup.minhash_band_rows.docs_per_s": "1/s",
    "operators.dedup.lsh_candidate_pairs.docs_per_s": "1/s",
    "operators.dedup.candidates": "count",
    "operators.dedup.verify_jaccard.pairs_per_s": "1/s",
    "operators.dedup.pairs": "count",
    "operators.dedup.verify_yield": "ratio",
    "operators.dedup.shuffle_bytes": "bytes",
    "operators.lines.strip.docs_per_s": "1/s",
    "operators.lines.dropped": "count",
    "operators.lines.shuffle_bytes": "bytes",
    "engine.scan.s": "s",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.executor_run_s": "s",
    "engine.python_worker_s": "s",
    "engine.shuffle_write_bytes": "bytes",
    "engine.driver_s": "s",
    "engine.task_skew": "ratio",
    "trace.job_span_coverage": "ratio",
    "trace.overhead_pct": "%",
    "trace.canary_s": "s",
}

# figures printed on the '#' lines besides the metrics
FIGURE_UNITS = {
    "build_rows_per_s": "rows/s",
    "sharded_build_rows_per_s": "rows/s",
    "probe_keys_per_s": "keys/s",
    "sharded_probe_keys_per_s": "keys/s",
    "near_dup_docs_per_s": "docs/s",
    "boilerplate_docs_per_s": "docs/s",
    "raw_items_per_s": "1/s",
    "raw_setup_s": "s",
    "session_start_s": "s",
    "canary_s": "s",
    "bloom_fpr_observed": "ratio",
    "sharded_fpr_observed": "ratio",
    "bloom_hit_ratio": "ratio",
    "sharded_hit_ratio": "ratio",
    "hll_rel_err": "ratio",
    "op_fail_ratio": "ratio",
    "near_dup_pairs": "count",
    "boilerplate_dropped": "count",
}

# -- session ------------------------------------------------------------------


def use_checkout() -> None:
    """Keep every file Spark writes under perfbench/.work and let the
    Python workers import the library from this checkout."""
    for d in ("tmp", "spark-local", "results"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, HERE, os.environ.get("PYTHONPATH")) if p
    )


def start_session():
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORK, "tmp")
    b = (
        SparkSession.builder.master(f"local[{NPROC}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(NPROC))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # every input file is exactly one scan partition
        .config("spark.sql.files.openCostInBytes", str(128 << 20))
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> list[int]:
    children = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for its Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)


# -- measurement --------------------------------------------------------------


class PeakRss:
    """Samples the driver's resident set every 10 ms while ``on`` is set."""

    def __init__(self):
        self.peak = 0
        self.on = threading.Event()
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self):
        while not self._stop.is_set():
            if self.on.is_set():
                with open("/proc/self/statm") as f:
                    self.peak = max(self.peak, int(f.read().split()[1]) * self._page)
            self._stop.wait(0.01)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0


def run_round(wl, trace, rnd: int, tally: Tally, spans: list, spark=None) -> dict:
    """One pass over the workload's ops, each checked.

    Returns {op: (seconds, canary seconds)}. With ``spark`` the canary is
    timed before each op and after it, and an op's canary seconds are the
    mean of the two around it; without, they are None."""
    times = {}
    trace.round = rnd
    before = canary(spark) if spark else None
    for op in wl.ops:
        trace.op = op.name
        tally.attempted += 1
        t0, w0 = time.perf_counter(), time.time()
        try:
            result = op.run(trace)
        except Exception:
            tally.failed += 1
            print(f"# {wl.name}.{op.name} raised:", file=sys.stderr)
            traceback.print_exc()
            continue
        seconds = time.perf_counter() - t0
        spans.append((rnd, op.name, w0, time.time()))
        after = canary(spark) if spark else None
        times[op.name] = (seconds, (before + after) / 2 if spark else None)
        before = after
        bad = op.check(result)
        if bad:
            tally.failed += 1
            for msg in bad:
                print(f"# {wl.name}.{op.name} check failed: {msg}", file=sys.stderr)
    wl.end_round()
    return times


def timed_rounds(wl, spark, trace, seconds: float, tally: Tally, rss: PeakRss) -> dict:
    """Rounds until ``seconds`` have passed, the canary timed around every op."""
    rounds, spans = [], []
    start = time.perf_counter()
    while not rounds or time.perf_counter() - start < seconds:
        rss.on.set()
        rounds.append(run_round(wl, trace, len(rounds) + 1, tally, spans, spark))
        rss.on.clear()
    return {"rounds": rounds, "spans": spans}


def measure(wl, seconds: float, tally: Tally, log_dir: str | None) -> dict:
    """Fresh session, warm-up round, then timed rounds for ``seconds``.

    With ``log_dir``, a traced phase follows in the same session: Spark's
    event log is attached for it, one job group is set per public call,
    and its rounds run for ``seconds`` too (returned under ``traced``).
    Then untraced rounds run once more (under ``after``), so the warm-up
    trend and box drift weigh alike on both sides of the overhead."""
    from spans import NullTrace, Trace, event_log

    t0 = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t0
    try:
        wl.prepare(spark)
        run_round(wl, NullTrace(), 0, tally, [])
        setup_s = time.perf_counter() - t0
        canary(spark)  # the canary's own first-use cost stays out of the figures
        with PeakRss() as rss:
            res = timed_rounds(wl, spark, NullTrace(), seconds, tally, rss)
            res.update(setup_s=setup_s, session_s=session_s, peak_rss=rss.peak)
            if log_dir:
                with event_log(spark, log_dir):
                    trace = Trace(spark.sparkContext)
                    traced = timed_rounds(wl, spark, trace, seconds, tally, rss)
                    traced["scans"] = {}
                    for op, df in wl.scan_inputs(spark):
                        trace.round, trace.op = -1, op
                        with trace.call("engine.scan"):
                            traced["scans"][op] = min(_noop_scan(df) for _ in range(3))
                traced["trace"] = trace
                res["traced"] = traced
                res["after"] = timed_rounds(wl, spark, NullTrace(), seconds, tally, rss)
    finally:
        stop_session(spark)
    return res


def _canary_task(batches):
    import numpy as np

    for _ in batches:
        x = np.arange(CANARY_ELEMS, dtype=np.uint64)
        for _ in range(8):
            x ^= x >> np.uint64(29)
            x *= np.uint64(0xBF58476D1CE4E5B9)
        yield pa.RecordBatch.from_pydict({"h": pa.array([int(x[-1] >> np.uint64(1))])})


def canary(spark) -> float:
    """Seconds for a fixed job of one numpy task per core in the Python
    workers. It runs no library code: the box-speed yardstick of
    ``items_per_s``."""
    t0 = time.perf_counter()
    spark.range(0, NPROC, 1, NPROC).mapInArrow(_canary_task, "h bigint").collect()
    return time.perf_counter() - t0


def _noop_scan(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def round_rates(wl, rounds: list) -> tuple[float, float]:
    """Median over rounds without a failed op of the round's items per
    second of op time: raw, and with each op's time rescaled by the
    canaries around it."""
    total = sum(op.items for op in wl.ops)
    full = [r.values() for r in rounds if len(r) == len(wl.ops)]
    if not full:
        return 0.0, 0.0
    return (
        statistics.median(total / sum(t for t, _ in r) for r in full),
        statistics.median(total / sum(t * CANARY_REF_S / c for t, c in r) for r in full),
    )


def median_canary(rounds: list) -> float:
    return statistics.median(c for r in rounds for _, c in r.values())


def summarize(wl, res: dict) -> tuple[dict, dict]:
    """(end-to-end metrics, raw figures) of one measured session.

    ``items_per_s`` is the median over rounds of a round's items over its
    op time, each op's time rescaled by the mean of the canaries timed
    just before and after it; ``setup_s`` is session start plus the
    warm-up round, rescaled by the median canary. Rescaling is to a box on which
    the canary takes CANARY_REF_S. That cancels the box-speed drift a
    shared machine shows within and between runs; the canary runs no
    library code, so a library change moves only the measured factor.
    The raw figures are printed too."""
    rounds = res["rounds"]
    raw, scaled = round_rates(wl, rounds)
    speed = median_canary(rounds) / CANARY_REF_S
    named = {
        "raw_items_per_s": raw,
        "raw_setup_s": res["setup_s"],
        "session_start_s": res["session_s"],
        "canary_s": speed * CANARY_REF_S,
    }
    for op in wl.ops:
        ts = [r[op.name][0] for r in rounds if op.name in r]
        if ts:
            named[op.metric] = op.items / statistics.median(ts)
    metrics = {
        "setup_s": res["setup_s"] / speed,
        "items_per_s": scaled,
        "driver_peak_rss_mb": res["peak_rss"] / 2**20,
    }
    return metrics, named


# -- main -----------------------------------------------------------------------


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    try:
        import sprout_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import sprout_spark from {REPO}: {e}", file=sys.stderr)
        return 2
    from inputs import ensure_inputs

    use_checkout()
    path, truth = ensure_inputs(args.workload, args.seed)
    wl = WORKLOADS[args.workload](path, truth)
    tally = Tally()
    # a traced run splits its time between untraced and traced phases
    seconds = args.seconds / 2 if args.trace else args.seconds
    log_dir = None
    if args.trace:
        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
    res = measure(wl, seconds, tally, log_dir)
    e2e, named = summarize(wl, res)
    named.update(wl.named)
    report = {
        "workload": wl.name,
        "seed": args.seed,
        "nproc": NPROC,
        "rounds": res["rounds"],
        "named": named,
    }
    if args.trace:
        metrics, extra = layers(wl, args.seed, res, log_dir)
        report["layers"] = {**metrics, **extra}
        named.update(extra)
    else:
        metrics = e2e
    named["op_fail_ratio"] = tally.failed / max(1, tally.attempted)
    units = {**FIGURE_UNITS, **END_TO_END, **PER_LAYER}
    for k, v in [*sorted(named.items()), *metrics.items()]:
        unit = units.get(k, "s" if k.endswith(".s") else "")
        print(f"# {wl.name} {k} = {v:.6g} {unit}")
    with open(
        os.path.join(WORK, "results", f"{wl.name}-seed{args.seed}-trace{args.trace}.json"),
        "w",
    ) as f:
        json.dump(report, f, indent=1, default=str)
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def layers(wl, seed: int, res: dict, log_dir: str) -> tuple[dict, dict]:
    """Per-layer metrics of the traced phase, and the call self-times (s)."""
    from spans import kernel_report, layer_report

    traced = res["traced"]
    with open(os.path.join(WORK, "results", f"{wl.name}-seed{seed}-spans.json"), "w") as f:
        json.dump({"ops": traced["spans"], "calls": traced["trace"].calls}, f)
    items = {op.name: op.items for op in wl.ops}
    out = layer_report(traced["trace"], traced["spans"], items, log_dir)
    out.update(kernel_report(wl.kernel_inputs()))
    out["engine.scan.s"] = sum(traced["scans"].values())
    # canary-scaled rates; the untraced phases ran before and after the traced one
    rate = {k: round_rates(wl, res[k]["rounds"])[1] for k in ("traced", "after")}
    untraced = (round_rates(wl, res["rounds"])[1] + rate["after"]) / 2
    out["trace.overhead_pct"] = 100.0 * (untraced - rate["traced"]) / untraced if untraced else 0.0
    out["trace.canary_s"] = median_canary(traced["rounds"])
    out.update(wl.layer_counters())
    extra = {k[3:]: v for k, v in out.items() if k.startswith("_s.")}
    metrics = {k: float(out.get(k, 0.0)) for k in PER_LAYER}
    return metrics, extra


if __name__ == "__main__":
    sys.exit(main())
