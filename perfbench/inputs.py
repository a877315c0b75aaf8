"""Seeded benchmark inputs, generated once per (workload, seed) and cached.

Every input is a pure function of the workload name and ``--seed``. The
transcripts come from the library's own generator
(``sprout_spark.sources.transcripts.generate_transcripts``); everything
else is derived from them here with numpy/pyarrow, so generation stays a
few seconds even for millions of rows.

Each workload's inputs land in ``perfbench/.cache/<workload>-<seed>-<hash>/``
as parquet files plus ``truth.json``, the exact answers the output checks
compare against. ``<hash>`` covers this file and the transcripts generator,
so an edit to either regenerates instead of reusing stale inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
KEEP_ENTRIES = 32  # newest cache entries kept (~10 MB each); older ones are deleted

# transcripts_build: the flagship 3-sketch pass
BUILD_BASE_CONVS = 300
BUILD_ROWS = 500_000
BUILD_FILES = 8  # one scan partition per file: few, fat partitions

# membership_probe: many thin partitions of distinct keys + a probe stream
PROBE_KEYS = 200_000
PROBE_KEY_FILES = 16
PROBE_STREAM = 400_000  # half members, half never-inserted keys
PROBE_STREAM_FILES = 4

# dedup_docs: one document per conversation, turns as lines
DEDUP_CONVS = 400
DEDUP_MAX_LINES = 16
DEDUP_COPY_SHARE = 0.15  # near-duplicate copies planted, as a share of docs
DEDUP_BOILERPLATE = 40  # distinct boilerplate lines, each planted in 2..8 docs
DEDUP_FILES = 4


def _source_hash() -> str:
    h = hashlib.sha256()
    for path in (
        os.path.join(HERE, "inputs.py"),
        os.path.join(REPO, "sprout_spark", "sources", "transcripts.py"),
    ):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def ensure_inputs(workload: str, seed: int) -> tuple[str, dict]:
    """Return (input dir, truth) for ``workload`` at ``seed``, generating
    and caching the inputs on first use."""
    path = os.path.join(CACHE, f"{workload}-{seed}-{_source_hash()}")
    truth_path = os.path.join(path, "truth.json")
    if os.path.exists(truth_path):
        os.utime(path)
        with open(truth_path) as f:
            return path, json.load(f)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    truth = _GENERATORS[workload](tmp, seed)
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f)
    os.replace(tmp, path)
    _prune_cache()
    return path, truth


def _prune_cache() -> None:
    entries = [
        os.path.join(CACHE, e) for e in os.listdir(CACHE) if not e.endswith(".tmp")
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[KEEP_ENTRIES:]:
        shutil.rmtree(old, ignore_errors=True)


def _write_split(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` single-row-group parquet files; the
    session reads each file as exactly one partition."""
    os.makedirs(out_dir)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        chunk = table.slice(i * step, step)
        pq.write_table(
            chunk,
            os.path.join(out_dir, f"part-{i:04d}.parquet"),
            row_group_size=max(1, chunk.num_rows),
        )


def _transcripts(n_convs: int, seed: int) -> pa.Table:
    from sprout_spark.sources.transcripts import generate_transcripts

    return generate_transcripts(n_convs, seed=seed % (2**32))


def _tile(col: pa.Array, reps: int, rows: int) -> pa.Array:
    """``col`` repeated ``reps`` times, copy ``r`` suffixed with ``~r`` so
    every copy is a distinct string, cut to ``rows``."""
    parts = [
        pc.binary_join_element_wise(col, pa.scalar(f"{r}"), "~") for r in range(reps)
    ]
    return pa.concat_arrays(parts).slice(0, rows)


def _gen_transcripts_build(out: str, seed: int) -> dict:
    base = _transcripts(BUILD_BASE_CONVS, seed)
    reps = -(-BUILD_ROWS // base.num_rows)
    conv = _tile(base.column("conv_id").combine_chunks(), reps, BUILD_ROWS)
    text = _tile(base.column("text").combine_chunks(), reps, BUILD_ROWS)
    tool = pa.concat_arrays([base.column("tool").combine_chunks()] * reps).slice(
        0, BUILD_ROWS
    )
    table = pa.table({"conv_id": conv, "text": text, "tool": tool})
    _write_split(table, os.path.join(out, "transcripts"), BUILD_FILES)
    counts = pc.value_counts(tool)
    return {
        "rows": BUILD_ROWS,
        "distinct_conv": pc.count_distinct(conv).as_py(),
        "distinct_text": pc.count_distinct(text).as_py(),
        "tool_counts": {
            v.as_py(): c.as_py()
            for v, c in zip(counts.field("values"), counts.field("counts"))
        },
    }


def _conv_keys(values: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise(
        "conv-", pc.cast(pa.array(values), pa.string()), ""
    )


def _gen_membership_probe(out: str, seed: int) -> dict:
    rng = np.random.default_rng(seed)
    need = PROBE_KEYS + PROBE_STREAM // 2
    ids = np.unique(rng.integers(0, 2**62, size=need + need // 100 + 16))
    ids = rng.permutation(ids)[:need]
    members, outsiders = ids[:PROBE_KEYS], ids[PROBE_KEYS:]
    _write_split(
        pa.table({"key": _conv_keys(members)}),
        os.path.join(out, "keys"),
        PROBE_KEY_FILES,
    )
    n_in = PROBE_STREAM // 2
    stream_ids = np.concatenate([rng.choice(members, n_in), outsiders])
    is_member = np.zeros(len(stream_ids), dtype=bool)
    is_member[:n_in] = True
    order = rng.permutation(len(stream_ids))
    stream = pa.table(
        {
            "key": _conv_keys(stream_ids[order]),
            "member": pa.array(is_member[order]),
        }
    )
    _write_split(stream, os.path.join(out, "stream"), PROBE_STREAM_FILES)
    return {
        "keys": PROBE_KEYS,
        "probes": PROBE_STREAM,
        "member_probes": n_in,
        "outsider_probes": len(outsiders),
        # sum of crc32(key) over the stream: a probe must return its rows
        "stream_key_crc": sum(
            zlib.crc32(k.encode()) for k in stream.column("key").to_pylist()
        ),
    }


def _gen_dedup_docs(out: str, seed: int) -> dict:
    """Documents with planted near-duplicate copies and boilerplate lines.

    Every ordinary line ends in a token unique to its (doc, line), so no
    ordinary line repeats: the only lines found in two or more documents
    are the planted boilerplate ones. A near-duplicate copy keeps every
    token of its original but writes each line with a doubled space (a
    different line, the same token set) and swaps the unique token of one
    line, so the pair's token Jaccard is (T-1)/(T+1) for T tokens."""
    rng = np.random.default_rng(seed)
    base = _transcripts(DEDUP_CONVS, seed)
    conv = base.column("conv_id").to_numpy(zero_copy_only=False)
    texts = base.column("text").to_pylist()
    starts = np.flatnonzero(np.r_[True, conv[1:] != conv[:-1]])
    ends = np.r_[starts[1:], len(conv)]
    docs = []
    for d, (s, e) in enumerate(zip(starts, ends)):
        e = min(e, s + DEDUP_MAX_LINES)
        docs.append([f"{texts[i]} u{d}x{i - s}" for i in range(s, e)])
    n_orig = len(docs)
    originals = rng.choice(n_orig, int(n_orig * DEDUP_COPY_SHARE), replace=False)
    planted_pairs = []
    for src in originals:
        copy_id = len(docs)
        lines = [ln.replace(" ", "  ", 1) for ln in docs[src]]
        j = int(rng.integers(len(lines)))
        head, _, _ = docs[src][j].rpartition(" ")
        lines[j] = f"{head} u{copy_id}x{j}"
        docs.append(lines)
        planted_pairs.append((int(src), copy_id))
    planted_lines = planted_chars = 0
    for b in range(DEDUP_BOILERPLATE):
        line = f"subscribe to newsletter {b} for updates and offers"
        hosts = rng.choice(len(docs), int(rng.integers(2, 9)), replace=False)
        for h in hosts:
            docs[h].insert(int(rng.integers(len(docs[h]) + 1)), line)
        planted_lines += len(hosts)
        # dropping a line also drops the newline that joined it
        planted_chars += len(hosts) * (len(line) + 1)
    order = rng.permutation(len(docs))
    table = pa.table(
        {
            "id": pa.array(order, pa.int64()),
            "text": pa.array(["\n".join(docs[i]) for i in order], pa.string()),
        }
    )
    _write_split(table, os.path.join(out, "docs"), DEDUP_FILES)
    text_chars = pc.sum(pc.utf8_length(table.column("text"))).as_py()
    return {
        "docs": len(docs),
        "lines": sum(len(x) for x in docs),
        "planted_pairs": planted_pairs,
        "planted_boilerplate_lines": planted_lines,
        "stripped_chars": text_chars - planted_chars,
    }


def _gen_membership_dedup(out: str, seed: int) -> dict:
    return {**_gen_membership_probe(out, seed), **_gen_dedup_docs(out, seed)}


_GENERATORS = {
    "transcripts_build": _gen_transcripts_build,
    "membership_probe": _gen_membership_probe,
    "dedup_docs": _gen_dedup_docs,
    "membership_dedup": _gen_membership_dedup,
}
