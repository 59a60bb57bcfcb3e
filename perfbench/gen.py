"""Seeded input generator for the engine benchmark (numpy/pyarrow only).

Every input a workload reads is written here, before the engine process
starts, from one integer seed: the same seed gives byte-identical files.
Besides the files, each workload gets a ``truth.json`` with the facts the
output checks compare against (routed counts, corrupt lines, planted
duplicate clusters, ...). Nothing here imports Spark or the engine.

Layout under the output directory::

    ingest:   warm/0/{events.parquet,logs/part-0.jsonl}  warm-up drop
              run/<i>/...                 telemetry drops, cycled by the units
              warm/events/part-*.parquet  warm-up stored telemetry
              run/events/part-*.parquet   stored telemetry every refresh reads
    curation: warm/<i>/{documents,embeddings}.parquet  warm-up shards
              run/<i>/...                 one distinct shard per unit

Usage: ``python3 perfbench/gen.py --workload ingest --seed 7 --out DIR``.
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: Input sizes per workload. Warm-up inputs are separate from the timed
#: ones. Curation warms up on a small and then two full-size shards: its
#: unit time keeps falling for about four units (JIT), and a timed unit
#: taken earlier varied twice as much from run to run. ``drops``: distinct
#: ingest drops, cycled by the loop (the ingest path keeps no state across
#: units). ``stored``: the telemetry the dashboard refresh reads, in
#: ``files`` files. ``units``: distinct curation shards; a shard is never
#: revisited, which bounds a run's units.
SIZES = {
    "ingest": {"events": 50_000, "row_groups": 4, "log_lines": 10_000,
               "corrupt_share": 0.02, "drops": 3,
               "warm_events": 10_000, "warm_log_lines": 2_000,
               "stored": 200_000, "files": 8, "warm_stored": 50_000},
    "curation": {"docs": 400, "vectors": 400, "dim": 64, "units": 16,
                 "warm_sizes": (100, 400, 400)},
}

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EVENT_TYPE_P = [0.25, 0.25, 0.15, 0.15, 0.20]
SORTED_TYPES = np.sort(EVENT_TYPES)
#: task_metrics() assigns stage_id = event_id % 47; these stages get the
#: heavy-tailed values that the skew panels exist to find.
HOT_STAGES = (3, 17, 29)
BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 3 * 86_400_000_000  # three days of telemetry

WORDS = (
    "the a of and to in is on for it spark stage task executor shuffle "
    "join scan sort merge window batch stream query plan table column row "
    "partition file metric skew log error retry fetch block cache memory "
    "disk network driver worker job group key value hash bucket index "
    "vector embedding token corpus document shard filter select aggregate "
    "count sum min max avg fast slow big small data engine record latency"
).split()


def _rng(seed: int, *path: int) -> np.random.Generator:
    """Independent stream per (seed, item): regenerating one drop never
    depends on how many others were written before it."""
    return np.random.default_rng(np.random.SeedSequence([seed, *path]))


def events_table(rng: np.random.Generator, n: int, id_base: int = 0) -> pa.Table:
    """``events`` rows in the schema of the repository's test data, with
    planted skew."""
    event_id = np.arange(id_base, id_base + n, dtype=np.int64)
    ts = BASE_TS_US + np.sort(rng.integers(0, SPAN_US, n, dtype=np.int64))
    user_id = rng.integers(0, 1000, n, dtype=np.int64)
    etype = EVENT_TYPES[rng.choice(len(EVENT_TYPES), n, p=EVENT_TYPE_P)]
    value = np.round(rng.gamma(2.0, 5.0, n), 2)
    hot = np.isin(event_id % 47, HOT_STAGES) & (rng.random(n) < 0.05)
    value[hot] = np.round(value[hot] * 40.0, 2)
    k = pa.array(rng.integers(0, 100, n)).cast(pa.string())
    props = pc.binary_join_element_wise('{"k": ', k, "}", "")
    return pa.table({
        "event_id": pa.array(event_id),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(user_id),
        "event_type": pa.array(etype),
        "value": pa.array(value),
        "props": props,
    })


def write_events(table: pa.Table, path: str, row_groups: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=-(-table.num_rows // row_groups))


def log_lines(rng: np.random.Generator, n: int, corrupt_share: float):
    """JSON-lines log events; a planted share are truncated (corrupt)."""
    levels = np.array(["INFO", "WARN", "ERROR"])[rng.choice(3, n, p=[0.7, 0.2, 0.1])]
    apps = rng.integers(0, 4, n)
    execs = rng.integers(0, 8, n)
    tasks = rng.integers(0, 5000, n)
    stages = rng.integers(0, 47, n)
    has_mdc = rng.random(n) < 0.8
    times = BASE_TS_US // 1000 + np.sort(rng.integers(0, SPAN_US // 1000, n))
    corrupt = rng.random(n) < corrupt_share
    lines = []
    for i in range(n):
        task_name = (
            f'"task {tasks[i]}.0 in stage {stages[i]}.0 (TID {tasks[i]})"'
            if has_mdc[i] else "null"
        )
        line = (
            f'{{"appName": "app-{apps[i]}", "appId": "app-{apps[i]}-run-0", '
            f'"executorId": "{execs[i]}", "level": "{levels[i]}", '
            f'"message": "Finished task {tasks[i]}.0 in stage {stages[i]}.0", '
            f'"timeMillis": {times[i]}, "taskName": {task_name}}}'
        )
        if corrupt[i]:
            line = line[: len(line) // 2]
        lines.append(line)
    return lines, {"log_good": int((~corrupt).sum()), "log_corrupt": int(corrupt.sum())}


def ingest_drop(seed: int, out: str, kind: int, i: int, n_events: int, n_lines: int) -> dict:
    s = SIZES["ingest"]
    rng = _rng(seed, 1, kind, i)
    ev = events_table(rng, n_events)
    write_events(ev, f"{out}/events.parquet", s["row_groups"])
    lines, log_truth = log_lines(rng, n_lines, s["corrupt_share"])
    os.makedirs(f"{out}/logs", exist_ok=True)
    with open(f"{out}/logs/part-0.jsonl", "w") as f:
        f.write("\n".join(lines) + "\n")

    etype = ev.column("event_type").to_numpy(zero_copy_only=False)
    n_logs = int((etype == "error").sum())
    ts_ms = ev.column("ts").cast(pa.int64()).to_numpy() // 1000
    window = ts_ms - ts_ms % 300_000
    ibr = np.floor(ev.column("value").to_numpy() * 1024).astype(np.int64)
    keys, inverse = np.unique(
        np.stack([window, np.searchsorted(SORTED_TYPES, etype)]), axis=1,
        return_inverse=True,
    )
    inverse = inverse.ravel()
    n_per = np.bincount(inverse)
    bytes_per = np.bincount(inverse, weights=ibr)
    # Sums stay far below 2**53, so the float bincount is exact.
    rollup = sorted(
        [int(w), str(SORTED_TYPES[t]), int(c), int(b)]
        for (w, t), c, b in zip(keys.T, n_per, bytes_per)
    )
    return {
        "events": ev.num_rows,
        "routed": {"logs": n_logs, "taskMetrics": ev.num_rows - n_logs},
        "rollup": rollup,
        **log_truth,
    }


def stored_events(seed: int, out: str, kind: int, n: int) -> None:
    """Stored telemetry for the dashboard: ``n`` events over several files,
    so scans run in parallel."""
    s = SIZES["ingest"]
    per = -(-n // s["files"])
    for f in range(s["files"]):
        lo, hi = f * per, min(n, (f + 1) * per)
        ev = events_table(_rng(seed, 2, kind, f), hi - lo, id_base=lo)
        write_events(ev, f"{out}/events/part-{f:03d}.parquet", 1)


def corpus_shard(seed: int, out: str, kind: int, i: int, n_docs: int, n_vec: int) -> dict:
    """Documents + embeddings with planted near-duplicates.

    Documents: random word sequences of 60-80 tokens. Every 10th document
    (offset 1) is followed by a variant that differs from it in one token:
    3-shingle Jaccard is about 0.92, so the engine's 4x4 MinHash bands
    propose the pair with probability about 0.99. Groups are pairs, plus
    the engine's exact copies, whose signatures equal the original's, so
    every duplicate group is a clique whatever the seed and the
    connected-components loop runs the same rounds on every shard. No
    planted document has ``doc_id % 25 == 10``: the engine adds a 90%
    truncation of those, and its edges to a pair could miss at random.
    Embeddings: isotropic random vectors; every 15th seeds 1-2 jittered
    copies.
    """
    s = SIZES["curation"]
    rng = _rng(seed, 3, kind, i)
    vocab = np.array(WORDS)
    texts, clusters = [], []
    while len(texts) < n_docs:
        j = len(texts)
        toks = vocab[rng.integers(0, len(vocab), int(rng.integers(60, 81)))]
        texts.append(" ".join(toks))
        if j % 10 == 1 and j + 1 < n_docs and 10 not in (j % 25, (j + 1) % 25):
            var = toks.copy()
            var[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(var))
            clusters.append([j, j + 1])
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(["en", "de", "fr"])[rng.integers(0, 3, n_docs)]),
        "source": pa.array([f"src{j % 7}" for j in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    os.makedirs(out, exist_ok=True)
    pq.write_table(docs, f"{out}/documents.parquet")

    dim = s["dim"]
    vecs = rng.standard_normal((n_vec, dim)).astype(np.float32)
    for j in range(0, n_vec - 3, 15):
        for c in range(1, int(rng.integers(2, 4))):
            vecs[j + c] = vecs[j] + rng.normal(0, 0.01, dim).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 4, n_vec).astype(np.int32)),
    })
    pq.write_table(emb, f"{out}/embeddings.parquet")
    return {"docs": n_docs, "vectors": n_vec, "clusters": clusters}


def generate(workload: str, seed: int, out: str) -> dict:
    """Write every input of ``workload`` under ``out``; return its truth."""
    s = SIZES[workload]
    truth: dict = {"workload": workload, "seed": seed}
    if workload == "ingest":
        truth["warm"] = [ingest_drop(seed, f"{out}/warm/0", 0, 0, s["warm_events"], s["warm_log_lines"])]
        truth["run"] = [ingest_drop(seed, f"{out}/run/{i}", 1, i, s["events"], s["log_lines"])
                        for i in range(s["drops"])]
        stored_events(seed, f"{out}/warm", 0, s["warm_stored"])
        stored_events(seed, f"{out}/run", 1, s["stored"])
        truth["stored"] = s["stored"]
    elif workload == "curation":
        truth["warm"] = [corpus_shard(seed, f"{out}/warm/{i}", 0, i, n, n)
                         for i, n in enumerate(s["warm_sizes"])]
        truth["run"] = [corpus_shard(seed, f"{out}/run/{i}", 1, i, s["docs"], s["vectors"])
                        for i in range(s["units"])]
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f)
    return truth


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
