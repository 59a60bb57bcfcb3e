"""Tests of the benchmark itself (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import hashlib
import json
import os
import socket
import subprocess
import sys
import textwrap

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def _unit(n, wall, traced, layers):
    return {"n": n, "wall_s": wall, "records": 100, "traced": traced,
            "input": f"shard{n}", "error": None, "layers": layers}


def _result(units):
    return {"setup_s": 20.0, "session_start_s": 6.0, "warm_s": 12.0, "cores": 4,
            "units": units}


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("localhost", 0))
        return s.getsockname()[1]


def test_failed_rest_read_leaves_layer_absent_and_run_intact():
    # Nothing listens on the port: the read fails and reports None.
    assert tracing.RestReader(_free_port(), "app-x", timeout_s=0.5).unit_records(0, 1, 0.2) is None
    with_rest = {"dedup.lsh_s": 1.0, "spark.tasks": 8, "spark.utilization": 0.5}
    without = {"dedup.lsh_s": 1.2}
    res = _result([_unit(0, 9.0, True, without), _unit(1, 8.0, False, None)])
    layers = run.per_layer(res, steal=0.0)
    for name in tracing.SPARK_UNITS:
        assert name not in layers
    assert layers["dedup.lsh_s"] == pytest.approx(1.2)
    # A unit that did read keeps its numbers; the failed one adds none.
    res2 = _result([_unit(0, 9.0, True, without), _unit(1, 8.0, False, None),
                    _unit(2, 9.0, True, with_rest)])
    assert run.per_layer(res2, steal=0.0)["spark.tasks"] == 8
    # End-to-end metrics never depend on what the trace read.
    assert run.end_to_end(res, 100.0) == run.end_to_end(
        _result([_unit(0, 9.0, True, with_rest), _unit(1, 8.0, False, None)]), 100.0)


def test_listener_that_never_terminates_gives_absent_streaming_layer():
    sink = tracing.StreamProgress()
    sink.started()
    sink.progress({"id": "q", "batchId": 0, "durationMs": {"triggerExecution": 5}})
    assert sink.drain(settle_s=0.1) is None
    sink.terminated()
    assert sink.drain(settle_s=0.1) == []  # the stale record was dropped


def test_streaming_phases_split_wall_into_trigger_and_lifecycle():
    progress = [
        {"id": "a", "batchId": 0, "durationMs": {"triggerExecution": 1500},
         "stateOperators": [{"commitTimeMs": 200, "numRowsTotal": 10}]},
        {"id": "a", "batchId": 1, "durationMs": {"triggerExecution": 500},
         "stateOperators": [{"commitTimeMs": 100, "numRowsTotal": 12}]},
        {"id": "b", "batchId": 0, "durationMs": {"triggerExecution": 1000}},
    ]
    ph = tracing.streaming_phases(progress, wall_s=5.0)
    assert ph["streaming.trigger_s"] == pytest.approx(3.0)
    assert ph["streaming.lifecycle_s"] == pytest.approx(2.0)
    assert ph["streaming.state_commit_s"] == pytest.approx(0.3)
    assert ph["streaming.batches"] == 3
    assert ph["streaming.state_rows"] == 12


def _ui(t: float) -> str:
    import datetime as dt

    return dt.datetime.fromtimestamp(t, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "GMT"


def test_spark_runtime_attributes_stage_time_and_idle_gaps():
    base = 1_700_000_000.0
    stages = [
        {"submissionTime": _ui(base + 1), "completionTime": _ui(base + 3), "numTasks": 4,
         "executorRunTime": 6000, "executorCpuTime": 4e9, "jvmGcTime": 500,
         "shuffleFetchWaitTime": 500, "inputBytes": 1024 * 1024},
        {"submissionTime": _ui(base + 2), "completionTime": _ui(base + 4), "numTasks": 2,
         "executorRunTime": 2000, "executorCpuTime": 1e9},
    ]
    rt = tracing.spark_runtime(stages, [{}], base, base + 10, cores=4)
    assert rt["spark.tasks"] == 6
    assert rt["spark.task_run_s"] == pytest.approx(8.0)
    assert rt["spark.residual_s"] == pytest.approx(8.0 - 5.0 - 0.5 - 0.5)
    assert rt["spark.utilization"] == pytest.approx(8.0 / 40.0)
    assert rt["driver.idle_s"] == pytest.approx(10.0 - 3.0, abs=1e-3)  # busy 1..4
    assert rt["spark.input_mb"] == pytest.approx(1.0)


def test_curation_never_visits_a_shard_twice(tmp_path, monkeypatch):
    monkeypatch.setitem(gen.SIZES, "curation", {**gen.SIZES["curation"], "units": 3,
                                                "docs": 40, "vectors": 40,
                                                "warm_sizes": (20, 40)})
    truth = gen.generate("curation", 5, str(tmp_path))
    import engine

    wl = engine.Curation.__new__(engine.Curation)
    wl.run = [(f"{tmp_path}/run/{i}", t) for i, t in enumerate(truth["run"])]
    feed = wl.inputs()
    seen = [next(feed)[0] for _ in range(3)]
    assert len(set(seen)) == 3
    with pytest.raises(RuntimeError, match="distinct shards"):
        next(feed)
    # Distinct paths hold distinct content, and none is the warm-up shard.
    digests = {hashlib.md5(open(f"{p}/documents.parquet", "rb").read()).hexdigest()
               for p in seen + [f"{tmp_path}/warm/0", f"{tmp_path}/warm/1"]}
    assert len(digests) == 5


def test_generator_is_deterministic(tmp_path, monkeypatch):
    monkeypatch.setitem(gen.SIZES, "ingest", {**gen.SIZES["ingest"], "events": 2000,
                                              "log_lines": 200, "drops": 2,
                                              "warm_events": 500, "warm_log_lines": 50,
                                              "stored": 4000, "warm_stored": 800})
    a = gen.generate("ingest", 11, str(tmp_path / "a"))
    b = gen.generate("ingest", 11, str(tmp_path / "b"))
    c = gen.generate("ingest", 12, str(tmp_path / "c"))
    assert a == b and a != c
    for rel in ("run/0/events.parquet", "run/1/logs/part-0.jsonl", "run/events/part-007.parquet"):
        assert open(tmp_path / "a" / rel, "rb").read() == open(tmp_path / "b" / rel, "rb").read()
    drop = a["run"][0]
    assert sum(drop["routed"].values()) == drop["events"]
    assert drop["log_corrupt"] > 0 and drop["log_good"] + drop["log_corrupt"] == 200
    assert sum(r[2] for r in drop["rollup"]) == drop["events"]


def test_components_matches_dup_groups_layout():
    pairs = pd.DataFrame({"doc_a": [5, 1, 7, 1000005], "doc_b": [1000005, 3, 9, 2000005]})
    got = checks.components(pairs).sort_values("group_id").reset_index(drop=True)
    assert got.to_dict("list") == {
        "group_id": [1, 5, 7],
        "n_docs": [2, 3, 2],
        "doc_ids": ["1,3", "5,1000005,2000005", "7,9"],
    }


def test_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
    b = pd.DataFrame({"y": ["b", "a"], "x": [2, 1]})
    assert checks.digest(a) == checks.digest(b)
    assert checks.digest(a) != checks.digest(a.assign(x=[1, 3]))


def test_benchmark_json_names_what_run_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(gen.SIZES)


def test_reap_all_ends_orphans_left_by_the_engine():
    """The engine's children outlive it (the JVM ends only after the engine
    has exited, and a worker can outlive its daemon); reap_all must wait for
    or kill every one of them, re-parented or not."""
    script = textwrap.dedent(f"""
        import os, subprocess, sys, time
        sys.path.insert(0, {HERE!r})
        import run
        run.adopt_orphans()
        # The child leaves a grandchild that outlives it, as the JVM does.
        child = subprocess.Popen(
            [sys.executable, "-c",
             "import subprocess; subprocess.Popen(['sleep', '30'])"],
            start_new_session=True)
        child.wait()
        left = run.session(child.pid)
        assert left, "the grandchild should still be running"
        t = time.monotonic()
        run.reap_all(child.pid, grace_s=0.5)
        assert not run.session(child.pid)
        assert all(not os.path.exists(f"/proc/{{p}}") for p in left)
        print(round(time.monotonic() - t, 1))
    """)
    done = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True,
                          timeout=20)
    assert done.returncode == 0, done.stderr
    assert float(done.stdout) < 5


def test_memory_sample_counts_a_shared_address_space_once():
    """A spawned child that still runs in its parent's address space (as
    the JVM's helpers do between clone and exec) must not double the
    sample; a forked child with its own copy is a process of its own."""
    import threading

    tid, ready, stop = [], threading.Event(), threading.Event()

    def hold():
        tid.append(threading.get_native_id())
        ready.set()
        stop.wait()

    t = threading.Thread(target=hold)
    t.start()
    ready.wait()
    try:
        assert run.shares_memory(os.getpid(), tid[0])
    finally:
        stop.set()
        t.join()
    child = subprocess.Popen(["sleep", "5"])
    try:
        assert not run.shares_memory(os.getpid(), child.pid)
        alone = run.rss_mb([os.getpid()])
        assert alone > 0
        assert run.rss_mb([os.getpid(), child.pid]) >= alone
    finally:
        child.kill()
        child.wait()
