"""One benchmark run inside a fresh process: set up, warm up, time units.

Started by ``run.py`` after the inputs exist; writes its result as JSON to
``--result``. The loop is closed with one client: each unit starts when the
previous one has returned. A unit is timed from the call into the engine's
public function through the action that materialises its result
(``toPandas``); its output is checked after the loop, outside every timed
region.

With ``--trace 1`` units run in blocks of four: traced, untraced,
untraced, traced. A traced unit additionally registers a
``StreamingQueryListener`` and, after it returns, reads the Spark status
REST API; untraced units are exactly the units of a ``--trace 0`` run, so
the gap between the two medians is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing as tr  # noqa: E402

from guidance_for_analytics_observability_on_aws_spark.session import get_spark  # noqa: E402

from run import PANELS  # noqa: E402

#: DuckDB oracle of each panel (plans.obs_oracles keys).
PANEL_ORACLES = {p: f"obs_{p}" for p in PANELS} | {"cardinality_tiles": "obs_cardinality"}


class Steps:
    """Wall time of each call into an engine module, by layer name."""

    def __init__(self):
        self.times: dict[str, float] = {}

    @contextmanager
    def __call__(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.times[name] = self.times.get(name, 0.0) + time.perf_counter() - t


class Ingest:
    """Telemetry path: ingest one drop end to end (collector route, stage
    close, windowed state, log ingest, compaction of the routed sink), then
    refresh the data-skew dashboard over the stored telemetry."""

    def __init__(self, spark, inputs: str, truth: dict, scratch: str):
        from guidance_for_analytics_observability_on_aws_spark.operators import observability
        from guidance_for_analytics_observability_on_aws_spark.sources import compaction, logs_json
        from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import task_metrics
        from guidance_for_analytics_observability_on_aws_spark.streaming import collector

        self.spark, self.scratch = spark, scratch
        self.collector, self.logs, self.compaction = collector, logs_json, compaction
        self.obs, self.task_metrics = observability, task_metrics
        self.n_stored = truth["stored"]
        self.stored_glob = f"{inputs}/run/events/*.parquet"
        # Registering the stored telemetry (listing + footers) is set-up.
        stored = spark.read.parquet(f"{inputs}/run/events")
        self.warm = [(f"{inputs}/warm/0", truth["warm"][0], spark.read.parquet(f"{inputs}/warm/events"))]
        self.run = [(f"{inputs}/run/{i}", t, stored) for i, t in enumerate(truth["run"])]
        self._panels_want = None

    def inputs(self):
        """Drops in order, cycling: the ingest path keeps no state between
        units (fresh sink, checkpoint and state store per unit)."""
        i = 0
        while True:
            yield self.run[i % len(self.run)]
            i += 1

    def records(self, inp) -> int:
        return inp[1]["events"] + inp[1]["log_good"] + inp[1]["log_corrupt"] + self.n_stored

    def unit(self, inp, n: int, step: Steps) -> dict:
        drop, _, stored = inp
        spark, c, lg = self.spark, self.collector, self.logs
        out = f"{self.scratch}/unit{n}"
        res = {"out": out}
        with step("streaming.collector"):
            res["routed"] = c.run_collector_pipeline(spark, drop, out_dir=f"{out}/collector").toPandas()
        with step("streaming.stage_agg"):
            res["stage_agg"] = c.run_streaming_stage_agg(spark, drop, out_dir=f"{out}/stage_agg").toPandas()
        with step("streaming.rollup"):
            res["rollup"] = c.run_windowed_rollup(spark, drop).toPandas()
        with step("sources.log_ingest"):
            raw = lg.read_log_events(spark, f"{drop}/logs")
            try:
                lg.write_partitioned_telemetry(
                    lg.normalize_log_events(raw), f"{out}/logs", time_col="log_time_ms"
                )
                res["corrupt"] = lg.corrupt_log_events(raw).toPandas()
            finally:
                raw.unpersist()
        with step("sources.compact"):
            self.compaction.compact_dataset(
                spark, f"{out}/collector/routed", f"{out}/compacted", partition_cols=["metrics_type"]
            )
        res["panels"] = {}
        for panel in PANELS:
            with step(f"observability.build.{panel}"):
                df = getattr(self.obs, panel)(self.task_metrics(stored))
            with step(f"observability.exec.{panel}"):
                res["panels"][panel] = df.toPandas()
        return res

    def check(self, inp, res: dict, layers: dict | None) -> list[str]:
        import checks
        import pandas as pd
        from guidance_for_analytics_observability_on_aws_spark.plans.obs_oracles import OBS_ORACLES

        drop, truth, _ = inp
        out, bad = res["out"], []
        routed = dict(zip(res["routed"]["metrics_type"], res["routed"]["n_records"]))
        if routed != truth["routed"]:
            bad.append("collector routed counts")
        want = checks.oracle_frames(
            {"events": f"{drop}/events.parquet"},
            {"stage_agg": OBS_ORACLES["obs_stage_agg_skewness"]},
        )
        bad += checks.mismatches({"stage_agg": res["stage_agg"]}, want)
        rollup = pd.DataFrame(
            truth["rollup"], columns=["window_start_ms", "event_type", "n_events", "sum_input_bytes"]
        )
        bad += checks.mismatches({"rollup": res["rollup"]}, {"rollup": rollup})
        if len(res["corrupt"]) != truth["log_corrupt"]:
            bad.append("quarantined corrupt lines")
        if checks.parquet_rows(f"{out}/logs") != truth["log_good"]:
            bad.append("log sink rows")
        routed_rows = checks.parquet_rows(f"{out}/collector/routed")
        if routed_rows != truth["events"] or checks.parquet_rows(f"{out}/compacted") != routed_rows:
            bad.append("rows preserved by compaction")
        if self._panels_want is None:  # every refresh reads the same stored telemetry
            self._panels_want = checks.oracle_frames(
                {"events": self.stored_glob},
                {p: OBS_ORACLES[o] for p, o in PANEL_ORACLES.items()},
            )
        bad += checks.mismatches(res["panels"], self._panels_want)
        if layers is not None:
            before, _ = checks.files_under(f"{out}/collector/routed")
            after, _ = checks.files_under(f"{out}/compacted")
            files, size = checks.files_under(out)
            layers.update({
                "sources.files_written": files,
                "sources.bytes_written_mb": size / (1024 * 1024),
                "sources.compact_file_ratio": after / before if before else 0.0,
            })
        shutil.rmtree(out, ignore_errors=True)
        return bad


class Curation:
    """LLM-data path: one distinct corpus shard per unit through dedup,
    duplicate groups, the curation funnel, ANN search, embedding near-dups
    and quality scoring."""

    OPS = [
        ("dedup.lsh", "lsh", "dedup_minhash_lsh"),
        ("pipeline.dup_groups", "dup_groups", "dup_groups"),
        ("pipeline.curation_v2", "curation_v2", "corpus_curation_pipeline_v2"),
        ("similarity.ivf", "ivf", "similarity_ivf"),
        ("similarity.blas", "blas", "dedup_embedding_cosine"),
        ("textops.quality", "quality", "text_quality_score"),
    ]

    def __init__(self, spark, inputs: str, truth: dict, scratch: str):
        from guidance_for_analytics_observability_on_aws_spark.operators import (
            dedup, pipeline, similarity, textops,
        )

        self.spark = spark
        self.fns = {
            "lsh": lambda d, e: dedup.dedup_minhash_lsh(d),
            "dup_groups": lambda d, e: pipeline.dup_groups(d),
            "curation_v2": lambda d, e: pipeline.curation_pipeline_v2(d),
            "ivf": lambda d, e: similarity.topk_ivf(e),
            "blas": lambda d, e: similarity.embedding_near_dups_blas(e),
            "quality": lambda d, e: textops.quality_score(d),
        }
        self.warm = [(f"{inputs}/warm/{i}", t) for i, t in enumerate(truth["warm"])]
        self.run = [(f"{inputs}/run/{i}", t) for i, t in enumerate(truth["run"])]

    def inputs(self):
        """Every shard once: the engine's shared-frame registry keys on
        file path, size and mtime, so a revisited shard would measure
        cache hits instead of curation."""
        yield from self.run
        raise RuntimeError("curation ran out of distinct shards; raise SIZES['curation']['units']")

    def records(self, inp) -> int:
        return inp[1]["docs"] + inp[1]["vectors"]

    def unit(self, inp, n: int, step: Steps) -> dict:
        shard, res = inp[0], {}
        with step("sources.register"):
            docs = self.spark.read.parquet(f"{shard}/documents.parquet")
            emb = self.spark.read.parquet(f"{shard}/embeddings.parquet")
        for layer, key, _ in self.OPS:
            with step(layer):
                res[key] = self.fns[key](docs, emb).toPandas()
        return res

    def check(self, inp, res: dict, layers: dict | None) -> list[str]:
        import checks
        from guidance_for_analytics_observability_on_aws_spark.plans.dedup_oracles import DEDUP_ORACLES
        from guidance_for_analytics_observability_on_aws_spark.plans.pipeline_oracles import PIPELINE_ORACLES
        from guidance_for_analytics_observability_on_aws_spark.plans.text_oracles import TEXT_ORACLES

        shard, truth = inp
        sqls = {**DEDUP_ORACLES, **PIPELINE_ORACLES, **TEXT_ORACLES}
        want = checks.oracle_frames(
            {"documents": f"{shard}/documents.parquet", "embeddings": f"{shard}/embeddings.parquet"},
            {key: sqls[name] for _, key, name in self.OPS if name != "dup_groups"},
        )
        # dup_groups' recursive-closure oracle costs seconds per shard; the
        # groups are the connected components of the oracle's LSH pairs.
        want["dup_groups"] = checks.components(want["lsh"])
        if layers is not None:
            layers["dedup.candidate_precision"] = candidate_precision(res["lsh"], truth["clusters"])
        return checks.mismatches(res, want)


def candidate_precision(pairs, clusters: list[list[int]]) -> float:
    """Share of LSH candidate pairs that are true near-duplicates: both
    documents descend from one planted cluster, counting the engine's own
    corpus augmentation (ids + k·1e6 are copies or variants of id)."""
    root = {m: c[0] for c in clusters for m in c}
    if len(pairs) == 0:
        return 0.0

    def origin(doc: int) -> int:
        base = int(doc) % 1_000_000
        return root.get(base, base)

    hits = sum(origin(a) == origin(b) for a, b in zip(pairs["doc_a"], pairs["doc_b"]))
    return hits / len(pairs)


WORKLOADS = {"ingest": Ingest, "curation": Curation}


def layer_times(workload: str, times: dict[str, float]) -> dict[str, float]:
    """Per-layer metric names from the step times of one unit."""
    if workload == "curation":
        return {f"{layer}_s": times[layer] for layer, _, _ in Curation.OPS}
    build = {p: times[f"observability.build.{p}"] for p in PANELS}
    execute = {p: times[f"observability.exec.{p}"] for p in PANELS}
    return {
        "streaming.wall_s": sum(v for k, v in times.items() if k.startswith("streaming.")),
        "sources.log_ingest_s": times["sources.log_ingest"],
        "sources.compact_s": times["sources.compact"],
        "observability.build_s": sum(build.values()),
        "observability.exec_s": sum(execute.values()),
        **{f"observability.{p}_s": build[p] + execute[p] for p in PANELS},
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True, help="time.monotonic() at spawn")
    ap.add_argument("--result", required=True)
    a = ap.parse_args()

    with open(f"{a.inputs}/truth.json") as f:
        truth = json.load(f)
    t = time.monotonic()
    spark = get_spark(f"perfbench-{a.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_start = time.monotonic() - t
    cores = spark.sparkContext.defaultParallelism
    wl = WORKLOADS[a.workload](spark, a.inputs, truth, a.scratch)

    t = time.monotonic()
    for n, inp in enumerate(wl.warm):
        wl.unit(inp, -1 - n, Steps())
        shutil.rmtree(f"{a.scratch}/unit{-1 - n}", ignore_errors=True)
    warm = time.monotonic() - t
    setup = time.monotonic() - a.t0

    rest = sink = listener = None
    if a.trace:
        sc = spark.sparkContext
        if sc.uiWebUrl:  # no UI, no REST layer
            rest = tr.RestReader(int(sc.uiWebUrl.rsplit(":", 1)[1]), sc.applicationId)
        sink = tr.StreamProgress()
        listener = tr.make_listener(sink)
        # The first registration starts the py4j callback server; pay that
        # here, not inside the first traced unit.
        spark.streams.addListener(listener)
        spark.streams.removeListener(listener)

    units, done = [], []
    feed = wl.inputs()
    loop_start = time.monotonic()
    n = 0
    while True:
        # A traced run stops only after whole traced/untraced/untraced/traced
        # blocks, so JIT drift within the run cancels in the overhead ratio.
        if time.monotonic() - loop_start >= a.seconds and not (a.trace and n % 4):
            break
        inp = next(feed)
        traced = bool(a.trace) and n % 4 in (0, 3)
        step = Steps()
        if traced:
            spark.streams.addListener(listener)
        w0, t0 = time.time(), time.perf_counter()
        err = None
        try:
            res = wl.unit(inp, n, step)
        except Exception as exc:  # a failing unit is counted, not fatal
            res, err = None, f"{type(exc).__name__}: {exc}"
        wall, w1 = time.perf_counter() - t0, time.time()
        u = {"n": n, "wall_s": wall, "records": wl.records(inp), "traced": traced,
             "input": inp[0], "error": err, "layers": None, "steps": step.times}
        if traced:
            progress = sink.drain()
            spark.streams.removeListener(listener)
        if traced and err is None:
            layers = {**layer_times(a.workload, step.times),
                      "trace.reconcile_ratio": sum(step.times.values()) / wall}
            if progress is not None:
                layers.update(tr.streaming_phases(progress, layers.get("streaming.wall_s", 0.0)))
            recs = rest.unit_records(w0, w1) if rest else None
            try:
                if recs is not None:
                    layers.update(tr.spark_runtime(recs[0], recs[1], w0, w1, cores))
            except (KeyError, TypeError, ValueError) as exc:  # leave the layer absent
                print(f"perfbench: unusable REST records for unit {n}: {exc!r}", file=sys.stderr)
            u["layers"] = layers
        units.append(u)
        done.append((inp, res))
        n += 1

    # The timed loop is over: what follows is the benchmark's own checking,
    # which the peak-memory sample must not include.
    open(f"{a.result}.timed", "w").close()
    # Checks need no Spark; stopping it first gives DuckDB the whole host.
    spark.stop()
    for u, (inp, res) in zip(units, done):
        if res is not None:
            try:
                bad = wl.check(inp, res, u["layers"])
            except Exception as exc:
                bad = [f"check raised {type(exc).__name__}: {exc}"]
            u["error"] = "; ".join(bad) or None

    result = {
        "setup_s": setup,
        "session_start_s": session_start,
        "warm_s": warm,
        "units": units,
    }
    with open(a.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
