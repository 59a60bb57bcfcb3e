"""Streaming collector pipeline: routing + windowed rollup parity vs batch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
    stream_metrics_window,
)
from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables
from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
    task_metrics,
)
from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
    run_collector_pipeline,
    run_windowed_rollup,
)


def test_routing_matches_batch(spark, sf_dir, tmp_path):
    summary = run_collector_pipeline(spark, sf_dir, str(tmp_path / "route")).collect()
    got = {r["metrics_type"]: r["n_records"] for r in summary}
    tm = task_metrics(load_tables(spark, sf_dir)["events"])
    want = {
        r["metrics_type"]: r["n"]
        for r in tm.groupBy("metrics_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want
    assert sum(got.values()) == tm.count()


def test_windowed_rollup_matches_batch(spark, sf_dir, tmp_path):
    stream_out = run_windowed_rollup(spark, sf_dir, str(tmp_path / "roll"))
    got = {
        (r["window_start_ms"], r["event_type"]): (r["n_events"], r["sum_input_bytes"])
        for r in stream_out.collect()
    }
    batch = stream_metrics_window(task_metrics(load_tables(spark, sf_dir)["events"]))
    want = {
        (r["window_start_ms"], r["event_type"]): (r["n_events"], r["sum_input_bytes"])
        for r in batch.collect()
    }
    assert got == want


def test_windowed_rollup_back_to_back_runs(spark, sf_dir):
    """Two sequential rollups in one session each get their own memory
    sink: both still match the batch rollup after the second run, and
    neither leaves a sink view behind."""
    cols = ["window_start_ms", "event_type", "n_events", "sum_input_bytes"]
    batch = stream_metrics_window(task_metrics(load_tables(spark, sf_dir)["events"]))
    want = sorted(tuple(r) for r in batch.select(*cols).collect())
    first = run_windowed_rollup(spark, sf_dir)
    second = run_windowed_rollup(spark, sf_dir)
    for got in (first, second):
        assert sorted(tuple(r) for r in got.select(*cols).collect()) == want
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("gfaooa_")]


def test_stateful_buffer_counter(spark, sf_dir):
    from guidance_for_analytics_observability_on_aws_spark.streaming.stateful import (
        run_stateful_buffer_counter,
    )

    out = run_stateful_buffer_counter(spark, sf_dir)
    rows = out.collect()
    assert rows
    tm = task_metrics(load_tables(spark, sf_dir)["events"])
    want = {
        r["executor_id"]: r["n"]
        for r in tm.groupBy("executor_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # Per-executor FINAL totals must equal the batch counts, flush count =
    # total // 100 (reference batchSize). Final = max total_records (monotone
    # per key) — collect() order is not batch-ordered across micro-batches.
    got = {}
    for r in rows:
        cur = got.get(r["executor_id"])
        if cur is None or r["total_records"] > cur[0]:
            got[r["executor_id"]] = (r["total_records"], r["total_flushes"])
    assert set(got) == set(want)
    for ex, n in want.items():
        assert got[ex] == (n, n // 100)


def test_streaming_stage_agg_matches_batch(spark, sf_dir, tmp_path):
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        stage_agg_skewness,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_stage_agg,
    )

    got = run_streaming_stage_agg(spark, sf_dir, str(tmp_path / "stageagg"))
    batch = stage_agg_skewness(task_metrics(load_tables(spark, sf_dir)["events"]))
    key = ["app_id", "job_id", "stage_id"]
    got_rows = {tuple(r[k] for k in key): r.asDict() for r in got.collect()}
    want_rows = {tuple(r[k] for k in key): r.asDict() for r in batch.collect()}
    assert got_rows == want_rows


def test_streaming_session_windows_match_batch(spark, sf_dir):
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        session_windows,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_sessions,
    )

    got = {
        (r["executor_id"], r["session_start_ms"], r["session_end_ms"], r["n_events"], r["duration_ms"])
        for r in run_streaming_sessions(spark, sf_dir).collect()
    }
    batch = session_windows(task_metrics(load_tables(spark, sf_dir)["events"]))
    want = {
        (r["executor_id"], r["session_start_ms"], r["session_end_ms"], r["n_events"], r["duration_ms"])
        for r in batch.collect()
    }
    assert got == want


def test_streaming_dedup_matches_batch_distinct(spark, sf_dir):
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_dedup,
    )

    got = run_streaming_dedup(spark, sf_dir)
    tm = task_metrics(load_tables(spark, sf_dir)["events"])
    want = tm.select("task_id", "app_id", "metrics_type", "metric_time_ms", "value")
    # the doubled delivery must collapse to exactly the single-copy rows
    assert got.count() == want.count()
    key = lambda r: (r["task_id"], r["app_id"], r["metrics_type"], r["metric_time_ms"], r["value"])  # noqa: E731
    assert {key(r) for r in got.collect()} == {key(r) for r in want.collect()}


def test_watermark_drops_late_data(spark, tmp_path):
    """Events older than the watermark must be excluded from windowed
    aggregation state (bounded-state guarantee at 100 TB stream volume)."""
    import json
    import os

    from pyspark.sql import functions as F

    d = tmp_path / "wm_stream"
    d.mkdir()
    ckpt = str(tmp_path / "wm_ckpt")
    out = str(tmp_path / "wm_out")

    def run(_: str) -> set:
        stream = (
            spark.readStream.schema("ts timestamp, k string")
            .json(str(d))
            .withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "5 minutes"), F.col("k"))
            .count()
            .select(F.col("window.start").alias("ws"), "k", "count")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r.ws.strftime("%H:%M"), r["count"])
            for r in spark.read.parquet(out).collect()
        }

    (d / "f1.json").write_text(
        "\n".join(
            [
                json.dumps({"ts": "2024-01-01T09:00:00.000Z", "k": "a"}),
                json.dumps({"ts": "2024-01-01T10:00:00.000Z", "k": "a"}),
            ]
        )
    )
    got1 = run("wm_run1")  # commits watermark 10:00 - 30min = 09:30

    # second delivery: one event behind the persisted watermark (dropped),
    # one fresh event that advances it
    (d / "f2.json").write_text(
        "\n".join(
            [
                json.dumps({"ts": "2024-01-01T09:05:00.000Z", "k": "a"}),
                json.dumps({"ts": "2024-01-01T11:00:00.000Z", "k": "a"}),
            ]
        )
    )
    got2 = run("wm_run2")  # cumulative: parquet sink appends across runs

    assert got1 == {("09:00", 1)}
    # 09:05 (late) never counted; 11:00 window stays open past end-of-stream
    assert got2 == {("09:00", 1), ("10:00", 1)}


def test_streaming_alerts_match_batch(spark, sf_dir, tmp_path):
    """O37: the streaming alert engine's final rollup must be row-identical
    to the batch alert_rules output."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        alert_rules,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_alerts,
    )

    got = {
        tuple(r)
        for r in run_streaming_alerts(spark, sf_dir, str(tmp_path / "alerts")).collect()
    }
    want = {
        tuple(r) for r in alert_rules(task_metrics(load_tables(spark, sf_dir)["events"])).collect()
    }
    assert got == want and got


def test_streaming_incremental_dedup_matches_batch(spark, sf_dir):
    """Stream-static anti-join dedup must keep exactly the docs batch P8
    reports as kept, per source."""
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        incremental_dedup,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_incremental_dedup,
    )

    got = {
        r.source: r.n_kept
        for r in run_streaming_incremental_dedup(spark, sf_dir).collect()
    }
    want = {
        r.source: r.n_kept
        for r in incremental_dedup(load_tables(spark, sf_dir)["documents"]).collect()
        if r.n_kept > 0
    }
    assert got == want


def test_streaming_cms_merge_equals_batch(spark, sf_dir):
    """Summed micro-batch CMS partials must give exactly the batch
    sketch's estimates (counter sums are the whole-input counters)."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        heavy_hitters_cms,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_heavy_hitters,
    )

    got = {tuple(r) for r in run_streaming_heavy_hitters(spark, sf_dir).collect()}
    want = {
        tuple(r)
        for r in heavy_hitters_cms(
            task_metrics(load_tables(spark, sf_dir)["events"])
        ).collect()
    }
    assert got and got == want


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    """O48's watermarked stream-stream interval join must produce exactly
    the rollup the equivalent static inner join computes (no late data in
    the availableNow replay, so the watermark drops nothing)."""
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_metric_log_join,
    )

    got = {
        r.executor_id: (r.n_pairs, r.n_errors_with_context, r.bytes_60s)
        for r in run_streaming_metric_log_join(spark, sf_dir).collect()
    }
    tm = task_metrics(load_tables(spark, sf_dir)["events"])
    errors = tm.filter(F.col("metrics_type") == "logs").select(
        F.col("executor_id").alias("e_executor_id"),
        F.col("task_id").alias("err_task_id"),
        F.col("metric_time").alias("err_time"),
    )
    metrics = tm.filter(F.col("metrics_type") == "taskMetrics").select(
        F.col("executor_id").alias("m_executor_id"),
        F.col("metric_time").alias("m_time"),
        "input_bytes_read",
    )
    cond = (
        (F.col("e_executor_id") == F.col("m_executor_id"))
        & (F.col("m_time") >= F.col("err_time") - F.expr("INTERVAL 60 SECONDS"))
        & (F.col("m_time") <= F.col("err_time"))
    )
    want = {
        r.executor_id: (r.n_pairs, r.n_errors_with_context, r.bytes_60s)
        for r in errors.join(metrics, cond)
        .groupBy(F.col("e_executor_id").alias("executor_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("err_task_id").alias("n_errors_with_context"),
            F.sum("input_bytes_read").alias("bytes_60s"),
        )
        .collect()
    }
    assert got and got == want


@pytest.mark.parametrize(
    "runner",
    [
        "run_streaming_metric_log_join",
        "run_collector_pipeline",
        "run_streaming_stage_agg",
    ],
)
def test_streaming_metric_log_join_refuses_stale_checkpoint(
    spark, sf_dir, tmp_path, runner
):
    """A caller-supplied out_dir with a leftover _chk checkpoint must be
    refused: the availableNow run would be a no-op while old files under
    the sink dir (pairs/, routed/, stage_agg/) are re-read or appended to
    as fresh results."""
    from guidance_for_analytics_observability_on_aws_spark.streaming import collector

    stale = tmp_path / "reused"
    (stale / "_chk").mkdir(parents=True)
    with pytest.raises(ValueError, match="checkpoint"):
        getattr(collector, runner)(spark, sf_dir, out_dir=str(stale))


def test_tws_buffer_counter_matches_apws_twin(spark, sf_dir):
    """The transformWithStateInPandas buffer counter (Spark 4 arbitrary
    state API, RocksDB-backed) must land on the same per-executor final
    totals as the applyInPandasWithState twin and the batch counts."""
    from guidance_for_analytics_observability_on_aws_spark.streaming.stateful import (
        HAS_TWS,
        run_tws_buffer_counter,
    )

    if not HAS_TWS:
        import pytest

        pytest.skip("transformWithStateInPandas not available")
    out = run_tws_buffer_counter(spark, sf_dir)
    rows = out.collect()
    assert rows
    tm = task_metrics(load_tables(spark, sf_dir)["events"])
    want = {
        r["executor_id"]: r["n"]
        for r in tm.groupBy("executor_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # The final state per executor is the row with the MAX total_records —
    # memory-sink collect() order is not contractually batch-ordered across
    # availableNow micro-batches, so "last row wins" could pick a non-final
    # update and flake. total_records is monotone per key, so max is final.
    final = {}
    for r in rows:
        cur = final.get(r["executor_id"])
        if cur is None or r["total_records"] > cur[0]:
            final[r["executor_id"]] = (r["total_records"], r["total_flushes"])
    assert set(final) == set(want)
    for ex, n in want.items():
        assert final[ex] == (n, n // 100)


def test_streaming_rolling_wau_matches_batch(spark, sf_dir):
    """stream_rolling_wau: the first-seen (user, report_day) streaming
    formulation must reproduce batch T42 row-for-row — each membership is
    emitted exactly once, so the additive per-day count equals the batch
    countDistinct."""
    from guidance_for_analytics_observability_on_aws_spark.operators.tpch import (
        events_rolling_wau,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_rolling_wau,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    got = {
        r.report_day_ms: r.rolling_active_users
        for r in run_streaming_rolling_wau(spark, sf_dir).collect()
    }
    want = {
        r.report_day_ms: r.rolling_active_users
        for r in events_rolling_wau(load_tables(spark, sf_dir)["events"]).collect()
    }
    assert got == want
    assert got  # non-trivial


def test_streaming_rolling_wau_bounded_state(spark, sf_dir, tmp_path):
    """stream_rolling_wau: the production watermark path must (a) stay
    row-for-row equal to batch T42, and (b) actually
    EXPIRE (user, report_day) state — the per-batch state row count must
    stay strictly below the full key population once the watermark has
    advanced past old keys. Driven by a day-ordered multi-file drop dir
    with one file per micro-batch so the watermark advances between
    batches, exactly how a live deployment's state stays bounded."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from guidance_for_analytics_observability_on_aws_spark.operators.tpch import (
        events_rolling_wau,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        normalize_events,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_rolling_wau,
    )

    pdf = spark.read.parquet(f"{sf_dir}/events.parquet").toPandas()
    day = pdf.ts.dt.floor("D")
    days_sorted = sorted(day.unique())
    n_chunks = 8
    drop_dir = str(tmp_path / "wau_drop")
    os.makedirs(drop_dir)
    per = max(1, (len(days_sorted) + n_chunks - 1) // n_chunks)
    t0 = 1_700_000_000
    n_files = 0
    for i in range(n_chunks):
        sel = day.isin(days_sorted[i * per : (i + 1) * per])
        if not sel.any():
            continue
        path = os.path.join(drop_dir, f"chunk{i:02d}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf[sel], preserve_index=False), path)
        os.utime(path, (t0 + i, t0 + i))  # ascending mtime = batch order
        n_files += 1
    assert n_files >= 4

    progress: list = []
    got = {
        r.report_day_ms: r.rolling_active_users
        for r in run_streaming_rolling_wau(
            spark,
            drop_dir,
            events_glob="*.parquet",
            max_files_per_trigger=1,
            progress_out=progress,
        ).collect()
    }
    want = {
        r.report_day_ms: r.rolling_active_users
        for r in events_rolling_wau(spark.read.parquet(drop_dir)).collect()
    }
    assert got == want and got

    # the drive really was multi-batch, and state really was bounded:
    # max live state must sit strictly below the full (user, report_day)
    # key population — only watermark expiry can make that true
    assert len({b for b, _ in progress}) >= 4, progress
    ev = normalize_events(spark.read.parquet(f"{sf_dir}/events.parquet"))
    total_keys = (
        ev.selectExpr("user_id", "unix_millis(ts) DIV 86400000 AS day")
        .selectExpr("user_id", "explode(sequence(day, day + 6)) AS report_day")
        .distinct()
        .count()
    )
    max_state = max(s for _, s in progress)
    assert max_state < total_keys, (max_state, total_keys)


def test_tws_guard_names_missing_import():
    """The TWS guard's error must name WHICH import failed — on this
    protobuf-less Spark 4 container a bare 'requires Spark >= 4.0' would
    misdirect debugging."""
    from guidance_for_analytics_observability_on_aws_spark.streaming import stateful

    if stateful.HAS_TWS:
        assert stateful.TWS_MISSING is None
    else:
        assert stateful.TWS_MISSING
        import pytest

        with pytest.raises(RuntimeError, match="missing import"):
            stateful.run_tws_buffer_counter(None, "unused")


def test_streaming_tail_sampling_matches_batch(spark, sf_dir):
    """stream_tail_sampling: history-trained thresholds + per-micro-batch
    classification must reproduce the batch O60 report row-for-row
    (keep counts are additive; the policy is one shared definition)."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        tail_sampling,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_tail_sampling,
    )

    got = sorted(map(tuple, run_streaming_tail_sampling(spark, sf_dir).collect()))
    want = sorted(map(tuple, tail_sampling(
        task_metrics(load_tables(spark, sf_dir)["events"])).collect()))
    assert got == want and got


def test_streaming_near_dedup_matches_batch_cross_verdicts(spark, sf_dir):
    """stream_near_dedup_ingest: the set of new docs the streaming gate
    drops must equal the batch D18 sketch-estimate verdicts restricted to
    (new x old) cross pairs — same signatures, same bands, same 13/16
    confirm, so the stream-static formulation loses nothing."""
    from guidance_for_analytics_observability_on_aws_spark.functions.text import corpus
    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        dedup_minhash_estimate,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_near_dedup,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    got = {r.source: r.n_kept for r in run_streaming_near_dedup(spark, sf_dir).collect()}
    # batch reference: new docs flagged by any cross pair in D18's verdicts
    est = dedup_minhash_estimate(docs)
    flagged = {
        r.doc_b
        for r in est.filter(
            (F.col("doc_a") < 1000000) & (F.col("doc_b") >= 1000000)
        ).collect()
    } | {
        r.doc_a
        for r in est.filter(
            (F.col("doc_b") < 1000000) & (F.col("doc_a") >= 1000000)
        ).collect()
    }
    new_docs = corpus(docs).filter(F.col("doc_id") >= 1000000)
    want = {
        r.source: r.n
        for r in new_docs.join(
            spark.createDataFrame([(d,) for d in flagged] or [(None,)], "doc_id long"),
            "doc_id",
            "left_anti",
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and got
    # the gate must actually drop something (the corpus plants exact
    # copies above 1M, which share full signatures)
    total_new = new_docs.count()
    assert sum(got.values()) < total_new


def test_streaming_cusum_matches_batch_across_batches(spark, sf_dir, tmp_path):
    """O62 stream_cusum_drift: the keyed running-S state must carry the
    statistic across micro-batches — driven by a time-ordered 4+-file
    drop with one file per micro-batch — and the final extremes, their
    first-attained changepoint times, and drift_score must be IDENTICAL
    to batch O59 on the same series (history == streamed data, so the
    trained reference level equals the batch full-series mean)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        cusum_drift,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.stateful import (
        run_streaming_cusum,
    )

    pdf = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .toPandas()
        .sort_values(["ts", "event_id"], ignore_index=True)
    )
    n_chunks = 4
    drop_dir = str(tmp_path / "cusum_drop")
    os.makedirs(drop_dir)
    per = (len(pdf) + n_chunks - 1) // n_chunks
    t0 = 1_700_000_000
    for i in range(n_chunks):
        chunk = pdf.iloc[i * per : (i + 1) * per]
        path = os.path.join(drop_dir, f"chunk{i:02d}.parquet")
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), path)
        os.utime(path, (t0 + i, t0 + i))  # ascending mtime = batch order
    progress: list = []
    got = run_streaming_cusum(
        spark,
        sf_dir,
        stream_dir=drop_dir,
        max_files_per_trigger=1,
        progress_out=progress,
    )
    want = cusum_drift(
        task_metrics(spark.read.parquet(f"{sf_dir}/events.parquet"))
    )
    got_rows = sorted((tuple(r) for r in got.collect()), key=str)
    want_rows = sorted((tuple(r) for r in want.collect()), key=str)
    assert got_rows == want_rows and got_rows
    # the drive really crossed micro-batches: every type emitted an
    # update row in >= 3 distinct batches
    assert progress and min(n for _, n in progress) >= 3, progress


def test_streaming_gap_fill_matches_batch_across_batches(spark, sf_dir, tmp_path):
    """O65 stream_gap_fill: the per-executor fill frontier must carry
    across micro-batches (minute-aligned 4-file ordered drop, one file
    per batch) and the hourly rollup must be row-identical to batch O27
    on the same data — including gap minutes that span batch boundaries
    (filled from the PREVIOUS batch's last value, which only state can
    know)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        gap_fill,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.stateful import (
        run_streaming_gap_fill,
    )

    pdf = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .toPandas()
        .sort_values(["ts", "event_id"], ignore_index=True)
    )
    minute = pdf.ts.astype("int64") // (60_000_000_000)
    minutes_sorted = sorted(minute.unique())
    n_chunks = 4
    per = (len(minutes_sorted) + n_chunks - 1) // n_chunks
    drop_dir = str(tmp_path / "gapfill_drop")
    os.makedirs(drop_dir)
    t0 = 1_700_000_000
    n_files = 0
    for i in range(n_chunks):
        sel = minute.isin(minutes_sorted[i * per : (i + 1) * per])
        if not sel.any():
            continue
        path = os.path.join(drop_dir, f"chunk{i:02d}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf[sel], preserve_index=False), path)
        os.utime(path, (t0 + i, t0 + i))
        n_files += 1
    assert n_files >= 4
    progress: list = []
    got = run_streaming_gap_fill(
        spark,
        sf_dir,
        stream_dir=drop_dir,
        max_files_per_trigger=1,
        progress_out=progress,
    )
    want = gap_fill(task_metrics(spark.read.parquet(f"{sf_dir}/events.parquet")))
    got_rows = sorted((tuple(r) for r in got.collect()), key=str)
    want_rows = sorted((tuple(r) for r in want.collect()), key=str)
    assert got_rows == want_rows and got_rows


def test_streaming_trend_regression_matches_batch(spark, sf_dir):
    """O66: per-batch additive sufficient-statistic partials merged at
    the end must reproduce batch O63 BIT-identically (exact DECIMAL
    partials; identical double closed form)."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        trend_regression,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_trend_regression,
    )

    got = sorted(
        (tuple(r) for r in run_streaming_trend_regression(spark, sf_dir).collect()),
        key=str,
    )
    want = sorted(
        (
            tuple(r)
            for r in trend_regression(
                task_metrics(spark.read.parquet(f"{sf_dir}/events.parquet"))
            ).collect()
        ),
        key=str,
    )
    assert got == want and got


def test_streaming_ewma_matches_batch_across_batches(spark, sf_dir, tmp_path):
    """O69: the last-8-lags keyed state must reproduce batch O67
    BIT-identically — num/den integers, the one double division, and the
    cross-multiplied spike flag — across a minute-aligned 4-file ordered
    drive with maxFilesPerTrigger=1 (whole-minutes-in-order contract)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        ewma_smooth,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.stateful import (
        run_streaming_ewma,
    )

    pdf = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .toPandas()
        .sort_values(["ts", "event_id"], ignore_index=True)
    )
    minute = pdf.ts.astype("int64") // (60_000_000_000)
    minutes_sorted = sorted(minute.unique())
    n_chunks = 4
    per = (len(minutes_sorted) + n_chunks - 1) // n_chunks
    drop_dir = str(tmp_path / "ewma_drop")
    os.makedirs(drop_dir)
    t0 = 1_700_000_000
    n_files = 0
    for i in range(n_chunks):
        sel = minute.isin(minutes_sorted[i * per : (i + 1) * per])
        if not sel.any():
            continue
        path = os.path.join(drop_dir, f"chunk{i:02d}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf[sel], preserve_index=False), path)
        os.utime(path, (t0 + i, t0 + i))
        n_files += 1
    assert n_files >= 4
    progress: list = []
    got = run_streaming_ewma(
        spark,
        sf_dir,
        stream_dir=drop_dir,
        max_files_per_trigger=1,
        progress_out=progress,
    )
    want = ewma_smooth(task_metrics(spark.read.parquet(f"{sf_dir}/events.parquet")))
    got_rows = sorted((tuple(r) for r in got.collect()), key=str)
    want_rows = sorted((tuple(r) for r in want.collect()), key=str)
    assert got_rows == want_rows and got_rows
    assert sum(r.is_spike for r in got.collect()) >= 1


def test_streaming_error_budget_matches_batch(spark, sf_dir):
    """O72: per-batch additive (app, day) partials merged at the end must
    reproduce batch O68 BIT-identically — counts, cumulative sums, floor
    budget, and the cross-multiplied exhaustion flag."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        error_budget,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_error_budget,
    )

    got = sorted(
        (tuple(r) for r in run_streaming_error_budget(spark, sf_dir).collect()),
        key=str,
    )
    want = sorted(
        (
            tuple(r)
            for r in error_budget(
                task_metrics(spark.read.parquet(f"{sf_dir}/events.parquet"))
            ).collect()
        ),
        key=str,
    )
    assert got == want and got


def test_streaming_burn_rate_matches_batch(spark, sf_dir):
    """O73: per-batch additive (app, hour) partials + O71's shared tail
    must reproduce batch O71 BIT-identically — all six window sums and
    both alert flags."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        burn_rate_multiwindow,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_burn_rate,
    )

    got = sorted(
        (tuple(r) for r in run_streaming_burn_rate(spark, sf_dir).collect()),
        key=str,
    )
    want = sorted(
        (
            tuple(r)
            for r in burn_rate_multiwindow(
                task_metrics(spark.read.parquet(f"{sf_dir}/events.parquet"))
            ).collect()
        ),
        key=str,
    )
    assert got == want and got


def test_streaming_histogram_rollup_matches_batch(spark, sf_dir):
    """O76: per-batch additive (type, minute, bin) histogram partials
    merged at the end must reproduce batch O75 BIT-identically — counts,
    bins used, and all three cross-multiplied percentile edges (the
    lossless-merge property t-digests lack)."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        histogram_rollup,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_histogram_rollup,
    )

    got = sorted(
        (tuple(r) for r in run_streaming_histogram_rollup(spark, sf_dir).collect()),
        key=str,
    )
    want = sorted(
        (
            tuple(r)
            for r in histogram_rollup(
                task_metrics(spark.read.parquet(f"{sf_dir}/events.parquet"))
            ).collect()
        ),
        key=str,
    )
    assert got == want and got


def test_streaming_alert_flap_matches_batch(spark, sf_dir):
    """O78: per-batch per-(rule, app, minute) firing maxima max-merged at
    the end must reproduce batch O77 BIT-identically — states are maxima
    and maxima merge, so transitions and flap verdicts cannot differ."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        alert_flap_detect,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_alert_flap,
    )

    got = sorted(
        (tuple(r) for r in run_streaming_alert_flap(spark, sf_dir).collect()),
        key=str,
    )
    want = sorted(
        (
            tuple(r)
            for r in alert_flap_detect(
                task_metrics(spark.read.parquet(f"{sf_dir}/events.parquet"))
            ).collect()
        ),
        key=str,
    )
    assert got == want and got


def _red_rate_error_rows(panel):
    """Sorted rate/error rows of a RED panel (batch O79 or its O80 twin)."""
    cols = ["app_id", "hour_ms", "n_logs", "n_errors"]
    cols += ["rate_per_min", "err_share", "err_breach"]
    return sorted((tuple(r) for r in panel.select(*cols).collect()), key=str)


def test_streaming_red_panel_matches_batch_halves(spark, sf_dir):
    """O80: the merged rate/error columns must be BIT-identical to batch
    O79's (counts are sums, verdict shared arithmetic), and the duration
    bin edges bit-identical to histogram_percentile_tail over a direct
    batch scan of the same (app, hour) bins."""
    from pyspark.sql import functions as F

    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        histogram_percentile_tail,
        red_panel,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_red_panel,
    )

    got = run_streaming_red_panel(spark, sf_dir)
    tm = task_metrics(spark.read.parquet(f"{sf_dir}/events.parquet"))
    # rate/error half vs batch O79
    a = _red_rate_error_rows(got)
    assert a == _red_rate_error_rows(red_panel(tm)) and a
    # duration half vs a direct batch histogram of the same bins
    direct = (
        tm.withColumn(
            "bin", F.least(F.expr("run_time_ms DIV 100"), F.lit(31)).cast("long")
        )
        .groupBy(
            F.col("app_id").alias("event_type"),
            F.expr("metric_time_ms DIV 3600000 * 3600000").alias("bucket_ms"),
            "bin",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.lit("hour").alias("level"), "*")
    )
    want_dur = sorted(
        (
            (r.event_type, r.bucket_ms, r.p50_lo, r.p95_lo, r.p99_lo)
            for r in histogram_percentile_tail(direct).collect()
        ),
        key=str,
    )
    got_dur = sorted(
        (
            (r.app_id, r.hour_ms, r.p50_lo, r.p95_lo, r.p99_lo)
            for r in got.collect()
        ),
        key=str,
    )
    assert got_dur == want_dur and got_dur
    # err-bound half: where pXX_err_bound_ms is non-NULL the batch-EXACT
    # order statistic (same ceil(p·n/100) rank the bin selection targets)
    # must lie in [pXX_lo, pXX_lo + err_bound]; NULL exactly on the
    # clamped overflow bin, where no upper bound can honestly be claimed.
    import math

    exact: dict[tuple, list] = {}
    for r in tm.select(
        "app_id",
        F.expr("metric_time_ms DIV 3600000 * 3600000").alias("hour_ms"),
        "run_time_ms",
    ).collect():
        exact.setdefault((r.app_id, r.hour_ms), []).append(r.run_time_ms)
    clamp_lo = 31 * 100
    checked = 0
    for r in got.collect():
        vals = sorted(exact[(r.app_id, r.hour_ms)])
        n = len(vals)
        for p, lo, eb in (
            (50, r.p50_lo, r.p50_err_bound_ms),
            (95, r.p95_lo, r.p95_err_bound_ms),
            (99, r.p99_lo, r.p99_err_bound_ms),
        ):
            v = vals[math.ceil(p * n / 100) - 1]
            if eb is None:
                assert lo == clamp_lo and v >= clamp_lo
            else:
                assert eb == 99 and lo <= v <= lo + eb
                checked += 1
    assert checked > 0


def test_streaming_red_panel_pre_epoch_hours_match_batch(spark, sf_dir, tmp_path):
    """O80 vs O79 before 1970: with every event moved before the epoch by
    a non-whole number of hours, the twin's rate/error half must still
    equal the batch panel's, whose ``DIV`` hour truncates toward zero
    (a floored bucket would put each row one hour earlier)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        red_panel,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_red_panel,
    )

    events = pq.read_table(f"{sf_dir}/events.parquet")
    shift_us = (60 * 365 * 86400 + 1234) * 1_000_000 + 567_891  # ~60 years
    ts = events["ts"]
    moved = pc.subtract(pc.cast(ts, pa.int64()), shift_us).cast(ts.type)
    events = events.set_column(events.schema.get_field_index("ts"), "ts", moved)
    assert pc.max(moved).as_py().year < 1970
    pq.write_table(events, tmp_path / "events.parquet")

    a = _red_rate_error_rows(run_streaming_red_panel(spark, str(tmp_path)))
    tm = task_metrics(spark.read.parquet(str(tmp_path / "events.parquet")))
    assert a == _red_rate_error_rows(red_panel(tm)) and a
    assert all(r[1] < 0 for r in a)


def test_streaming_media_dedup_matches_batch(spark, sf_dir):
    """M11: per-modality kept counts/bytes from the zero-state
    stream-static anti-join must equal the batch-computed anti-join over
    the same fingerprints (shared media_fingerprints definition), and
    the gate must actually drop the planted byte-exact re-crawls."""
    from pyspark.sql import functions as F

    from guidance_for_analytics_observability_on_aws_spark.operators.multimodal import (
        media_fingerprints,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_media_dedup,
    )

    got = sorted(
        (tuple(r) for r in run_streaming_media_dedup(spark, sf_dir).collect()),
        key=str,
    )
    fp = media_fingerprints(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    new = fp.filter(F.col("doc_id") >= 1_000_000)
    static_dict = (
        fp.filter(F.col("doc_id") < 1_000_000)
        .select("modality", "payload_md5")
        .distinct()
    )
    kept = new.join(F.broadcast(static_dict), ["modality", "payload_md5"], "left_anti")
    want = sorted(
        (
            tuple(r)
            for r in kept.groupBy("modality")
            .agg(
                F.count(F.lit(1)).alias("n_kept"),
                F.sum("byte_len").cast("long").alias("kept_bytes"),
            )
            .collect()
        ),
        key=str,
    )
    assert got == want and got
    # the planted exact copies (doc_id in [1M, 2M)) byte-match their
    # originals, so the gate must drop ALL of them
    n_arrived = new.count()
    n_kept_total = sum(r[1] for r in got)
    n_exact_copies = new.filter(F.col("doc_id") < 2_000_000).count()
    assert n_kept_total <= n_arrived - n_exact_copies


def test_streaming_forecast_linear_matches_batch(spark, sf_dir):
    """O81: merged additive regression partials + the shared forecast_tail
    must reproduce batch O74 BIT-identically — every column including the
    float projection (same closed forms over the same merged integers)."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        forecast_linear,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_forecast_linear,
    )

    got = sorted(
        (tuple(r) for r in run_streaming_forecast_linear(spark, sf_dir).collect()),
        key=str,
    )
    want = sorted(
        (
            tuple(r)
            for r in forecast_linear(
                task_metrics(spark.read.parquet(f"{sf_dir}/events.parquet"))
            ).collect()
        ),
        key=str,
    )
    assert got == want and got


def test_streaming_bloom_build_matches_batch(spark, sf_dir):
    """D33: the filter maintained from per-batch bit_or word partials must
    reproduce the batch-built filter exactly, hence the whole D32 audit
    frame row-identically — and re-delivering the same corpus (idempotent
    merge) must change nothing."""
    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        dedup_bloom_gate,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_bloom_build,
    )

    got = sorted(
        (tuple(r) for r in run_streaming_bloom_build(spark, sf_dir).collect()),
        key=str,
    )
    want = sorted(
        (
            tuple(r)
            for r in dedup_bloom_gate(
                spark.read.parquet(f"{sf_dir}/documents.parquet")
            ).collect()
        ),
        key=str,
    )
    assert got == want and got


def test_bloom_words_merge_idempotent(spark, sf_dir):
    """D33's stated stronger-than-additive property: bit_or partials from
    the corpus UNIONED WITH ITSELF (at-least-once re-delivery) merge to
    the identical word table — and so do the partials of three disjoint
    slices (a three-batch ingest)."""
    from functools import reduce

    from pyspark.sql import functions as F

    from guidance_for_analytics_observability_on_aws_spark.functions.text import (
        corpus,
    )
    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        BLOOM_WORD_OPS,
        bloom_words,
    )
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        merge_partials,
    )

    docs = corpus(spark.read.parquet(f"{sf_dir}/documents.parquet")).filter(
        F.col("doc_id") < 1_000_000
    )
    keys = docs.select(F.md5("text").alias("key"))
    once = {(r.word_idx, r.bits) for r in bloom_words(keys).collect()}
    redelivered = merge_partials(bloom_words(keys.unionAll(keys)), BLOOM_WORD_OPS)
    twice = {(r.word_idx, r.bits) for r in redelivered.collect()}
    assert once == twice and once
    slices = [
        bloom_words(docs.filter(F.col("doc_id") % 3 == i).select(F.md5("text").alias("key")))
        for i in range(3)
    ]
    union = reduce(lambda a, b: a.unionByName(b), slices)
    merged = merge_partials(union, BLOOM_WORD_OPS)
    assert {(r.word_idx, r.bits) for r in merged.collect()} == once
    assert union.count() > len(once)  # the slices really overlapped


def _merge_cases(family: str, tm):
    """(partial, ops, [(tail, batch operator), ...]) cases of one
    mergeable-partial family, as its streaming twin uses them: thresholds
    and t0 trained on the whole table, partials per slice."""
    from guidance_for_analytics_observability_on_aws_spark.operators import (
        observability as obs,
    )

    if family == "linear_fit":
        t0 = obs.linear_fit_t0(tm)
        return [(
            lambda d: obs.linear_fit_partials(d, t0),
            obs.LINEAR_FIT_OPS,
            [(obs.trend_tail, obs.trend_regression),
             (obs.forecast_tail, obs.forecast_linear)],
        )]
    if family == "error_counts":
        day = obs.pmod_bucket(86400000, "day_ms")
        hour = obs.pmod_bucket(3600000, "hour_ms")
        return [
            (lambda d: obs.error_count_partials(d, "app_name", day),
             obs.ERROR_COUNT_OPS, [(obs.error_budget_tail, obs.error_budget)]),
            (lambda d: obs.error_count_partials(d, "app_name", hour),
             obs.ERROR_COUNT_OPS,
             [(obs.burn_rate_multiwindow_tail, obs.burn_rate_multiwindow)]),
        ]
    if family == "tail_sampling":
        thresholds = obs.tail_thresholds(tm)
        return [(
            lambda d: obs.tail_sample_partials(d, thresholds),
            obs.TAIL_SAMPLE_OPS,
            [(obs.tail_sampling_tail, obs.tail_sampling)],
        )]
    if family == "histogram_minutes":
        return [(
            obs.histogram_minute_partials,
            obs.HISTOGRAM_BIN_OPS,
            [(lambda m: obs.histogram_percentile_tail(
                obs.histogram_levels_from_minutes(m)), obs.histogram_rollup)],
        )]
    if family == "alert_minute_states":
        return [(obs.alert_minute_states, obs.ALERT_MINUTE_OPS,
                 [(obs.alert_flap_tail, obs.alert_flap_detect)])]
    if family == "metric_hour_buckets":
        return [(obs.metric_hour_buckets, obs.METRIC_HOUR_OPS,
                 [(obs.metric_correlation_tail, obs.metric_correlation)])]
    assert family == "cms_key_buckets"
    return [(obs.cms_key_buckets, obs.CMS_KEY_OPS,
             [(obs.cms_topk, obs.heavy_hitters_cms)])]


@pytest.mark.parametrize(
    "family",
    [
        "linear_fit",
        "error_counts",
        "tail_sampling",
        "histogram_minutes",
        "alert_minute_states",
        "metric_hour_buckets",
        "cms_key_buckets",
    ],
)
def test_partials_merge_across_batches(spark, sf_dir, family):
    """Every testdata table is one row group, so each streaming twin's
    parity test runs ONE micro-batch and never merges two partials. Here
    the task table is split into three disjoint slices (task_id % 3):
    ``merge_partials`` over the union of the slice partials must equal
    the partial of the whole table, and each tail over the merge must
    equal its batch operator — the multi-batch twin, without a stream."""
    from functools import reduce

    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        merge_partials,
    )

    def rows(df):
        return sorted((tuple(r) for r in df.select(sorted(df.columns)).collect()), key=str)

    tm = task_metrics(load_tables(spark, sf_dir)["events"])
    for partial, ops, tails in _merge_cases(family, tm):
        union = reduce(
            lambda a, b: a.unionByName(b),
            [partial(tm.filter(F.col("task_id") % 3 == i)) for i in range(3)],
        )
        merged = merge_partials(union, ops)
        whole = rows(partial(tm))
        assert rows(merged) == whole and whole
        if family != "histogram_minutes":  # one event per minute-bin key here
            assert union.count() > len(whole), "no key was split across slices"
        assert merged.dtypes == partial(tm).select(merged.columns).dtypes
        for tail, batch in tails:
            assert rows(tail(merged)) == rows(batch(tm))


def test_streaming_metric_correlation_matches_batch(spark, sf_dir):
    """O82: merged additive (hour, type) bucket partials + the shared
    correlation tail must reproduce batch O64 BIT-identically, including
    the IEEE sqrt-based pearson_r."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        metric_correlation,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_metric_correlation,
    )

    got = sorted(
        (
            tuple(r)
            for r in run_streaming_metric_correlation(spark, sf_dir).collect()
        ),
        key=str,
    )
    want = sorted(
        (
            tuple(r)
            for r in metric_correlation(
                task_metrics(spark.read.parquet(f"{sf_dir}/events.parquet"))
            ).collect()
        ),
        key=str,
    )
    assert got == want and got


def test_streaming_repeated_spans_matches_batch_scrub(spark, sf_dir):
    """D36: the ingest span-scrub gate (corpus span-hash index + append-only
    batch growth + within-batch canonical window) must be ROW-IDENTICAL —
    including text_clean — to batch D35 restricted to the new docs
    (doc_id ≥ the ingest boundary), because corpus ids sort below the
    boundary so "seen before" ≡ "non-canonical"."""
    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        dedup_repeated_spans_scrub,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_repeated_spans,
    )

    got = sorted(
        tuple(r) for r in run_streaming_repeated_spans(spark, sf_dir).collect()
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = sorted(
        tuple(r)
        for r in dedup_repeated_spans_scrub(docs, span_tokens=16)
        .filter(F.col("doc_id") >= 1_000_000)
        .collect()
    )
    assert got == want and got
    # the gate must actually scrub: planted exact copies (+1M) repeat the
    # corpus doc's spans verbatim, so some new doc loses tokens
    assert any(r[2] > 0 for r in got)

def test_streaming_prefix_dedup_matches_batch_d31(spark, sf_dir):
    """D38: the lossless prefix-filter ingest gate must route every new
    doc exactly as batch D31 verdicts the cross-boundary pairs: a new
    doc (doc_id ≥ 1M) is dropped iff some committed-corpus doc reaches
    the Jaccard threshold — with the single availableNow batch, the
    per-source (n_kept, n_dropped) report is derivable from
    dedup_prefix_filter's exact output (old ids always sort below the
    boundary, so cross pairs are exactly doc_a < 1M ≤ doc_b). Planted
    exact copies (+1M) are guaranteed drops at Jaccard 1.0; reversals
    (+2M) reverse every 3-token shingle and must be KEPT — the gate
    inherits D31's exactness, not a sketch's false-positive rate."""
    from guidance_for_analytics_observability_on_aws_spark.functions.text import (
        corpus,
    )
    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        dedup_prefix_filter,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_prefix_dedup,
    )

    got = {
        r.source: (r.n_kept, r.n_dropped)
        for r in run_streaming_prefix_dedup(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dropped_ids = (
        dedup_prefix_filter(docs)
        .filter((F.col("doc_a") < 1_000_000) & (F.col("doc_b") >= 1_000_000))
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    new_docs = corpus(docs).filter(F.col("doc_id") >= 1_000_000)
    want = {
        r.source: (r.n_kept, r.n_dropped)
        for r in new_docs.join(
            dropped_ids.withColumn("is_dropped", F.lit(1)),
            "doc_id",
            "left",
        )
        .groupBy("source")
        .agg(
            F.sum(F.col("is_dropped").isNull().cast("long")).alias("n_kept"),
            F.sum(
                F.coalesce(F.col("is_dropped"), F.lit(0)).cast("long")
            ).alias("n_dropped"),
        )
        .collect()
    }
    assert got == want and got
    # the gate must both keep and drop: exact copies drop, reversals stay
    assert sum(k for k, _ in got.values()) > 0
    assert sum(d for _, d in got.values()) > 0

def test_streaming_prefix_dedup_appends_index_across_batches(spark, tmp_path):
    """D38 cross-batch: the kept docs of batch 1 must JOIN the index, so
    a batch-2 arrival duplicating a batch-1 KEPT doc is dropped even
    though it matches nothing in the committed corpus. Hand-crafted
    corpus + two-file mtime-ordered drop dir (maxFilesPerTrigger=1),
    one distinct source label per doc so every route is individually
    visible:

    - batch 1, src ``s_copy_of_corpus``: its +1M copy plant equals
      corpus doc A → dropped (the corpus-match path);
    - batch 1, src ``s_reversal``: its +2M reversal plant matches
      nothing → KEPT and appended to the index;
    - batch 2, src ``s_dup_of_kept``: its +1M copy plant equals the
      batch-1 kept reversal's text → dropped (the CROSS-BATCH path —
      impossible unless the appended index is probed);
    - batch 2, src ``s_unique``: kept."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_prefix_dedup,
    )

    text_a = "alpha beta gamma delta epsilon zeta"
    t1 = "one two three four five six seven"
    rev_t1 = " ".join(reversed(t1.split()))
    uniq = "red orange yellow green blue indigo"
    corpus_dir = str(tmp_path / "corpus")
    os.makedirs(corpus_dir)
    cols = "doc_id long, text string, lang string, source string"
    # corpus ids ∉ {0,5,10} mod 25 → corpus() plants nothing on the
    # index side; drop-row ids CHOSEN to plant (30 → +2M reversal,
    # 50/75/100 → +1M exact copies).
    spark.createDataFrame(
        [(1, text_a, "en", "c1"), (2, "totally different words here", "en", "c2")],
        cols,
    ).toPandas().pipe(
        lambda pdf: pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            f"{corpus_dir}/documents.parquet",
        )
    )
    drop_dir = str(tmp_path / "drop")
    os.makedirs(drop_dir)
    chunks = [
        [(50, text_a, "en", "s_copy_of_corpus"),
         (30, t1, "en", "s_reversal")],
        [(75, rev_t1, "en", "s_dup_of_kept"),
         (100, uniq, "en", "s_unique")],
    ]
    t0 = 1_700_000_000
    for i, rows in enumerate(chunks):
        path = os.path.join(drop_dir, f"chunk{i:02d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(
                spark.createDataFrame(rows, cols).toPandas(),
                preserve_index=False,
            ),
            path,
        )
        os.utime(path, (t0 + i, t0 + i))  # ascending mtime = batch order

    got = {
        r.source: (r.n_kept, r.n_dropped)
        for r in run_streaming_prefix_dedup(
            spark,
            corpus_dir,
            stream_dir=drop_dir,
            docs_glob="*.parquet",
            max_files_per_trigger=1,
        ).collect()
    }
    assert got == {
        "s_copy_of_corpus": (0, 1),
        "s_reversal": (1, 0),
        "s_dup_of_kept": (0, 1),
        "s_unique": (1, 0),
    }


def test_streaming_semantic_dedup_matches_batch_d39(spark, sf_dir):
    """D41 single-batch: the ingest gate's removal verdicts (vec_id,
    cell, keeper, neighbor count, max cosine) are ROW-IDENTICAL to batch
    D39 restricted to the arriving ids — the committed corpus plays the
    index, the planted +100000 copies play the ingest."""
    from pyspark.sql import functions as F

    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (
        PLANT_OFFSET,
        semantic_dedup,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_semantic_dedup,
    )

    got = {
        tuple(r) for r in run_streaming_semantic_dedup(spark, sf_dir).collect()
    }
    want = {
        tuple(r)
        for r in semantic_dedup(load_tables(spark, sf_dir)["embeddings"])
        .filter(F.col("vec_id") >= PLANT_OFFSET)
        .collect()
    }
    assert got == want and len(got) > 0


def test_streaming_semantic_dedup_crash_seam_replay(spark, sf_dir, tmp_path):
    """D41 crash-seam: a batch that dies BETWEEN the vecs and codes
    appends (the only half-applied state the vecs-before-codes order can
    leave) must, on at-least-once re-delivery, produce verdicts and a
    final index byte-identical to a never-crashed run. This pins the r14
    append-order fix — with the old codes-first order the replay saw no
    new rows, the vectors never backfilled, and every future pair
    against those ids silently vanished (permanent under-removal).
    Driven on the production index layout: checkpointed committed-side
    base frames plus per-batch delta dirs, which start empty, so the
    on-disk counts and sets below are the deltas'."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (
        SEMANTIC_TAU,
        _quantized,
        _resolve_centroids,
        assign_cells,
        semantic_centroids,
        sq8_encode,
        sq8_stats,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        semantic_gate_batch,
    )

    raw = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    committed = _quantized(raw, barrier_key="vec_id")
    k = _resolve_centroids(raw, None)
    centroids = semantic_centroids(committed, k).localCheckpoint(eager=True)
    cells = assign_cells(committed, centroids).localCheckpoint(eager=True)
    mns, rngs = sq8_stats(cells)
    base_codes = sq8_encode(cells, mns, rngs).localCheckpoint(eager=True)
    base_vecs = cells.select("vec_id", "qv")

    def fresh_index(tag):
        codes, vecs = str(tmp_path / f"codes_{tag}"), str(tmp_path / f"vecs_{tag}")
        os.makedirs(codes)
        os.makedirs(vecs)
        return codes, vecs

    def gate(batch, tag, codes, vecs, crash=False):
        semantic_gate_batch(
            spark, batch, 0, centroids=centroids, mns=mns, rngs=rngs,
            codes_path=codes, vecs_path=vecs,
            out_dir=str(tmp_path / f"out_{tag}"), tau=float(SEMANTIC_TAU),
            base_codes=base_codes, base_vecs=base_vecs,
            crash_between_appends=crash,
        )

    def read(path, like):  # a delta dir, possibly still empty
        return spark.read.schema(like.schema).parquet(path)

    batch = raw  # the gate filters to the planted +100000 arrivals itself
    # clean run
    c1, v1 = fresh_index("clean")
    gate(batch, "clean", c1, v1)
    # crashed-then-replayed run
    c2, v2 = fresh_index("crash")
    with pytest.raises(RuntimeError, match="injected crash"):
        gate(batch, "crash", c2, v2, crash=True)
    # half-applied state: vecs grew, codes did not
    n_codes = read(c2, base_codes).count()
    n_vecs = read(v2, base_vecs).count()
    assert n_vecs > n_codes, "crash must leave the vecs-superset state"
    gate(batch, "crash", c2, v2)  # at-least-once re-delivery

    def verdicts(tag):
        return {
            tuple(r)
            for r in spark.read.option("recursiveFileLookup", "true")
            .parquet(str(tmp_path / f"out_{tag}"))
            .collect()
        }

    assert verdicts("crash") == verdicts("clean") and len(verdicts("clean")) > 0
    # final index state: codes identical; vecs identical AS A SET of
    # (vec_id, qv) — the replayed append duplicates rows, which the
    # shortlist dropDuplicates absorbs by design
    codes_set = lambda p: {  # noqa: E731
        (r.vec_id, tuple(r.codes)) for r in read(p, base_codes).collect()
    }
    assert codes_set(c2) == codes_set(c1) and codes_set(c1)
    vec_set = lambda p: {  # noqa: E731
        (r.vec_id, tuple(r.qv)) for r in read(p, base_vecs).collect()
    }
    assert vec_set(v2) == vec_set(v1)
    # and distinct vec_ids match the codes index exactly (no stranded ids)
    ids = lambda p, like: {r.vec_id for r in read(p, like).select("vec_id").distinct().collect()}  # noqa: E731
    assert ids(v2, base_vecs) == ids(c2, base_codes)


def test_streaming_semantic_dedup_appends_index_across_batches(spark, tmp_path):
    """D41 cross-batch: batch 1's arrivals must JOIN the cell index, so a
    batch-2 arrival duplicating a batch-1 KEPT vector is removed even
    though it matches nothing in the committed corpus. Hand-crafted
    4-dim corpus + two-file mtime-ordered drop dir (maxFilesPerTrigger=1):

    - committed: vecs 0–7 (the centroid set, one axis-ish direction
      each) + vec 9 carrying direction E;
    - batch 1: vec 50 carries E → plant 100050 matches committed vec 9
      at cosine 1.0 → removed, keeper 9 (the corpus-match path); vec 25
      carries the novel G → plant 100025 kept, appended to the index;
    - batch 2: vec 75 carries G → plant 100075 removed with keeper
      100025 (the CROSS-BATCH path — impossible unless the appended
      index is probed); vec 100 carries the novel H → kept (no row)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_semantic_dedup,
    )

    def write(path, rows):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                    "embedding": pa.array(
                        [r[1] for r in rows], pa.list_(pa.float32())
                    ),
                    "label": pa.array([r[2] for r in rows], pa.int32()),
                }
            ),
            path,
        )

    # 8 centroid directions (distinct), then E on vec 9.
    cents = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
        [1.0, 1.0, 0.0, 0.0],
        [0.0, 1.0, 1.0, 0.0],
        [0.0, 0.0, 1.0, 1.0],
        [1.0, 0.0, 0.0, 1.0],
    ]
    # E/G/H sit INSIDE a cell but below τ=0.98 cosine to every committed
    # vector (including the centroid vectors themselves, which are index
    # members too) — only the planted duplications cross the bar.
    E = [0.6, 0.45, 0.25, 0.0]
    G = [0.1, 0.3, 0.85, 0.0]
    H = [0.3, 0.1, 0.2, 0.85]
    corpus_dir = str(tmp_path / "corpus")
    os.makedirs(corpus_dir)
    write(
        f"{corpus_dir}/embeddings.parquet",
        [(i, v, 0) for i, v in enumerate(cents)] + [(9, E, 0)],
    )
    drop_dir = str(tmp_path / "drop")
    os.makedirs(drop_dir)
    chunks = [
        [(50, E, 0), (25, G, 0)],
        [(75, G, 0), (100, H, 0)],
    ]
    t0 = 1_700_000_000
    for i, rows in enumerate(chunks):
        path = os.path.join(drop_dir, f"chunk{i:02d}.parquet")
        write(path, rows)
        os.utime(path, (t0 + i, t0 + i))  # ascending mtime = batch order

    got = {
        r.vec_id: (r.keeper_id, r.max_cosine)
        for r in run_streaming_semantic_dedup(
            spark,
            corpus_dir,
            stream_dir=drop_dir,
            emb_glob="*.parquet",
            max_files_per_trigger=1,
        ).collect()
    }
    assert set(got) == {100050, 100075}
    assert got[100050] == (9, 1.0)  # corpus-match path
    assert got[100075] == (100025, 1.0)  # cross-batch path


def test_streaming_semantic_dedup_rejects_out_of_order_ingest(spark, tmp_path):
    """D41 ordering guard: row-identity to batch D39 requires ascending
    vec_id batches (the gate never re-opens past verdicts, so a
    later-arriving LOWER id would silently under-remove). A batch
    carrying a NEW id at/below the index watermark must fail loudly,
    not diverge silently. Same 4-dim corpus shape as the cross-batch
    test, with the two drop files' ids REVERSED relative to mtime order."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_semantic_dedup,
    )

    def write(path, rows):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                    "embedding": pa.array(
                        [r[1] for r in rows], pa.list_(pa.float32())
                    ),
                    "label": pa.array([r[2] for r in rows], pa.int32()),
                }
            ),
            path,
        )

    cents = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
        [1.0, 1.0, 0.0, 0.0],
        [0.0, 1.0, 1.0, 0.0],
        [0.0, 0.0, 1.0, 1.0],
        [1.0, 0.0, 0.0, 1.0],
    ]
    G = [0.1, 0.3, 0.85, 0.0]
    H = [0.3, 0.1, 0.2, 0.85]
    corpus_dir = str(tmp_path / "corpus")
    os.makedirs(corpus_dir)
    write(
        f"{corpus_dir}/embeddings.parquet",
        [(i, v, 0) for i, v in enumerate(cents)],
    )
    drop_dir = str(tmp_path / "drop")
    os.makedirs(drop_dir)
    # batch 1 carries the HIGHER ids, batch 2 the lower — out of order.
    chunks = [[(75, G, 0)], [(25, H, 0)]]
    t0 = 1_700_000_000
    for i, rows in enumerate(chunks):
        path = os.path.join(drop_dir, f"chunk{i:02d}.parquet")
        write(path, rows)
        os.utime(path, (t0 + i, t0 + i))
    with pytest.raises((StreamingQueryException, ValueError)) as exc:
        run_streaming_semantic_dedup(
            spark,
            corpus_dir,
            stream_dir=drop_dir,
            emb_glob="*.parquet",
            max_files_per_trigger=1,
        )
    assert "out-of-order ingest" in str(exc.value)


def test_streaming_paragraph_decon_matches_batch_verdicts(spark, sf_dir):
    """P33 stream_paragraph_decon_ingest: the per-source kept counts
    must equal the batch P32 verdicts exactly — the gate is per-doc
    against a STATIC bench index (zero streaming state), so per-batch
    verdicts compose to precisely the batch result; and the +1M exact
    bench copies must all be quarantined (the recall-1.0 theorem one
    gate earlier in the pipeline)."""
    from guidance_for_analytics_observability_on_aws_spark.functions.text import corpus
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        decontaminate_paragraph,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        run_streaming_paragraph_decon,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    got = {
        r.source: r.n_kept
        for r in run_streaming_paragraph_decon(spark, sf_dir).collect()
    }
    flagged = decontaminate_paragraph(docs).select("doc_id").distinct()
    is_bench = (F.col("doc_id") < 1000000) & (F.col("doc_id") % 25 == 0)
    want = {
        r.source: r.n
        for r in corpus(docs)
        .filter(~is_bench)
        .select("doc_id", "source")
        .join(flagged, "doc_id", "left_anti")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and got
    # every +1M exact copy is a wall-to-wall leak: quarantined, so kept
    # count is strictly below the non-bench corpus size
    n_train = corpus(docs).filter(~is_bench).count()
    assert sum(got.values()) < n_train


def test_stream_state_partitions_derivation(spark, tmp_path, monkeypatch):
    """The streaming state partition count derives from the source
    footprint (floor 8, one partition per 64 MiB), honors the env
    override, falls back to no-op on unsizable sources, and the context
    manager restores the session's batch shuffle width either way."""
    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        STREAM_STATE_BYTES_PER_PARTITION,
        _scaled_state_shuffle,
        _stream_state_partitions,
    )

    monkeypatch.delenv("GFAOOA_STREAM_STATE_PARTITIONS", raising=False)
    # tiny local drop -> the floor
    (tmp_path / "events.parquet").write_bytes(b"x" * 1024)
    assert _stream_state_partitions(str(tmp_path), "*.parquet") == 8
    # the rule is ceil(bytes / split): a sparse file big enough for 3
    # splits derives 8-floored... use a seek-written sparse file so the
    # test does not materialize 640 MiB
    big = tmp_path / "big" / "events.parquet"
    big.parent.mkdir()
    with open(big, "wb") as f:
        f.seek(10 * STREAM_STATE_BYTES_PER_PARTITION - 1)
        f.write(b"\0")
    assert _stream_state_partitions(str(big.parent), "*.parquet") == 10
    # glob excludes non-matching files from the footprint
    assert _stream_state_partitions(str(big.parent), "*.csv") is None
    # env override wins over any derivation
    monkeypatch.setenv("GFAOOA_STREAM_STATE_PARTITIONS", "17")
    assert _stream_state_partitions(str(big.parent), "*.parquet") == 17
    monkeypatch.delenv("GFAOOA_STREAM_STATE_PARTITIONS")
    # context manager: applies the derived count, then restores
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with _scaled_state_shuffle(spark, str(big.parent)):
        assert spark.conf.get(key) == "10"
    assert spark.conf.get(key) == before
    # unsizable source (missing dir) -> conf untouched inside the block
    with _scaled_state_shuffle(spark, str(tmp_path / "nope")):
        assert spark.conf.get(key) == before


def test_stream_state_partitions_guards(spark, tmp_path, monkeypatch):
    """r16 hardening: a malformed env override falls back to derivation
    (with a warning) instead of crashing the runner; the sizer counts
    ONLY the streamed source's glob (a large unrelated table beside a
    tiny drop must not inflate the state-store count); and the width
    override serializes on the module lock."""
    import warnings

    from guidance_for_analytics_observability_on_aws_spark.streaming.collector import (
        STREAM_STATE_BYTES_PER_PARTITION,
        _STATE_OVERRIDE_LOCK,
        _scaled_state_shuffle,
        _stream_state_partitions,
    )

    # a big unrelated table beside a tiny streamed drop: per-glob sizing
    (tmp_path / "events.parquet").write_bytes(b"x" * 1024)
    with open(tmp_path / "documents.parquet", "wb") as f:
        f.seek(10 * STREAM_STATE_BYTES_PER_PARTITION - 1)
        f.write(b"\0")
    assert _stream_state_partitions(str(tmp_path), "events.parquet") == 8
    assert _stream_state_partitions(str(tmp_path), "documents.parquet") == 10
    # malformed env override: warn + fall back to the size derivation
    monkeypatch.setenv("GFAOOA_STREAM_STATE_PARTITIONS", "not-a-number")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert _stream_state_partitions(str(tmp_path), "events.parquet") == 8
    assert any("not an integer" in str(x.message) for x in w)
    monkeypatch.delenv("GFAOOA_STREAM_STATE_PARTITIONS")
    # the override window holds the module lock (no interleaved capture)
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with _scaled_state_shuffle(spark, str(tmp_path), "documents.parquet"):
        assert spark.conf.get(key) == "10"
        assert not _STATE_OVERRIDE_LOCK.acquire(blocking=False)
    assert spark.conf.get(key) == before
    assert _STATE_OVERRIDE_LOCK.acquire(blocking=False)
    _STATE_OVERRIDE_LOCK.release()


def test_streaming_runner_failure_cleans_up(spark, sf_dir, tmp_path, monkeypatch):
    """A runner that fails inside its micro-batch still releases what the
    availableNow lifecycle owns: the mkdtemp scratch dir, the memory-sink
    view, the query and the session's shuffle width. Driven once through
    a foreachBatch runner and once through a memory-sink runner."""
    import tempfile

    from pyspark.errors import StreamingQueryException

    from guidance_for_analytics_observability_on_aws_spark.operators import observability
    from guidance_for_analytics_observability_on_aws_spark.streaming import collector

    def failing_stage_agg(_df):
        raise RuntimeError("injected batch failure")

    real_rollup = collector.windowed_rollup
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(observability, "stage_agg_skewness", failing_stage_agg)
    monkeypatch.setattr(
        collector,
        "windowed_rollup",
        lambda tm: real_rollup(tm).withColumn("boom", F.raise_error(F.lit("injected"))),
    )
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    for runner in (collector.run_streaming_stage_agg, collector.run_windowed_rollup):
        with pytest.raises(StreamingQueryException, match="injected"):
            runner(spark, sf_dir)
        assert not list(tmp_path.glob("gfaooa_*")), runner.__name__
        assert not [
            t.name for t in spark.catalog.listTables() if t.name.startswith("gfaooa_")
        ], runner.__name__
        assert not spark.streams.active, runner.__name__
        assert spark.conf.get(key) == before, runner.__name__


def test_executors_import_package_from_foreign_cwd(sf_dir, tmp_path):
    """Python workers must import the package wherever the Spark driver
    runs: a fresh JVM started from a foreign cwd with PYTHONPATH unset,
    whose Python side finds the package only through ``sys.path``, runs
    a stateful runner whose state function lives in the package (by
    reference)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = f"""
import sys
sys.path.insert(0, {repo!r})
from guidance_for_analytics_observability_on_aws_spark.plans.registry import REGISTRY
from guidance_for_analytics_observability_on_aws_spark.session import get_spark
spark = get_spark("foreign-cwd")
spark.sparkContext.setLogLevel("ERROR")
print("ROWS", len(REGISTRY["stream_ewma_smooth"].builder(spark, {sf_dir!r}).collect()))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_MASTER")}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    errors = [line for line in proc.stderr.splitlines() if "Error" in line]
    assert proc.returncode == 0, "\n".join(errors[-20:]) or proc.stderr[-3000:]
    rows = [line for line in proc.stdout.splitlines() if line.startswith("ROWS ")]
    assert rows and int(rows[0].split()[1]) > 0, proc.stdout[-2000:]
