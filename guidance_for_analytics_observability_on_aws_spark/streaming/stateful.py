"""Custom stateful streaming operator (applyInPandasWithState).

The reference's ObservabilityClient keeps a mutable per-process buffer
(records since last flush) across events (``ObservabilityClient.scala:
84-105``). The Spark-first equivalent of "mutable operator state that
outlives a batch" is keyed state in Structured Streaming. This module
implements the buffer counter as an ``applyInPandasWithState`` operator:
per executor, persist (records_seen, flush_count) across micro-batches and
emit one row per batch with the updated totals + how many size-triggered
flushes occurred (batchSize=100 parity).

State is a two-int struct → bounded per key; with RocksDB state store this
scales to millions of keys.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sources.telemetry import task_metrics
from .collector import _AvailableNow, events_stream

OUTPUT_SCHEMA = (
    "executor_id string, batch_records bigint, total_records bigint, "
    "total_flushes bigint"
)
STATE_SCHEMA = "total_records bigint, total_flushes bigint"

BATCH_SIZE = 100  # reference default (Utils.scala:103-105)


def _update(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    batch_records = 0
    for pdf in pdfs:
        batch_records += len(pdf)
    if state.exists:
        total_records, total_flushes = state.get
    else:
        total_records, total_flushes = 0, 0
    new_total = total_records + batch_records
    new_flushes = new_total // BATCH_SIZE
    state.update((new_total, new_flushes))
    yield pd.DataFrame(
        {
            "executor_id": [key[0]],
            "batch_records": [batch_records],
            "total_records": [new_total],
            "total_flushes": [new_flushes],
        }
    )


def run_stateful_buffer_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful buffer counter to completion (availableNow)."""
    tm = task_metrics(events_stream(spark, sf_dir))
    counted = (
        tm.groupBy("executor_id")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    with _AvailableNow(spark, sf_dir, "events.parquet") as run:
        return run.memory(counted, "update")


# --- transformWithState twin (Spark 4 arbitrary-state API) -------------------
# Same buffer-counter semantics on the NEW StatefulProcessor API: typed
# ValueState handles, explicit lifecycle, RocksDB-backed (the API requires
# the RocksDB provider — exactly the store the 100 TB posture calls for).
# Gated on BOTH the API and google.protobuf: the TWS state-server protocol
# speaks protobuf, which this container does not ship — the operator is
# fully written and the test runs wherever protobuf exists (no pip install
# here, per the environment rules).
try:  # the API exists from Spark 4.0; guard for older runtimes
    import google.protobuf.descriptor  # noqa: F401  (TWS wire dependency)
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _BufferProcessor(StatefulProcessor):
        """O18-twin: per-executor (total_records, total_flushes) across
        micro-batches via a ValueState handle."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("buffer", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):  # noqa: ANN001
            batch_records = 0
            for pdf in rows:
                batch_records += len(pdf)
            prior = self._state.get() if self._state.exists() else (0, 0)
            new_total = prior[0] + batch_records
            new_flushes = new_total // BATCH_SIZE
            self._state.update((new_total, new_flushes))
            yield pd.DataFrame(
                {
                    "executor_id": [key[0]],
                    "batch_records": [batch_records],
                    "total_records": [new_total],
                    "total_flushes": [new_flushes],
                }
            )

        def close(self) -> None:
            pass

    HAS_TWS = True
    TWS_MISSING: str | None = None
except ImportError as exc:  # pragma: no cover - older Spark / no protobuf
    HAS_TWS = False
    # Record WHICH import failed so the error names the real gap — the
    # guard trips both on Spark < 4.0 (no stateful_processor module) and
    # on a protobuf-less Spark 4 container (the known env gap here).
    TWS_MISSING = getattr(exc, "name", None) or str(exc)


def run_tws_buffer_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the buffer counter on ``transformWithStateInPandas`` to
    completion (availableNow); result rows match the
    ``applyInPandasWithState`` twin (asserted in tests).

    The RocksDB state-store provider is required by the API and scoped to
    this call (restored after), leaving other queries on the session
    default.
    """
    if not HAS_TWS:
        raise RuntimeError(
            "transformWithStateInPandas requires Spark >= 4.0 AND "
            f"google.protobuf; missing import: {TWS_MISSING}"
        )
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        tm = task_metrics(events_stream(spark, sf_dir))
        counted = tm.groupBy("executor_id").transformWithStateInPandas(
            statefulProcessor=_BufferProcessor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
        with _AvailableNow(spark, sf_dir, "events.parquet") as run:
            return run.memory(counted, "update")
    finally:
        if prior is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, prior)


# --- O62: CUSUM drift ON INGEST (streaming twin of batch O59) ----------------
# The production changepoint shape: the reference level (n_hist, Σx_hist)
# is TRAINED on the history table (exactly how O61 trains its tail
# thresholds), broadcast into the stream as constants, and the running
# cross-multiplied CUSUM statistic S = Σ(n_hist·x_j − Σx_hist) is kept
# PER TYPE in keyed streaming state across micro-batches — the O18
# applyInPandasWithState pattern, state = six BIGINTs per type, bounded
# forever. Arrival order contract: micro-batches must deliver a type's
# rows in (metric_time_ms, task_id) order across batches (file drops are
# listed in order; a real deployment orders by ingestion time) — CUSUM is
# an order-dependent statistic, the same contract the batch window sort
# encodes. When the history equals the streamed series, every S_i —
# hence the final extremes, their first-attained times, and drift_score —
# is IDENTICAL to batch cusum_drift (pinned in tests/test_streaming.py
# across a 4-file ordered re-drop, maxFilesPerTrigger=1).

CUSUM_OUTPUT_SCHEMA = (
    "event_type string, n_events bigint, cum_peak bigint, cum_trough bigint, "
    "peak_time_ms bigint, trough_time_ms bigint, drift_score double"
)
CUSUM_STATE_SCHEMA = (
    "s bigint, peak bigint, trough bigint, peak_t bigint, trough_t bigint, "
    "n_seen bigint"
)


def _make_cusum_update(hist: dict):
    """Build the keyed update fn with the history totals (tiny dict
    {event_type: (n_hist, sum_hist)}) captured in the closure — the
    stream-static broadcast for a stateful operator."""

    def _update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        etype = key[0]
        n_h, sum_h = hist[etype]
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf) == 0:
            return
        pdf = pdf.sort_values(["metric_time_ms", "task_id"], ignore_index=True)
        if state.exists:
            s0, peak, trough, peak_t, trough_t, n_seen = state.get
        else:
            s0, peak, trough, peak_t, trough_t, n_seen = 0, None, None, 0, 0, 0
        # Vectorized exact int64 arithmetic — same terms as the batch
        # plan (dev = n_hist·x − Σx_hist; S = running sum), same growth
        # bound documented on cusum_drift.
        dev = n_h * pdf["x"].astype("int64") - sum_h
        s = dev.cumsum() + s0
        i_max, i_min = int(s.idxmax()), int(s.idxmin())
        b_peak, b_trough = int(s.iloc[i_max]), int(s.iloc[i_min])
        # First-attained times (idxmax/idxmin return the FIRST occurrence
        # = min time in the sorted order, matching the batch join-back's
        # MIN(metric_time_ms) WHERE s = extreme); a tie with the prior
        # batches' extreme keeps the EARLIER time.
        if peak is None or b_peak > peak:
            peak, peak_t = b_peak, int(pdf["metric_time_ms"].iloc[i_max])
        if trough is None or b_trough < trough:
            trough, trough_t = b_trough, int(pdf["metric_time_ms"].iloc[i_min])
        s_last = int(s.iloc[-1])
        n_seen += len(pdf)
        state.update((s_last, peak, trough, peak_t, trough_t, n_seen))
        yield pd.DataFrame(
            {
                "event_type": [etype],
                "n_events": [n_seen],
                "cum_peak": [peak],
                "cum_trough": [trough],
                "peak_time_ms": [peak_t],
                "trough_time_ms": [trough_t],
                "drift_score": [max(peak, -trough) / (n_h * n_h)],
            }
        )

    return _update


def run_streaming_cusum(
    spark: SparkSession,
    sf_dir: str,
    stream_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    progress_out: list | None = None,
) -> DataFrame:
    """O62 runner: train the per-type reference level on the history
    table at ``sf_dir``, stream the arrivals (``stream_dir`` or the same
    events table), maintain the running CUSUM per type in keyed state,
    and return the LATEST drift row per type (the row carrying the
    final extremes/changepoints — identical to batch ``cusum_drift``
    when history == streamed series)."""
    hist_tm = task_metrics(
        spark.read.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    )
    hist = {
        r.event_type: (int(r.n), int(r.sx))
        for r in hist_tm.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias("sx"),
        )
        .collect()
    }
    known = list(hist.keys())
    if stream_dir is None:
        tm = task_metrics(events_stream(spark, sf_dir))
    else:
        tm = task_metrics(
            events_stream(
                spark, stream_dir, glob="*.parquet",
                max_files_per_trigger=max_files_per_trigger,
            )
        )
    base = tm.select(
        "event_type",
        "metric_time_ms",
        "task_id",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("x"),
    ).filter(F.col("event_type").isin(known))
    out = base.groupBy("event_type").applyInPandasWithState(
        _make_cusum_update(hist),
        outputStructType=CUSUM_OUTPUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    src, glob = (
        (sf_dir, "events.parquet") if stream_dir is None else (stream_dir, "*.parquet")
    )
    with _AvailableNow(spark, src, glob) as run:
        updates = run.memory(out, "update")
    if progress_out is not None:
        # One update row per (type, micro-batch that saw the type) — the
        # per-type row count proves how many batches the state crossed.
        progress_out.extend(
            (r.event_type, r.n)
            for r in updates.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    w = Window.partitionBy("event_type").orderBy(F.col("n_events").desc())
    return (
        updates.withColumn("_rk", F.row_number().over(w))
        .filter("_rk = 1")
        .drop("_rk")
        .orderBy("event_type")
    )


# --- O65: gap-fill / forward-fill ON INGEST (streaming twin of O27) ----------
# Dashboard sparklines need a DENSE minute grid; on ingest that means
# remembering, per executor, the last emitted minute and the last filled
# value across micro-batches — keyed state again (two BIGINTs per
# executor, bounded forever). Contract: micro-batches deliver WHOLE
# minutes in time order (a live pipeline closes a minute via watermark
# before emitting it — same contract O62 documents for order, here also
# for minute completeness: a minute split across batches would emit its
# per-batch max twice). Under that contract the union of per-batch grid
# emissions is EXACTLY the batch O27 grid, pinned in tests.

GAPFILL_OUTPUT_SCHEMA = (
    "executor_id string, minute bigint, is_observed boolean, filled_bytes bigint"
)
GAPFILL_STATE_SCHEMA = "last_minute bigint, last_value bigint"


def _gapfill_update(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    pdf = pd.concat(list(pdfs), ignore_index=True)
    if len(pdf) == 0:
        return
    per_min = pdf.groupby("minute")["input_bytes_read"].max()
    if state.exists:
        last_minute, last_value = state.get
        start = last_minute + 1
        # contract guard: drop any minute at/before the already-emitted
        # frontier (would double-emit under an out-of-order delivery)
        per_min = per_min[per_min.index >= start]
        if len(per_min) == 0:
            return
    else:
        start, last_value = int(per_min.index.min()), None
    end = int(per_min.index.max())
    minutes, observed, filled = [], [], []
    for m in range(start, end + 1):
        minutes.append(m)
        if m in per_min.index:
            last_value = int(per_min[m])
            observed.append(True)
        else:
            observed.append(False)
        filled.append(last_value)
    state.update((end, int(last_value)))
    yield pd.DataFrame(
        {
            "executor_id": [key[0]] * len(minutes),
            "minute": minutes,
            "is_observed": observed,
            "filled_bytes": filled,
        }
    )


def run_streaming_gap_fill(
    spark: SparkSession,
    sf_dir: str,
    stream_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    progress_out: list | None = None,
) -> DataFrame:
    """O65 runner: stream task metrics, maintain the per-executor fill
    frontier in keyed state, emit the dense minute grid incrementally,
    and return the O27-shaped hourly rollup (row-identical to batch
    ``gap_fill`` under the whole-minutes-in-order contract — pinned in
    ``tests/test_streaming.py`` across a minute-aligned multi-file
    drive)."""
    src = sf_dir if stream_dir is None else stream_dir
    glob = "events.parquet" if stream_dir is None else "*.parquet"
    tm = task_metrics(
        events_stream(
            spark, src, glob=glob, max_files_per_trigger=max_files_per_trigger
        )
    )
    base = tm.select(
        "executor_id",
        F.expr("metric_time_ms DIV 60000").alias("minute"),
        "input_bytes_read",
    )
    out = base.groupBy("executor_id").applyInPandasWithState(
        _gapfill_update,
        outputStructType=GAPFILL_OUTPUT_SCHEMA,
        stateStructType=GAPFILL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    with _AvailableNow(spark, src, glob) as run:
        grid = run.memory(out, "append")
    if progress_out is not None:
        progress_out.append(grid.count())
    return grid.groupBy("executor_id", F.expr("minute DIV 60").alias("hour")).agg(
        F.count(F.lit(1)).alias("n_minutes"),
        F.sum(F.col("is_observed").cast("long")).alias("n_observed"),
        F.sum("filled_bytes").alias("sum_filled_bytes"),
    )


# --- O69: EWMA smoothing ON INGEST (streaming twin of O67) -------------------
# The batch operator's nine lags become EIGHT BIGINTs of keyed state per
# app (plus the emitted-minute frontier) — bounded forever, no window
# re-sort per batch. Contract: whole minutes, in order (O65's contract;
# a split minute would smooth a partial sum). Under it, every emitted
# row — num, den, the single correctly-rounded division, and the
# cross-multiplied spike flag — is BIT-IDENTICAL to batch ewma_smooth
# (pinned in tests/test_streaming.py across an ordered multi-file drive).

EWMA_OUTPUT_SCHEMA = (
    "app_name string, minute_ms bigint, run_ms_sum bigint, ewma_num bigint, "
    "ewma_den bigint, ewma double, is_spike int"
)
EWMA_STATE_SCHEMA = (
    "last_minute bigint, n_hist bigint, l1 bigint, l2 bigint, l3 bigint, "
    "l4 bigint, l5 bigint, l6 bigint, l7 bigint, l8 bigint"
)


def _ewma_update(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    pdf = pd.concat(list(pdfs), ignore_index=True)
    if len(pdf) == 0:
        return
    per_min = pdf.groupby("minute_ms")["run_time_ms"].sum().sort_index()
    if state.exists:
        st = state.get
        last_minute, n_hist = int(st[0]), int(st[1])
        lags = [int(v) for v in st[2 : 2 + min(n_hist, 8)]]
        per_min = per_min[per_min.index > last_minute]
        if len(per_min) == 0:
            return
    else:
        lags = []
    out = {c: [] for c in (
        "minute_ms", "run_ms_sum", "ewma_num", "ewma_den", "ewma", "is_spike"
    )}
    for m, x in per_min.items():
        x = int(x)
        num, den = x * 128, 128
        for i, lv in enumerate(lags[:7], start=1):
            num += lv * (1 << (7 - i))
            den += 1 << (7 - i)
        num_p = den_p = 0
        for i, lv in enumerate(lags[:8], start=1):
            num_p += lv * (1 << (8 - i))
            den_p += 1 << (8 - i)
        out["minute_ms"].append(int(m))
        out["run_ms_sum"].append(x)
        out["ewma_num"].append(num)
        out["ewma_den"].append(den)
        out["ewma"].append(num / den)
        out["is_spike"].append(
            1 if den_p > 0 and x * den_p > 2 * num_p else 0
        )
        lags = ([x] + lags)[:8]
    padded = lags + [0] * (8 - len(lags))
    state.update((int(per_min.index.max()), len(lags), *padded))
    yield pd.DataFrame({"app_name": [key[0]] * len(out["minute_ms"]), **out})


def run_streaming_ewma(
    spark: SparkSession,
    sf_dir: str,
    stream_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    progress_out: list | None = None,
) -> DataFrame:
    """O69 runner: stream task metrics, keep each app's last-8 minute sums
    in keyed state, emit the exact dyadic-EWMA row per minute on ingest.
    Returns every emitted row (the same panel batch ``ewma_smooth``
    computes — bit-identical under the whole-minutes-in-order contract)."""
    src = sf_dir if stream_dir is None else stream_dir
    glob = "events.parquet" if stream_dir is None else "*.parquet"
    tm = task_metrics(
        events_stream(
            spark, src, glob=glob, max_files_per_trigger=max_files_per_trigger
        )
    )
    base = tm.select(
        "app_name",
        F.expr("metric_time_ms DIV 60000 * 60000").alias("minute_ms"),
        "run_time_ms",
    )
    out = base.groupBy("app_name").applyInPandasWithState(
        _ewma_update,
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    with _AvailableNow(spark, src, glob) as run:
        panel = run.memory(out, "append")
    if progress_out is not None:
        progress_out.append(panel.count())
    return panel
