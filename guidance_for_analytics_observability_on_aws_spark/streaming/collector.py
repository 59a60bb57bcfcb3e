"""Structured Streaming collector pipeline (O16).

The reference ships telemetry through a push pipeline: listener/appender →
batching ObservabilityClient → OpenSearch Ingestion (HTTP source → route on
``metricsType`` → per-index sinks). The Spark-first equivalent is a
Structured Streaming job:

  file/stream source → telemetry normalization (the SAME ``task_metrics``
  projection the batch path uses — one logical plan, two execution modes) →
  sink partitioned by ``metrics_type`` (= the OSI route), plus a
  watermarked 5-minute windowed rollup (the streaming twin of
  ``stream_metrics_window``).

Batching/flush semantics are owned by the engine (trigger interval +
micro-batch) rather than a hand-rolled buffer — reference parity for the
*semantics* of ObservabilityClient, with Spark's checkpointed
exactly-once file sink replacing the retry/backoff loop.

At scale this runs with RocksDB state store and per-executor parallel file
sources; here it is exercised with ``availableNow`` over the driver
parquet.
"""

from __future__ import annotations

import contextlib
import fnmatch
import os
import shutil
import tempfile
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.telemetry import task_metrics

#: doc_id boundary of the synthetic corpus's "new arrivals" convention:
#: the driver's planted documents carry doc_id ≥ 1e6 (copies/truncations
#: of sub-1e6 originals). The streaming ingest runners treat ids below the
#: boundary as the committed corpus and ids at/above as the arriving batch.
#: A production deployment passes its own boundary (or a corpus frame).
NEW_DOC_BOUNDARY = 1_000_000


#: Target bytes of source input per streaming state/shuffle partition —
#: the stream twin of the CC loops' CC_EDGE_ROWS_PER_PARTITION rule (one
#: ~input-split of work per state task).
STREAM_STATE_BYTES_PER_PARTITION = 64 * 1024 * 1024


def _stream_state_partitions(sf_dir: str, glob: str) -> int | None:
    """State/shuffle partition count for a streaming run, derived from the
    SOURCE FOOTPRINT instead of inherited from the batch shuffle width.

    Every stateful operator opens one state-store instance per shuffle
    partition on every micro-batch (a stream-stream join opens FOUR), and
    each instance pays a RocksDB open+commit regardless of how many rows
    it holds — at the batch default of 32 partitions the O48 interval
    join measured ~86 s of summed commitTimeMs on a finalization batch
    with ZERO input rows and 26 state rows total; the machinery, not the
    data, was the cost. ``max(8, ⌈source_bytes / 64 MiB⌉)`` keeps state
    tasks input-split-sized at any scale (tiny drops stop paying for
    empty stores; a 10 GB drop gets ~160). Deployments whose sources the
    local probe cannot size (object stores) set
    ``GFAOOA_STREAM_STATE_PARTITIONS`` explicitly — sizing failure falls
    back to the session conf unchanged (returns None).
    """
    env = os.environ.get("GFAOOA_STREAM_STATE_PARTITIONS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            # A malformed override must not crash every streaming runner;
            # fall back to the size derivation below (with a breadcrumb).
            import warnings

            warnings.warn(
                "GFAOOA_STREAM_STATE_PARTITIONS=%r is not an integer; "
                "falling back to source-size derivation" % env,
                stacklevel=2,
            )
    total = 0
    try:
        for root, _dirs, files in os.walk(sf_dir):
            for f in files:
                if fnmatch.fnmatch(f, glob):
                    total += os.path.getsize(os.path.join(root, f))
    except OSError:
        return None
    if total <= 0:
        return None
    return max(8, -(-total // STREAM_STATE_BYTES_PER_PARTITION))


#: Serializes _scaled_state_shuffle's session-global conf override — two
#: overlapping streaming runs on one session would otherwise capture each
#: other's temporary width or restore the wrong value (the codebase runs
#: driver-side ThreadPoolExecutor jobs elsewhere; streaming runners must
#: not assume they are alone).
_STATE_OVERRIDE_LOCK = threading.Lock()


@contextlib.contextmanager
def _scaled_state_shuffle(spark: SparkSession, sf_dir: str, glob: str = "*.parquet"):
    """Start a streaming query under the size-derived state partition
    count, restoring the session's batch shuffle width afterwards (shared
    sessions run batch plans next; the stream itself captures the count
    into its checkpoint at query start, so restoring cannot affect it).
    Results are partition-count invariant — only state-task granularity
    and state-store instance count change.

    ``glob`` must be the STREAMED SOURCE's file glob (each runner passes
    its own table, e.g. ``events.parquet``): the sizer walks ``sf_dir``
    for matching files, and the r15 default of ``*.parquet`` summed the
    whole directory footprint, so a tiny drop beside a large unrelated
    table still derived a large state-store count (masked at bench SF
    where everything floors at 8; wrong at any multi-table scale).

    Known residual (documented, guarded by the lock): the override is
    session-global for the stream's lifetime — a batch DataFrame compiled
    on the SAME session inside this window would inherit the stream's
    width. Runners in this codebase never do that (foreachBatch bodies
    deliberately run under the scaled width; concurrent streaming runs
    serialize on the lock), and a per-query width is not expressible via
    writeStream options on this engine version."""
    n = _stream_state_partitions(sf_dir, glob)
    if n is None:
        yield
        return
    key = "spark.sql.shuffle.partitions"
    with _STATE_OVERRIDE_LOCK:
        old = spark.conf.get(key)
        spark.conf.set(key, str(n))
        try:
            yield
        finally:
            spark.conf.set(key, old)


class _AvailableNow:
    """The one lifecycle of an availableNow streaming run.

    ``with _AvailableNow(spark, src, glob, out_dir) as run:`` owns

    * the state width: each run goes start → ``awaitTermination``
      under :func:`_scaled_state_shuffle` sized from ``src``/``glob``, so
      result reads after it keep the session width;
    * the scratch dir ``run.dir``: the caller's ``out_dir`` (kept), else a
      mkdtemp dir created on first use and removed on exit;
    * the memory-sink name: unique per run, so sequential or concurrent
      runs never share (or silently overwrite) a sink;

    and on exit, failure included, stops a still-active query, drops the
    memory view and removes the owned dir. Results read from scratch FILES
    must therefore be collected inside the block (:meth:`collected`);
    results over a memory sink stay lazy — :meth:`memory` returns the
    resolved sink table, which keeps its data after the view is dropped.

    A caller-owned ``out_dir`` that already holds a checkpoint is refused:
    the availableNow run would be a no-op while the stale sink files are
    re-read (or appended to) as fresh results.
    """

    def __init__(
        self, spark: SparkSession, src: str, glob: str, out_dir: str | None = None
    ) -> None:
        if out_dir and os.path.exists(os.path.join(out_dir, "_chk")):
            raise ValueError(
                f"out_dir {out_dir!r} already holds a streaming checkpoint "
                "(_chk); pass a fresh directory per run or delete it first"
            )
        self.spark, self._src, self._glob = spark, src, glob
        self._dir, self._owned_dir, self._name = out_dir, None, None
        self._query = None
        self.progress: list[dict] = []

    def __enter__(self) -> "_AvailableNow":
        return self

    @property
    def dir(self) -> str:
        if self._dir is None:
            self._dir = self._owned_dir = tempfile.mkdtemp(prefix="gfaooa_stream_")
        return self._dir

    def _run(self, writer) -> list[dict]:
        with _scaled_state_shuffle(self.spark, self._src, self._glob):
            self._query = writer.trigger(availableNow=True).start()
            self._query.awaitTermination()
        self.progress = self._query.recentProgress
        return self.progress

    def start(self, writer) -> list[dict]:
        """Run ``writer``, checkpointed at ``<run.dir>/_chk``, to
        completion; returns the finished query's ``recentProgress``."""
        return self._run(writer.option("checkpointLocation", f"{self.dir}/_chk"))

    def foreach_batch(self, df: DataFrame, fn) -> list[dict]:
        return self.start(df.writeStream.foreachBatch(fn))

    def appended(self, df: DataFrame, **sinks) -> list[DataFrame]:
        """Run ``df`` once, appending every micro-batch's ``fn(batch)`` to
        ``<run.dir>/<sub>`` for each ``sub=fn``; returns the sinks read
        back, in argument order (collect what reads them inside the
        block). The per-batch partial path of the additive twins."""

        def _append(batch: DataFrame, batch_id: int) -> None:
            for sub, fn in sinks.items():
                fn(batch).write.mode("append").parquet(f"{self.dir}/{sub}")

        self.foreach_batch(df, _append)
        return [self.spark.read.parquet(f"{self.dir}/{sub}") for sub in sinks]

    def memory(self, df: DataFrame, mode: str) -> DataFrame:
        """Run ``df`` into the run's memory sink; returns the resolved sink
        table (its ``recentProgress`` is left in ``run.progress``)."""
        self._name = f"gfaooa_sink_{uuid.uuid4().hex}"
        writer = df.writeStream.format("memory").queryName(self._name)
        self._run(writer.outputMode(mode))
        return self.spark.table(self._name)

    def collected(self, df: DataFrame) -> DataFrame:
        """``df`` materialized in the JVM before the run dir is removed;
        later reads run no Python-worker stage."""
        return df.localCheckpoint(eager=True)

    def __exit__(self, *exc) -> None:
        try:
            if self._query is not None and self._query.isActive:
                self._query.stop()
        finally:
            if self._name is not None:
                self.spark.catalog.dropTempView(self._name)
            if self._owned_dir is not None:
                shutil.rmtree(self._owned_dir, ignore_errors=True)


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream over the events table. ``glob``/``max_files_per_trigger``
    let callers stream a MULTI-FILE drop directory one file per micro-batch
    (availableNow honors maxFilesPerTrigger as its batch splitter) — the
    shape the bounded-state tests use to drive watermark advancement."""
    schema = (
        spark.read.option("pathGlobFilter", glob).parquet(sf_dir).schema
    )
    reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(sf_dir)


def windowed_rollup(tm_stream: DataFrame) -> DataFrame:
    """Watermarked 5-minute tumbling rollup (streaming twin of O15)."""
    return (
        tm_stream.withWatermark("metric_time", "10 minutes")
        .groupBy(F.window("metric_time", "5 minutes").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("input_bytes_read").alias("sum_input_bytes"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "event_type",
            "n_events",
            "sum_input_bytes",
        )
    )


def run_collector_pipeline(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    """Run the full ingest pipeline to completion (availableNow) and return
    the routing summary (records per metrics_type route) — mirrors the OSI
    metrics-pipeline routing in ``deployment/infra/resources/pipelines/
    metrics-pipeline.yaml``.
    """
    tm = task_metrics(events_stream(spark, sf_dir))
    with _AvailableNow(spark, sf_dir, "events.parquet", out_dir) as run:
        run.start(
            tm.writeStream.format("parquet")
            .option("path", f"{run.dir}/routed")
            .partitionBy("metrics_type")
        )
        routed = spark.read.parquet(f"{run.dir}/routed")
        summary = (
            routed.groupBy("metrics_type")
            .agg(F.count(F.lit(1)).alias("n_records"))
            .orderBy("metrics_type")
        )
        return run.collected(summary)


def run_streaming_stage_agg(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    """Streaming twin of O2: per-stage skewness computed at stage close.

    The reference aggregates a stage's task metrics when the stage
    completes, with all of the stage's tasks in hand
    (``CustomMetricsListener.scala:146-188``) — the skewness formula
    ``max(abs(x - avg(x))) / range(x)`` needs two passes over the group, so
    it is not a single-pass streaming aggregate. ``foreachBatch`` is the
    Spark-first equivalent of "at stage close": each micro-batch runs the
    exact BATCH ``stage_agg_skewness`` plan over the stages it contains and
    appends them to the sink. Stages are contiguous in event time, so with
    micro-batch boundaries aligned to stage boundaries (availableNow here =
    one batch = all stages closed) the output is row-identical to the batch
    operator — asserted in ``tests/test_streaming.py``.
    """
    from ..operators.observability import stage_agg_skewness

    tm = task_metrics(events_stream(spark, sf_dir))
    with _AvailableNow(spark, sf_dir, "events.parquet", out_dir) as run:
        (stages,) = run.appended(tm, stage_agg=stage_agg_skewness)
        return run.collected(stages)


def run_windowed_rollup(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    """Run the watermarked windowed aggregation to completion; returns the
    final window table (equal to the batch O15 rollup minus n_executors).

    Complete-mode memory sink: append mode would withhold the trailing
    windows (the watermark never advances past end-of-stream); complete
    mode emits the full window table, which is what the batch twin computes.
    """
    tm = task_metrics(events_stream(spark, sf_dir))
    with _AvailableNow(spark, sf_dir, "events.parquet") as run:
        return run.memory(windowed_rollup(tm), "complete")


def run_streaming_sessions(
    spark: SparkSession, sf_dir: str, gap_s: int = 1800
) -> DataFrame:
    """O24: NATIVE streaming session windows (gap-merged state), run to
    completion — the streaming twin of the batch O14 gap sessionization.

    ``session_window`` keeps per-key open-session state and merges an event
    into a session while it lands within ``gap_s`` of the session end —
    semantically the batch lag-gap rule (ties at exactly gap differ: batch
    ``> gap`` starts a session, streaming merges strictly-inside only;
    the driver data has millisecond-random timestamps, so exact-gap ties
    do not occur, and the parity test would catch one if it did).
    Complete-mode memory sink for the same end-of-stream reason as
    :func:`run_windowed_rollup`; update mode is rejected for session
    windows and append withholds trailing open sessions.
    """
    tm = task_metrics(events_stream(spark, sf_dir))
    sess = (
        tm.withWatermark("metric_time", "30 minutes")
        .groupBy(
            F.session_window(F.col("metric_time"), f"{gap_s} seconds").alias("sw"),
            F.col("executor_id"),
        )
        .agg(
            F.min("metric_time_ms").alias("session_start_ms"),
            F.max("metric_time_ms").alias("session_end_ms"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "executor_id",
            "session_start_ms",
            "session_end_ms",
            "n_events",
            (F.col("session_end_ms") - F.col("session_start_ms")).alias("duration_ms"),
        )
    )
    with _AvailableNow(spark, sf_dir, "events.parquet") as run:
        return run.memory(sess, "complete")


def run_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O25: exactly-once ingest dedup — watermarked ``dropDuplicates``.

    The reference's client re-sends a whole batch on a retryable failure
    (``ObservabilityClient.scala:281-289``), i.e. delivery is
    at-least-once, and the OpenSearch index absorbs replays by document
    id. The Spark-first equivalent of that idempotent sink is
    ``dropDuplicates`` on the record key under a watermark: per-key state
    is dropped once the key's event time falls behind the watermark, so
    state stays bounded no matter how long the stream runs.

    Exercised by replaying the source TWICE (self-union = a duplicated
    delivery of every record); the output must collapse to the exact
    single-copy rows — asserted against batch distinct in
    ``tests/test_streaming.py``.

    The dedup key is the full record identity (task_id, app_id,
    metric_time) — not task_id alone — so distinct records that ever
    shared a task id would survive; only true replays collapse. Keeping
    the event-time column in the key also lets Spark evict a key's state
    as soon as it falls behind the watermark.
    """
    doubled = events_stream(spark, sf_dir).unionAll(events_stream(spark, sf_dir))
    dedup = (
        task_metrics(doubled)
        .withWatermark("metric_time", "30 minutes")
        .dropDuplicates(["task_id", "app_id", "metric_time"])
        .select("task_id", "app_id", "metrics_type", "metric_time_ms", "value")
    )
    with _AvailableNow(spark, sf_dir, "events.parquet") as run:
        return run.memory(dedup, "append")


def run_streaming_alerts(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    """O37: streaming twin of the alert-rules engine — every micro-batch is
    checked against the rules dimension with the EXACT batch plan via
    ``foreachBatch`` (alerts fire as data arrives, the operational mode of
    the reference's monitor dashboards). Final rollup is row-identical to
    the batch ``alert_rules`` output, asserted in ``tests/test_streaming.py``.
    """
    from ..operators.observability import alert_rollup, alert_violations

    tm = task_metrics(events_stream(spark, sf_dir))
    with _AvailableNow(spark, sf_dir, "events.parquet", out_dir) as run:
        # raw violation rows, not aggregates: the rollup's distinct counts
        # would not merge across batches
        (alerts,) = run.appended(tm, alerts=alert_violations)
        return run.collected(alert_rollup(alerts))


def run_streaming_incremental_dedup(
    spark: SparkSession, sf_dir: str, corpus_boundary: int | None = None
) -> DataFrame:
    """Streaming twin of P8 (incremental dedup) — STREAM-STATIC anti-joins.

    The arriving new-batch stream is probed against the STATIC corpus
    fingerprint dictionaries (exact md5, then X4's sorted-distinct-token
    content fingerprint). Stream-static joins keep NO state: the static
    side is planned per micro-batch (broadcast here; a dictionary too big
    to broadcast shuffle-joins the batch), so this runs forever at
    constant memory — the property that makes dedup-on-ingest viable.

    Kept rows stream to an append-mode sink; per-source kept counts must
    equal the batch P8 ``n_kept`` verdicts, asserted in
    ``tests/test_streaming.py``.
    """
    from ..functions.text import corpus, tokens

    docs_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(docs_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )

    def fps(df: DataFrame) -> DataFrame:
        toks = tokens(F.col("text"))
        return df.select(
            "doc_id",
            "source",
            F.md5("text").alias("exact_fp"),
            F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias(
                "content_fp"
            ),
        )

    boundary = NEW_DOC_BOUNDARY if corpus_boundary is None else corpus_boundary
    new_stream = fps(corpus(stream).filter(F.col("doc_id") >= boundary))
    static_old = fps(
        corpus(spark.read.parquet(f"{sf_dir}/documents.parquet")).filter(
            F.col("doc_id") < boundary
        )
    )
    exact_dict = static_old.select("exact_fp").distinct()
    content_dict = static_old.select("content_fp").distinct()
    kept = new_stream.join(F.broadcast(exact_dict), "exact_fp", "left_anti").join(
        F.broadcast(content_dict), "content_fp", "left_anti"
    )
    with _AvailableNow(spark, sf_dir, "documents.parquet") as run:
        kept = run.memory(kept, "append")
    return (
        kept.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("source")
    )


def run_streaming_media_dedup(
    spark: SparkSession, sf_dir: str, corpus_boundary: int = NEW_DOC_BOUNDARY
) -> DataFrame:
    """M11: media-ingest dedup — M8's byte-exact payload gate as a
    STREAM-STATIC anti-join, the M-group's streaming member (every other
    family carries batch/stream twins; media re-crawls are the
    highest-volume dup source an ingest pipeline sees, and bytes are the
    budget, so dropping them BEFORE they land is worth the most).

    Arriving payloads are fingerprinted with the IDENTICAL definition
    batch M8 uses (``media_fingerprints`` — md5 over raw bytes, modality
    from payload content) and anti-joined per micro-batch against the
    static corpus's (modality, payload_md5) dictionary. ZERO streaming
    state (the O43/P18 ingest pattern): the dictionary is planned per
    micro-batch — broadcast here; at 100 TB it is the persisted
    fingerprint index and the anti-join shuffles the BATCH, never the
    corpus — so ingest runs forever at constant memory. Kept rows stream
    to an append sink; per-modality kept counts and byte volumes must
    equal the batch-computed anti-join (pinned in
    ``tests/test_streaming.py``).
    """
    from ..functions.text import corpus
    from ..operators.multimodal import media_fingerprints

    docs_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(docs_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    new_fp = media_fingerprints(
        None, corpused=corpus(stream).filter(F.col("doc_id") >= corpus_boundary)
    )
    static_dict = (
        media_fingerprints(
            None,
            corpused=corpus(
                spark.read.parquet(f"{sf_dir}/documents.parquet")
            ).filter(F.col("doc_id") < corpus_boundary),
        )
        .select("modality", "payload_md5")
        .distinct()
    )
    kept = new_fp.join(
        F.broadcast(static_dict), ["modality", "payload_md5"], "left_anti"
    )
    with _AvailableNow(spark, sf_dir, "documents.parquet") as run:
        kept = run.memory(kept, "append")
    return (
        kept.groupBy("modality")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("byte_len").cast("long").alias("kept_bytes"),
        )
        .orderBy("modality")
    )


def run_streaming_heavy_hitters(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    """Streaming twin of O30 — SKETCH MERGEABILITY in action.

    Each micro-batch computes its own Count-Min partial (per-key counts
    fanned to buckets, ``cms_key_buckets``) and appends it; the final
    sketch is the SUM of the partials, whose counters are exactly the
    whole-input sketch's counters — so the merged estimates are
    row-identical to batch O30 (asserted in ``tests/test_streaming.py``).
    This is the property that lets 100 TB top-talker dashboards maintain
    a kilobyte of state per window instead of per-key counters.
    """
    from ..operators.observability import cms_key_buckets, cms_topk

    tm = task_metrics(events_stream(spark, sf_dir))
    with _AvailableNow(spark, sf_dir, "events.parquet", out_dir) as run:
        (partials,) = run.appended(tm, partials=cms_key_buckets)
        return run.collected(cms_topk(partials))


def run_streaming_metric_log_join(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    """O48: stream-STREAM correlation join — the live twin of O41's
    error↔metric drill-down, and the one streaming shape the engine did
    not yet exercise.

    Both sides are independent streams (error logs, task metrics) joined
    on executor identity with the range predicate expressed on WATERMARKED
    EVENT-TIME columns (``m_time BETWEEN err_time - 60s AND err_time``) —
    the canonical Structured Streaming interval join. Because the range
    rides on event time, the state store can EVICT rows once the watermark
    passes their join horizon, so this runs forever at bounded state —
    the property that makes a live "what was this executor doing when it
    errored" view viable at 100 TB/day ingest (a non-event-time range
    would accumulate state without bound). Batch parity: the same join +
    rollup computed over the static table must match row-for-row,
    asserted in ``tests/test_streaming.py``.

    Join-key shape (r7): the equi-key is (executor, MINUTE BUCKET), not
    executor alone — the O41 batch trick applied to streaming state. With
    only |executors| keys, the state join degenerates to a per-key scan
    of every stored row within the watermark horizon (quadratic per key:
    measured 94 s for one sf0.1 micro-batch). Fanning each error to its
    own and the previous minute bucket makes every qualifying pair meet
    in EXACTLY one bucket key (the metric's own), cuts per-key state to
    one minute's rows, and took the same sf0.1 run to ~10 s — same
    output, state cardinality |executors|·minutes instead of |executors|.
    """
    errors = (
        task_metrics(events_stream(spark, sf_dir))
        .filter(F.col("metrics_type") == "logs")
        .select(
            F.col("executor_id").alias("e_executor_id"),
            F.col("task_id").alias("err_task_id"),
            F.col("metric_time").alias("err_time"),
        )
        .withWatermark("err_time", "10 minutes")
        # fan each error to its own and the previous minute bucket: any
        # metric within [err-60s, err] lives in exactly one of the two
        .withColumn(
            "bucket",
            F.explode(
                F.array(
                    F.expr("unix_millis(err_time) DIV 60000"),
                    F.expr("unix_millis(err_time) DIV 60000 - 1"),
                )
            ),
        )
    )
    metrics = (
        task_metrics(events_stream(spark, sf_dir))
        .filter(F.col("metrics_type") == "taskMetrics")
        .select(
            F.col("executor_id").alias("m_executor_id"),
            F.col("metric_time").alias("m_time"),
            "input_bytes_read",
        )
        .withWatermark("m_time", "10 minutes")
        .withColumn("m_bucket", F.expr("unix_millis(m_time) DIV 60000"))
    )
    cond = (
        (F.col("e_executor_id") == F.col("m_executor_id"))
        & (F.col("bucket") == F.col("m_bucket"))
        & (F.col("m_time") >= F.col("err_time") - F.expr("INTERVAL 60 SECONDS"))
        & (F.col("m_time") <= F.col("err_time"))
    )
    joined = errors.join(metrics, cond)
    with _AvailableNow(spark, sf_dir, "events.parquet", out_dir) as run:
        pairs = f"{run.dir}/pairs"
        run.start(joined.writeStream.format("parquet").option("path", pairs))
        result = (
            # Explicit schema: a zero-match run leaves the sink dir with only
            # _spark_metadata, and schema inference would throw on it; the
            # rollup must return its empty shape instead.
            spark.read.schema(joined.schema).parquet(pairs)
            .groupBy(F.col("e_executor_id").alias("executor_id"))
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.countDistinct("err_task_id").alias("n_errors_with_context"),
                F.sum("input_bytes_read").alias("bytes_60s"),
            )
            .orderBy("executor_id")
        )
        return run.collected(result)


def run_streaming_rolling_wau(
    spark: SparkSession,
    sf_dir: str,
    window_days: int = 7,
    lateness_days: int = 1,
    events_glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
    progress_out: list | None = None,
) -> DataFrame:
    """Streaming twin of T42 (exact rolling 7-day distinct actives) — the
    retention dashboard family's (T28/T36/T42) first live member.

    The batch window-coverage explode has a natural INCREMENTAL form: each
    arriving event contributes its (user_id, report_day) memberships for
    the ``window_days`` days it covers, and a streaming first-seen dedup
    keyed on exactly that pair emits each membership ONCE across all
    micro-batches (the same trick T36's cohort assignment uses).
    Downstream, rolling WAU per day is then a plain ADDITIVE count of the
    emitted pairs — mergeable across batches with no distinct
    re-aggregation, which is what makes the live dashboard cheap.

    State is bounded by the PRODUCTION watermark: an event-time watermark
    of ``window_days + lateness_days`` drives
    ``dropDuplicatesWithinWatermark``, so a (user, report_day) key's state
    expires once the watermark passes its first-seen event time + delay.
    This is EXACT, not approximate: the events able to generate a given
    (user, report_day) key span at most ``window_days`` of event time
    (report days only look backward), so with in-order-within-lateness
    arrival every potential duplicate lands inside the delay and no
    expired key can ever be legitimately re-emitted — state stays bounded
    by the active window's keys while the emitted rows equal an unbounded
    first-seen dedup's. Parity against batch T42 and the state-row
    ceiling across micro-batches are asserted in
    ``tests/test_streaming.py``.

    ``progress_out`` (a list) receives per-micro-batch
    ``(batch_id, state_rows)`` pairs from the query's progress records so
    callers can observe the state bound without reaching into the query.
    """
    from ..sources.telemetry import normalize_events

    ev = normalize_events(
        events_stream(
            spark,
            sf_dir,
            glob=events_glob,
            max_files_per_trigger=max_files_per_trigger,
        )
    )
    covered = ev.select(
        "user_id", "ts", F.expr("unix_millis(ts) DIV 86400000").alias("day")
    ).select(
        "user_id",
        "ts",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + (window_days - 1))
        ).alias("report_day"),
    )
    firsts = covered.withWatermark(
        "ts", f"{window_days + lateness_days} days"
    ).dropDuplicatesWithinWatermark(["user_id", "report_day"])
    with _AvailableNow(spark, sf_dir, events_glob) as run:
        emitted = run.memory(firsts.drop("ts"), "append")
    if progress_out is not None:
        for p in run.progress:
            for op in p.get("stateOperators", []):
                progress_out.append((p["batchId"], op["numRowsTotal"]))
    # Clip to the data's last day (T42's "every emitted day fully defined"
    # rule). The stream cannot know the corpus max; the batch runner reads
    # it from the static table — in a live deployment this is "report only
    # days up to yesterday", a constant-time predicate.
    last_day = (
        normalize_events(
            spark.read.option("pathGlobFilter", events_glob).parquet(sf_dir)
        )
        .agg(F.max(F.expr("unix_millis(ts) DIV 86400000")).alias("d"))
        .collect()[0]["d"]
    )
    return (
        emitted.filter(F.col("report_day") <= last_day)
        .groupBy("report_day")
        .agg(F.count(F.lit(1)).alias("rolling_active_users"))
        .select(
            (F.col("report_day") * 86400000).alias("report_day_ms"),
            "rolling_active_users",
        )
        .orderBy("report_day_ms")
    )


def run_streaming_tail_sampling(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    """Streaming twin of O60 — tail-based sampling ON INGEST, the shape a
    production trace pipeline actually runs: the per-type p99 thresholds
    are TRAINED on the static history table (one definition —
    ``obs.tail_thresholds``), broadcast into the stream, and every
    micro-batch classifies its records with the exact batch rule
    (``obs.tail_classified``) and appends per-type partial counts. Keep
    counts are ADDITIVE, so the final rollup over partials is
    row-identical to batch O60 on the same data — asserted in
    ``tests/test_streaming.py``. State: none (stream-static broadcast +
    stateless classify), which is why sampling-on-ingest runs forever at
    constant memory.
    """
    from ..operators import observability as obs

    static_tm = task_metrics(
        spark.read.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    )
    thresholds = obs.tail_thresholds(static_tm).localCheckpoint(eager=True)
    tm = task_metrics(events_stream(spark, sf_dir))
    with _AvailableNow(spark, sf_dir, "events.parquet", out_dir) as run:
        (partials,) = run.appended(
            tm, partials=lambda b: obs.tail_sample_partials(b, thresholds)
        )
        merged = obs.merge_partials(partials, obs.TAIL_SAMPLE_OPS)
        return run.collected(obs.tail_sampling_tail(merged))


def run_streaming_near_dedup(
    spark: SparkSession,
    sf_dir: str,
    min_matching: int = 13,
    corpus_boundary: int = NEW_DOC_BOUNDARY,
) -> DataFrame:
    """NEAR-dup dedup ON INGEST (P18) — the stream-static LSH gate that
    completes the ingest-dedup family: P8's streaming twin drops exact
    and content-fingerprint copies; this drops NEAR-duplicates of the
    existing corpus, at sketch cost, before they ever land.

    Index = the existing corpus's MinHash signatures + band buckets (the
    SAME `minhash_signatures`/`band_buckets` definitions the batch D3/D18
    operators use — at 100 TB this is the persisted signature index
    table, signatures ≪ corpus). Each arriving micro-batch computes its
    own signatures (bounded by the batch), probes the band index with a
    broadcast equi-join, confirms candidates with Broder's sketch
    estimate (``n_matching ≥ 13 of 16`` — the D18 verdict; document text
    is never re-scanned), and keeps only unmatched docs. No streaming
    state: the index is static per run (production rebuilds it on a
    cadence from the committed corpus), so ingest runs at constant
    memory; signature computation is a per-doc AGGREGATION, so it runs
    inside ``foreachBatch`` with the exact batch plan (the O20 stage-agg
    pattern — a raw streaming groupBy would be a stateful aggregation
    Spark rightly rejects in append mode). Verdict parity with the batch
    cross-pair D18 computation is asserted in ``tests/test_streaming.py``.
    """
    from ..functions.hashing import MINHASH_AB
    from ..functions.text import corpus, tokens
    from ..operators.dedup import band_buckets, minhash_signatures

    def shingle_base(corpused: DataFrame) -> DataFrame:
        # (doc_id, toks) base for an ALREADY-corpus'd frame — passing such
        # a frame straight into minhash_signatures would re-apply corpus()
        # and plant plants-of-plants (the silent-empty bug this replaced).
        return corpused.select(
            "doc_id", tokens(F.col("text")).alias("toks")
        ).filter(F.size("toks") >= 3)

    k = len(MINHASH_AB)
    docs_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(docs_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    old_docs = corpus(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).filter(F.col("doc_id") < corpus_boundary)
    old_sig = minhash_signatures(None, base=shingle_base(old_docs)).localCheckpoint(
        eager=True
    )
    old_bands = (
        band_buckets(old_sig)
        .select(F.col("doc_id").alias("old_id"), "band_id", "band_hash")
        .localCheckpoint(eager=True)
    )
    old_sig_b = old_sig.select(
        F.col("doc_id").alias("old_id"),
        *[F.col(f"mh{i}").alias(f"o{i}") for i in range(k)],
    ).localCheckpoint(eager=True)

    n_matching = None
    for i in range(k):
        term = F.when(F.col(f"mh{i}") == F.col(f"o{i}"), 1).otherwise(0)
        n_matching = term if n_matching is None else n_matching + term

    # Explicit schema: if no micro-batch carried any doc past the
    # boundary, the kept sink has no parquet footers and a schema-less
    # read raises AnalysisException instead of yielding the correct
    # empty report (the metric-log-join runner's pattern).
    kept_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
        ]
    )
    with _AvailableNow(spark, sf_dir, "documents.parquet") as run:
        kept = f"{run.dir}/kept"

        def _gate_batch(batch_df: DataFrame, batch_id: int) -> None:
            new_docs = corpus(batch_df).filter(F.col("doc_id") >= corpus_boundary)
            new_sig = minhash_signatures(
                None, base=shingle_base(new_docs)
            ).localCheckpoint(eager=True)
            cand = (
                band_buckets(new_sig)
                .join(F.broadcast(old_bands), ["band_id", "band_hash"])
                .select("doc_id", "old_id")
                .distinct()
            )
            confirmed = (
                cand.join(new_sig, "doc_id")
                .join(F.broadcast(old_sig_b), "old_id")
                .withColumn("n_matching", n_matching)
                .filter(F.col("n_matching") >= min_matching)
                .select("doc_id")
                .distinct()
            )
            (
                new_docs.select("doc_id", "source")
                .join(confirmed, "doc_id", "left_anti")
                .write.mode("append")
                .parquet(kept)
            )

        run.foreach_batch(stream, _gate_batch)
        result = (
            spark.read.schema(kept_schema)
            .parquet(kept)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_kept"))
            .orderBy("source")
        )
        return run.collected(result)


def run_streaming_trend_regression(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    """O66: least-squares trend ON INGEST — the streaming twin of O63 by
    SUFFICIENT-STATISTIC ADDITIVITY: (n, Σt, Σx, Σtx, Σt², Σx²) are sums,
    so each micro-batch appends its exact DECIMAL(38,0) partials and the
    closed form runs once over the merged totals — no state at all (the
    O61 zero-state pattern; CMS mergeability made O45 work the same way).
    The per-type time origin t0 is TRAINED on the history table exactly
    like O61's thresholds / O62's reference level, so when history ==
    streamed series the merged totals — hence slope/intercept/r² — are
    BIT-identical to batch O63 (pinned in ``tests/test_streaming.py``).
    """
    from ..operators import observability as obs

    static_tm = task_metrics(
        spark.read.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    )
    t0 = obs.linear_fit_t0(static_tm).localCheckpoint(eager=True)
    tm = task_metrics(events_stream(spark, sf_dir))
    with _AvailableNow(spark, sf_dir, "events.parquet", out_dir) as run:
        (partials,) = run.appended(
            tm, partials=lambda b: obs.linear_fit_partials(b, t0)
        )
        merged = obs.merge_partials(partials, obs.LINEAR_FIT_OPS)
        return run.collected(obs.trend_tail(merged))


def run_streaming_error_budget(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    """O72: SLO error-budget burn-down ON INGEST — the streaming twin of
    O68 by ADDITIVITY (the O66/O61 zero-state pattern): per-(app, day)
    log/error counts are sums, so each micro-batch appends its exact
    BIGINT partials; the final pass merges them and applies the identical
    cumulative-budget tail (RANGE windows + floor allowance +
    cross-multiplied exhaustion). When history == streamed series every
    row is BIT-identical to batch ``error_budget`` (pinned in
    ``tests/test_streaming.py``). In production the merged per-day panel
    is what the morning report reads; no keyed state, constant memory.
    """
    from ..operators import observability as obs

    day = obs.pmod_bucket(86400000, "day_ms")
    tm = task_metrics(events_stream(spark, sf_dir))
    with _AvailableNow(spark, sf_dir, "events.parquet", out_dir) as run:
        (partials,) = run.appended(
            tm, partials=lambda b: obs.error_count_partials(b, "app_name", day)
        )
        per_day = obs.merge_partials(partials, obs.ERROR_COUNT_OPS)
        # the IDENTICAL batch tail — single definition, zero drift possible
        return run.collected(obs.error_budget_tail(per_day))


def run_streaming_burn_rate(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    """O73: multi-window multi-burn-rate alerts ON INGEST — the streaming
    twin of O71 by ADDITIVITY (the O72/O66 zero-state pattern): hourly
    per-app log/error counts are sums, so micro-batches append exact
    BIGINT partials and the merged panel runs O71's IDENTICAL tail
    (``burn_rate_multiwindow_tail`` — single definition, the page/ticket
    inequalities cannot drift). When history == streamed series every row
    is BIT-identical to batch O71 (pinned in ``tests/test_streaming.py``).
    The live deployment evaluates the merged panel per trigger; paging on
    the LAST hour's flags while the AND-of-windows logic stays shared.
    """
    from ..operators import observability as obs

    hour = obs.pmod_bucket(3600000, "hour_ms")
    tm = task_metrics(events_stream(spark, sf_dir))
    with _AvailableNow(spark, sf_dir, "events.parquet", out_dir) as run:
        (partials,) = run.appended(
            tm, partials=lambda b: obs.error_count_partials(b, "app_name", hour)
        )
        per_hour = obs.merge_partials(partials, obs.ERROR_COUNT_OPS)
        return run.collected(obs.burn_rate_multiwindow_tail(per_hour))


def run_streaming_histogram_rollup(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    """O76: percentile-rollup histograms ON INGEST — the streaming twin of
    O75 by ADDITIVITY (the O72/O73 zero-state pattern): fixed-bin counts
    are sums, so each micro-batch appends its exact per-(type, minute,
    bin) BIGINT partials via the SAME ``histogram_minute_partials``
    expression the batch operator scans raw with (single definition — the
    binning cannot drift), and the final pass merges minute partials and
    routes through the IDENTICAL level/percentile tail. When history ==
    streamed series every row is BIT-identical to batch O75 (pinned in
    ``tests/test_streaming.py``) — the property fixed-bin histograms have
    and t-digests don't (merge order-dependence). No keyed state; state
    is the partial files, bounded by types × minutes × n_bins regardless
    of input volume.
    """
    from ..operators import observability as obs

    tm = task_metrics(events_stream(spark, sf_dir))
    with _AvailableNow(spark, sf_dir, "events.parquet", out_dir) as run:
        (partials,) = run.appended(tm, partials=obs.histogram_minute_partials)
        minute = obs.merge_partials(partials, obs.HISTOGRAM_BIN_OPS)
        levels = obs.histogram_levels_from_minutes(minute)
        return run.collected(obs.histogram_percentile_tail(levels))


def run_streaming_alert_flap(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    """O78: alert FLAP detection ON INGEST — the streaming twin of O77 by
    MERGEABILITY (the O76 pattern, with MAX instead of SUM): a minute's
    0/1 firing state is a maximum, and the max of per-batch maxima IS the
    global max, so each micro-batch appends its per-(rule, app, minute)
    states via the SAME ``alert_minute_states`` the batch operator scans
    raw with (single definition — the rule evaluation cannot drift), and
    the final pass max-merges them and routes through the IDENTICAL
    transition/flap tail. When history == streamed series every row is
    BIT-identical to batch O77 (pinned in ``tests/test_streaming.py``).
    No keyed state; the partial volume is bounded by rules × apps ×
    minutes regardless of event volume. The live deployment evaluates
    the merged panel per trigger and suppresses pages for (rule, app)
    rows currently flap-flagged.
    """
    from ..operators import observability as obs

    tm = task_metrics(events_stream(spark, sf_dir))
    with _AvailableNow(spark, sf_dir, "events.parquet", out_dir) as run:
        (partials,) = run.appended(tm, partials=obs.alert_minute_states)
        minute = obs.merge_partials(partials, obs.ALERT_MINUTE_OPS)
        return run.collected(obs.alert_flap_tail(minute))


def run_streaming_red_panel(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | None = None,
    bin_width_ms: int = 100,
    n_bins: int = 32,
) -> DataFrame:
    """O80: RED-method panel ON INGEST — the capstone composition of the
    round's mergeability patterns: per-(app, hour) request/error COUNTS
    are sums (the O72 additive pattern) and duration percentiles come
    from fixed-bin histogram partials (the O75 lossless-merge pattern;
    exact order statistics do NOT merge, which is why live dashboards
    everywhere serve bin-edge percentiles). Each micro-batch appends one
    row-group of count partials and one of (app, hour, bin) duration
    bins; the final pass merges both and emits rate/error columns
    BIT-identical to batch O79 (same counts, same cross-multiplied
    breach — pinned in tests) plus p50/p95/p99 duration bin edges
    bit-identical to ``histogram_percentile_tail`` over a direct batch
    scan (pinned). Zero keyed state; partial volume bounded by apps ×
    hours × n_bins.

    Documented delta vs batch O79: durations are bin LOWER EDGES, not
    exact order statistics — the precision a mergeable streaming
    percentile can honestly offer. ``bin_width_ms`` is the explicit
    precision knob, and the tradeoff is SURFACED per row: each
    percentile carries ``pXX_err_bound_ms`` = the O75 bin-width
    guarantee — the exact order statistic at the tail's OWN rank
    convention (the ``ceil(p·n/100)``-th value, the rank
    ``histogram_percentile_tail``'s bin selection targets) lies in
    ``[pXX_lo, pXX_lo + err_bound]``, pinned in tests against the
    batch-exact value at that rank. Note the convention delta vs batch
    O79, which reports the LOWER order statistic at 0-based rank
    ``floor((n-1)·p)`` — the two ranks can differ by one, so the bound
    is a guarantee about this panel's statistic, not a containment
    claim for O79's column (the panels also report different points:
    p95 here vs p75 there). The bound is NULL exactly when the
    percentile landed in the clamped overflow bin (values ≥
    ``(n_bins-1)·width`` share one bin, so no upper bound can honestly
    be claimed there) — a dashboard consumer sees per row whether the
    ±width guarantee holds or the panel needs more bins.
    """
    from ..operators import observability as obs

    clamp_lo = (int(n_bins) - 1) * int(bin_width_ms)
    err_bounds = [
        F.when(F.col(f"p{p}_lo") < F.lit(clamp_lo), F.lit(int(bin_width_ms) - 1))
        .cast("long")
        .alias(f"p{p}_err_bound_ms")
        for p in (50, 95, 99)
    ]
    hour = obs.div_bucket(3600000, "hour_ms")
    # integer DIV bin index — the repo-wide convention (double division
    # only matches // while values stay below 2^53)
    bin_idx = F.least(
        F.expr(f"run_time_ms DIV {int(bin_width_ms)}"), F.lit(int(n_bins) - 1)
    ).cast("long")
    tm = task_metrics(events_stream(spark, sf_dir))
    with _AvailableNow(spark, sf_dir, "events.parquet", out_dir) as run:
        counts, bins = run.appended(
            tm,
            counts=lambda b: obs.error_count_partials(b, "app_id", hour),
            bins=lambda b: b.groupBy("app_id", hour, bin_idx.alias("bin")).agg(
                F.count(F.lit(1)).cast("long").alias("n")
            ),
        )
        counts = obs.merge_partials(counts, obs.ERROR_COUNT_OPS)
        bins = obs.merge_partials(bins, obs.HISTOGRAM_BIN_OPS).select(
            F.lit("hour").alias("level"),
            F.col("app_id").alias("event_type"),  # tail's generic key slot
            F.col("hour_ms").alias("bucket_ms"),
            "bin",
            "n",
        )
        dur = obs.histogram_percentile_tail(bins, width=bin_width_ms).select(
            F.col("event_type").alias("app_id"),
            F.col("bucket_ms").alias("hour_ms"),
            "p50_lo",
            "p95_lo",
            "p99_lo",
            *err_bounds,
        )
        result = counts.join(dur, ["app_id", "hour_ms"]).select(
            "app_id",
            "hour_ms",
            "n_logs",
            "n_errors",
            F.try_divide(F.col("n_logs"), F.lit(60)).alias("rate_per_min"),
            F.try_divide(F.col("n_errors"), F.col("n_logs")).alias("err_share"),
            (F.col("n_errors") * 100 > 5 * F.col("n_logs"))
            .cast("int")
            .alias("err_breach"),
            "p50_lo",
            "p50_err_bound_ms",
            "p95_lo",
            "p95_err_bound_ms",
            "p99_lo",
            "p99_err_bound_ms",
        )
        return run.collected(result)


def run_streaming_forecast_linear(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    """O81: threshold-crossing forecast ON INGEST — the streaming twin of
    O74 (predict_linear), completing the twin surface over the additive
    regression family: the fit's sufficient statistics (n, Σt, Σx, Σtx,
    Σt²) are SUMS and t_max is a MAX — both mergeable — so each
    micro-batch appends exact DECIMAL(38,0) partials and the shared
    ``forecast_tail`` (ONE definition with batch O74) runs once over the
    merged totals. Zero keyed state (the O66/O72 pattern); the per-type
    time origin t0 is trained on the history table exactly like O66's,
    so when history == streamed series every output column —
    slope/intercept/threshold/crossing/verdict — is BIT-identical to
    batch O74 (pinned in ``tests/test_streaming.py``).
    """
    from ..operators import observability as obs

    static_tm = task_metrics(
        spark.read.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    )
    t0 = obs.linear_fit_t0(static_tm).localCheckpoint(eager=True)
    tm = task_metrics(events_stream(spark, sf_dir))
    with _AvailableNow(spark, sf_dir, "events.parquet", out_dir) as run:
        (partials,) = run.appended(
            tm, partials=lambda b: obs.linear_fit_partials(b, t0)
        )
        merged = obs.merge_partials(partials, obs.LINEAR_FIT_OPS)
        return run.collected(obs.forecast_tail(merged))


def run_streaming_bloom_build(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | None = None,
    corpus_boundary: int = NEW_DOC_BOUNDARY,
) -> DataFrame:
    """D33: the Bloom membership filter MAINTAINED ON INGEST — the
    streaming half of D32, applying the sketch-partial pattern (O70 HLL
    registers, O75 histogram bins) to MEMBERSHIP: each micro-batch of
    corpus keys appends its own (word_idx, bits) ``bit_or`` word partials
    (the shared ``bloom_words`` — one definition with batch D32), and the
    merged filter is the bit_or of partials. The merge is not just
    associative but IDEMPOTENT (a key re-setting its bits is a no-op), so
    the maintained filter is EXACT under any batch split AND under
    at-least-once re-delivery — strictly stronger than the additive
    partials, and surfaced here as the pinned invariant: the merged word
    table is BIT-identical to the batch-built filter, hence the whole
    D32 audit frame (flags, FP counts, theorem column) is row-identical
    (pinned in ``tests/test_streaming.py``). Zero keyed state; partial
    volume bounded by m/32 words per batch.
    """
    from ..functions.text import corpus
    from ..operators.dedup import BLOOM_WORD_OPS, bloom_audit, bloom_keys, bloom_words
    from ..operators.observability import merge_partials

    docs_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(docs_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    old_keys_stream = bloom_keys(corpus(stream)).filter(
        F.col("doc_id") < corpus_boundary
    ).select("key")
    with _AvailableNow(spark, sf_dir, "documents.parquet", out_dir) as run:
        (words,) = run.appended(old_keys_stream, words=bloom_words)
        merged = merge_partials(words, BLOOM_WORD_OPS)
        static = bloom_keys(
            corpus(spark.read.parquet(f"{sf_dir}/documents.parquet"))
        ).localCheckpoint(eager=True)
        old_keys = (
            static.filter(F.col("doc_id") < corpus_boundary).select("key").distinct()
        )
        new_docs = static.filter(F.col("doc_id") >= corpus_boundary)
        return run.collected(bloom_audit(new_docs, merged, old_keys))


def run_streaming_metric_correlation(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    """O82: pairwise metric correlation ON INGEST — the streaming twin of
    O64: the (hour, type) cent sums feeding the Pearson statistics are
    ADDITIVE, so each micro-batch appends its bucket partials (the shared
    ``metric_hour_buckets`` — one definition with batch O64), the final
    pass merges by summation, and the shared ``metric_correlation_tail``
    turns the merged buckets into the identical pair statistics and
    correlations. Zero keyed state (the O66/O72/O81 pattern); partial
    volume bounded by hours × types per batch. Every output column —
    including the IEEE sqrt-based pearson_r — is BIT-identical to batch
    O64 (pinned in ``tests/test_streaming.py``).
    """
    from ..operators import observability as obs

    tm = task_metrics(events_stream(spark, sf_dir))
    with _AvailableNow(spark, sf_dir, "events.parquet", out_dir) as run:
        (buckets,) = run.appended(tm, buckets=obs.metric_hour_buckets)
        merged = obs.merge_partials(buckets, obs.METRIC_HOUR_OPS)
        return run.collected(obs.metric_correlation_tail(merged))


def run_streaming_repeated_spans(
    spark: SparkSession,
    sf_dir: str,
    span_tokens: int = 16,
    corpus_boundary: int = NEW_DOC_BOUNDARY,
) -> DataFrame:
    """D36: span-level scrub ON INGEST — the streaming twin of D35.
    An arriving span is scrubbed iff its hash was seen BEFORE: in the
    committed corpus's span-hash index, in an earlier micro-batch (the
    index is append-only — each batch adds its own hashes after
    processing, the D33/P23 pattern), or earlier within the same batch
    (the D35 canonical window over the index-miss spans). Because
    corpus doc_ids sort below the ingest boundary and batches arrive in
    doc_id order, "seen before" ≡ "not the canonical (first by
    (doc_id, start)) occurrence", so the gate's output over the new
    docs is ROW-IDENTICAL to batch D35 restricted to doc_id ≥ boundary
    (pinned in ``tests/test_streaming.py``).

    Scale shape: the index is HASHES ONLY (one BIGINT dual-polynomial
    hash = 8 bytes/span, ≪ corpus,
    the persisted-index argument of P18/D33); per-batch work = the
    batch's span explode + one equi-join against the index + the
    within-batch window — bounded by the batch, never the corpus. No
    streaming state: membership lives in the index table, so ingest
    runs at constant memory, and the hash-append merge is idempotent
    (re-delivered batches re-add hashes that are already there — the
    anti-join append keeps the index a set).
    """
    from ..functions.text import corpus
    from ..operators.dedup import (
        _span_rows,
        apply_span_scrub,
        non_canonical_spans,
    )
    from ..operators.similarity import _shared_frame

    w = span_tokens
    docs_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(docs_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    old_docs = corpus(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).filter(F.col("doc_id") < corpus_boundary)
    # The committed corpus's span-hash index is SPLIT (r16, guide §5/§6):
    # the corpus-derived base set is a checkpointed frame served through
    # the session shared-frame registry (derived once per session; a
    # fresh process recomputes from parquet), and the on-disk table holds
    # only the per-batch DELTA appends. Pre-r16 the full base set was
    # written to parquet at bootstrap and re-read + re-materialized per
    # batch — two corpus-sized round-trips per run that carried zero
    # information beyond the frame itself. Index semantics are unchanged:
    # the gate's view is always base ∪ deltas-before-this-batch.
    idx0 = _shared_frame(
        "stream-span-index",
        old_docs,
        lambda: _span_rows(old_docs, w).select("span_hash").distinct(),
        w,
        corpus_boundary,
    )
    with _AvailableNow(spark, sf_dir, "documents.parquet") as run:
        index_path = f"{run.dir}/span_index"
        os.makedirs(index_path, exist_ok=True)

        def _scrub_batch(batch_df: DataFrame, batch_id: int) -> None:
            new_docs = corpus(batch_df).filter(
                F.col("doc_id") >= corpus_boundary
            ).localCheckpoint(eager=True)
            spans = _span_rows(new_docs, w).localCheckpoint(eager=True)
            # Materialize the DELTA read BEFORE this batch appends to it
            # (the base side is already a fixed checkpoint).
            deltas = (
                spark.read.schema(idx0.schema)
                .parquet(index_path)
                .localCheckpoint(eager=True)
            )
            index = idx0.unionByName(deltas)
            hits = spans.join(index, "span_hash", "left_semi").select(
                "doc_id", "start"
            )
            miss = spans.join(index, "span_hash", "left_anti")
            scrub = hits.unionByName(non_canonical_spans(miss))
            apply_span_scrub(new_docs, scrub, w).write.mode("append").parquet(
                f"{run.dir}/out"
            )
            # Append-only index growth: this batch's hashes join the set
            # (anti-join keeps it a set — idempotent under re-delivery).
            spans.select("span_hash").distinct().join(
                index, "span_hash", "left_anti"
            ).write.mode("append").parquet(index_path)

        run.foreach_batch(stream, _scrub_batch)
        out_schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("n_tokens", T.LongType()),
                T.StructField("n_scrubbed", T.LongType()),
                T.StructField("text_clean", T.StringType()),
            ]
        )
        result = (
            spark.read.schema(out_schema)
            .parquet(f"{run.dir}/out")
            .orderBy("doc_id")
        )
        return run.collected(result)


def run_streaming_prefix_dedup(
    spark: SparkSession,
    sf_dir: str,
    threshold_pct: int = 80,
    corpus_boundary: int = NEW_DOC_BOUNDARY,
    stream_dir: str | None = None,
    docs_glob: str = "documents.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """D38: LOSSLESS near-dup dedup ON INGEST — the prefix-filter (D31)
    streaming twin, completing the ingest-gate family: P18 gates with a
    probabilistic sketch (LSH bands + MinHash confirm), this gate is
    exact — candidate recall 1.0 by D31's prefix theorem under the
    LEXICOGRAPHIC global order (any fixed total order works; lex needs
    no document-frequency pass, so neither the batch side nor the
    growing index ever recomputes corpus statistics — the property that
    makes the theorem survive ingest) and every candidate is verified
    with D2's exact float-Jaccard before a doc is dropped.

    Index = the committed corpus's sorted shingle ARRAYS (verification
    side) plus their lex-order prefix POSTINGS (candidate side), both
    persisted; each batch appends its KEPT docs' rows to both — the
    D36/D33 append-only growth, idempotent under re-delivery (anti-join
    on doc_id keeps both tables sets). An arriving doc is kept iff no
    already-indexed doc (committed corpus or earlier-kept ingest)
    reaches ``threshold_pct`` Jaccard — with a single availableNow
    batch this is ROW-IDENTICAL per source to batch D31's cross-
    boundary verdicts (pinned in ``tests/test_streaming.py``).

    Scale shape: per-batch work = batch shingle arrays (bounded by the
    batch) + one equi-join of the batch's prefix postings against the
    index postings (both prefix-shrunk; the index side is scalar
    (shingle, doc_id) pairs, NOT arrays, so it shuffles cheaply — the
    D30/D31 array-broadcast pin) + exact verification joins on the two
    array tables (batch side tiny, index side shuffle-hash). No
    streaming state: membership lives in the two index tables, constant
    executor memory at any corpus size.
    """
    from ..functions.text import corpus, tokens
    from ..operators.dedup import _jaccard_col, lex_prefix_rows
    from ..functions.text import shingles

    pct = int(threshold_pct)
    src = stream_dir if stream_dir is not None else sf_dir
    docs_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    reader = spark.readStream.schema(docs_schema).option(
        "pathGlobFilter", docs_glob
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(src)
    toks = tokens(F.col("text"))

    def sorted_arrays(corpused: DataFrame) -> DataFrame:
        return (
            corpused.select("doc_id", toks.alias("toks"))
            .filter(F.size("toks") >= 3)
            .select(
                "doc_id", F.array_sort(shingles(F.col("toks"))).alias("sh")
            )
        )

    old_docs = corpus(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).filter(F.col("doc_id") < corpus_boundary)
    # Both committed-side index tables are SPLIT like D36's span index
    # (r16, guide §5/§6): base = checkpointed shared frames (derived once
    # per session, recomputed from parquet by any fresh process), disk =
    # per-batch DELTA appends only. Pre-r16 both tables were written
    # whole at bootstrap and re-read + re-materialized per batch. The
    # gate's view stays base ∪ deltas-before-this-batch, so verdicts are
    # unchanged (the D31 parity pin covers this).
    from ..operators.similarity import _shared_frame

    arrays0 = _shared_frame(
        "stream-prefix-arrays", old_docs, lambda: sorted_arrays(old_docs), corpus_boundary
    )
    prefix0 = _shared_frame(
        "stream-prefix-postings",
        old_docs,
        lambda: lex_prefix_rows(arrays0, pct),
        pct,
        corpus_boundary,
    )
    with _AvailableNow(spark, src, docs_glob) as run:
        arr_path, pre_path = f"{run.dir}/index_arrays", f"{run.dir}/index_prefix"
        os.makedirs(arr_path, exist_ok=True)
        os.makedirs(pre_path, exist_ok=True)

        def _gate_batch(batch_df: DataFrame, batch_id: int) -> None:
            new_docs = corpus(batch_df).filter(
                F.col("doc_id") >= corpus_boundary
            ).localCheckpoint(eager=True)
            new_arrays = sorted_arrays(new_docs).localCheckpoint(eager=True)
            # Materialize both DELTA reads BEFORE this batch appends to them
            # (the base sides are already fixed checkpoints).
            index_arr = arrays0.unionByName(
                spark.read.schema(arrays0.schema)
                .parquet(arr_path)
                .localCheckpoint(eager=True)
            )
            index_pre = prefix0.unionByName(
                spark.read.schema(prefix0.schema)
                .parquet(pre_path)
                .localCheckpoint(eager=True)
            )
            cand = (
                lex_prefix_rows(new_arrays, pct)
                .join(
                    index_pre.select(
                        F.col("doc_id").alias("old_id"), "shingle"
                    ),
                    "shingle",
                )
                .select("doc_id", "old_id")
                .distinct()
            )
            inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
            dropped = (
                cand.join(
                    new_arrays.select("doc_id", F.col("sh").alias("sh_a")),
                    "doc_id",
                )
                .join(
                    index_arr.hint("shuffle_hash").select(
                        F.col("doc_id").alias("old_id"),
                        F.col("sh").alias("sh_b"),
                    ),
                    "old_id",
                )
                .select(
                    "doc_id",
                    inter.alias("intersection_size"),
                    F.size("sh_a").cast("long").alias("size_a"),
                    F.size("sh_b").cast("long").alias("size_b"),
                )
                .withColumn("jaccard", _jaccard_col())
                .filter(F.col("jaccard") >= pct / 100.0)
                .select("doc_id")
                .distinct()
                .localCheckpoint(eager=True)
            )
            kept_docs = new_docs.join(dropped, "doc_id", "left_anti")
            kept_docs.select("doc_id", "source").write.mode("append").parquet(
                f"{run.dir}/kept"
            )
            new_docs.join(dropped, "doc_id", "left_semi").select(
                "doc_id", "source"
            ).write.mode("append").parquet(f"{run.dir}/dropped")
            # Append-only index growth: kept docs join the gate's view of the
            # corpus (anti-join keeps both tables sets under re-delivery).
            kept_arrays = new_arrays.join(
                kept_docs.select("doc_id"), "doc_id", "left_semi"
            ).join(index_arr.select("doc_id"), "doc_id", "left_anti")
            kept_arrays.write.mode("append").parquet(arr_path)
            lex_prefix_rows(kept_arrays, pct).write.mode("append").parquet(
                pre_path
            )

        run.foreach_batch(stream, _gate_batch)
        route_schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("source", T.StringType()),
            ]
        )

        def routed(path: str, verdict: str) -> DataFrame:
            return (
                spark.read.schema(route_schema)
                .parquet(path)
                .groupBy("source")
                .agg(F.count(F.lit(1)).alias("n"))
                .withColumn("verdict", F.lit(verdict))
            )

        result = (
            routed(f"{run.dir}/kept", "kept")
            .unionByName(routed(f"{run.dir}/dropped", "dropped"))
            .groupBy("source")
            .agg(
                F.coalesce(
                    F.sum(F.when(F.col("verdict") == "kept", F.col("n"))),
                    F.lit(0),
                ).cast("long").alias("n_kept"),
                F.coalesce(
                    F.sum(F.when(F.col("verdict") == "dropped", F.col("n"))),
                    F.lit(0),
                ).cast("long").alias("n_dropped"),
            )
            .orderBy("source")
        )
        return run.collected(result)


def semantic_gate_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    *,
    centroids: DataFrame,
    mns: list[int],
    rngs: list[int],
    codes_path: str,
    vecs_path: str,
    out_dir: str,
    tau: float,
    base_codes: DataFrame,
    base_vecs: DataFrame,
    crash_between_appends: bool = False,
) -> None:
    """One D41 gate batch (the ``foreachBatch`` body of
    :func:`run_streaming_semantic_dedup`, module-level so the crash-seam
    replay semantics are directly testable): assign the batch, anti-join
    the CODES index for the new rows, shortlist on the lossless SQ8
    integer cosine bound, exact re-rank on full vectors, write per-batch
    verdicts (overwrite = idempotent), then grow the index — VECTORS
    BEFORE CODES. New-row detection anti-joins the CODES index, so the
    crash seam must leave the index in one of two replay-safe states:
    (codes ∧ vecs) = fully applied, or (vecs only) = replay re-appends
    BOTH and the shortlist-sized dropDuplicates absorbs the vector-store
    duplicate. The reverse order would strand codes-only rows whose
    vectors never backfill — the inner vecs join would then silently
    drop every pair against them (permanent under-removal).
    ``crash_between_appends`` is the test hook that aborts exactly on
    that seam.

    ``base_codes``/``base_vecs``: the committed-side BASE frames of the
    split index — ``codes_path`` / ``vecs_path`` hold only the per-batch
    delta appends, and the gate's index view is base ∪ deltas."""
    from ..functions.vectors import cosine6, dot
    from ..operators.similarity import (
        N_SPLITS,
        PLANT_OFFSET,
        _quantized,
        _sub_block,
        assign_cells,
        augmented_embeddings,
        sq8_encode,
    )

    mns_arr = F.array(*[F.lit(m).cast("long") for m in mns])
    rngs_arr = F.array(*[F.lit(g).cast("long") for g in rngs])
    encoded = lambda assigned: sq8_encode(assigned, mns, rngs)  # noqa: E731

    arriving = assign_cells(
        _quantized(
            augmented_embeddings(batch_df).filter(F.col("vec_id") >= PLANT_OFFSET),
            barrier_key="vec_id",
        ),
        centroids,
    ).localCheckpoint(eager=True)
    # Materialize the (small) delta read BEFORE this batch appends to it;
    # the base carries the committed side as an already-fixed checkpoint.
    index_codes = base_codes.unionByName(
        spark.read.schema(base_codes.schema)
        .parquet(codes_path)
        .localCheckpoint(eager=True)
    )
    new_rows = arriving.join(
        index_codes.select("vec_id"), "vec_id", "left_anti"
    ).localCheckpoint(eager=True)
    watermark = index_codes.agg(F.max("vec_id")).first()[0]
    bounds = new_rows.agg(
        F.count(F.lit(1)).alias("n"), F.min("vec_id").alias("lo")
    ).first()
    if bounds.n > 0 and watermark is not None and bounds.lo <= watermark:
        raise ValueError(
            f"out-of-order ingest: batch {batch_id} carries new vec_id "
            f"{bounds.lo} at/below the index watermark {watermark}; "
            "the gate's verdicts would silently diverge from batch D39"
        )
    # Candidates = codes index ∪ this batch's NEW rows (encoded with
    # the committed stats) — the a.vec_id < b.vec_id predicate keeps
    # the union safe, and re-delivered rows are already in the index.
    a = (
        index_codes.unionByName(encoded(new_rows))
        .withColumn(
            "t", F.explode(F.array(*[F.lit(i) for i in range(N_SPLITS)]))
        )
        .alias("a")
    )
    b = (
        arriving.withColumn("sub", _sub_block())
        .withColumn(
            "qbr", F.zip_with(F.col("qv"), rngs_arr, lambda v, g: v * g)
        )
        .withColumn(
            "b_const",
            F.lit(255) * dot(F.col("qv"), mns_arr)
            + F.aggregate(
                F.zip_with(
                    F.col("qv"), rngs_arr, lambda v, g: F.greatest(v, F.lit(0)) * g
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        .alias("b")
    )
    shortlist = (
        a.join(
            b,
            (F.col("a.cell_id") == F.col("b.cell_id"))
            & (F.col("a.t") == F.col("b.sub"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("b.vec_id").alias("vec_id"),
            F.col("b.cell_id").alias("cell_id"),
            F.col("a.vec_id").alias("a_id"),
            F.col("a.nrm").alias("a_nrm"),
            F.col("b.qv").alias("b_qv"),
            F.col("b.nrm").alias("b_nrm"),
            (
                (dot(F.col("b.qbr"), F.col("a.codes")) + F.col("b.b_const"))
                / F.lit(255.0)
                / F.sqrt(
                    F.col("a.nrm").cast("double")
                    * F.col("b.nrm").cast("double")
                )
            ).alias("ub_cos"),
        )
        .filter(F.col("ub_cos") >= tau - 1e-6)
    )
    vecs = base_vecs.unionByName(
        spark.read.schema(base_vecs.schema).parquet(vecs_path)
    ).unionByName(new_rows.select("vec_id", "qv"))
    # dropDuplicates on the SHORTLIST-sized frame absorbs the one
    # reachable half-applied state (vecs appended, codes not — see the
    # append order below): duplicate a_id rows carry identical vectors,
    # so the dedupe is exact and bounded by the shortlist.
    removals = (
        shortlist.join(
            vecs.select(
                F.col("vec_id").alias("a_id"), F.col("qv").alias("a_qv")
            ),
            "a_id",
        )
        .dropDuplicates(["vec_id", "a_id"])
        .select(
            "vec_id",
            "cell_id",
            "a_id",
            cosine6(
                dot(F.col("a_qv"), F.col("b_qv")),
                F.col("a_nrm"),
                F.col("b_nrm"),
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= tau)
        .groupBy("vec_id", "cell_id")
        .agg(
            F.min("a_id").alias("keeper_id"),
            F.count(F.lit(1)).cast("long").alias("n_dup_neighbors"),
            F.max("cosine").alias("max_cosine"),
        )
    )
    # Per-batch verdict path + overwrite = idempotent re-delivery.
    removals.write.mode("overwrite").parquet(
        f"{out_dir}/batch-{int(batch_id):05d}"
    )
    # Append-only index growth: NEW rows only (already anti-joined),
    # VECTORS BEFORE CODES (see docstring).
    new_rows.select("vec_id", "qv").write.mode("append").parquet(vecs_path)
    if crash_between_appends:
        raise RuntimeError("injected crash between vecs and codes appends")
    encoded(new_rows).write.mode("append").parquet(codes_path)


def run_streaming_semantic_dedup(
    spark: SparkSession,
    sf_dir: str,
    stream_dir: str | None = None,
    emb_glob: str = "embeddings.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """D41: SemDeDup ON INGEST — the D39 gate as a stream, giving the
    ingest-gate family its semantic member (P18 gates on LSH sketches,
    D33 on Bloom bits, D36 on exact span hashes, D38 on exact Jaccard —
    all CONTENT-hash gates; an arriving paraphrase or re-encode passes
    every one of them and only the embedding gate catches it).

    Index = the committed corpus's assigned frame in the CODE-BYTES
    posture (vec_id, cell_id, SQ8 codes, norm — D24's per-dimension
    min/max codec, one byte per dim on disk vs eight for the raw
    quantized vector); a separate cold FULL-VECTOR store is touched only
    for shortlisted candidates. Centroids derive from the committed
    corpus (the shared ``semantic_centroids``/``assign_cells``
    definitions, so an arriving vector can never land in a different
    cell than batch D39 would put it). Per batch:

    1. assign the batch; NEW rows = arriving anti-joined against the
       index (so a re-delivered batch sees each candidate ONCE — the
       failed attempt's index append cannot double-count neighbors);
    2. the (cell, sub)-keyed join runs against the CODES index with an
       integer UPPER BOUND on the cosine (true-floor decode interval:
       255·val ∈ [E, E+rng) with E = 255·mn + code·rng, so
       255·dot ≤ Σ q_d·E_d + Σ max(q_d,0)·rng_d — all BIGINT, LOSSLESS:
       no pair whose exact cosine reaches τ can fail the bound);
    3. survivors fetch full vectors from the cold store and the EXACT
       ``cosine6`` decides at τ — verdicts are therefore byte-identical
       to running ``semantic_removals`` on raw vectors (candidates =
       index ∪ new arrivals; the ``a.vec_id < b.vec_id`` predicate makes
       the union safe), and the WHOLE batch still joins the index (batch
       D39's chain semantics);
    4. verdicts land at a PER-BATCH path (overwrite) and index growth is
       anti-joined — both idempotent under at-least-once re-delivery.

    Ordering guard: row-identity to batch D39 needs batches in ascending
    vec_id order (a later-arriving LOWER id cannot retroactively remove
    an already-kept higher id — the gate never re-opens past verdicts).
    The gate FAILS LOUDLY (ValueError) when a batch carries new ids at
    or below the index watermark instead of silently under-removing;
    pure re-delivery (no new ids) passes.

    Zero streaming state: membership lives in the index tables; per-batch
    work = one broadcast centroid assign + one codes-only join bounded by
    the batch and its touched cells + an exact re-rank bounded by the
    shortlist. Arriving values outside the committed per-dim range simply
    take codes outside [0, 255] — the true-floor interval bound stays
    valid (production would refresh stats on drift; the codec needs no
    training state either way).
    """
    from ..operators.similarity import (
        _quantized,
        _resolve_centroids,
        assign_cells,
        semantic_centroids,
        sq8_encode,
        sq8_stats,
    )
    from ..operators.similarity import SEMANTIC_TAU as _TAU

    src = stream_dir if stream_dir is not None else sf_dir
    emb_schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    reader = spark.readStream.schema(emb_schema).option(
        "pathGlobFilter", emb_glob
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(src)

    raw = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    committed = _quantized(raw, barrier_key="vec_id")
    # Derived k over the FINAL corpus (committed + the planted arrival
    # set — what batch D39 clusters), so the gate's cells are the cells
    # batch D39 would assign. k << PLANT_OFFSET, so the first-k centroid
    # vectors all live on the committed side. Production pins k in the
    # index metadata at build time for the same reason.
    n_centroids = _resolve_centroids(raw, None)
    centroids = semantic_centroids(committed, n_centroids).localCheckpoint(
        eager=True
    )
    cells = assign_cells(committed, centroids).localCheckpoint(eager=True)

    # SQ8 stats over the COMMITTED corpus (shared codec helpers —
    # similarity.py::sq8_stats/sq8_encode, so the SCALE probe measures
    # exactly the bytes this gate persists).
    mns, rngs = sq8_stats(cells)

    # The committed-side CODES and VECTORS index tables are SPLIT like
    # D36/D38's (r16, guide §5/§6): base = in-run materialized frames
    # (codes via one checkpoint; vectors as a narrow projection of the
    # already-checkpointed cells), disk = per-batch DELTA appends only.
    # Pre-r16 both tables were written whole at bootstrap (the vector
    # table is the full corpus at 8 bytes/dim — the largest write any
    # ingest gate paid) and the codes table re-read + re-materialized
    # per batch. The gate's view stays base ∪ deltas-before-this-batch,
    # and the crash-seam replay algebra is unchanged (deltas only).
    with _AvailableNow(spark, src, emb_glob) as run:
        codes_path, vecs_path = f"{run.dir}/index_codes", f"{run.dir}/index_vecs"
        base_codes = sq8_encode(cells, mns, rngs).localCheckpoint(eager=True)
        base_vecs = cells.select("vec_id", "qv")
        os.makedirs(codes_path, exist_ok=True)
        os.makedirs(vecs_path, exist_ok=True)
        tau = float(_TAU)

        def _gate_batch(batch_df: DataFrame, batch_id: int) -> None:
            semantic_gate_batch(
                spark,
                batch_df,
                batch_id,
                centroids=centroids,
                mns=mns,
                rngs=rngs,
                codes_path=codes_path,
                vecs_path=vecs_path,
                out_dir=f"{run.dir}/out",
                tau=tau,
                base_codes=base_codes,
                base_vecs=base_vecs,
            )

        run.foreach_batch(stream, _gate_batch)
        out_schema = T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("cell_id", T.LongType()),
                T.StructField("keeper_id", T.LongType()),
                T.StructField("n_dup_neighbors", T.LongType()),
                T.StructField("max_cosine", T.DoubleType()),
            ]
        )
        result = (
            spark.read.schema(out_schema)
            .option("recursiveFileLookup", "true")
            .parquet(f"{run.dir}/out")
            .orderBy("vec_id")
        )
        return run.collected(result)


def run_streaming_paragraph_decon(
    spark: SparkSession, sf_dir: str, threshold_pct: int = 80
) -> DataFrame:
    """PARAGRAPH decontamination ON INGEST (P33) — the streaming twin of
    P32, completing the decontamination family's ingest surface the way
    P18/D38/D41 did for near-dup/prefix/semantic dedup: a training doc
    carrying a benchmark fragment should be quarantined BEFORE it lands
    in the corpus, not found by a nightly sweep after.

    Index = the benchmark slice's shingle arrays + exploded shingle
    index (the SAME ``_bench_shingle_frames`` definition batch P32
    broadcasts — benchmarks are small by definition, so the index is a
    static broadcast at any corpus scale). Each arriving micro-batch
    runs the identical paragraph projection (``_train_paragraph_
    shingles`` — corpus augmentation, D43 windowing, bench originals
    excluded) and the identical lossless prefix-filter + exact-verify
    join (``_paragraph_leak_pairs``); docs with ≥1 leaked paragraph are
    quarantined, the rest append to the kept sink. ZERO streaming state
    (the O43/P18 pattern): the gate is per-doc against a static index,
    so per-batch verdicts compose to exactly the batch P32 result —
    kept/quarantined counts are pinned row-identical to the batch
    computation in ``tests/test_streaming.py``. Per-batch work is
    bounded by the batch (windows ∝ batch tokens; prefix explode
    ≈ 0.2·|p|+1 shingles per window against a broadcast)."""
    from ..functions.text import corpus
    from ..operators.dedup import PARA_KEY
    from ..operators.pipeline import (
        _bench_shingle_frames,
        _paragraph_leak_pairs,
        _train_paragraph_shingles,
    )

    docs_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(docs_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    bench_sh, bench_idx = _bench_shingle_frames(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )

    with _AvailableNow(spark, sf_dir, "documents.parquet") as run:
        def _gate_batch(batch_df: DataFrame, batch_id: int) -> None:
            para = _train_paragraph_shingles(batch_df).localCheckpoint(eager=True)
            flagged = (
                _paragraph_leak_pairs(
                    para, bench_sh, bench_idx, pct=int(threshold_pct)
                )
                .select(
                    F.expr(f"pid DIV {PARA_KEY}").cast("long").alias("doc_id")
                )
                .distinct()
            )
            is_bench = (F.col("doc_id") < 1000000) & (F.col("doc_id") % 25 == 0)
            (
                corpus(batch_df)
                .filter(~is_bench)
                .select("doc_id", "source")
                .join(flagged, "doc_id", "left_anti")
                .write.mode("append")
                .parquet(f"{run.dir}/kept")
            )

        run.foreach_batch(stream, _gate_batch)
        kept_schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("source", T.StringType()),
            ]
        )
        result = (
            spark.read.schema(kept_schema)
            .parquet(f"{run.dir}/kept")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_kept"))
            .orderBy("source")
        )
        return run.collected(result)
