"""Live task-metrics collector — REAL observability of the running app.

This is the direct functional counterpart of the reference's collector
(``source/collector/src/main/scala/com/amazonaws/sparkobservability/
CustomMetricsListener.scala:41-104``): where the reference registers a
SparkListener and accumulates ``CustomTaskMetrics`` per finished task, we
read the SAME metrics from the driver's in-process ``AppStatusStore`` (the
store that backs the status REST API and the UI) and normalize them into
the engine's task-metrics record layout (``CustomMetrics.scala:28-49``
parity — the 16-field record).

The stage→job mapping the reference maintains in its listener
(``onJobStart`` bookkeeping) is reconstructed from the store's job list,
which carries each job's stage ids.

PySpark cannot host a JVM SparkListener without a py4j callback server
(fragile in production); the ``AppStatusListener`` that populates the
store always runs, with or without ``spark.ui.enabled``, so the identical
``TaskMetrics`` values are reachable pull-style through plain driver-side
py4j getter calls. Pulling is also the right shape for a Spark-first
collector: the fetch itself is driver-side and tiny (metrics volume is
O(tasks), unrelated to data volume), and the resulting DataFrame feeds
every group-O dashboard query unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


#: Output schema — field-for-field CustomTaskMetrics parity.
LIVE_TASK_METRICS_SCHEMA = (
    "app_name string, app_id string, job_id long, stage_id long, task_id long,"
    "executor_id string, partition_id long, metrics_type string,"
    "metric_time_ms long, input_bytes_read long, input_records_read long,"
    "run_time_ms long, executor_cpu_time_ms long, peak_execution_memory long,"
    "output_bytes_written long, output_records_written long,"
    "shuffle_bytes_read long, shuffle_records_read long,"
    "shuffle_bytes_written long, shuffle_records_written long"
)


def live_task_metrics(spark: SparkSession, max_stages: int = 200) -> DataFrame:
    """Collect real per-task metrics for this application's completed
    stages (at most ``max_stages``), as a DataFrame in the canonical
    task-metrics layout. Functional parity target: the reference
    listener's per-finished-task accumulation
    (``CustomMetricsListener.scala:41-104``)."""
    sc = spark.sparkContext
    app_id, app_name = sc.applicationId, sc.appName
    store = sc._jsc.sc().statusStore()

    jobs: dict[int, int] = {}
    job_list = store.jobsList(None)
    for i in range(job_list.size()):
        j = job_list.apply(i)
        sids = j.stageIds()
        for k in range(sids.size()):
            jobs[sids.apply(k)] = j.jobId()

    rows = []
    empty_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stage_list = store.stageList(None, False, False, empty_quantiles, None)
    n_stages = 0
    for i in range(stage_list.size()):
        st = stage_list.apply(i)
        if str(st.status()) != "COMPLETE":
            continue
        n_stages += 1
        if n_stages > max_stages:
            break
        tasks = store.taskList(st.stageId(), st.attemptId(), 1_000_000)
        for ti in range(tasks.size()):
            t = tasks.apply(ti)
            opt = t.taskMetrics()
            if not opt.isDefined():
                continue
            m = opt.get()
            inp, outp = m.inputMetrics(), m.outputMetrics()
            shr, shw = m.shuffleReadMetrics(), m.shuffleWriteMetrics()
            rows.append(
                (
                    app_name,
                    app_id,
                    jobs.get(st.stageId(), -1),
                    st.stageId(),
                    t.taskId(),
                    t.executorId(),
                    t.index(),
                    "taskMetrics",
                    t.launchTime().getTime(),
                    inp.bytesRead(),
                    inp.recordsRead(),
                    m.executorRunTime(),
                    # store reports cpuTime in ns; the reference ships ms
                    m.executorCpuTime() // 1_000_000,
                    m.peakExecutionMemory(),
                    outp.bytesWritten(),
                    outp.recordsWritten(),
                    shr.localBytesRead() + shr.remoteBytesRead(),
                    shr.recordsRead(),
                    shw.bytesWritten(),
                    shw.recordsWritten(),
                )
            )
    return spark.createDataFrame(rows, LIVE_TASK_METRICS_SCHEMA)


def live_stage_skewness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end self-observation: run a real marker workload, collect its
    REAL task metrics, and push them through the group-O skewness
    aggregation (the reference's collector → stage-agg path on live data).
    """
    from pyspark.sql import functions as F

    from ..operators.observability import stage_agg_skewness
    from .tables import load_tables

    # marker workload: a scan + shuffle so input and shuffle metrics are real
    t = load_tables(spark, sf_dir)
    t["lineitem"].groupBy("l_returnflag").agg(F.count(F.lit(1))).collect()

    tm = live_task_metrics(spark)
    if not tm.head(1):
        # The marker workload above GUARANTEES completed stages exist, so an
        # empty collection here means the collector itself is broken — fail
        # loudly (repo convention, cf. dup_labels_star's non-convergence raise)
        # instead of emitting a 0-row "success".
        raise RuntimeError(
            "live collector returned no task metrics after the marker "
            "workload; the in-process AppStatusStore yielded no "
            "completed-task rows"
        )
    return stage_agg_skewness(tm)
