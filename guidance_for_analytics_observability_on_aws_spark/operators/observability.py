"""Observability operators — reference parity group O.

Each function is the Spark-first re-expression of a computation the
reference performs either in its Scala collector
(``CustomMetricsListener.scala``, ``ObservabilityClient.scala``,
``CollectorAppender.scala``) or in its OpenSearch dashboards
(``deployment/.../dashboards/data-skew.ndjson``). Everything is declarative
DataFrame API (JVM-side, whole-stage-codegen friendly); no Python UDFs.

Scale notes (100 TB posture):
- ``stage_agg_skewness`` does ONE shuffle (partial-aggregated groupBy) and a
  broadcast join back for the second pass — the stats side is one row per
  stage, orders of magnitude smaller than the input.
- All window operators partition by bounded-cardinality keys (executor), so
  per-partition sorts stay in memory; skewed executors are handled by AQE.
- Dashboards queries are pure groupBy aggregations with map-side combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

STAGE_KEYS = ["app_name", "app_id", "job_id", "stage_id"]


def merge_partials(partials: DataFrame, ops: dict[str, str]) -> DataFrame:
    """The one merge of mergeable partial rows (micro-batches, days,
    clusters): group by every column NOT named in ``ops`` and fold each
    named column with ``F.<op>`` (``sum``/``max``/``bit_or``), cast back
    to the partial's own type — so a merged frame has the partial's schema
    and any tail reads it as if one pass had produced it. Each family
    declares its ``*_OPS`` once, next to its partial function."""
    types = dict(partials.dtypes)
    keys = [c for c in partials.columns if c not in ops]
    return partials.groupBy(*keys).agg(
        *[getattr(F, op)(c).cast(types[c]).alias(c) for c, op in ops.items()]
    )


def pmod_bucket(width_ms: int, name: str) -> F.Column:
    """``metric_time_ms`` floored to a ``width_ms`` bucket via ``pmod``
    (the SLO panels' convention; :func:`div_bucket` differs for negative
    times, so callers keep whichever their oracle uses)."""
    t = F.col("metric_time_ms")
    return (t - F.pmod(t, F.lit(width_ms))).alias(name)


def div_bucket(width_ms: int, name: str) -> F.Column:
    """``metric_time_ms`` truncated toward zero to a ``width_ms`` bucket
    (``DIV w * w``) — the O54/O79 hour convention, shared by the RED
    panel and its streaming twin so a pre-1970 time lands in the same
    bucket in both."""
    w = int(width_ms)
    return F.expr(f"metric_time_ms DIV {w} * {w}").alias(name)


def task_metrics_table(tm: DataFrame) -> DataFrame:
    """O1: the normalized task-metrics table (CustomTaskMetrics parity)."""
    from ..sources.telemetry import ID_COLUMNS, METRIC_COLUMNS

    return tm.select(*ID_COLUMNS, *METRIC_COLUMNS)


def stage_agg_skewness(tm: DataFrame) -> DataFrame:
    """O2: per-stage skewness aggregation.

    Exact formula parity with ``CustomMetricsListener.collectStageCustomMetrics``
    (reference ``CustomMetricsListener.scala:146-188``):
    ``skewness = max(|x - avg(x)|) / range(x)`` with ``range==0 → 1``,
    computed for inputBytesRead and shuffleBytesRead; plus the max of each.

    Single-pass plan: ``max(|x - avg|)`` is always attained at an extreme,
    so it equals ``greatest(max - avg, avg - min)`` — bit-identical in
    IEEE doubles (subtraction by a common value is monotone, negation is
    exact), which means min/max/sum/count in ONE aggregation suffice. No
    join-back, no second scan of the fact table, map-side partial
    aggregation all the way — at 100 TB this is one shuffle of tiny
    per-stage partials instead of two passes over every task row.
    """
    agg = tm.groupBy(*STAGE_KEYS).agg(
        F.count(F.lit(1)).alias("n_tasks"),
        F.sum("input_bytes_read").alias("sum_in"),
        F.max("input_bytes_read").alias("max_input_bytes_read"),
        F.min("input_bytes_read").alias("min_in"),
        F.sum("shuffle_bytes_read").alias("sum_sh"),
        F.max("shuffle_bytes_read").alias("max_shuffle_bytes_read"),
        F.min("shuffle_bytes_read").alias("min_sh"),
        F.max("metric_time_ms").alias("metric_time_ms"),
    )
    avg_in = F.col("sum_in") / F.col("n_tasks")
    avg_sh = F.col("sum_sh") / F.col("n_tasks")
    agg = agg.withColumns(
        {
            "max_in_dist": F.greatest(
                F.col("max_input_bytes_read") - avg_in, avg_in - F.col("min_in")
            ),
            "max_sh_dist": F.greatest(
                F.col("max_shuffle_bytes_read") - avg_sh,
                avg_sh - F.col("min_sh"),
            ),
        }
    )
    range_in = F.when(
        F.col("max_input_bytes_read") - F.col("min_in") == 0, F.lit(1)
    ).otherwise(F.col("max_input_bytes_read") - F.col("min_in"))
    range_sh = F.when(
        F.col("max_shuffle_bytes_read") - F.col("min_sh") == 0, F.lit(1)
    ).otherwise(F.col("max_shuffle_bytes_read") - F.col("min_sh"))
    return agg.select(
        *STAGE_KEYS,
        (F.col("max_in_dist") / range_in).alias("input_bytes_read_skewness"),
        F.col("max_input_bytes_read"),
        (F.col("max_sh_dist") / range_sh).alias("shuffle_bytes_read_skewness"),
        F.col("max_shuffle_bytes_read"),
        F.col("metric_time_ms"),
        F.col("n_tasks"),
    )


def _skew_bucket(col: F.Column) -> F.Column:
    # Dashboard pie-chart ranges [0,.1,.5,.8,1] (data-skew.ndjson).
    return (
        F.when(col < 0.1, "0.0-0.1")
        .when(col < 0.5, "0.1-0.5")
        .when(col < 0.8, "0.5-0.8")
        .otherwise("0.8-1.0")
    )


def skew_distribution(tm: DataFrame) -> DataFrame:
    """O3: distribution of jobs/stages per skewness range bucket."""
    agg = stage_agg_skewness(tm)
    parts = []
    for metric, col in [
        ("input", "input_bytes_read_skewness"),
        ("shuffle", "shuffle_bytes_read_skewness"),
    ]:
        parts.append(
            agg.select(
                F.lit(metric).alias("metric"),
                _skew_bucket(F.col(col)).alias("skew_bucket"),
                F.col("app_id"),
                F.col("job_id"),
            )
        )
    both = parts[0].unionByName(parts[1])
    return both.groupBy("metric", "skew_bucket").agg(
        F.count(F.lit(1)).alias("n_stages"),
        F.countDistinct(
            F.concat_ws("/", F.col("app_id"), F.col("job_id").cast("string"))
        ).alias("n_jobs"),
    )


def app_summary(tm: DataFrame) -> DataFrame:
    """O4: dashboard metric tiles — totals per application run."""
    return tm.groupBy("app_name", "app_id").agg(
        F.count(F.lit(1)).alias("n_tasks"),
        F.sum("run_time_ms").alias("total_run_time_ms"),
        F.sum("executor_cpu_time_ms").alias("total_cpu_time_ms"),
        F.sum("input_bytes_read").alias("total_input_bytes"),
        F.sum("input_records_read").alias("total_input_records"),
        F.sum("output_bytes_written").alias("total_output_bytes"),
        F.sum("output_records_written").alias("total_output_records"),
        F.sum("shuffle_bytes_read").alias("total_shuffle_bytes_read"),
        F.sum("shuffle_records_read").alias("total_shuffle_records_read"),
        F.sum("shuffle_bytes_written").alias("total_shuffle_bytes_written"),
        F.sum("shuffle_records_written").alias("total_shuffle_records_written"),
        F.countDistinct("job_id").alias("n_jobs"),
        F.countDistinct("stage_id").alias("n_stages"),
        F.countDistinct("executor_id").alias("n_executors"),
    )


def cardinality_tiles(tm: DataFrame) -> DataFrame:
    """O5: #applications / #runs / #jobs cardinality tiles."""
    return tm.select(
        F.countDistinct("app_name").alias("n_apps"),
        F.countDistinct("app_id").alias("n_runs"),
        F.countDistinct(
            F.concat_ws("/", F.col("app_id"), F.col("job_id").cast("string"))
        ).alias("n_jobs"),
        F.countDistinct(
            F.concat_ws("/", F.col("app_id"), F.col("stage_id").cast("string"))
        ).alias("n_stages"),
        F.countDistinct("executor_id").alias("n_executors"),
        F.count(F.lit(1)).alias("n_tasks"),
    )


def cardinality_tiles_approx(tm: DataFrame, rsd: float = 0.05) -> DataFrame:
    """O19: HLL-sketch cardinality tiles — the 100 TB scale path for O5.

    ``countDistinct`` shuffles every distinct key; at 100 TB the
    app_id×stage_id key set no longer fits a reducer. HyperLogLog++
    sketches (``approx_count_distinct``) are fixed-size (~kB at rsd=0.05),
    merge associatively map-side, and make the whole query one narrow
    pass + a single tiny final merge. Same tile layout as
    :func:`cardinality_tiles`; values are within ``rsd`` relative error
    (asserted against the exact tiles in ``tests/test_plans.py``), so
    there is no exact DuckDB oracle — the driver records the rows-only
    check for this query.
    """
    return tm.select(
        F.approx_count_distinct("app_name", rsd).alias("n_apps"),
        F.approx_count_distinct("app_id", rsd).alias("n_runs"),
        F.approx_count_distinct(
            F.concat_ws("/", F.col("app_id"), F.col("job_id").cast("string")), rsd
        ).alias("n_jobs"),
        F.approx_count_distinct(
            F.concat_ws("/", F.col("app_id"), F.col("stage_id").cast("string")), rsd
        ).alias("n_stages"),
        F.approx_count_distinct("executor_id", rsd).alias("n_executors"),
        F.count(F.lit(1)).alias("n_tasks"),
    )


def date_histogram(tm: DataFrame) -> DataFrame:
    """O6: hourly date-histogram per application.

    Hour buckets via integer epoch-ms arithmetic (engine-portable, and in
    UTC identical to date_trunc('hour')).
    """
    hour_ms = F.col("metric_time_ms") - F.col("metric_time_ms") % 3600000
    return (
        tm.withColumn("hour_ms", hour_ms)
        .groupBy("hour_ms", "app_name")
        .agg(
            F.count(F.lit(1)).alias("n_tasks"),
            F.sum("input_bytes_read").alias("total_input_bytes"),
            F.sum("run_time_ms").alias("total_run_time_ms"),
            F.countDistinct("executor_id").alias("n_executors"),
        )
    )


def top_n_skew(tm: DataFrame, n: int = 20) -> DataFrame:
    """O7: top-N stages by input skewness (dashboard details table)."""
    agg = stage_agg_skewness(tm)
    return agg.orderBy(
        F.col("input_bytes_read_skewness").desc(),
        F.col("app_id"),
        F.col("job_id"),
        F.col("stage_id"),
    ).limit(n)


def skew_exemplars(tm: DataFrame, n_stages: int = 5, n_tasks: int = 3) -> DataFrame:
    """O46: drill-down — for the top-N most input-skewed stages, the
    heaviest exemplar tasks with their share of the stage's input.

    The dashboard "click a skewed stage, see which tasks caused it"
    pattern as ONE plan: the top-N stage summary (a handful of rows)
    BROADCASTS back against the task table, so Spark filters the fact
    scan by the tiny dim instead of rescanning per stage; a per-stage
    window ranks only the surviving tasks. Shares O2/O7's aggregation
    subtree; shares are exact bigint/bigint-into-double divisions.
    """
    top = top_n_skew(tm, n_stages).select(
        *STAGE_KEYS,
        "input_bytes_read_skewness",
    )
    joined = tm.select(
        *STAGE_KEYS, "task_id", "input_bytes_read", "run_time_ms"
    ).join(F.broadcast(top), STAGE_KEYS)
    w = Window.partitionBy(*STAGE_KEYS).orderBy(
        F.col("input_bytes_read").desc(), F.col("task_id")
    )
    stage_total = F.sum("input_bytes_read").over(Window.partitionBy(*STAGE_KEYS))
    ranked = joined.withColumn("task_rank", F.row_number().over(w).cast("long")
    ).withColumn("stage_input_bytes", stage_total)
    return ranked.filter(F.col("task_rank") <= n_tasks).select(
        *STAGE_KEYS,
        "input_bytes_read_skewness",
        "task_rank",
        "task_id",
        "input_bytes_read",
        "run_time_ms",
        (F.col("input_bytes_read") / F.col("stage_input_bytes")).alias(
            "task_input_share"
        ),
    )


#: Percentile points every exact/approx percentile operator reports.
PCT_POINTS = [(0.25, "p25"), (0.5, "p50"), (0.75, "p75"), (0.99, "p99")]


def _order_stat_aggs(value_col: str) -> list:
    """Shared engine-portable percentile selection: the value at row index
    floor((n-1)*p) of the sorted group — identical in any engine, no
    interpolation-convention drift. Expects the input to carry ``rn``
    (1-based rank within the group) and ``n`` (group size); used by O8,
    O42, and O44 so the convention can never diverge between them.
    """
    aggs = [F.max("n").alias("n_tasks")]
    for p, name in PCT_POINTS:
        target = F.floor((F.col("n") - 1) * F.lit(p))
        aggs.append(
            F.max(F.when(F.col("rn") - 1 == target, F.col(value_col))).alias(name)
        )
    return aggs


def _ranked_with_n(
    df: DataFrame,
    part_col: str | list[str],
    order_cols: list[str],
    distributed: bool = False,
) -> DataFrame:
    """Attach ``rn`` (1-based rank of the row within its ``part_col`` group
    under the total order ``order_cols`` — which must make rows unique) and
    ``n`` (group size) — the input contract of :func:`_order_stat_aggs`,
    the one rank primitive every order-statistic and ranking operator
    shares. Each operator picks its formulation in code; none exposes it.

    ``distributed=False``: one ranked window per group — a whole group
    sorts in one task. The choice for bounded groups (event types, hours,
    sources, priorities).

    ``distributed=True``: O44's two-phase prefix sum over unit counts
    (range-partition on the sort key → slice-local ranks → cumulated slice
    offsets broadcast back) + a broadcast group-count join — the heaviest
    task holds one range slice regardless of group size. The choice where
    one group can outgrow a task: O44, and the whole-corpus orders of P21,
    D30 and P26/P29. Rank assignment is bit-identical to the window (same
    total order, same 1-based dense positions), pinned per family member
    in ``tests/test_plans.py``.

    ``part_col`` may be a LIST of columns for a composite group key
    (e.g. O79's (app_id, hour_ms)) — ranked on the columns directly, not
    a string concatenation, so a key value containing the separator can
    never alias two groups.
    """
    parts = [part_col] if isinstance(part_col, str) else list(part_col)
    if not distributed:
        w = Window.partitionBy(*parts).orderBy(*order_cols)
        return df.withColumn("rn", F.row_number().over(w)).withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy(*parts))
        )
    from .pipeline import _prefix_sum

    ranked = _prefix_sum(
        df.withColumn("_one", F.lit(1)), parts, order_cols, "_one", "rn"
    ).drop("_one")
    counts = ranked.groupBy(*parts).agg(F.count(F.lit(1)).alias("n"))
    return ranked.join(F.broadcast(counts), parts)


def _global_desc_ranked(
    df: DataFrame, value_col: str, tiebreak_col: str
) -> DataFrame:
    """Global rank 1..N by ``value_col`` DESC (``tiebreak_col`` asc)
    through the distributed two-phase rank — the shared adapter the
    corpus-wide top-k selections (P26/P29) use instead of each repeating
    the constant-group + negated-key + rn→rank boilerplate."""
    ranked = _ranked_with_n(
        df.withColumn("_g", F.lit(1)).withColumn("_negv", -F.col(value_col)),
        "_g",
        ["_negv", tiebreak_col],
        distributed=True,
    )
    return ranked.withColumn("rank", F.col("rn").cast("long")).drop("_g", "_negv")


def task_percentiles(tm: DataFrame) -> DataFrame:
    """O8: p25/50/75/99 per event_type via explicit lower order statistics
    (:func:`_order_stat_aggs`), one ranked window per type."""
    ranked = _ranked_with_n(
        tm.select("event_type", "value", "task_id"),
        "event_type",
        ["value", "task_id"],
    )
    return ranked.groupBy("event_type").agg(*_order_stat_aggs("value"))


def task_percentiles_approx(tm: DataFrame, accuracy: int = 10000) -> DataFrame:
    """O22: sketch percentiles — the 100 TB scale path for O8.

    O8's explicit order statistics sort every group (one total sort per
    key — exact, but rank assignment at 100 TB means a full shuffle+sort
    of the metric column). ``approx_percentile`` uses the KLL/GK sketch:
    fixed memory per group, merged map-side, single pass, error bounded by
    1/accuracy of the rank. Engine-specific sketch values → rows-only
    driver check; closeness to the exact O8 values is asserted in
    ``tests/test_plans.py``.
    """
    pcts = F.percentile_approx(
        "value", [p for p, _ in PCT_POINTS], F.lit(accuracy)
    ).alias("pcts")
    return (
        tm.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_tasks"), pcts)
        .select(
            "event_type",
            "n_tasks",
            F.col("pcts")[0].alias("p25"),
            F.col("pcts")[1].alias("p50"),
            F.col("pcts")[2].alias("p75"),
            F.col("pcts")[3].alias("p99"),
        )
    )


def input_bytes_percentiles(tm: DataFrame) -> DataFrame:
    """O42: p25/50/75/99 of ``input_bytes_read`` per application run.

    Exact column parity with the reference dashboard's percentile panel:
    ``dashboards/data-skew.ndjson`` charts percentiles of
    ``spark-task-metrics.inputBytesRead`` (field mapping in
    ``deployment/.../templates/spark-task-metrics.json``) — O8 has the
    same operator shape but summarizes ``value`` per event_type; a user
    porting the dashboard needs THIS grouping/column. Selection via the
    shared :func:`_order_stat_aggs` convention.
    """
    ranked = _ranked_with_n(
        tm.select("app_id", "input_bytes_read", "task_id"),
        "app_id",
        ["input_bytes_read", "task_id"],
    )
    return ranked.groupBy("app_id").agg(*_order_stat_aggs("input_bytes_read"))


def _client_state(tm: DataFrame) -> tuple[DataFrame, Window]:
    """The ObservabilityClient state machine, unrolled once for BOTH O9
    and O10 (one definition so the success-reset / retryable / abort
    semantics can never diverge between them).

    Per (executor) event timeline:
    - ``run_id``: successful flushes before the event (successes are the
      non-error telemetry events) — each success resets the cycle;
    - ``nr_before``: non-retryable aborts earlier in the run — each abort
      replaced the client, so later rows start a fresh segment;
    - ``fail_pos``/``attempt_no``: the failure's position within its
      segment, counted with a conditional sum over ALL events (not a
      row_number) so interleaved successes can never shift a failure's
      attempt — even under timestamp ties;
    - ``aborted_evt`` / ``state_after``: whether the event aborts the
      client / leaves it backing off.
    """
    w = Window.partitionBy("executor_id").orderBy("metric_time_ms", "task_id")
    ev = tm.select(
        "executor_id",
        "task_id",
        "metric_time_ms",
        (F.col("event_type") == "error").alias("is_fail"),
        ((F.col("event_type") == "error") & (F.col("task_id") % 5 != 0)).alias(
            "retryable"
        ),
    ).withColumn(
        "run_id",
        F.coalesce(
            F.sum(F.when(~F.col("is_fail"), 1).otherwise(0)).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    w_run = Window.partitionBy("executor_id", "run_id").orderBy(
        "metric_time_ms", "task_id"
    )
    ev = ev.withColumn(
        "nr_before",
        F.coalesce(
            F.sum(
                F.when(F.col("is_fail") & ~F.col("retryable"), 1).otherwise(0)
            ).over(w_run.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    w_seg = Window.partitionBy("executor_id", "run_id", "nr_before").orderBy(
        "metric_time_ms", "task_id"
    )
    ev = (
        ev.withColumn(
            "fail_pos",
            F.sum(F.when(F.col("is_fail"), 1).otherwise(0)).over(
                w_seg.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn(
            "attempt_no", ((F.col("fail_pos") - 1) % 6 + 1).cast("long")
        )
        .withColumn(
            "aborted_evt",
            F.col("is_fail") & (~F.col("retryable") | (F.col("attempt_no") == 6)),
        )
        .withColumn(
            "state_after",
            F.when(~F.col("is_fail") | F.col("aborted_evt"), F.lit(0)).otherwise(
                F.lit(1)
            ),
        )
    )
    return ev, w


def batch_flush(tm: DataFrame, batch_size: int = 100, time_threshold_s: int = 10) -> DataFrame:
    """O9: batching-client semantics (ObservabilityClient.add parity).

    Size-based batch sequencing plus time-threshold flush flags, per
    executor buffer (reference defaults: batchSize=100, timeThreshold=10s;
    ``Utils.scala:103-113``), plus the BACKING-OFF flush rule
    (``ObservabilityClient.scala:299-306``): while the client is backing
    off after a retryable send failure, ``add`` flushes only on the time
    threshold — the size trigger is suspended, and the flush DEFERS to the
    first add after recovery (the buffer kept growing, so that add sees
    size ≥ batchSize and flushes immediately). ``flushed_by_size`` models
    both: a boundary outside backoff flushes in place; a boundary whose
    backoff island swallowed it re-fires on the island's first
    non-backing-off successor (gaps-and-islands over the backoff state).
    Batch boundaries themselves advance on a fixed per-executor add
    counter — the deferred flush does not re-base later boundaries (a
    bounded-delay approximation of the buffer reset; delta noted in
    MIGRATION.md). State machine shared with O10 via
    :func:`_client_state`.
    """
    ev, w = _client_state(tm)
    ev = ev.withColumn(
        "backing_off",
        F.coalesce(F.lag("state_after").over(w), F.lit(0)) == 1,
    )
    seq = ev.select(
        "executor_id",
        "task_id",
        F.row_number().over(w).alias("rn"),
        (F.col("metric_time_ms") - F.lag("metric_time_ms").over(w)).alias("gap_ms_raw"),
        "backing_off",
    ).withColumn(
        # non-backing-off rows STRICTLY BEFORE this one: a backoff island
        # and its first recovered add share this key, so a suppressed
        # boundary can hand its flush to exactly that add. Ordered by rn —
        # the already-assigned per-executor sequence.
        "nbc_excl",
        F.coalesce(
            F.sum(F.when(~F.col("backing_off"), 1).otherwise(0)).over(
                Window.partitionBy("executor_id")
                .orderBy("rn")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    deferred = F.max(
        F.when(F.col("backing_off") & (F.col("rn") % batch_size == 0), 1).otherwise(0)
    ).over(Window.partitionBy("executor_id", "nbc_excl"))
    return seq.select(
        "executor_id",
        "task_id",
        F.floor((F.col("rn") - 1) / batch_size).alias("batch_seq"),
        F.coalesce(F.col("gap_ms_raw"), F.lit(0)).alias("gap_ms"),
        (F.coalesce(F.col("gap_ms_raw"), F.lit(0)) >= time_threshold_s * 1000).alias(
            "flushed_by_time"
        ),
        "backing_off",
        (
            ~F.col("backing_off")
            & ((F.col("rn") % batch_size == 0) | (deferred == 1))
        ).alias("flushed_by_size"),
    )


def retry_backoff(tm: DataFrame) -> DataFrame:
    """O10: exponential back-off retry cycle for failed sends — full
    client-state parity with ``ObservabilityClient.scala:281-293``:

    * constants INITIAL_BACKOFF=5, doubling, MAX_BACKOFF=60, MAX_RETRIES=5
      (``ObservabilityClient.scala:26-34``);
    * a SUCCESSFUL flush resets the cycle (``backOff=INITIAL``,
      ``retries=MAX``) — successes are the non-error telemetry events
      interleaved on the same per-executor timeline;
    * a RETRYABLE failure doubles the backoff (capped) and consumes a
      retry; the flag is derived deterministically from the event payload
      (``task_id % 5 <> 0`` ≈ the reference's RetryableException split);
    * a NON-retryable failure — or a retryable one after retries are
      exhausted — ABORTS the client (the reference throws
      ``NonRetryableException``); the replacement client starts fresh.

    Because a failure segment can span at most 6 events (5 retryable
    retries + the aborting 6th) and every non-retryable failure terminates
    its segment, the whole state machine unrolls into pure window
    functions: successes partition failures into runs, preceding
    non-retryable counts split runs at abort points, and fixed blocks of 6
    split the all-retryable stretches at exhaustion aborts. No UDF, no
    recursion, integer-exact — two narrow window passes per executor.
    """
    sched = (
        _client_state(tm)[0]
        .filter("is_fail")
        .withColumnRenamed("aborted_evt", "aborted")
        .withColumn(
            "backoff_s",
            F.when(F.col("aborted"), F.lit(0))
            .when(F.col("attempt_no") == 1, F.lit(10))
            .when(F.col("attempt_no") == 2, F.lit(20))
            .when(F.col("attempt_no") == 3, F.lit(40))
            .otherwise(F.lit(60))
            .cast("long"),
        )
    )
    wc = Window.partitionBy("executor_id").orderBy("metric_time_ms", "task_id")
    return sched.select(
        "executor_id",
        "task_id",
        "retryable",
        "attempt_no",
        "backoff_s",
        F.sum("backoff_s").over(wc.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cumulative_wait_s"
        ),
        (F.col("retryable") & (F.col("attempt_no") == 6)).alias("retries_exhausted"),
        "aborted",
    )


def log_enrich(tm: DataFrame) -> DataFrame:
    """O11: log enrichment + MDC taskName parsing + appender formatting.

    Parity: the ``task (\\d+\\.\\d+)`` / ``stage (\\d+\\.\\d+)`` extraction
    regexes (``ObservabilityClient.scala:130-131``), context enrichment
    (``Utils.enrichLogEvent``) and the ``[Stage $s - Task $t - Thread $th]``
    message prefix (``CollectorAppender.scala:42``).
    """
    task_name = F.concat(
        F.lit("task "),
        F.col("task_id").cast("string"),
        F.lit(".0 in stage "),
        F.col("stage_id").cast("string"),
        F.lit(".0 (TID "),
        F.col("task_id").cast("string"),
        F.lit(")"),
    )
    thread = F.col("task_id") % 16
    level = (
        F.when(F.col("event_type") == "error", "ERROR")
        .when(F.col("event_type") == "purchase", "WARN")
        .otherwise("INFO")
    )
    return tm.select(
        "app_name",
        "app_id",
        "executor_id",
        "task_id",
        # Standalone thread id (CollectorAppender.scala:36-45 carries it as
        # its own log-event field, not just inside the message): driver
        # events have no real thread, so it is synthesized deterministically
        # from the task id — the same value the message prefix embeds.
        thread.alias("thread"),
        F.col("metric_time_ms").alias("log_time_ms"),
        level.alias("level"),
        task_name.alias("mdc_task_name"),
    ).select(
        "*",
        F.regexp_extract("mdc_task_name", r"task (\d+\.\d+)", 1).alias("parsed_task_id"),
        F.regexp_extract("mdc_task_name", r"stage (\d+\.\d+)", 1).alias("parsed_stage_id"),
    ).withColumn(
        "message",
        F.concat(
            F.lit("[Stage "),
            F.col("parsed_stage_id"),
            F.lit(" - Task "),
            F.col("parsed_task_id"),
            F.lit(" - Thread "),
            (F.col("task_id") % 16).cast("string"),
            F.lit("] level="),
            F.col("level"),
        ),
    )


def log_search(tm: DataFrame) -> DataFrame:
    """O17: log text search (saved-search parity: level + substring match),
    aggregated per application run."""
    logs = log_enrich(tm)
    hits = logs.filter(
        (F.col("level") == "ERROR") & F.col("message").like("%stage 1%")
    )
    return hits.groupBy("app_id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.countDistinct("executor_id").alias("n_executors"),
        F.min("log_time_ms").alias("first_hit_ms"),
        F.max("log_time_ms").alias("last_hit_ms"),
    )


def error_rate(tm: DataFrame) -> DataFrame:
    """O12: per-hour error-level log ratio (spark-logs level analytics)."""
    hour_ms = F.col("metric_time_ms") - F.col("metric_time_ms") % 3600000
    return (
        tm.withColumn("hour_ms", hour_ms)
        .groupBy("hour_ms")
        .agg(
            F.count(F.lit(1)).alias("n_logs"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "n_errors"
            ),
        )
        .select(
            "hour_ms",
            "n_logs",
            "n_errors",
            (F.col("n_errors") / F.col("n_logs")).alias("error_ratio"),
        )
    )


def executor_utilization(tm: DataFrame) -> DataFrame:
    """O13: per-executor utilization summary."""
    agg = tm.groupBy("executor_id").agg(
        F.count(F.lit(1)).alias("n_tasks"),
        F.sum("run_time_ms").alias("total_run_time_ms"),
        F.sum("executor_cpu_time_ms").alias("total_cpu_time_ms"),
        F.min("metric_time_ms").alias("first_ms"),
        F.max("metric_time_ms").alias("last_ms"),
        F.max("peak_execution_memory").alias("max_peak_memory"),
    )
    span = F.col("last_ms") - F.col("first_ms")
    return agg.select(
        "*",
        span.alias("span_ms"),
        F.when(span == 0, F.lit(0.0)).otherwise(
            F.col("total_run_time_ms") / span
        ).alias("run_time_density"),
    )


def session_windows(tm: DataFrame, gap_s: int = 1800) -> DataFrame:
    """O14: gap-based sessionization per executor (batch twin of streaming
    session windows)."""
    w = Window.partitionBy("executor_id").orderBy("metric_time_ms", "task_id")
    flagged = tm.select("executor_id", "task_id", "metric_time_ms").select(
        "*",
        F.when(
            F.lag("metric_time_ms").over(w).isNull()
            | (F.col("metric_time_ms") - F.lag("metric_time_ms").over(w) > gap_s * 1000),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessioned = flagged.select(
        "*",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_idx"),
    )
    return sessioned.groupBy("executor_id", "session_idx").agg(
        F.min("metric_time_ms").alias("session_start_ms"),
        F.max("metric_time_ms").alias("session_end_ms"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max("metric_time_ms") - F.min("metric_time_ms")).alias("duration_ms"),
    )


def stream_metrics_window(tm: DataFrame) -> DataFrame:
    """O15: 5-minute tumbling-window rollup (batch twin of the streaming
    collector aggregation; the streaming version shares this plan via
    ``streaming/collector.py``)."""
    win = F.window(F.col("metric_time"), "5 minutes")
    return (
        tm.groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("input_bytes_read").alias("sum_input_bytes"),
            F.countDistinct("executor_id").alias("n_executors"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "event_type",
            "n_events",
            "sum_input_bytes",
            "n_executors",
        )
    )


def skew_timeline(tm: DataFrame) -> DataFrame:
    """O23: hourly max-skewness timeline per application.

    Parity with the data-skew dashboard's date histogram of max skewness
    per appId (``deployment/infra/resources/lambda/opensearch-bootstrap/
    resources/dashboards/data-skew.ndjson``): bucket the per-stage skew
    aggregation by hour and take the bucket max. Runs on top of O2's
    output — at scale this is a tiny aggregate over per-stage rows, not
    a second pass over task metrics.
    """
    agg = stage_agg_skewness(tm)
    hour_ms = F.col("metric_time_ms") - F.col("metric_time_ms") % 3600000
    return (
        agg.withColumn("hour_ms", hour_ms)
        .groupBy("app_id", "hour_ms")
        .agg(
            F.max("input_bytes_read_skewness").alias("max_input_skewness"),
            F.max("shuffle_bytes_read_skewness").alias("max_shuffle_skewness"),
            F.count(F.lit(1)).alias("n_stages"),
            F.sum("n_tasks").alias("n_tasks"),
        )
    )


def counter_rate(tm: DataFrame) -> DataFrame:
    """O26: per-executor metric rate-of-change (Prometheus ``rate()``
    semantics, counter-reset aware).

    For each executor's event sequence (ordered by time, task_id as the
    deterministic tiebreak): ``rate = delta_bytes * 1000 / delta_ms``, and
    when the counter goes backwards (a reset) the post-reset absolute value
    plays the delta — the standard monotone-counter recovery rule. All
    arithmetic is BIGINT except the single final division (IEEE-identical
    across engines). One window shuffle keyed by executor (bounded
    cardinality); rows where ``delta_ms == 0`` (same-millisecond ties)
    are excluded deterministically.
    """
    w = Window.partitionBy("executor_id").orderBy("metric_time_ms", "task_id")
    d = (
        tm.select("executor_id", "task_id", "metric_time_ms", "input_bytes_read")
        .withColumns(
            {
                "delta_bytes": F.col("input_bytes_read")
                - F.lag("input_bytes_read").over(w),
                "delta_ms": F.col("metric_time_ms")
                - F.lag("metric_time_ms").over(w),
            }
        )
        .filter(F.col("delta_ms") > 0)
    )
    eff = F.when(F.col("delta_bytes") >= 0, F.col("delta_bytes")).otherwise(
        F.col("input_bytes_read")
    )
    return d.select(
        "executor_id",
        "task_id",
        "metric_time_ms",
        "delta_ms",
        (eff * 1000 / F.col("delta_ms")).alias("rate_bytes_per_s"),
    )


def gap_fill(tm: DataFrame) -> DataFrame:
    """O27: minute-grid gap-fill with forward-fill (dashboard sparklines
    over sparse telemetry).

    Build each executor's dense minute grid (``sequence`` + explode — the
    grid is generated, never shuffled), left-join the observed per-minute
    max, forward-fill with ``last(ignorenulls)``, then roll up per hour so
    the result is dashboard-sized. Grid size is span-bounded (minutes per
    executor), independent of event volume — the 100 TB posture is the
    same grid with more observed minutes.
    """
    minute = F.expr("metric_time_ms DIV 60000")
    observed = tm.groupBy(
        "executor_id", minute.alias("minute")
    ).agg(F.max("input_bytes_read").alias("minute_bytes"))
    span = tm.groupBy("executor_id").agg(
        F.min(minute).alias("min_minute"),
        F.max(minute).alias("max_minute"),
    )
    grid = span.select(
        "executor_id",
        F.explode(F.sequence(F.col("min_minute"), F.col("max_minute"))).alias(
            "minute"
        ),
    )
    wff = (
        Window.partitionBy("executor_id")
        .orderBy("minute")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = grid.join(observed, ["executor_id", "minute"], "left").select(
        "executor_id",
        "minute",
        F.col("minute_bytes").isNotNull().alias("is_observed"),
        F.last("minute_bytes", ignorenulls=True).over(wff).alias("filled_bytes"),
    )
    return filled.groupBy(
        "executor_id", F.expr("minute DIV 60").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n_minutes"),
        F.sum(F.col("is_observed").cast("long")).alias("n_observed"),
        F.sum("filled_bytes").alias("sum_filled_bytes"),
    )


def anomaly_zscore(tm: DataFrame, window_n: int = 20, z_threshold: int = 3) -> DataFrame:
    """O28: rolling z-score anomaly flags in EXACT integer arithmetic.

    A point is anomalous when ``|x - mean| > z * stddev`` over the trailing
    ``window_n`` samples per executor. Cross-multiplying the sample-stddev
    definition clears every division and square root:

        (n*x - s)^2 * (n-1)  >  z^2 * n * (n*ssq - s^2)

    — all BIGINT (bounds: x <= ~6e5 at any sf, n = 20, so the largest term
    stays < 2^62), hence bit-exact in both engines with zero float-rounding
    boundary risk. One window shuffle keyed by executor.
    """
    w = (
        Window.partitionBy("executor_id")
        .orderBy("metric_time_ms", "task_id")
        .rowsBetween(-(window_n - 1), Window.currentRow)
    )
    x = F.col("input_bytes_read")
    d = tm.select("executor_id", "task_id", "metric_time_ms", x.alias("x")).withColumns(
        {
            "n": F.count(F.lit(1)).over(w),
            "s": F.sum("x").over(w),
            "ssq": F.sum(F.col("x") * F.col("x")).over(w),
        }
    )
    full = d.filter(F.col("n") == window_n)
    num = (F.col("n") * F.col("x") - F.col("s"))
    score_num = num * num * (F.col("n") - 1)
    score_den = (
        F.lit(z_threshold * z_threshold)
        * F.col("n")
        * (F.col("n") * F.col("ssq") - F.col("s") * F.col("s"))
    )
    return (
        full.withColumns(
            {"score_num": score_num, "score_den": score_den}
        )
        .filter(F.col("score_num") > F.col("score_den"))
        .select("executor_id", "task_id", "metric_time_ms", "x", "score_num", "score_den")
    )


def log_templates(tm: DataFrame) -> DataFrame:
    """O29: log template mining (digit-normalized message clustering —
    the Drain-style first approximation used by log-analytics stores).

    Masks every digit run in the enriched message to ``#`` and aggregates
    per template: volume, distinct executors/apps, first/last seen. The
    group key is the (tiny) template space, so map-side partial
    aggregation collapses virtually all volume before the shuffle.
    """
    logs = log_enrich(tm)
    template = F.regexp_replace("message", r"\d+", "#")
    return logs.groupBy(template.alias("template"), F.col("level")).agg(
        F.count(F.lit(1)).alias("n_logs"),
        F.countDistinct("executor_id").alias("n_executors"),
        F.countDistinct("app_id").alias("n_apps"),
        F.min("log_time_ms").alias("first_seen_ms"),
        F.max("log_time_ms").alias("last_seen_ms"),
    )


#: Count-Min sketch geometry: d hash rows × w buckets (fixed memory).
CMS_DEPTH = 4
CMS_WIDTH = 64


def _cms_bucket_rows(key: F.Column) -> F.Column:
    """(row_id, bucket) struct array for a key — one entry per hash row."""
    from ..functions.hashing import md5_int

    return F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("row_id"),
                (md5_int(F.concat(F.lit(f"cms{i}:"), key), 8) % CMS_WIDTH).alias(
                    "bucket"
                ),
            )
            for i in range(CMS_DEPTH)
        ]
    )


def cms_key_buckets(tm: DataFrame) -> DataFrame:
    """Per-key counts fanned to their d CMS buckets — the sketch PARTIAL.

    One corpus-wide pass ONLY: count per key (map-side combined), then
    hash each distinct key d times and weight its buckets by the count —
    counter = Σ key-counts per bucket, identical to incrementing per
    event, but the md5 work drops from |events|·d to |keys|·d and the
    shuffle carries key partials instead of exploded bucket rows.
    Partials are MERGEABLE: summing them over any partition of the input
    (micro-batches, days, clusters) yields the exact whole-input sketch —
    what the streaming twin exploits.
    """
    keys = tm.groupBy(F.col("executor_id").alias("key")).agg(
        F.count(F.lit(1)).alias("exact_n")
    )
    return keys.select(
        "key",
        "exact_n",
        F.explode(_cms_bucket_rows(F.col("key"))).alias("rb"),
    ).select(
        "key",
        "exact_n",
        F.col("rb.row_id").alias("row_id"),
        F.col("rb.bucket").alias("bucket"),
    )


CMS_KEY_OPS = {"exact_n": "sum"}


def cms_topk(key_buckets: DataFrame, k: int = 20) -> DataFrame:
    """Estimate + rank stage over (possibly merged) key-bucket partials:
    one global window ranks the estimated keys."""
    merged = merge_partials(key_buckets, CMS_KEY_OPS)
    sketch = merged.groupBy("row_id", "bucket").agg(F.sum("exact_n").alias("c"))
    est = (
        merged.join(F.broadcast(sketch), ["row_id", "bucket"])
        .groupBy("key", "exact_n")
        .agg(F.min("c").alias("est_n"))
    )
    w = Window.orderBy(F.col("est_n").desc(), F.col("key"))
    ranked = est.withColumn("rank", F.row_number().over(w).cast("long"))
    return ranked.filter(F.col("rank") <= k).select(
        "rank", "key", "est_n", "exact_n"
    )


def heavy_hitters_cms(tm: DataFrame, k: int = 20) -> DataFrame:
    """O30: top-k heavy hitters via a Count-Min sketch (Cormode &
    Muthukrishnan '05) — the fixed-memory scale path for "top talkers"
    dashboard tiles.

    The sketch is d×w = 256 counters REGARDLESS of key cardinality: each
    event increments one bucket per hash row (via :func:`cms_key_buckets`
    partials), and a key's estimate is the MIN over its d buckets —
    always an overestimate, never under. At 100 TB the sketch table is the
    only shuffled state; candidate keys join against it via broadcast.
    md5-derived hashing keeps the sketch deterministic and engine-portable
    (exact DuckDB oracle), unlike RNG-seeded implementations.
    """
    return cms_topk(cms_key_buckets(tm), k)


def error_rate_moving_avg(tm: DataFrame, window_hours: int = 7) -> DataFrame:
    """O32: centered moving average over the hourly error-rate series
    (dashboard trend-line smoothing).

    Built on O12's hourly rollup — the window runs over the (tiny)
    per-hour series, not the raw events, so the moving average costs
    nothing at any scale. RANGE frame on the hour key handles missing
    hours correctly (a gap contributes nothing instead of shifting the
    frame). Counts stay BIGINT; the average is one final division.
    """
    hourly = error_rate(tm)
    half = (window_hours // 2) * 3600000
    w = (
        Window.orderBy("hour_ms").rangeBetween(-half, half)
    )
    return hourly.select(
        "hour_ms",
        "n_logs",
        "n_errors",
        "error_ratio",
        F.sum("n_errors").over(w).alias("window_errors"),
        F.sum("n_logs").over(w).alias("window_logs"),
        (F.sum("n_errors").over(w) / F.sum("n_logs").over(w)).alias("ma_error_ratio"),
    )


#: Static alert rules: (rule_id, metric, threshold) — greater-than semantics.
ALERT_RULES = [
    (1, "input_bytes_read", 200000),
    (2, "run_time_ms", 3200),
    (3, "shuffle_bytes_read", 100000),
    (4, "peak_execution_memory", 800000),
]


def _rules_checked(tm: DataFrame) -> DataFrame:
    """Every (event, rule) pair with the rule's metric value extracted —
    the PRE-verdict alert stream O33 filters to violations and O77 folds
    into per-minute firing states; ONE definition of the rules table and
    the metric mapping so alerting and flap detection can never disagree
    about what a rule measures."""
    rules = F.array(
        *[
            F.struct(
                F.lit(rid).cast("long").alias("rule_id"),
                F.lit(metric).alias("metric"),
                F.lit(thr).cast("long").alias("threshold"),
            )
            for rid, metric, thr in ALERT_RULES
        ]
    )
    exploded = tm.select(
        "app_id", "executor_id", "task_id", "metric_time_ms",
        *[c for c in ("input_bytes_read", "run_time_ms", "shuffle_bytes_read",
                      "peak_execution_memory")],
        F.explode(rules).alias("r"),
    )
    value = (
        F.when(F.col("r.metric") == "input_bytes_read", F.col("input_bytes_read"))
        .when(F.col("r.metric") == "run_time_ms", F.col("run_time_ms"))
        .when(F.col("r.metric") == "shuffle_bytes_read", F.col("shuffle_bytes_read"))
        .otherwise(F.col("peak_execution_memory"))
    )
    return exploded.select(
        F.col("r.rule_id").alias("rule_id"),
        F.col("r.metric").alias("metric"),
        F.col("r.threshold").alias("threshold"),
        "app_id",
        "executor_id",
        "metric_time_ms",
        value.alias("value"),
    )


def alert_violations(tm: DataFrame) -> DataFrame:
    """Per-event rule-violation rows (the pre-rollup alert stream).

    Split out so the streaming twin can persist raw violations per
    micro-batch and still compute exact global distinct counts in its
    final rollup (per-batch distinct partials do not merge).
    """
    return (
        _rules_checked(tm)
        .drop("metric_time_ms")
        .filter(F.col("value") > F.col("threshold"))
    )


def alert_rollup(violations: DataFrame) -> DataFrame:
    """Aggregate violation rows to the per-rule dashboard summary."""
    return violations.groupBy("rule_id", "metric", "threshold").agg(
        F.count(F.lit(1)).alias("n_violations"),
        F.countDistinct("app_id").alias("n_apps"),
        F.countDistinct("executor_id").alias("n_executors"),
        F.max("value").alias("max_value"),
    )


def alert_rules(tm: DataFrame) -> DataFrame:
    """O33: threshold alerting — a rules table joined against the metric
    stream (monitor/alert parity for the reference's dashboards).

    Rules are a literal broadcast dimension; each event row is checked
    against every rule via stack + filter (one narrow pass, no shuffle
    until the per-rule violation rollup). Adding rules is data, not code —
    the operational property an alerting pipeline needs.
    """
    return alert_rollup(alert_violations(tm))


def props_variant_stats(events: DataFrame) -> DataFrame:
    """O34: semi-structured payload analytics via VariantType.

    ``parse_json`` → binary variant → typed ``variant_get`` extraction —
    Spark 4's columnar semi-structured path (shredded access, no
    per-query string re-parsing, unlike ``get_json_object``). Aggregates
    the extracted field per event class. The oracle uses DuckDB's native
    JSON extraction; values are integer-exact.
    """
    v = F.parse_json("props")
    per = events.select(
        "event_type",
        F.variant_get(v, "$.k", "long").alias("k"),
    )
    return per.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.countDistinct("k").alias("n_distinct_k"),
    )


def downsample_rollup(tm: DataFrame) -> DataFrame:
    """O38: hierarchical continuous aggregate (multi-resolution rollup).

    The dashboard pattern behind every time-series store (TimescaleDB
    continuous aggregates, Prometheus recording rules, the reference's
    per-day index rotation): aggregate raw records to a fine grain ONCE,
    then derive every coarser grain FROM the fine partials — never a second
    pass over raw data. Here: raw → per-minute partials (count/sum/max,
    all BIGINT-exact and re-aggregable) → per-hour rollup of those
    partials. At 100 TB the minute layer is what you'd persist; the hour
    layer reads ~1/60th of it, and the plan keeps partial aggregation
    map-side on the already-tiny input.
    """
    minute_ms = F.col("metric_time_ms") - F.col("metric_time_ms") % 60000
    minutes = (
        tm.withColumn("minute_ms", minute_ms)
        .groupBy("app_id", "minute_ms")
        .agg(
            F.count(F.lit(1)).alias("n_tasks"),
            F.sum("input_bytes_read").alias("sum_input_bytes"),
            F.max("run_time_ms").alias("max_run_time_ms"),
        )
    )
    hour_ms = F.col("minute_ms") - F.col("minute_ms") % 3600000
    return (
        minutes.withColumn("hour_ms", hour_ms)
        .groupBy("app_id", "hour_ms")
        .agg(
            F.count(F.lit(1)).alias("n_minutes"),
            F.sum("n_tasks").alias("n_tasks"),
            F.sum("sum_input_bytes").alias("sum_input_bytes"),
            F.max("max_run_time_ms").alias("max_run_time_ms"),
        )
    )


def slo_burn_rate(tm: DataFrame) -> DataFrame:
    """O39: multi-window SLO error-budget burn rate (SRE-workbook alerting).

    SLO: 99% of log records are non-error. Burn rate = observed error
    ratio / budget (1%). The standard fast-burn page fires when BOTH the
    short (1h) and long (6h) windows burn hot — the two-window rule that
    suppresses blips without missing sustained burns. The 6h window is an
    exact-offset RANGE frame over the hour series (gap-correct: missing
    hours do not stretch the window).

    Every comparison is integer-exact via cross-multiplication
    (``1000*err >= 144*total`` ⟺ ``burn >= 14.4``); the emitted burn
    rates are ONE final division of exact BIGINTs (IEEE-identical across
    engines).
    """
    hour_ms = F.col("metric_time_ms") - F.col("metric_time_ms") % 3600000
    hours = (
        tm.withColumn("hour_ms", hour_ms)
        .groupBy("app_id", "hour_ms")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "n_err"
            ),
        )
    )
    w6 = (
        Window.partitionBy("app_id")
        .orderBy("hour_ms")
        .rangeBetween(-5 * 3600000, 0)
    )
    with6 = hours.select(
        "app_id",
        "hour_ms",
        "n_total",
        "n_err",
        F.sum("n_total").over(w6).alias("total_6h"),
        F.sum("n_err").over(w6).alias("err_6h"),
    )
    return with6.select(
        "app_id",
        "hour_ms",
        "n_total",
        "n_err",
        (F.col("n_err") * 100 / F.col("n_total")).alias("burn_1h"),
        (F.col("err_6h") * 100 / F.col("total_6h")).alias("burn_6h"),
        # burn_1h >= 14.4 ⟺ err*100/total >= 14.4 ⟺ err*1000 >= total*144;
        # burn_6h >= 6    ⟺ err*100/total >= 6    ⟺ err*1000 >= total*60.
        (
            (F.col("n_err") * 1000 >= F.col("n_total") * 144)
            & (F.col("err_6h") * 1000 >= F.col("total_6h") * 60)
        ).alias("page"),
    )


def value_histogram(tm: DataFrame, n_bins: int = 16, width: int = 100) -> DataFrame:
    """O40: equi-width histogram of a metric (dashboard distribution panel).

    ``bin = least(run_time_ms DIV width, n_bins-1)`` — pure integer
    arithmetic, one aggregation with map-side combine; the share column is
    a single final division of exact counts. The fixed-width formulation
    (vs quantile bins) is the one that composes across partitions and
    re-aggregates across time windows at any scale.
    """
    bin_idx = F.least(
        F.expr(f"run_time_ms DIV {int(width)}"), F.lit(n_bins - 1)
    ).cast("long")
    binned = (
        tm.withColumn("bin", bin_idx)
        .groupBy("metrics_type", "bin")
        .agg(F.count(F.lit(1)).alias("n_tasks"))
    )
    w = Window.partitionBy("metrics_type")
    return binned.select(
        "metrics_type",
        "bin",
        (F.col("bin") * width).alias("bin_lo"),
        "n_tasks",
        (F.col("n_tasks") * 100 / F.sum("n_tasks").over(w)).alias("pct"),
    )


def metric_log_correlate(tm: DataFrame, lookback_ms: int = 60000) -> DataFrame:
    """O41: time-range correlation join — for every error log record, the
    task-metric activity on the same executor in the preceding minute
    (the "what was this executor doing when it errored" drill-down the
    reference answers by pivoting dashboards between its logs and metrics
    indexes).

    Spark-first range join: a naive ``t BETWEEN t_err-60s AND t_err``
    inequality join degenerates to a per-key cross product. Instead both
    sides are bucketed to 60s epochs and each error probes exactly TWO
    buckets (its own + the previous — any row ≤60s back lands in one of
    them), making it an equi-join with bounded fan-out that AQE can
    broadcast or shuffle normally; the exact range predicate then filters
    within the two candidate buckets. The oracle states the naive
    inequality join — identical results, different (non-scalable) plan.
    """
    errors = tm.filter(F.col("metrics_type") == "logs").select(
        "executor_id",
        F.col("task_id").alias("err_task_id"),
        F.col("metric_time_ms").alias("err_ms"),
    )
    metrics = tm.filter(F.col("metrics_type") == "taskMetrics").select(
        F.col("executor_id").alias("m_executor_id"),
        F.col("metric_time_ms").alias("m_ms"),
        "input_bytes_read",
        F.floor(F.col("metric_time_ms") / lookback_ms).alias("m_bucket"),
    )
    probes = errors.select(
        "*",
        F.explode(
            F.array(
                F.floor(F.col("err_ms") / lookback_ms) - 1,
                F.floor(F.col("err_ms") / lookback_ms),
            )
        ).alias("bucket"),
    )
    # The range predicate lives IN the join condition: an error whose
    # candidate buckets hold only out-of-range rows must still survive with
    # count 0, which a post-join filter would silently drop.
    cond = (
        (probes["executor_id"] == metrics["m_executor_id"])
        & (probes["bucket"] == metrics["m_bucket"])
        & (metrics["m_ms"] >= probes["err_ms"] - lookback_ms)
        & (metrics["m_ms"] <= probes["err_ms"])
    )
    return (
        probes.join(metrics, cond, "left")
        .groupBy("executor_id", "err_task_id", "err_ms")
        .agg(
            F.count("m_ms").alias("n_metrics_60s"),
            F.coalesce(F.sum("input_bytes_read"), F.lit(0)).alias("bytes_60s"),
        )
    )


def task_percentiles_distributed(tm: DataFrame) -> DataFrame:
    """O44: EXACT percentiles without a single-task sort — O8's scale path
    that keeps exactness (O22's KLL sketch is the approximate one).

    O8 ranks with one window per ``event_type``, which sorts an entire
    group in one task. Here the global rank comes from the two-phase
    prefix sum over unit counts (range-partition on the sort key → local
    row numbers in bounded slices → cumulated slice offsets broadcast
    back), so the heaviest task holds one range slice regardless of group
    size. Selection is the same engine-portable order statistic (value at
    row floor((n-1)·p)); result-identical to O8, shares its oracle.
    The two-phase rank is :func:`_ranked_with_n`'s, shared with P21/D30.
    """
    ranked = _ranked_with_n(
        tm.select("event_type", "value", "task_id"),
        "event_type",
        ["value", "task_id"],
        distributed=True,
    )
    return ranked.groupBy("event_type").agg(*_order_stat_aggs("value"))


def executor_concurrency(tm: DataFrame) -> DataFrame:
    """O47: peak task concurrency per executor via a SWEEP LINE — interval
    overlap with NO self-join.

    Each task occupies [metric_time_ms - run_time_ms, metric_time_ms); the
    naive "how many tasks overlap" is an interval self-join (quadratic in
    the worst case). The sweep-line formulation explodes each task into a
    +1 start / -1 end event and takes a running sum per executor ordered
    by (time, delta) — ends sort before starts at the same millisecond, so
    touching intervals do not count as overlapping. One explode + one
    window over per-executor event streams; peak = max of the running
    level, with the earliest peak time reported deterministically.
    """
    ev = tm.select(
        "executor_id",
        F.explode(
            F.array(
                F.struct(
                    (F.col("metric_time_ms") - F.col("run_time_ms")).alias("t_ms"),
                    F.lit(1).alias("delta"),
                ),
                F.struct(
                    F.col("metric_time_ms").alias("t_ms"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("e"),
    ).select("executor_id", F.col("e.t_ms").alias("t_ms"), F.col("e.delta").alias("delta"))
    w = (
        Window.partitionBy("executor_id")
        .orderBy("t_ms", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    level = ev.withColumn("level", F.sum("delta").over(w)).withColumn(
        "peak", F.max("level").over(Window.partitionBy("executor_id"))
    )
    return level.groupBy("executor_id").agg(
        F.max("level").alias("peak_concurrency"),
        F.min(F.when(F.col("level") == F.col("peak"), F.col("t_ms"))).alias(
            "peak_at_ms"
        ),
        F.count(F.lit(1)).alias("n_boundary_events"),
    )


def alert_debounce(
    tm: DataFrame, bucket_ms: int = 60000, min_consecutive: int = 3
) -> DataFrame:
    """O49: alert DEBOUNCING (flap suppression) — an alert fires only when
    the violating condition persists for ``min_consecutive`` consecutive
    evaluation windows, the standard "for:" clause of alerting rules
    (the reference's dashboards alert on error spikes; raw per-window
    triggers flap on noisy executors).

    Pure gaps-and-islands: violating minute-buckets per executor are
    grouped into maximal consecutive runs via the classic
    ``bucket − row_number()`` island key (consecutive buckets share it,
    any gap starts a new island), then each island's length decides
    ``fired``. One bucket aggregation + one window + one island
    aggregation — all integer-exact, each partitioned by executor (bounded
    cardinality), so the plan is two map-side-combined shuffles and a
    per-executor sort at any volume.

    The violating condition is ERROR-level log events: in this repo's
    telemetry mapping ``metrics_type='logs'`` coincides with
    ``event_type='error'`` (→ level ERROR under the O11 mapping), but the
    level predicate is stated explicitly so the operator stays
    error-spike-only even on a telemetry frame where log records carry
    INFO/WARN traffic too.
    """
    errors = tm.filter(
        (F.col("metrics_type") == "logs") & (F.col("event_type") == "error")
    )
    buckets = errors.groupBy(
        "executor_id",
        # integer DIV, not floor(double division) — keeps the whole plan
        # genuinely integer-exact at any timestamp magnitude.
        F.expr(f"metric_time_ms DIV {bucket_ms}").alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("n_errors"))
    w = Window.partitionBy("executor_id").orderBy("bucket")
    islands = buckets.withColumn(
        "island", F.col("bucket") - F.row_number().over(w)
    )
    return (
        islands.groupBy("executor_id", "island")
        .agg(
            (F.min("bucket") * bucket_ms).alias("island_start_ms"),
            (F.max("bucket") * bucket_ms).alias("island_end_ms"),
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("n_errors").alias("total_errors"),
        )
        .select(
            "executor_id",
            "island_start_ms",
            "island_end_ms",
            "n_buckets",
            "total_errors",
            (F.col("n_buckets") >= min_consecutive).alias("fired"),
        )
    )


def straggler_detect(tm: DataFrame, min_run_time_ms: int = 100) -> DataFrame:
    """O50: per-stage STRAGGLER tasks — run time > 1.5× the stage median.

    The reference's data-skew dashboards surface skewed *stages*
    (``data-skew.ndjson`` range buckets over the skewness fields); the
    follow-up question a user always asks is "which tasks are dragging
    this stage" — speculative-execution-style straggler detection. Median,
    not mean, so one extreme task cannot mask itself by inflating its own
    baseline.

    Integer-exact throughout: the median is carried as ``median_x2`` (the
    sum of the two middle order statistics — twice the median, always a
    BIGINT) and the 1.5× threshold becomes the cross-multiplied predicate
    ``4·run_time > 3·median_x2``, so there is no float boundary anywhere;
    the reported ``ratio`` is one final IEEE division of exact integers.

    Plan shape: one per-stage window (rank by run time — bounded
    partitions, stages have at most a few thousand tasks), one tiny
    per-stage aggregate, and a join back that AQE broadcast-converts
    (stage stats ≪ task table). Tasks under ``min_run_time_ms`` are never
    flagged (sub-100ms "stragglers" are scheduler noise, and degenerate
    all-zero stages would otherwise flag everything).
    """
    w = Window.partitionBy(*STAGE_KEYS).orderBy("run_time_ms", "task_id")
    ranked = (
        tm.select(*STAGE_KEYS, "task_id", "executor_id", "run_time_ms")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy(*STAGE_KEYS)))
    )
    lo = F.expr("(n + 1) DIV 2")
    hi = F.expr("n DIV 2 + 1")
    stats = ranked.groupBy(*STAGE_KEYS).agg(
        F.max("n").alias("n_tasks"),
        (
            F.sum(F.when(F.col("rn") == lo, F.col("run_time_ms")))
            + F.sum(F.when(F.col("rn") == hi, F.col("run_time_ms")))
        ).alias("median_x2"),
    )
    return (
        tm.select(*STAGE_KEYS, "task_id", "executor_id", "run_time_ms")
        .join(stats, STAGE_KEYS)
        .filter(
            (F.col("run_time_ms") >= min_run_time_ms)
            & (F.col("run_time_ms") * 4 > F.col("median_x2") * 3)
        )
        .select(
            *STAGE_KEYS,
            "task_id",
            "executor_id",
            "run_time_ms",
            "n_tasks",
            "median_x2",
            # try_divide: a zero median (all-sub-100ms stage with one big
            # task) must yield a NULL ratio, not an ANSI DIVIDE_BY_ZERO
            # abort — and NULL is what the DuckDB oracle produces.
            F.try_divide(F.col("run_time_ms") * 2, F.col("median_x2")).alias(
                "ratio"
            ),
        )
    )


def log_sample(tm: DataFrame, per_key: int = 5) -> DataFrame:
    """O51: deterministic head-sampling rate limiter for log records — at
    most ``per_key`` log events survive per (executor, minute).

    The reference ships EVERY log event through the ingestion pipeline
    (``CollectorAppender`` → logs-pipeline); at 100 TB-scale log volume
    the standard mitigation is head sampling with a per-key budget so an
    executor in a crash loop cannot flood the sink while quiet executors
    keep full fidelity. Selection is ranked by an md5 sampling key
    (uniform, content-independent, reproducible across engines and runs —
    the same property P1/P2 rely on), never "first N by arrival", which
    would bias toward whatever the scheduler ran first.

    ``n_logs`` (the pre-sampling count per key) rides along so downstream
    rate computations can re-weight: kept_count/n_logs is the exact
    inverse sampling fraction. The rank filter plans as WindowGroupLimit —
    per-partition partial top-N before the shuffle — so the cost is the
    one bounded-key shuffle regardless of how hot a key gets.
    """
    logs = tm.filter(F.col("metrics_type") == "logs")
    keyed = logs.select(
        "executor_id",
        F.expr("metric_time_ms DIV 60000 * 60000").alias("minute_ms"),
        "task_id",
        "app_id",
        "metric_time_ms",
        F.md5(F.concat_ws("-", "app_id", F.col("task_id").cast("string"))).alias(
            "sample_key"
        ),
    )
    # metric_time_ms breaks the (sample_key, task_id) tie — sample_key is
    # md5(app_id, task_id), so two log rows from the same task in the same
    # minute are otherwise fully tied and the rank<=N cutoff would be
    # partition-order nondeterministic.
    w = Window.partitionBy("executor_id", "minute_ms").orderBy(
        "sample_key", "task_id", "metric_time_ms"
    )
    wn = Window.partitionBy("executor_id", "minute_ms")
    # n_logs BEFORE the rank so the rank filter sits directly above its
    # Window and InferWindowGroupLimit can rewrite it.
    return (
        keyed.withColumn("n_logs", F.count(F.lit(1)).over(wn))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= per_key)
        .select(
            "executor_id",
            "minute_ms",
            "task_id",
            "app_id",
            "metric_time_ms",
            F.col("sample_rank").cast("long").alias("sample_rank"),
            "n_logs",
        )
    )


def latency_heatmap(
    tm: DataFrame, bucket_ms: int = 500, max_bucket: int = 19
) -> DataFrame:
    """O52: hour × latency-bucket HEATMAP of task run times — the 2D
    dashboard panel behind "did the latency distribution shift over
    time" (O40 gives the 1D distribution; trends need the time axis).

    Pure integer binning: ``bucket_id = least(run_time DIV bucket_ms,
    max_bucket)`` (the last bucket absorbs the tail), counts aggregate
    with map-side combine, and ``share_of_hour`` is one final division of
    exact counts (per-hour totals via a RANGE-free window over the tiny
    rollup, not the raw stream). Cell cardinality is bounded by
    hours × (max_bucket+1) regardless of input volume.
    """
    cells = tm.groupBy(
        F.expr("metric_time_ms DIV 3600000 * 3600000").alias("hour_ms"),
        F.least(
            F.expr(f"run_time_ms DIV {bucket_ms}"), F.lit(max_bucket).cast("long")
        ).alias("bucket_id"),
    ).agg(F.count(F.lit(1)).alias("n_tasks"))
    w = Window.partitionBy("hour_ms")
    return cells.select(
        "hour_ms",
        "bucket_id",
        (F.col("bucket_id") * bucket_ms).alias("bucket_lo_ms"),
        F.when(F.col("bucket_id") == max_bucket, F.lit(None).cast("long"))
        .otherwise((F.col("bucket_id") + 1) * bucket_ms)
        .alias("bucket_hi_ms"),
        "n_tasks",
        (F.col("n_tasks") / F.sum("n_tasks").over(w)).alias("share_of_hour"),
    )


def job_critical_stage(tm: DataFrame) -> DataFrame:
    """O53: per-job CRITICAL-STAGE attribution — which stage dominated
    each job's total task time, and by how much.

    The reference's dashboards join appId × jobId × stageId top-N tables;
    the question users answer with them is "where did this job's time
    go". One aggregation to per-stage totals (map-side combined), then a
    rank-1 window over the per-job stage rows (bounded: stages per job,
    never tasks) with deterministic stage_id tie-break. ``critical_share``
    is one division of exact BIGINTs.
    """
    per_stage = tm.groupBy("app_id", "job_id", "stage_id").agg(
        F.sum("run_time_ms").alias("stage_time_ms"),
        F.count(F.lit(1)).alias("n_tasks"),
    )
    w = Window.partitionBy("app_id", "job_id").orderBy(
        F.col("stage_time_ms").desc(), F.col("stage_id")
    )
    wj = Window.partitionBy("app_id", "job_id")
    return (
        per_stage.withColumn("job_time_ms", F.sum("stage_time_ms").over(wj))
        .withColumn("n_stages", F.count(F.lit(1)).over(wj))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "app_id",
            "job_id",
            "n_stages",
            "job_time_ms",
            F.col("stage_id").alias("critical_stage_id"),
            F.col("stage_time_ms").alias("critical_stage_time_ms"),
            F.col("n_tasks").alias("critical_stage_n_tasks"),
            # try_divide: an all-zero-runtime job (idle/metadata-only) must
            # emit a NULL share, not abort under default-ANSI Spark 4.
            F.try_divide(F.col("stage_time_ms"), F.col("job_time_ms")).alias(
                "critical_share"
            ),
        )
    )


def percentile_timeline(tm: DataFrame) -> DataFrame:
    """O54: hourly latency-band timeline — p25/50/75/99 of task run time
    per hour bucket, the "latency bands over time" dashboard panel (O8
    gives the global distribution per metric class; O52 the full heatmap;
    this is the banded line chart operators actually watch).

    Same engine-portable order-statistic selection as O8/O42/O44
    (:func:`_order_stat_aggs` — single source of the rank convention).
    One window sort per hour partition; hours parallelize. The O22 KLL
    sketch per hour is the scale path when approximation is acceptable.
    """
    base = tm.select(div_bucket(3600000, "hour_ms"), "run_time_ms", "task_id")
    ranked = _ranked_with_n(base, "hour_ms", ["run_time_ms", "task_id"])
    return ranked.groupBy("hour_ms").agg(*_order_stat_aggs("run_time_ms"))


def apdex(
    tm: DataFrame, satisfied_ms: int = 500, tolerating_ms: int = 2000
) -> DataFrame:
    """O55: Apdex score per application run — the industry-standard
    user-satisfaction rollup over response/run times
    (``(satisfied + tolerating/2) / n``, thresholds T and 4T).

    One conditional-sum aggregation pass (map-side combined); the score
    is carried as the exact integer pair ``(2·satisfied + tolerating,
    2·n)`` and realized with one final division, so there is no float
    accumulation anywhere and the halves are exact.
    """
    sat = F.col("run_time_ms") <= satisfied_ms
    tol = (F.col("run_time_ms") > satisfied_ms) & (
        F.col("run_time_ms") <= tolerating_ms
    )
    agg = tm.groupBy("app_id").agg(
        F.count(F.lit(1)).alias("n_tasks"),
        F.sum(F.when(sat, 1).otherwise(0)).cast("long").alias("n_satisfied"),
        F.sum(F.when(tol, 1).otherwise(0)).cast("long").alias("n_tolerating"),
        F.sum(
            F.when(F.col("run_time_ms") > tolerating_ms, 1).otherwise(0)
        ).cast("long").alias("n_frustrated"),
    )
    return agg.select(
        "app_id",
        "n_tasks",
        "n_satisfied",
        "n_tolerating",
        "n_frustrated",
        (
            (F.col("n_satisfied") * 2 + F.col("n_tolerating"))
            / (F.col("n_tasks") * 2)
        ).alias("apdex"),
    )


def seasonal_baseline(tm: DataFrame) -> DataFrame:
    """O56: seasonality-aware deviation flags — compare each (executor,
    day, hour-of-day) cell against that executor's SAME-HOUR baseline
    from the earlier 70% of the timeline ("is 3am today slower than 3am
    usually is"), the profile z-score O28's flat rolling window cannot
    express (a nightly batch spike would permanently pollute a flat
    baseline; the hour-of-day profile absorbs it).

    Plan: one global min/max day pass (1-row broadcast), one baseline
    aggregation keyed (executor, hour-of-day) — bounded 24·executors rows,
    broadcast back — and one evaluation aggregation. The "current mean >
    2× baseline mean" flag is the cross-multiplied integer predicate
    ``cur_sum · base_n > 2 · base_sum · cur_n``; the reported ratio is one
    final division of exact BIGINTs.
    """
    day = F.expr("metric_time_ms DIV 86400000")
    hod = F.expr("metric_time_ms DIV 3600000 % 24")
    base = tm.select(
        "executor_id",
        day.alias("day"),
        hod.alias("hour_of_day"),
        "run_time_ms",
    )
    span = base.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    # cutoff day: first 70% of the span is baseline (integer arithmetic)
    cut = base.join(F.broadcast(span)).withColumn(
        "cutoff", F.expr("d0 + (d1 - d0) * 7 DIV 10")
    )
    baseline = (
        cut.filter(F.col("day") <= F.col("cutoff"))
        .groupBy("executor_id", "hour_of_day")
        .agg(
            F.count(F.lit(1)).alias("base_n"),
            F.sum("run_time_ms").alias("base_sum"),
        )
    )
    current = (
        cut.filter(F.col("day") > F.col("cutoff"))
        .groupBy("executor_id", "day", "hour_of_day")
        .agg(
            F.count(F.lit(1)).alias("cur_n"),
            F.sum("run_time_ms").alias("cur_sum"),
        )
    )
    return (
        current.join(F.broadcast(baseline), ["executor_id", "hour_of_day"])
        .select(
            "executor_id",
            "day",
            "hour_of_day",
            "cur_n",
            "cur_sum",
            "base_n",
            "base_sum",
            F.try_divide(
                F.col("cur_sum") * F.col("base_n"),
                F.col("base_sum") * F.col("cur_n"),
            ).alias("ratio_vs_baseline"),
            (
                F.col("cur_sum") * F.col("base_n")
                > F.col("base_sum") * F.col("cur_n") * 2
            ).alias("flagged"),
        )
    )


def top_movers(tm: DataFrame, top_n: int = 10) -> DataFrame:
    """O57: biggest half-over-half movers — which executors' run-time
    totals changed most between the two halves of the timeline (the
    "what regressed since last week" leaderboard every ops dashboard
    carries; point-in-time tiles like O4 can't answer it).

    One pass splits each row into its half via the broadcast 1-row span
    (midpoint in integer ms), one aggregation produces both halves'
    totals as conditional sums (no self-join, no second scan), and the
    leaderboard ranks by absolute BIGINT delta with a deterministic
    executor tie-break. ``pct_change`` is one final division, NULL for
    executors new in the second half (try_divide).
    """
    span = tm.agg(
        F.min("metric_time_ms").alias("t0"), F.max("metric_time_ms").alias("t1")
    )
    halved = tm.join(F.broadcast(span)).withColumn(
        "second_half", F.expr("metric_time_ms * 2 > t0 + t1")
    )
    agg = halved.groupBy("executor_id").agg(
        F.sum(F.when(~F.col("second_half"), F.col("run_time_ms")).otherwise(0))
        .cast("long")
        .alias("first_half_ms"),
        F.sum(F.when(F.col("second_half"), F.col("run_time_ms")).otherwise(0))
        .cast("long")
        .alias("second_half_ms"),
        F.count(F.lit(1)).alias("n_tasks"),
    )
    delta = F.col("second_half_ms") - F.col("first_half_ms")
    with_delta = agg.withColumn("delta_ms", delta)
    w = Window.orderBy(F.abs(F.col("delta_ms")).desc(), "executor_id")
    ranked = with_delta.withColumn("rank", F.row_number().over(w).cast("long"))
    return (
        ranked.filter(F.col("rank") <= top_n)
        .select(
            "rank",
            "executor_id",
            "n_tasks",
            "first_half_ms",
            "second_half_ms",
            "delta_ms",
            F.try_divide(F.col("delta_ms"), F.col("first_half_ms")).alias(
                "pct_change"
            ),
        )
    )


#: O58's outlier test |x−med| > 3·1.4826·MAD, held as the exact rational
#: 44478/10000 so the comparison is a BIGINT cross-multiplication (no
#: float boundary can flip a verdict between engines).
MAD_K_NUM = 44478
MAD_K_DEN = 10000


def anomaly_mad(tm: DataFrame) -> DataFrame:
    """O58: robust per-type outlier detection — median + MAD (median
    absolute deviation), the estimator family that SURVIVES the condition
    it exists to detect: O28's mean/stddev z-score is dragged toward the
    outliers themselves (one hot task inflates σ and hides its peers),
    while median and MAD have a 50% breakdown point, the standard robust
    alerting rule (|x − med| > 3·1.4826·MAD ≈ 3σ under normality).

    Exactness: values in integer cents; BOTH medians are the engine-
    portable lower order statistic shared with O8 (`_order_stat_aggs`'
    p50 convention — value at 0-based rank floor((n-1)/2), ordered by
    (value, task_id)); the outlier test is the cross-multiplied BIGINT
    inequality ``|x−med|·10000 > 44478·MAD`` — no float anywhere except
    the final outlier_share division.

    Scale shape: two ranked passes per event_type (the same sort posture
    as O8) and two broadcast joins of per-type 1-row aggregates back onto
    the task stream.
    """
    base = tm.select(
        "event_type",
        "task_id",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
    )
    r1 = _ranked_with_n(base, "event_type", ["v", "task_id"])
    med = r1.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rn") - 1 == F.floor((F.col("n") - 1) * 0.5), F.col("v"))
        ).alias("med_cents")
    )
    dev = base.join(F.broadcast(med), "event_type").withColumn(
        "abs_dev", F.abs(F.col("v") - F.col("med_cents"))
    )
    r2 = _ranked_with_n(dev, "event_type", ["abs_dev", "task_id"])
    mad = r2.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn") - 1 == F.floor((F.col("n") - 1) * 0.5),
                F.col("abs_dev"),
            )
        ).alias("mad_cents")
    )
    flagged = F.when(
        F.col("abs_dev") * MAD_K_DEN > F.lit(MAD_K_NUM) * F.col("mad_cents"), 1
    ).otherwise(0)
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_tasks"),
            F.max("med_cents").alias("med_cents"),
            F.max("mad_cents").alias("mad_cents"),
            F.sum(flagged).cast("long").alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_tasks",
            "med_cents",
            "mad_cents",
            "n_outliers",
            (F.col("n_outliers") / F.col("n_tasks")).alias("outlier_share"),
        )
    )


def cusum_drift(tm: DataFrame) -> DataFrame:
    """O59: CUSUM drift localization per metric type — "did this metric's
    LEVEL shift, and when": the peak of the cumulative deviation from the
    series mean marks the changepoint (Page's CUSUM statistic / the first
    step of binary segmentation; a flat series random-walks near zero, a
    level shift at time t makes |S| grow linearly to a peak AT t).

    Exactness: with x in integer cents, the mean-centered cumulative sum
    is held CROSS-MULTIPLIED — ``S_i = Σ_{j≤i} (n·x_j − Σx)`` = n·(classic
    CUSUM) — so every S_i is BIGINT-exact and engine-identical (dividing
    by n per row would be float). Peak/trough locations are re-derived as
    ``min(time) where S = extreme`` (a join-back, not ``arg_max`` — whose
    tie-break is engine-arbitrary). Magnitudes are BIGINT; only the final
    normalized ``drift_score = max(|peak|,|trough|) / (n·n)`` is a
    division.

    Scale shape: one broadcast of the per-type totals, one ranked window
    per type (the O8 sort posture), two tiny extreme join-backs.

    Exactness BOUND (not unconditional): the cross-multiplied terms grow
    as n² — per row ``dev = n·(x − mean)`` and ``|S_i| ≤ n·Σ|x_j − mean|
    ≤ n²·spread`` where spread = max |x − mean| in cents. BIGINT holds
    while ``n² · spread < 2^63``: spread $100 (10⁴ cents) → n ≲ 3·10⁷
    rows per type; spread $1 → n ≲ 3·10⁸ (and ``n_events·n_events`` in
    drift_score itself wraps at n > ~3·10⁹). Non-ANSI Spark would WRAP
    silently past that while DuckDB (HUGEINT internally) would not —
    the engines diverge exactly where the claim breaks. Past the bound,
    switch to the two-phase formulation: bucket the series, hold per-
    bucket partial sums Σx and counts, and form S at bucket granularity
    (the O44 prefix-sum shape, :func:`~.pipeline._prefix_sum`) so no
    single term exceeds bucket_n²·spread.
    """
    base = tm.select(
        "event_type",
        "task_id",
        "metric_time_ms",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("x"),
    )
    tot = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("x").alias("sum_x")
    )
    deved = base.join(F.broadcast(tot), "event_type").withColumn(
        "dev", F.col("n_events") * F.col("x") - F.col("sum_x")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("metric_time_ms", "task_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = deved.withColumn("s", F.sum("dev").over(w))
    extremes = cum.groupBy("event_type").agg(
        F.max("n_events").alias("n_events"),
        F.max("s").alias("cum_peak"),
        F.min("s").alias("cum_trough"),
    )
    peak_t = (
        cum.join(
            F.broadcast(
                extremes.select("event_type", F.col("cum_peak").alias("s"))
            ),
            ["event_type", "s"],
        )
        .groupBy("event_type")
        .agg(F.min("metric_time_ms").alias("peak_time_ms"))
    )
    trough_t = (
        cum.join(
            F.broadcast(
                extremes.select("event_type", F.col("cum_trough").alias("s"))
            ),
            ["event_type", "s"],
        )
        .groupBy("event_type")
        .agg(F.min("metric_time_ms").alias("trough_time_ms"))
    )
    return (
        extremes.join(peak_t, "event_type")
        .join(trough_t, "event_type")
        .select(
            "event_type",
            "n_events",
            "cum_peak",
            "cum_trough",
            "peak_time_ms",
            "trough_time_ms",
            (
                F.greatest(F.col("cum_peak"), -F.col("cum_trough"))
                / (F.col("n_events") * F.col("n_events"))
            ).alias("drift_score"),
        )
    )


def tail_thresholds(tm: DataFrame) -> DataFrame:
    """Per-type p99 tail thresholds (the shared O8 lower-order-statistic)
    — the TRAINED half of the O60 sampling policy. In production these
    come from the history table and are broadcast against the live
    stream; here one definition serves the batch report and the
    streaming runner so the policy cannot drift between them."""
    ranked = _ranked_with_n(
        tm.select("event_type", "value", "task_id"),
        "event_type",
        ["value", "task_id"],
    )
    return ranked.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn") - 1 == F.floor((F.col("n") - 1) * 0.99), F.col("value")
            )
        ).alias("p99_value")
    )


def tail_classified(tm: DataFrame, thresholds: DataFrame) -> DataFrame:
    """O60's stateless classify pass: one keep reason per record by fixed
    priority (error > tail > baseline > drop), thresholds broadcast —
    works identically on a batch frame and a streaming micro-batch."""
    from ..functions.hashing import md5_int

    return (
        tm.select("event_type", "task_id", "value", "metrics_type")
        .join(F.broadcast(thresholds), "event_type")
        .withColumn(
            "reason",
            F.when(F.col("metrics_type") == "logs", "error")
            .when(F.col("value") >= F.col("p99_value"), "tail")
            .when(md5_int(F.col("task_id").cast("string"), 7) % 100 == 0, "baseline")
            .otherwise("drop"),
        )
    )


def tail_sampling(tm: DataFrame) -> DataFrame:
    """O60: TAIL-BASED sampling policy report — the trace-volume answer at
    100 TB/day: keep EVERY error, every tail-latency record (value ≥ the
    type's p99), and a deterministic 1% uniform baseline; drop the rest.
    This is the Jaeger/X-Ray tail-sampling shape — uniform head sampling
    keeps 1% of errors too, which is exactly what an on-call needs least.

    Each record gets ONE keep reason by fixed priority (error > tail >
    baseline — counts partition cleanly instead of double-counting a slow
    error twice). Exactness: the p99 threshold is the shared O8
    lower-order-statistic (broadcast back per type); the baseline is
    md5(task_id) % 100 == 0 — deterministic, reproducible, and unbiased
    in expectation, the same coin every engine flips identically.

    Scale shape: one ranked window per type for the threshold (O8's sort
    posture), then a single narrow classify-and-aggregate pass over the
    stream with the thresholds broadcast; output is |types| rows. The
    threshold/classify stages, the (type, reason) partial and the rollup
    tail are shared with the streaming-on-ingest twin.
    """
    return tail_sampling_tail(tail_sample_partials(tm, tail_thresholds(tm)))


TAIL_SAMPLE_OPS = {"n": "sum", "p99_value": "max"}


def tail_sample_partials(tm: DataFrame, thresholds: DataFrame) -> DataFrame:
    """O60's mergeable partial: per-(event_type, reason) record counts of
    the classify pass (plus the type's threshold) — ADDITIVE, so the
    streaming twin appends one per micro-batch."""
    return (
        tail_classified(tm, thresholds)
        .groupBy("event_type", "reason")
        .agg(F.count(F.lit(1)).alias("n"), F.max("p99_value").alias("p99_value"))
    )


def tail_sampling_tail(partials: DataFrame) -> DataFrame:
    """O60's per-type keep report over (event_type, reason, n, p99_value)
    partial rows — one definition for batch and stream."""
    kept = lambda r: F.sum(  # noqa: E731
        F.when(F.col("reason") == r, F.col("n")).otherwise(0)
    ).cast("long")
    return (
        partials.groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n_total"),
            kept("error").alias("n_error_kept"),
            kept("tail").alias("n_tail_kept"),
            kept("baseline").alias("n_baseline_kept"),
            F.max("p99_value").alias("p99_value"),
        )
        .select(
            "event_type",
            "n_total",
            "n_error_kept",
            "n_tail_kept",
            "n_baseline_kept",
            (
                F.col("n_error_kept")
                + F.col("n_tail_kept")
                + F.col("n_baseline_kept")
            ).alias("n_kept"),
            "p99_value",
            (
                (
                    F.col("n_error_kept")
                    + F.col("n_tail_kept")
                    + F.col("n_baseline_kept")
                )
                / F.col("n_total")
            ).alias("kept_share"),
        )
    )


def trend_regression(tm: DataFrame) -> DataFrame:
    """O63: least-squares linear TREND per metric type — "is this metric
    drifting, and how fast": slope (cents/second), intercept, and r² of
    value over time, the capacity-planning regression behind every
    "disk full in N days" projection panel (the parametric companion to
    O59's CUSUM changepoint: CUSUM says WHERE the level moved, the
    regression says at what sustained RATE).

    Exactness contract: the five sufficient statistics (n, Σt, Σx, Σtx,
    Σt², Σx²) are EXACT integers — x in cents, t in whole seconds offset
    from the type's own min time (an epoch-ms t would square to ~3e24
    and overflow; the offset keeps t² ≤ ~7e12 for a month-long window) —
    summed as DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), both exact. The
    closed forms then run in DOUBLE over those exactly-agreed integers
    with an identical expression tree on both engines — every operation
    IEEE-deterministic (multiply/subtract/divide), so the hash compare
    is exact even where cancellation costs ACCURACY (document: at n~1e6
    the n·Σt² − (Σt)² subtraction can lose ~1-2 digits — identically on
    both sides).

    Scale shape: one broadcast of per-type min times, ONE narrow
    aggregation pass (map-side combined) — no window, no sort; output is
    |types| rows.
    """
    return trend_tail(linear_fit_partials(tm, linear_fit_t0(tm)))


def linear_fit_t0(tm: DataFrame) -> DataFrame:
    """Per-type time origin ``t0_ms`` of the O63/O74 fit — the batch
    operators train it on their own input, the streaming twins on the
    history table."""
    return tm.groupBy("event_type").agg(F.min("metric_time_ms").alias("t0_ms"))


LINEAR_FIT_OPS = {
    **{c: "sum" for c in ("n", "st", "sx", "stx", "stt", "sxx")},
    "t_max": "max",
    "t0_ms": "max",
}


def linear_fit_partials(tm: DataFrame, t0: DataFrame) -> DataFrame:
    """O63/O74's exact sufficient statistics per type — (n, Σt, Σx, Σtx,
    Σt², Σx²) as DECIMAL(38,0) sums plus ``t_max`` — with x in cents and t
    in whole seconds past the broadcast ``t0``. Sums and maxima merge, so
    the streaming twins append one partial per micro-batch."""
    dec = "decimal(38,0)"
    wt = (
        tm.select(
            "event_type",
            "metric_time_ms",
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("x"),
        )
        .join(F.broadcast(t0), "event_type")
        .withColumn("t", F.expr("(metric_time_ms - t0_ms) DIV 1000"))
    )
    return wt.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("t").cast(dec)).alias("st"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum((F.col("t") * F.col("x")).cast(dec)).alias("stx"),
        F.sum((F.col("t") * F.col("t")).cast(dec)).alias("stt"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.max("t").cast("long").alias("t_max"),
        F.max("t0_ms").alias("t0_ms"),
    )


def trend_tail(stats: DataFrame) -> DataFrame:
    """O63's slope/intercept/r² closed forms over linear-fit partials."""
    n = F.col("n").cast("double")
    st = F.col("st").cast("double")
    sx = F.col("sx").cast("double")
    stx = F.col("stx").cast("double")
    stt = F.col("stt").cast("double")
    sxx = F.col("sxx").cast("double")
    cov_n = n * stx - st * sx  # n²·cov(t,x)
    var_t = n * stt - st * st  # n²·var(t)
    var_x = n * sxx - sx * sx  # n²·var(x)
    return stats.select(
        "event_type",
        F.col("n").alias("n_events"),
        "t0_ms",
        F.try_divide(cov_n, var_t).alias("slope_cents_per_s"),
        F.try_divide(sx - F.try_divide(cov_n, var_t) * st, n).alias(
            "intercept_cents"
        ),
        F.try_divide(cov_n * cov_n, var_t * var_x).alias("r2"),
    )


def metric_correlation(tm: DataFrame) -> DataFrame:
    """O64: pairwise Pearson CORRELATION between metric types over their
    common hourly buckets — "what moves together" (correlation search:
    the triage step that turns 500 dashboards into 3 suspect groups; the
    cross-metric companion to O41's metric↔log correlation).

    Two stages: (1) the hour × type rollup (Σ cents per bucket — BIGINT,
    map-side combined; buckets ≪ events); (2) a self-join of that TINY
    rollup on the hour key (pairs bounded by types², never events) and
    one aggregation per pair of exact integer sufficient statistics
    (per-row a·b products cast to DECIMAL(38,0)/HUGEINT — two ~1e11-cent
    hour sums multiply past BIGINT). Pearson r then runs in DOUBLE over
    the exactly-agreed integers, identical expression tree both engines;
    sqrt is IEEE-754 correctly-rounded (unlike ln — the reason X12/X14
    avoid logs but r can keep its sqrt) so the hash compare stays exact.
    """
    return metric_correlation_tail(metric_hour_buckets(tm))


METRIC_HOUR_OPS = {"v": "sum"}


def metric_hour_buckets(tm: DataFrame) -> DataFrame:
    """O64's finest-grain partial: (hour_ms, event_type, v) BIGINT cent
    sums — the ONE pass over raw events. Sums are ADDITIVE, so the
    streaming twin O82 emits these per micro-batch and merges by
    summation; single definition of the bucketing."""
    hour = F.expr("metric_time_ms DIV 3600000 * 3600000")
    return (
        tm.select(
            hour.alias("hour_ms"),
            "event_type",
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("x"),
        )
        .groupBy("hour_ms", "event_type")
        .agg(F.sum("x").cast("long").alias("v"))
    )


def metric_correlation_tail(buckets: DataFrame) -> DataFrame:
    """O64's pair join + Pearson extraction over (hour_ms, event_type, v)
    bucket rows — split out (the O68/O71/O75/O81 tail convention) so the
    streaming twin O82 applies the IDENTICAL arithmetic to its merged
    per-batch bucket partials."""
    a = buckets.select(
        "hour_ms", F.col("event_type").alias("type_a"), F.col("v").alias("va")
    )
    b = buckets.select(
        "hour_ms", F.col("event_type").alias("type_b"), F.col("v").alias("vb")
    )
    dec = "decimal(38,0)"
    joined = a.join(b, "hour_ms").filter(F.col("type_a") < F.col("type_b"))
    stats = joined.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum(F.col("va").cast(dec)).alias("sa"),
        F.sum(F.col("vb").cast(dec)).alias("sb"),
        F.sum((F.col("va").cast(dec) * F.col("vb").cast(dec))).alias("sab"),
        F.sum((F.col("va").cast(dec) * F.col("va").cast(dec))).alias("saa"),
        F.sum((F.col("vb").cast(dec) * F.col("vb").cast(dec))).alias("sbb"),
    )
    n = F.col("n_hours").cast("double")
    sa = F.col("sa").cast("double")
    sb = F.col("sb").cast("double")
    sab = F.col("sab").cast("double")
    saa = F.col("saa").cast("double")
    sbb = F.col("sbb").cast("double")
    return stats.select(
        "type_a",
        "type_b",
        "n_hours",
        F.try_divide(
            n * sab - sa * sb,
            F.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)),
        ).alias("pearson_r"),
    ).orderBy("type_a", "type_b")


def ewma_smooth(tm: DataFrame) -> DataFrame:
    """O67: EWMA trend line over the per-app per-minute run-time series —
    the dashboard smoothing knob (Prometheus recording-rule / Grafana
    `exp_smoothing` shape) done EXACTLY: α=1/2 truncated at 8 terms gives
    dyadic weights 128,64,…,1, so the smoothed value is a ratio of two
    BIGINTs (`ewma_num`/`ewma_den`) and the only float op is ONE
    correctly-rounded division — bit-identical in any engine (a recursive
    float EWMA is order-sensitive and engine-divergent; the truncated
    dyadic form is the exact-arithmetic equivalent, max truncation error
    2^-8 of the weight mass).

    The spike flag compares the CURRENT minute against the EWMA of the 8
    PRIOR minutes, cross-multiplied (`x·den_prev > 2·num_prev`) so the
    comparison itself never leaves integers (the O58/O59 convention).

    Lags run over the OBSERVED minute series — a gap compresses history
    (document: O27/O65 own gap semantics; feed their fill through here
    when calendar-aligned smoothing is wanted).

    Scale shape: one shuffle to the per-(app, minute) rollup, then ONE
    window pass per app over its (tiny) minute series evaluating all nine
    lags; no self-joins, no state.
    """
    per_min = tm.groupBy(
        "app_name",
        F.expr("metric_time_ms DIV 60000 * 60000").alias("minute_ms"),
    ).agg(F.sum("run_time_ms").cast("long").alias("run_ms_sum"))
    w = Window.partitionBy("app_name").orderBy("minute_ms")
    lag_cols = {i: F.lag("run_ms_sum", i).over(w) for i in range(1, 9)}
    lagged = per_min.select(
        "app_name",
        "minute_ms",
        "run_ms_sum",
        *[lag_cols[i].alias(f"l{i}") for i in range(1, 9)],
    )
    x = F.col("run_ms_sum")
    num = x * F.lit(128)
    den = F.lit(128).cast("long")
    for i in range(1, 8):
        wgt = 1 << (7 - i)
        num = num + F.coalesce(F.col(f"l{i}") * wgt, F.lit(0))
        den = den + F.when(F.col(f"l{i}").isNotNull(), wgt).otherwise(0)
    num_p = F.lit(0).cast("long")
    den_p = F.lit(0).cast("long")
    for i in range(1, 9):
        wgt = 1 << (8 - i)
        num_p = num_p + F.coalesce(F.col(f"l{i}") * wgt, F.lit(0))
        den_p = den_p + F.when(F.col(f"l{i}").isNotNull(), wgt).otherwise(0)
    return lagged.select(
        "app_name",
        "minute_ms",
        "run_ms_sum",
        num.cast("long").alias("ewma_num"),
        den.cast("long").alias("ewma_den"),
        (num.cast("double") / den.cast("double")).alias("ewma"),
        F.when(den_p == 0, F.lit(0))
        .when(x * den_p > F.lit(2) * num_p, F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("is_spike"),
    )


def error_budget(tm: DataFrame, slo_error_pct: int = 20) -> DataFrame:
    """O68: SLO ERROR-BUDGET BURN-DOWN — the companion panel to O39's
    burn rate: per app and day, how much of the "allowed errors" budget
    (``slo_error_pct``% of all log events to date — the synthetic
    corpus logs ~18% error-level, so the default 20 yields a mixed
    exhausted/healthy panel) remains, and whether
    it is exhausted. The SRE loop freezes launches on exhaustion, so the
    flag must be exact, not a float comparison.

    All-BIGINT: cumulative counts via a RANGE window on the day key
    (gaps contribute nothing), ``budget_total = cum_logs·pct DIV 100``
    (floor — the conservative reading: you never get a fractional error
    of allowance), exhaustion cross-multiplied
    (``cum_errors·100 > cum_logs·pct``) so no division exists anywhere.

    Scale shape: one shuffle to the per-(app, day) rollup; the cumulative
    window runs per app over its bounded day axis.
    """
    per_day = error_count_partials(tm, "app_name", pmod_bucket(86400000, "day_ms"))
    return error_budget_tail(per_day, slo_error_pct)


ERROR_COUNT_OPS = {"n_logs": "sum", "n_errors": "sum"}


def error_count_partials(tm: DataFrame, key: str, bucket: F.Column) -> DataFrame:
    """Per-(key, time bucket) BIGINT ``n_logs``/``n_errors`` — the one
    additive partial under O68's budget, O71's burn windows and O79's RED
    counts, and under their streaming twins. ``bucket`` is the caller's
    own aliased bucket expression (each oracle fixes its flooring)."""
    return tm.groupBy(key, bucket).agg(
        F.count(F.lit(1)).cast("long").alias("n_logs"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("n_errors"),
    )


def error_budget_tail(per_day: DataFrame, slo_error_pct: int = 20) -> DataFrame:
    """O68's cumulative-budget arithmetic over a pre-aggregated
    ``(app_name, day_ms, n_logs, n_errors)`` frame — split out so the
    streaming twin (O72) applies the IDENTICAL tail to its merged
    per-batch partials instead of copy-pasting it (single-definition
    rule: the floor allowance and exhaustion inequality can never
    drift between batch and stream)."""
    w = (
        Window.partitionBy("app_name")
        .orderBy("day_ms")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    pct = F.lit(int(slo_error_pct))
    cum = per_day.select(
        "app_name",
        "day_ms",
        "n_logs",
        "n_errors",
        F.sum("n_logs").over(w).cast("long").alias("cum_logs"),
        F.sum("n_errors").over(w).cast("long").alias("cum_errors"),
    )
    return cum.select(
        "*",
        F.expr(f"cum_logs * {int(slo_error_pct)} DIV 100").cast("long").alias(
            "budget_total"
        ),
        (
            F.expr(f"cum_logs * {int(slo_error_pct)} DIV 100") - F.col("cum_errors")
        ).cast("long").alias("budget_remaining"),
        F.when(F.col("cum_errors") * 100 > F.col("cum_logs") * pct, F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("is_exhausted"),
    )


def distinct_rollup_hll(tm: DataFrame, lg_k: int = 12) -> DataFrame:
    """O70: DISTINCT-COUNT ROLLUP from HLL sketch partials — the
    Druid/DataSketches pattern behind every "unique users per hour/day"
    panel at 100 TB: per-minute HLL partials are aggregated ONCE from raw,
    then every coarser bucket is a UNION OF SKETCHES (register-max merge)
    — the raw data is never re-scanned per level, and unlike partial
    distinct COUNTS (which cannot merge), sketch partials compose
    losslessly: merging minute sketches yields exactly the sketch a
    direct scan of the hour would build (same lgK — pinned in tests as
    estimate equality at both rollup levels).

    Entity here is ``partition_id`` (the driver corpus's only repeated
    id); in production the column is a user/session id where exact
    distinct per bucket is the memory bottleneck sketches exist to break.
    O19 gives the single global approx count; this is its HIERARCHY.

    Rows-only entry: DuckDB's approx_count_distinct is a different sketch
    (no cross-engine estimate identity exists by design).

    Scale shape: one shuffle to (type, minute) partials; hour/day levels
    aggregate SKETCHES (minutes ≫ hours ≫ days, each a few hundred bytes)
    — map-side combinable, no second raw pass, no distinct explosion.
    """
    minute = tm.groupBy(
        "event_type",
        F.expr("metric_time_ms DIV 60000 * 60000").alias("bucket_ms"),
    ).agg(F.hll_sketch_agg(F.col("partition_id"), F.lit(lg_k)).alias("sk"))
    hour = minute.groupBy(
        "event_type",
        F.expr("bucket_ms DIV 3600000 * 3600000").alias("bucket_ms"),
    ).agg(F.hll_union_agg("sk").alias("sk"))
    day = hour.groupBy(
        "event_type",
        F.expr("bucket_ms DIV 86400000 * 86400000").alias("bucket_ms"),
    ).agg(F.hll_union_agg("sk").alias("sk"))
    est = F.hll_sketch_estimate("sk").cast("long").alias("n_distinct_est")
    return (
        hour.select(F.lit("hour").alias("level"), "event_type", "bucket_ms", est)
        .unionByName(
            day.select(F.lit("day").alias("level"), "event_type", "bucket_ms", est)
        )
    )


def burn_rate_multiwindow(tm: DataFrame, slo_error_pct: int = 20) -> DataFrame:
    """O71: MULTI-WINDOW MULTI-BURN-RATE alerting (the Google SRE workbook
    shape O39's single-window burn rate graduates into): a PAGE fires only
    when BOTH a short (1h) and a long (6h) trailing window burn ≥2× the
    SLO allowance — the long window proves it's sustained, the short
    window makes the alert reset fast once the incident ends; a TICKET
    fires at ≥1× over 6h AND 72h (slow leak). Single-window alerts must
    choose between flappy (short) and sticky (long); the AND of two
    windows is the standard fix.

    Exactness: each "burn ≥ k over window w" is the cross-multiplied
    BIGINT inequality ``errors_w·100 ≥ k·pct·logs_w`` — window sums are
    RANGE-framed on the hour key (a missing hour contributes nothing, it
    doesn't shift the frame), and no division exists anywhere.

    Scale shape: one shuffle to the per-(app, hour) rollup; all three
    trailing windows share ONE partition/order spec (one sort), each app's
    hour axis is calendar-bounded.
    """
    per_hour = error_count_partials(tm, "app_name", pmod_bucket(3600000, "hour_ms"))
    return burn_rate_multiwindow_tail(per_hour, slo_error_pct)


def burn_rate_multiwindow_tail(
    per_hour: DataFrame, slo_error_pct: int = 20
) -> DataFrame:
    """O71's trailing-window/flag arithmetic over a pre-aggregated
    ``(app_name, hour_ms, n_logs, n_errors)`` frame — split out (like
    O68's ``error_budget_tail``) so the streaming twin O73 applies the
    IDENTICAL tail to its merged per-batch partials; the burn
    inequalities cannot drift between batch and stream."""

    def trailing(hours: int, col: str) -> F.Column:
        w = (
            Window.partitionBy("app_name")
            .orderBy("hour_ms")
            .rangeBetween(-(hours - 1) * 3600000, 0)
        )
        return F.sum(col).over(w).cast("long")

    pct = int(slo_error_pct)
    sums = per_hour.select(
        "app_name",
        "hour_ms",
        "n_logs",
        "n_errors",
        trailing(1, "n_logs").alias("logs_1h"),
        trailing(1, "n_errors").alias("errors_1h"),
        trailing(6, "n_logs").alias("logs_6h"),
        trailing(6, "n_errors").alias("errors_6h"),
        trailing(72, "n_logs").alias("logs_72h"),
        trailing(72, "n_errors").alias("errors_72h"),
    )
    burn_ge = lambda e, l, k: F.col(e) * 100 >= F.lit(k * pct) * F.col(l)  # noqa: E731
    return sums.select(
        "*",
        F.when(
            burn_ge("errors_1h", "logs_1h", 2) & burn_ge("errors_6h", "logs_6h", 2),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("page_alert"),
        F.when(
            burn_ge("errors_6h", "logs_6h", 1)
            & burn_ge("errors_72h", "logs_72h", 1),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("ticket_alert"),
    )


def forecast_linear(tm: DataFrame) -> DataFrame:
    """O74: THRESHOLD-CROSSING FORECAST — "this metric crosses its alert
    level in N seconds", the capacity-planning projection panel O63's
    trend line exists to feed (Prometheus `predict_linear` shape): fit
    the exact least-squares line per metric type (O63's integer
    sufficient statistics, the identical closed forms), set the alert
    level at 2× the series mean, and project the crossing time
    ``(threshold − intercept)/slope``.

    Exactness: everything through slope/intercept is O63's discipline
    (DECIMAL/HUGEINT partials, correctly-rounded double closed forms);
    the forecast layer is three more single-rounded double ops computed
    over the ALREADY-ALIASED columns in a second select (both engines
    evaluate the same tree). No float→int cast anywhere (Spark truncates,
    DuckDB rounds — `cross_t_s` stays DOUBLE). A non-positive slope
    yields NULL crossing and flag 0: a falling series never crosses
    upward.

    Scale shape: identical to O63 — one map-side-combined aggregation to
    per-type sufficient statistics; the forecast math runs on a
    types-sized frame.
    """
    return forecast_tail(linear_fit_partials(tm, linear_fit_t0(tm)))


def forecast_tail(stats: DataFrame) -> DataFrame:
    """O74's fit + projection tail over linear-fit partials — split out
    (the O68/O71/O75 tail convention) so the streaming twin O81 applies
    the IDENTICAL closed forms to its merged per-batch partials; the
    projection arithmetic has ONE definition.
    """
    n = F.col("n").cast("double")
    st = F.col("st").cast("double")
    sx = F.col("sx").cast("double")
    stx = F.col("stx").cast("double")
    stt = F.col("stt").cast("double")
    cov_n = n * stx - st * sx
    var_t = n * stt - st * st
    slope = F.try_divide(cov_n, var_t)
    fitted = stats.select(
        "event_type",
        F.col("n").alias("n_events"),
        "t0_ms",
        "t_max",
        slope.alias("slope_cents_per_s"),
        F.try_divide(sx - slope * st, n).alias("intercept_cents"),
        (F.lit(2.0) * F.try_divide(sx, n)).alias("threshold_cents"),
    )
    cross = F.when(
        F.col("slope_cents_per_s") > 0,
        (F.col("threshold_cents") - F.col("intercept_cents"))
        / F.col("slope_cents_per_s"),
    )
    return fitted.select(
        "*",
        cross.alias("cross_t_s"),
        (cross - F.col("t_max").cast("double")).alias("seconds_remaining"),
        F.when(
            (F.col("slope_cents_per_s") > 0)
            & (cross > F.col("t_max").cast("double")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("will_cross_ahead"),
    )


def histogram_rollup(
    tm: DataFrame, n_bins: int = 32, width: int = 100
) -> DataFrame:
    """O75: PERCENTILE ROLLUP from fixed-bin histogram partials — the
    Prometheus-classic-histogram / Druid pattern that makes latency
    percentiles re-aggregable at 100 TB: per-minute equi-width bin counts
    (O40's binning) are aggregated ONCE from raw, then every coarser
    bucket is a SUM OF BIN COUNTS — raw is never re-scanned per level,
    and unlike exact percentiles (not mergeable) or t-digests (merge
    order-dependent), fixed-bin partials compose LOSSLESSLY: the hour
    histogram built from minute partials is bit-identical to a direct
    hour scan (pinned in tests as panel equality), so rollup percentiles
    carry the same bin-width error bound as first-hand ones.

    This is O70's hierarchy shape for the percentile family, and — being
    pure integer arithmetic end to end — the one sketch rollup with a
    full hash-exact cross-engine oracle. Per (level, event_type, bucket):
    row count and the p50/p95/p99 bin lower edges, where pXX is the bin
    containing the ``ceil(p·n/100)``-th value (lower order statistic over
    the binned distribution): the least bin whose cumulative count
    reaches it, selected by the cross-multiplied integer inequality
    ``cum·100 ≥ p·n`` — no division, no floats.

    Scale shape: one shuffle to (type, minute, bin) partials (map-side
    combined; the key space is types × minutes × n_bins, tiny vs raw);
    hour/day levels aggregate PARTIALS. The percentile tail sorts each
    bucket's ≤ n_bins rows in one shared window spec — partitions are
    bin-count-bounded, never data-bounded, so no straggler exists at any
    input size.
    """
    minute = histogram_minute_partials(tm, n_bins=n_bins, width=width)
    return histogram_percentile_tail(
        histogram_levels_from_minutes(minute), width=width
    )


HISTOGRAM_BIN_OPS = {"n": "sum"}


def histogram_minute_partials(
    tm: DataFrame, n_bins: int = 32, width: int = 100
) -> DataFrame:
    """O75's finest-grain partial: per-(type, minute, bin) counts — the
    ONE pass over raw data. Shared by the batch rollup and the streaming
    twin O76 (whose micro-batches each emit these partials additively),
    so the binning expression has a single definition. The bin index is
    integer ``DIV`` (the repo-wide convention) — double division only
    agrees with the oracle's ``//`` while values stay below 2^53."""
    bin_idx = F.least(
        F.expr(f"run_time_ms DIV {int(width)}"), F.lit(n_bins - 1)
    ).cast("long")
    return (
        tm.withColumn("bin", bin_idx)
        .groupBy(
            "event_type",
            F.expr("metric_time_ms DIV 60000 * 60000").alias("bucket_ms"),
            "bin",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def histogram_levels_from_minutes(minute: DataFrame) -> DataFrame:
    """Hour/day histogram levels as SUMS of minute bin partials (raw is
    never re-scanned) — the lossless-merge step both O75 and the
    streaming twin O76 route through (single definition)."""
    hour = minute.groupBy(
        "event_type",
        F.expr("bucket_ms DIV 3600000 * 3600000").alias("bucket_ms"),
        "bin",
    ).agg(F.sum("n").cast("long").alias("n"))
    day = hour.groupBy(
        "event_type",
        F.expr("bucket_ms DIV 86400000 * 86400000").alias("bucket_ms"),
        "bin",
    ).agg(F.sum("n").cast("long").alias("n"))
    return hour.select(F.lit("hour").alias("level"), "*").unionByName(
        day.select(F.lit("day").alias("level"), "*")
    )


def histogram_percentile_tail(
    bins: DataFrame, width: int = 100, percentiles: tuple[int, ...] = (50, 95, 99)
) -> DataFrame:
    """O75's percentile extraction over ``(level, event_type, bucket_ms,
    bin, n)`` histogram rows — split out (the O68/O71 tail convention) so
    the streaming twin O76 applies the IDENTICAL arithmetic to its merged
    per-batch bin partials; the bin selection cannot drift between batch
    and stream.

    One window pair per bucket (cumulative count + total over ≤ n_bins
    rows), then ``min(bin where cum·100 ≥ p·n)`` per percentile — integer
    cross-multiplication selects exactly the bin holding the
    ``ceil(p·n/100)``-th ranked value.
    """
    key = ["level", "event_type", "bucket_ms"]
    w_cum = (
        Window.partitionBy(*key)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*key)
    cum = bins.withColumns(
        {
            "cum": F.sum("n").over(w_cum).cast("long"),
            "n_rows": F.sum("n").over(w_all).cast("long"),
        }
    )
    p_aggs = [
        (
            F.min(
                F.when(
                    F.col("cum") * 100 >= F.lit(int(p)) * F.col("n_rows"),
                    F.col("bin"),
                )
            )
            * width
        )
        .cast("long")
        .alias(f"p{p}_lo")
        for p in percentiles
    ]
    return cum.groupBy(*key).agg(
        F.max("n_rows").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_bins_used"),
        *p_aggs,
    )


def alert_flap_detect(tm: DataFrame, flap_k: int = 4) -> DataFrame:
    """O77: alert FLAP detection — the Alertmanager/monitor-fatigue panel
    O33's instantaneous verdicts can't express: a rule that fires,
    resolves, and re-fires every few minutes pages someone every cycle
    while signaling nothing. Per (rule, app): minute-grain alert STATE
    (firing iff ANY event in the minute violates — evaluated over O33's
    OWN rules/metric mapping via the shared ``_rules_checked``, single
    definition), state TRANSITIONS between consecutive observed minutes
    (lag), and the trailing-1h transition count whose ``>= flap_k``
    verdict marks the minutes where a flap-suppression gate would hold
    the page. All-integer: states are 0/1 maxima, transitions integer
    inequality on lag, the trailing window a RANGE frame on the minute
    key — full hash-exact oracle.

    Scale shape: one (event × |rules|) narrow pass map-side combined to
    (rule, app, minute) states — the window partitions are per (rule,
    app), rows bounded by observed minutes (time, not volume); both
    window passes share one sort. flap_k and the 1h span are plain
    parameters.
    """
    return alert_flap_tail(alert_minute_states(tm), flap_k=flap_k)


ALERT_MINUTE_OPS = {"firing": "max"}


def alert_minute_states(tm: DataFrame) -> DataFrame:
    """O77's finest-grain partial: per-(rule, app, minute) 0/1 firing
    maxima — the ONE pass over raw events. A MAX is mergeable (max of
    per-batch maxima == global max), so the streaming twin O78 emits
    these per micro-batch and merges additively; single definition of
    the state evaluation."""
    return (
        _rules_checked(tm)
        .groupBy(
            "rule_id",
            "metric",
            "threshold",
            "app_id",
            F.expr("metric_time_ms DIV 60000 * 60000").alias("minute_ms"),
        )
        .agg(
            F.max((F.col("value") > F.col("threshold")).cast("int"))
            .cast("int")
            .alias("firing")
        )
    )


def alert_flap_tail(minute: DataFrame, flap_k: int = 4) -> DataFrame:
    """O77's transition/flap extraction over (rule_id, metric, threshold,
    app_id, minute_ms, firing) state rows — split out (the O68/O71/O75
    tail convention) so the streaming twin O78 applies the IDENTICAL
    arithmetic to its merged per-batch states."""
    w = Window.partitionBy("rule_id", "app_id").orderBy("minute_ms")
    w_1h = w.rangeBetween(-3540000, 0)  # trailing 60 minutes, inclusive
    st = minute.withColumn(
        "is_transition",
        (
            F.lag("firing").over(w).isNotNull()
            & (F.col("firing") != F.lag("firing").over(w))
        ).cast("long"),
    ).withColumn("trans_1h", F.sum("is_transition").over(w_1h).cast("long"))
    return st.groupBy("rule_id", "metric", "threshold", "app_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_minutes"),
        F.sum("firing").cast("long").alias("n_firing_minutes"),
        F.sum("is_transition").cast("long").alias("n_transitions"),
        F.max("trans_1h").cast("long").alias("max_transitions_1h"),
        F.sum((F.col("trans_1h") >= F.lit(int(flap_k))).cast("long"))
        .cast("long")
        .alias("n_flapping_minutes"),
    )


def red_panel(tm: DataFrame, err_pct: int = 5) -> DataFrame:
    """O79: RED-method panel per (app, hour) — the Rate/Errors/Duration
    triple every service dashboard leads with (Weaveworks RED; the
    Grafana default): request rate, error share with a budget-breach
    verdict, and duration percentiles — composed entirely from this
    repo's shared conventions so nothing here can drift from the
    operators that own them: percentiles are the O8/O44 explicit lower
    order statistics via ``_ranked_with_n`` + ``_order_stat_aggs``; the
    hour is :func:`div_bucket`, shared with the O80 twin; the breach
    verdict is the O68-style cross-multiplied integer inequality
    ``n_errors·100 > pct·n_logs``;
    the only divisions are try_divide display ratios. The rank group is
    the COMPOSITE (app_id, hour_ms) key directly — never a string
    concatenation, which could alias two (app, hour) groups when an
    app_id contains the separator. Full hash-exact oracle.
    """
    base = tm.select(
        "app_id",
        div_bucket(3600000, "hour_ms"),
        "event_type",
        "run_time_ms",
        "task_id",
    )
    ranked = _ranked_with_n(
        base.select("app_id", "hour_ms", "run_time_ms", "task_id"),
        ["app_id", "hour_ms"],
        ["run_time_ms", "task_id"],
    )
    dur = ranked.groupBy("app_id", "hour_ms").agg(*_order_stat_aggs("run_time_ms"))
    re = error_count_partials(base, "app_id", F.col("hour_ms"))
    return (
        re.join(dur, ["app_id", "hour_ms"])
        .drop("n_tasks")
        .select(
            "app_id",
            "hour_ms",
            "n_logs",
            "n_errors",
            F.try_divide(F.col("n_logs"), F.lit(60)).alias("rate_per_min"),
            F.try_divide(F.col("n_errors"), F.col("n_logs")).alias("err_share"),
            (F.col("n_errors") * 100 > F.lit(int(err_pct)) * F.col("n_logs"))
            .cast("int")
            .alias("err_breach"),
            F.col("p50").cast("long").alias("p50_ms"),
            F.col("p75").cast("long").alias("p75_ms"),
            F.col("p99").cast("long").alias("p99_ms"),
        )
    )


#: O85 (r15): vendored inventory of the reference's dashboard bundle —
#: every saved object in deployment/infra/resources/lambda/
#: opensearch-bootstrap/resources/dashboards/data-skew.ndjson (the ONE
#: reference artifact whose parity was, until now, only asserted panel-by-
#: panel in O-group docstrings), as (object id prefix, object type, title,
#: vis type, twin kind, twin). Twin kinds: ``registry`` — the panel's
#: aggregation is a registry query (metric tiles -> O4/O5 sums and
#: cardinalities, skewness pies -> O3's [0,.1,.5,.8,1] buckets x distinct
#: jobs, detail tables -> O7/O1, date histograms -> O6, skew-over-time
#: histograms -> O23, the saved log search -> O17); ``schema`` — the three
#: index patterns, carried by sources/schemas.py's typed StructTypes;
#: ``layout`` — markdown titles, dashboard containers, input controls: no
#: data semantics to twin.
DASHBOARD_PANELS: list[tuple[str, str, str, str, str, str | None]] = [
    ("56342850", "index-pattern", "spark-stage-agg-metrics*", "", "schema", "STAGE_AGG_SCHEMA"),
    ("6776af20", "visualization", "Data Skewness analysis per Spark application", "markdown", "layout", None),
    ("66f2bac0", "visualization", "Data Skew - Dashboard controls", "input_control_vis", "layout", None),
    ("88d555b0", "visualization", "Number of application runs per spark application", "metric", "registry", "obs_cardinality"),
    ("19f32540", "visualization", "Number of spark jobs(s) within an application run", "metric", "registry", "obs_cardinality"),
    ("4cfb7860", "index-pattern", "spark-task-metrics*", "", "schema", "TASK_METRICS_SCHEMA"),
    ("086f70c0", "visualization", "Total run time in milliseconds", "metric", "registry", "obs_app_summary"),
    ("6c4c0e90", "visualization", "Total input Bytes read", "metric", "registry", "obs_app_summary"),
    ("244d90b0", "visualization", "Distribution of completed jobs per InputRead Skewness", "pie", "registry", "obs_skew_distribution"),
    ("38849230", "visualization", "Distribution of completed jobs per Shuffle Skewness", "pie", "registry", "obs_skew_distribution"),
    ("b3108ee0", "visualization", "Data Skewness high level details - Job and Stage Id levels", "table", "registry", "obs_top_n_skew"),
    ("84780a80", "visualization", "Data Skewness task level details", "table", "registry", "obs_task_metrics"),
    ("8bf48420", "visualization", "Spark application logs", "markdown", "layout", None),
    ("406bfc50", "index-pattern", "spark-logs*", "", "schema", "LOG_SCHEMA"),
    ("33ca7a70", "search", "Spark Logs", "", "registry", "obs_log_search"),
    ("0aca6e20", "dashboard", "Data Skewness Analysis - Details", "", "layout", None),
    ("d31f8a00", "visualization", "Data Skewness - Dashboard title", "markdown", "layout", None),
    ("db850f60", "visualization", "Data Skewness metric definition", "markdown", "layout", None),
    ("3f3b0b00", "visualization", "Number of spark applications", "metric", "registry", "obs_cardinality"),
    ("49055720", "visualization", "Number of spark applications in time", "line", "registry", "obs_date_histogram"),
    ("62251290", "visualization", "Number of application runs in time", "line", "registry", "obs_date_histogram"),
    ("93a14a60", "visualization", "Total Executor CPU time in milliseconds", "metric", "registry", "obs_app_summary"),
    ("c47f18f0", "visualization", "Total Shuffle Bytes read", "metric", "registry", "obs_app_summary"),
    ("d30b4f60", "visualization", "Total Shuffle Bytes written", "metric", "registry", "obs_app_summary"),
    ("0fd952a0", "visualization", "Input bytes read Skewness per App run over time", "histogram", "registry", "obs_skew_timeline"),
    ("8e164cc0", "visualization", "Suffle bytes read Skewness per App run over time", "histogram", "registry", "obs_skew_timeline"),
    ("70230140", "dashboard", "Data Skewness Analysis - Main dashboard", "", "layout", None),
    ("73ea8590", "visualization", "Apache Spark Main dashboard", "markdown", "layout", None),
    ("a6388c50", "visualization", "Total output Bytes written", "metric", "registry", "obs_app_summary"),
    ("7ee47e70", "visualization", "Total input Records read", "metric", "registry", "obs_app_summary"),
    ("b26a7f10", "visualization", "Total output Records written", "metric", "registry", "obs_app_summary"),
    ("ef01f890", "visualization", "Total Shuffle Records written", "metric", "registry", "obs_app_summary"),
    ("e08a5b90", "visualization", "Total Shuffle Records read", "metric", "registry", "obs_app_summary"),
    ("5e837740", "dashboard", "Apache Spark Dashboard", "", "layout", None),
]


def _freshest_evidence() -> dict[str, tuple[int, str]]:
    """registry key -> (freshest driver round, status), parsed from the
    repo-root CORRECTNESS_r*.json artifacts when present (the evidence
    union tools/evidence_ledger.py reads); empty in a bare checkout —
    the report then carries null evidence columns, never fails."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    last: dict[str, tuple[int, str]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if row.get("hash_match"):
                status = "hash-exact"
            elif row.get("err") == "no_oracle":
                status = (
                    "ran" if (row.get("spark_rows") or 0) > 0 else "empty"
                )
            else:
                status = "fail"
            prev = last.get(name)
            if prev is None or rnd >= prev[0]:
                last[name] = (rnd, status)
    return last


def dashboard_parity_report(spark) -> DataFrame:
    """O85: dashboard-bundle PARITY report — the evaluation-as-operator
    posture (P17/P31) applied to the reference's one artifact nothing
    queried directly until now: one row per saved object in
    data-skew.ndjson × its twin in THIS engine × the twin's freshest
    driver evidence. Query panels twin to registry entries (checked
    against the live REGISTRY), the three index patterns twin to the
    typed schemas in ``sources/schemas.py`` (checked by symbol lookup),
    and layout objects (markdown/controls/dashboard containers) are
    carried with null twins so the row count equals the bundle's object
    count. Evidence columns come from the committed CORRECTNESS
    artifacts when present (freshest round + status per twin) and are
    null in a bare checkout. Rows-only driver check (the report reads
    repo artifacts, not the data tables); every-panel-has-a-twin is
    pinned in tests.

    Reference: deployment/infra/resources/lambda/opensearch-bootstrap/
    resources/dashboards/data-skew.ndjson (35 saved objects; panel→query
    mapping per SURVEY §1's dashboard row)."""
    from ..plans.registry import REGISTRY
    from ..sources import schemas as schema_mod

    evidence = _freshest_evidence()
    rows = []
    for oid, otype, title, vtype, kind, twin in DASHBOARD_PANELS:
        registered = False
        oracle = None
        ev_round = None
        ev_status = None
        if kind == "registry" and twin is not None:
            spec = REGISTRY.get(twin)
            registered = spec is not None
            if spec is not None:
                oracle = "sql" if spec.oracle is not None else "rows-only"
            ev = evidence.get(twin)
            if ev is not None:
                ev_round, ev_status = ev
        elif kind == "schema" and twin is not None:
            registered = hasattr(schema_mod, twin)
        rows.append(
            (oid, otype, title, vtype or None, kind, twin, registered,
             oracle, ev_round, ev_status)
        )
    return spark.createDataFrame(
        rows,
        "object_id STRING, object_type STRING, title STRING, "
        "vis_type STRING, twin_kind STRING, twin STRING, "
        "twin_registered BOOLEAN, twin_oracle STRING, "
        "evidence_round INT, evidence_status STRING",
    )
