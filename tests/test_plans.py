"""Physical-plan assertions — the 100 TB posture, enforced.

These tests pin the *shape* of the executed plans, not their results:
small dims stay broadcast, filters reach the parquet scans, the hot path
stays inside WholeStageCodegen, and no operator silently falls back to
row-at-a-time Python. A refactor that keeps results correct but regresses
any of these would pass the oracle gate and still be wrong at scale —
this file is what catches it.
"""

from __future__ import annotations

import pytest

from guidance_for_analytics_observability_on_aws_spark.plans.registry import REGISTRY


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


BROADCAST_QUERIES = [
    "star_join_broadcast",
    "tpch_q5_local_supplier",
    "tpch_q3_shipping_priority",
    "promo_revenue_share",
]


@pytest.mark.parametrize("name", BROADCAST_QUERIES)
def test_small_dims_are_broadcast(spark, sf_dir, name):
    plan = _executed_plan(REGISTRY[name].builder(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join in plan"
    assert "SortMergeJoin" not in plan or name in (
        "tpch_q3_shipping_priority",
        "tpch_q5_local_supplier",
    ), f"{name}: unexpected sort-merge join for a dim-join query"


def test_filters_pushed_to_parquet_scan(spark, sf_dir):
    # Q3 filters mktsegment + two date bounds; all should reach the scans.
    df = REGISTRY["tpch_q3_shipping_priority"].builder(spark, sf_dir)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters: [" in explained
    pushed = [
        line
        for line in explained.splitlines()
        if "PushedFilters" in line and "PushedFilters: []" not in line
    ]
    assert pushed, "no non-empty PushedFilters on any scan"


def test_scan_prunes_columns(spark, sf_dir):
    # lineitem has 16 columns; Q1 touches 7. ReadSchema must not be SELECT *.
    df = REGISTRY["tpch_q1_pricing_summary"].builder(spark, sf_dir)
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    schema_lines = [l for l in explained.splitlines() if "ReadSchema" in l]
    assert schema_lines and all("l_comment" not in l for l in schema_lines)


def test_hot_path_stays_in_codegen(spark, sf_dir):
    # Under AQE the codegen stages only appear in the FINAL plan, so run
    # the query first and then read the adaptively-executed plan back.
    df = REGISTRY["tpch_q1_pricing_summary"].builder(spark, sf_dir)
    df.collect()  # a write would plan its own QueryExecution; collect finalizes this one
    plan = _executed_plan(df)
    assert "isFinalPlan=true" in plan
    # "*(n)" is the simple-string marker for a WholeStageCodegen stage.
    assert "*(" in plan, f"no codegen stage in final plan:\n{plan}"


@pytest.fixture(scope="module")
def registry_plans(spark, sf_dir):
    """Executed plan of every registry entry, each built once for both sweeps."""
    return {
        name: _executed_plan(spec.builder(spark, sf_dir))
        for name, spec in REGISTRY.items()
        # streaming jobs run on build; covered in test_streaming
        if name not in ("stream_collector_pipeline", "stream_stage_agg")
    }


def test_no_row_python_udfs_anywhere(registry_plans):
    """Row-at-a-time Python (BatchEvalPython) is banned in every query.

    Arrow-batched pandas plans (mm_decode_frames) are the one sanctioned
    Python path, per the multimodal spec.
    """
    pandas_sanctioned = {
        "mm_decode_frames",
        "mm_resize",
        "dedup_embedding_cosine_blas",
    }
    for name, plan in registry_plans.items():
        assert "BatchEvalPython" not in plan, f"{name}: row-Python UDF in plan"
        if name not in pandas_sanctioned:
            assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan, (
                f"{name}: unexpected pandas path"
            )


def test_no_cartesian_products(registry_plans):
    """No registered query may degenerate into an unconditional cross join."""
    for name, plan in registry_plans.items():
        assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"


def test_approx_cardinality_close_to_exact(spark, sf_dir):
    exact = REGISTRY["obs_cardinality"].builder(spark, sf_dir).collect()[0]
    approx = REGISTRY["obs_cardinality_approx"].builder(spark, sf_dir).collect()[0]
    assert approx["n_tasks"] == exact["n_tasks"]  # plain count stays exact
    for tile in ("n_apps", "n_runs", "n_jobs", "n_stages", "n_executors"):
        e, a = exact[tile], approx[tile]
        assert abs(a - e) <= max(2, 0.10 * e), f"{tile}: approx {a} vs exact {e}"


def test_approx_cardinality_is_single_pass(spark, sf_dir):
    # The scale rationale: one partial_aggregate over sketches, no
    # expand/distinct shuffle like the exact multi-countDistinct plan.
    plan = _executed_plan(REGISTRY["obs_cardinality_approx"].builder(spark, sf_dir))
    assert "Expand" not in plan
    exact_plan = _executed_plan(REGISTRY["obs_cardinality"].builder(spark, sf_dir))
    assert "Expand" in exact_plan  # documents what the sketch path avoids


def test_approx_percentiles_close_to_exact(spark, sf_dir):
    exact = {
        r["event_type"]: r.asDict()
        for r in REGISTRY["obs_task_percentiles"].builder(spark, sf_dir).collect()
    }
    approx = {
        r["event_type"]: r.asDict()
        for r in REGISTRY["obs_task_percentiles_approx"].builder(spark, sf_dir).collect()
    }
    assert set(approx) == set(exact)
    # Sketch accuracy is a RANK guarantee, not a value guarantee (a heavy
    # tail makes adjacent order statistics numerically far apart), so check
    # each approx value's rank against the target rank.
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import task_metrics

    vals = (
        task_metrics(load_tables(spark, sf_dir)["events"])
        .select("event_type", "value")
        .toPandas()
    )
    for et, e in exact.items():
        a = approx[et]
        assert a["n_tasks"] == e["n_tasks"]
        group = sorted(vals[vals["event_type"] == et]["value"])
        n = len(group)
        for frac, p in [(0.25, "p25"), (0.5, "p50"), (0.75, "p75"), (0.99, "p99")]:
            rank = sum(1 for v in group if v <= a[p])
            target = frac * n
            assert abs(rank - target) <= max(2, 0.01 * n), (
                f"{et}.{p}: approx {a[p]} has rank {rank}, target {target:.0f} of {n}"
            )


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """S6: joining two tables bucketed on the join key must plan with ZERO
    shuffles (the write-once-join-many layout for fact⋈fact at scale)."""
    from guidance_for_analytics_observability_on_aws_spark.sources.bucketed import (
        bucketed_join,
        write_bucketed,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )

    t = load_tables(spark, sf_dir)
    write_bucketed(
        t["orders"], "b_orders", str(tmp_path / "b_orders"), "o_custkey", 8
    )
    write_bucketed(
        t["customer"], "b_customer", str(tmp_path / "b_customer"), "c_custkey", 8
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a real SMJ so absence-of-Exchange proves bucket co-location
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "b_orders", "b_customer", "o_custkey", "c_custkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # results still correct vs a plain join
        want = t["orders"].join(
            t["customer"], t["orders"]["o_custkey"] == t["customer"]["c_custkey"]
        ).count()
        assert joined.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """The optimizer must inject a runtime bloom filter on the probe side
    of a shuffle join whose build side is selectively filtered — at 100 TB
    this prunes probe rows before the shuffle instead of after the join.
    (Thresholds lowered because the test tables are tiny; the assert pins
    that the capability is wired, not the default trigger sizes.)"""
    from pyspark.sql import functions as F

    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        t = load_tables(spark, sf_dir)
        j = t["lineitem"].join(
            t["orders"].filter(F.col("o_orderpriority") == "1-URGENT"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = j.groupBy("o_orderstatus").count()._jdf.queryExecution()
        assert "bloom_filter_agg" in plan.optimizedPlan().toString()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join(spark):
    """AQE must split a skewed shuffle-join partition at runtime (the
    no-code-change answer to hot keys at 100 TB; thresholds lowered to
    provoke it on synthetic data — the assert pins the capability)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        hot = spark.range(200000).select(
            (F.col("id") * 0).alias("k"), F.col("id").alias("v")
        )
        uniform = spark.range(20000).select(
            (F.col("id") % 100 + 1).alias("k"), F.col("id").alias("v")
        )
        right = spark.range(101).select(
            F.col("id").alias("k"), (F.col("id") * 7).alias("w")
        )
        j = hot.unionAll(uniform).join(right, "k")
        assert len(j.collect()) == 220000
        # same QueryExecution: AQE's final plan shows the skew split
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_metric_log_correlate_is_equi_join(spark, sf_dir):
    """O41's time-range correlation must compile to a HASH EQUI-JOIN on the
    (executor, bucket) composite key with the range predicate as residual —
    never a nested-loop/cartesian fallback (the naive inequality-join shape
    the oracle deliberately states)."""
    plan = _executed_plan(REGISTRY["obs_metric_log_correlate"].builder(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan
    assert "bucket" in plan, "bucketed equi-key missing from join"


def test_decontaminate_broadcasts_benchmark_set(spark, sf_dir):
    """P6: the benchmark shingle dictionary must broadcast; the corpus side
    must never shuffle its exploded shingles for the join."""
    plan = _executed_plan(REGISTRY["decontaminate"].builder(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bench_steal_attribution_helpers():
    """r16: per-region hypervisor-steal attribution in bench.py. The
    jiffies reader must parse /proc/stat's cumulative steal counter on
    Linux and degrade to None (never raise) elsewhere; the rate helper
    folds two reads into jiffies-per-wall-second and rejects degenerate
    regions; probe spacing stays at most 5 runners (a measured r16
    sandbox put steal bursts inside a 10-runner segment whose bracketing
    probes both read clean)."""
    import bench

    s = bench._steal_jiffies()
    try:
        with open("/proc/stat") as fh:
            fh.readline()
        readable = True
    except OSError:  # absent, or present but masked (hidepid) in a container
        readable = False
    if readable:
        assert isinstance(s, int) and s >= 0
        assert bench._steal_jiffies() >= s  # cumulative counter is monotone
    assert bench._steal_rate(None, 5, 1.0) is None
    assert bench._steal_rate(5, None, 1.0) is None
    assert bench._steal_rate(100, 150, 0.0) is None
    assert bench._steal_rate(100, 150, 2.0) == 25.0
    assert bench._ROWS_PROBE_EVERY <= 5


def test_driver_window_composition():
    """The verification driver samples the FIRST 50 registry entries.
    Pin the window's composition so a registry edit cannot silently
    displace sql-backed entries out of the driver's view."""
    names = list(REGISTRY)
    first50 = names[:50]
    # r16 rotation: an optimization round registers nothing new, so the
    # window is group 2 of the recipe wall-to-wall — the 50 entries whose
    # CODE/plan changed across the r15-r16 optimization commits (shared
    # candidate-graph frames + prefix-filter truth; trained-family
    # cold-path rework; per-glob state sizing incl. the five stateful.py
    # sites; split ingest-gate indexes). 13 are sql-backed (hash-exact
    # checks) — exactly the 13 oracled entries the round's commits
    # touched; the rest are the rows-only trained/streaming runners
    # (see _PRIORITY's comment and SURVEY §2).
    n_sql = sum(1 for n in first50 if REGISTRY[n].oracle is not None)
    assert n_sql == 13, f"{n_sql} sql-backed entries in the driver window"
    head = (
        "corpus_curation_pipeline",
        "corpus_curation_pipeline_v2",
        "corpus_curation_pipeline_v3",
        "dedup_eval_report",
        "similarity_pq",
        "similarity_ivf_pq",
        "similarity_ivf_pq_residual",
        "similarity_ivf_pq_multiprobe",
        "similarity_eval_report",
        "embedding_kmeans",
        "similarity_ivf_trained",
        "dedup_semantic_trained",
        "similarity_index_persist_report",
        "dedup_minhash_lsh",
        "dedup_minhash_estimate",
        "dedup_containment_banded",
        "dup_groups",
        "dup_groups_star",
        "dup_groups_incremental",
        "split_leak_proof",
    )
    assert tuple(first50[: len(head)]) == head
    # spot-check the changed streaming block is inside the window:
    for expected in (
        "stream_ewma_smooth",            # stateful.py site newly sized
        "stream_repeated_spans_scrub",   # split committed-side index
        "stream_prefix_dedup_ingest",    # split committed-side index
        "stream_semantic_dedup_ingest",  # split committed-side index
        "source_incremental_view",       # slot 50, sizing glob change
    ):
        assert expected in first50, f"{expected} fell out of the driver window"
    # and unchanged already-green entries must NOT re-occupy scarce slots
    # (the rotation contract: never-checked, then code-changed, then AGED
    # — the r15 window's entries are all freshly green and rotate out;
    # stream_paragraph_decon_ingest alone re-enters, as a CHANGED entry):
    for fresh_green in (
        "decontaminate_paragraph",      # r15-green, unchanged
        "obs_dashboard_parity",         # r15-green, unchanged
        "decontaminate_eval_report",    # r15-green, unchanged this round
        "dup_groups_nightly",           # r15-green, builder unchanged
        "obs_ewma_smooth",              # r15-green, unchanged (its TWIN
                                        # runner changed, not the batch op)
        "dedup_cdc_chunks",             # r15-green, unchanged
        "obs_alert_rules",              # r15-green, unchanged
        "asof_join_attribution",        # r15-green backfill, unchanged
        "decontaminate_neardup",        # r15-green backfill, unchanged
    ):
        assert fresh_green not in first50, (
            f"{fresh_green} wastes a driver-window slot"
        )


def test_gopher_gates_plan_zero_exchange(spark, sf_dir):
    """X21/X22's 'cheapest gate in the funnel, run it first' claim is a
    PLAN property, not prose: both rule sets must compile to a single
    narrow projection over the scan — zero Exchange anywhere (the line
    re-wrapping in X22 is per-row array algebra, not an explode+groupBy)."""
    for name in ("text_gopher_quality", "text_gopher_line_shape"):
        plan = _executed_plan(REGISTRY[name].builder(spark, sf_dir))
        assert "Exchange" not in plan, f"{name} shuffles: {plan}"


def test_stratified_sample_uses_window_group_limit(spark, sf_dir):
    """P2's rank<=N filter must push into the window sort as
    WindowGroupLimit (partial top-N per partition before the shuffle) —
    the property that keeps the sample cheap at any stratum size."""
    plan = _executed_plan(REGISTRY["sample_stratified"].builder(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_banded_dedup_plan_reads_only_checkpoints(spark, sf_dir):
    """D15's scoring join must consume ONLY checkpointed frames (the LSH
    candidate pairs and the session-shared shingle base, the verified
    pairs served as a checkpoint of their own) — a parquet scan in the
    final plan would mean the MinHash/LSH subtree is being re-derived per
    reference (the 41-Exchange regression these checkpoints exist to
    prevent)."""
    plan = _executed_plan(REGISTRY["dedup_containment_banded"].builder(spark, sf_dir))
    assert "Scan parquet" not in plan
    assert "Scan ExistingRDD" in plan  # the checkpointed inputs


def test_banded_dedup_single_corpus_scan(spark, sf_dir, monkeypatch):
    """The (doc_id, toks) shingle base must be DERIVED FROM documents
    exactly once and shared into both the MinHash/LSH pass and the
    per-pair verification pass — a second _shingle_base call means a
    second full corpus scan at 100 TB."""
    from guidance_for_analytics_observability_on_aws_spark.operators import dedup

    calls = []
    real = dedup._shingle_base

    def counting(documents):
        calls.append(1)
        return real(documents)

    monkeypatch.setattr(dedup, "_shingle_base", counting)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # This pins the COLD build's scan count; since r16 a warm session can
    # serve the whole banded frame from the shared-frame registry (zero
    # scans), so clear it first.
    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (
        trained_cache_clear,
    )

    trained_cache_clear(loaded_too=False)
    dedup.dedup_containment_banded(docs)
    assert len(calls) == 1, f"_shingle_base derived {len(calls)}× from documents"
    trained_cache_clear(loaded_too=False)


def test_curation_v2_job_dispatch_after_lsh(spark, sf_dir):
    """P11 after D3 on the same corpus dispatches at most 10 Spark jobs:
    D15 verifies the LSH candidates pair by pair over the session-shared
    shingle base D3 left, with no checkpoint of its own base or of a
    candidate-restricted base (the former path ran 17 jobs here)."""
    from guidance_for_analytics_observability_on_aws_spark.operators import (
        dedup,
        pipeline,
    )
    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (
        trained_cache_clear,
    )

    sc = spark.sparkContext
    group = "test-curation-v2-dispatch"
    trained_cache_clear(loaded_too=False)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dedup.dedup_minhash_lsh(docs).toPandas()
    sc.setJobGroup(group, "curation_pipeline_v2 after dedup_minhash_lsh")
    try:
        pipeline.curation_pipeline_v2(docs).toPandas()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
        trained_cache_clear(loaded_too=False)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 10, f"curation_pipeline_v2 ran {len(jobs)} jobs"


def test_session_skips_python_call_site_capture(spark):
    """``get_spark`` turns off PySpark's DataFrame query-context capture,
    which walks the Python stack and makes py4j round trips on every
    ``functions.*`` call and ``Column`` method while plans are built."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def test_log_sample_uses_window_group_limit(spark, sf_dir):
    """O51's rank<=5 filter must rewrite as WindowGroupLimit so a hot
    (executor, minute) key costs a per-partition partial top-5, not a full
    sorted materialization of every log record in the key."""
    plan = _executed_plan(REGISTRY["obs_log_sample"].builder(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_straggler_stats_join_is_broadcast(spark, sf_dir):
    """O50's join-back of per-stage medians against the task table must
    broadcast the stats side (one row per stage << task rows) — a
    shuffle join here would re-shuffle the whole task table at 100 TB."""
    plan = _executed_plan(REGISTRY["obs_straggler_detect"].builder(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_q9_profit_broadcasts_part_and_supplier(spark, sf_dir):
    """T37: the filtered part dim and supplier⋈nation dim must broadcast
    into the lineitem stream — a shuffle join on either would move the
    whole fact table for a dim-sized input."""
    plan = _executed_plan(REGISTRY["tpch_q9_profit"].builder(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2


def test_q11_total_is_broadcast_not_window(spark, sf_dir):
    """T38: the global-total side must reach the per-part frame as a
    broadcast (1-row BroadcastNestedLoopJoin), never a windowless SUM
    that would funnel every per-part row through one partition."""
    plan = _executed_plan(REGISTRY["tpch_q11_important_parts"].builder(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_bigram_lift_single_corpus_scan_and_group_limit(spark, sf_dir):
    """X14: the two count tables are checkpointed (each is referenced
    twice downstream), so the final plan reads only ONE parquet scan of
    documents plus checkpoint RDDs; the top-N rank stays WindowGroupLimit."""
    plan = _executed_plan(REGISTRY["text_bigram_lift"].builder(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert plan.count("Scan parquet") == 0  # counts come from checkpoints
    assert "Scan ExistingRDD" in plan


def test_top_movers_and_seasonal_span_are_broadcast(spark, sf_dir):
    """O56/O57: the 1-row span frames must reach the fact stream as
    broadcasts (BroadcastNestedLoopJoin for the unconditioned join) —
    a shuffle here would re-partition the whole task table for one row."""
    for name in ("obs_top_movers", "obs_seasonal_baseline"):
        plan = _executed_plan(REGISTRY[name].builder(spark, sf_dir))
        assert "BroadcastNestedLoopJoin" in plan, f"{name}: span not broadcast"


def test_q2_filters_broadcast_into_pair_stream(spark, sf_dir):
    """T41: the region-supplier semi-join and typed-part filter must
    broadcast into lineitem before the pair aggregation."""
    plan = _executed_plan(REGISTRY["tpch_q2_min_cost_supplier"].builder(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2


ORDER_STAT_FAMILY = [
    "task_percentiles",
    "percentile_timeline",
    "anomaly_mad",
    "cusum_drift",
    "tail_sampling",
    "orders_ship_latency",
]


@pytest.mark.parametrize("name", ORDER_STAT_FAMILY)
def test_order_stat_family_distributed_bit_equal(
    spark, sf_dir, name, two_phase_equal
):
    """Every order-statistic operator ranks with one window per group; the
    O44 two-phase rank over the same group key and total order must be
    BIT-identical, and only its plan carries the `_pid` slice column. The
    `_ranked_with_n` members are rebuilt with the shared rank swapped;
    cusum_drift's extremes are rebuilt from a `_prefix_sum` running sum."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from guidance_for_analytics_observability_on_aws_spark.operators import (
        observability as obs,
        pipeline,
        tpch,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )

    t = load_tables(spark, sf_dir)
    tm = task_metrics(t["events"])
    if name == "orders_ship_latency":
        li, orders = t["lineitem"], t["orders"]
        two_phase_equal.swap(lambda: tpch.orders_ship_latency(li, orders))
    elif name != "cusum_drift":
        two_phase_equal.swap(lambda: getattr(obs, name)(tm))
    else:
        per_type = Window.partitionBy("event_type")
        n, x = F.count(F.lit(1)).over(per_type), F.col("x")
        dev = n * x - F.sum(x).over(per_type)
        deved = tm.select(
            "event_type",
            "task_id",
            "metric_time_ms",
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("x"),
        ).select("*", n.alias("n_events"), dev.alias("dev"))
        cum = pipeline._prefix_sum(
            deved, "event_type", ["metric_time_ms", "task_id"], "dev", "s"
        ).select(
            "*",
            F.max("s").over(per_type).alias("cum_peak"),
            F.min("s").over(per_type).alias("cum_trough"),
        )

        def first_at(c):
            return F.min(F.when(F.col("s") == F.col(c), F.col("metric_time_ms")))

        dist = cum.groupBy("event_type", "n_events", "cum_peak", "cum_trough").agg(
            first_at("cum_peak").alias("peak_time_ms"),
            first_at("cum_trough").alias("trough_time_ms"),
        )
        two_phase_equal(obs.cusum_drift(tm).select(*dist.columns), dist)


GLOBAL_RANK_FAMILY = [
    "customers_abc_pareto",
    "customers_rfm_segments",
    "vocab_coverage",
    "heavy_hitters_cms",
    "top_movers",
]


@pytest.mark.parametrize("name", GLOBAL_RANK_FAMILY)
def test_global_rank_family_distributed_bit_equal(
    spark, sf_dir, name, two_phase_equal
):
    """The five operators that rank data-dependent cardinalities
    (customers, vocabulary types, sketch keys, executors — all of which
    GROW with the corpus) rank with one global window; the shared
    two-phase rank (`_prefix_sum`/`_global_desc_ranked`, with conftest's
    `ntile_from_rank` for the RFM tiles) over the frame each one ranks
    must give bit-identical ranks, and only its plan carries the `_pid`
    slice ranks."""
    from conftest import ntile_from_rank
    from pyspark.sql import functions as F

    from guidance_for_analytics_observability_on_aws_spark.functions.text import (
        corpus,
        tokens,
    )
    from guidance_for_analytics_observability_on_aws_spark.operators import (
        observability as obs,
        pipeline,
        tpch,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )

    t = load_tables(spark, sf_dir)
    one = F.lit(1)

    def rank_and_sum(df, value, tiebreak, outs):  # desc by value, one pass
        neg = df.withColumns({"_g": one, "_neg": -F.col(value), "_one": one})
        ranked = pipeline._prefix_sum(
            neg, "_g", ["_neg", tiebreak], ["_one", value], outs
        )
        return ranked.withColumn(outs[0], F.col(outs[0]).cast("long"))

    def abc():
        out = tpch.customers_abc_pareto(t["orders"])
        dist = rank_and_sum(
            out, "revenue_cents", "o_custkey", ["revenue_rank", "cum_cents"]
        ).select("o_custkey", "revenue_rank", "cum_cents")
        return out.select(*dist.columns), dist

    def rfm():
        out = tpch.customers_rfm_segments(t["orders"])
        last = t["orders"].groupBy("o_custkey").agg(F.max("o_orderdate").alias("d"))
        per_cust = out.join(last, "o_custkey").withColumn("_g", one)
        dist = per_cust.select("o_custkey")
        for key_col, score in (
            ("d", "r_score"), ("n_orders", "f_score"), ("revenue_cents", "m_score")
        ):
            ranked = obs._ranked_with_n(
                per_cust, "_g", [key_col, "o_custkey"], distributed=True
            ).select("o_custkey", ntile_from_rank(5).alias(score))
            dist = dist.join(ranked, "o_custkey")
        return out.select(*dist.columns), dist

    def vocab():
        freq = (
            corpus(t["documents"])
            .select(F.explode(tokens(F.col("text"))).alias("token"))
            .groupBy("token")
            .agg(F.count(one).alias("n_occ"))
        )
        dist = rank_and_sum(freq, "n_occ", "token", ["vocab_size", "cum_occ"])
        dist = dist.filter(F.col("vocab_size").isin(pipeline.VOCAB_POINTS))
        win = pipeline.vocab_coverage(t["documents"]).select("vocab_size", "cum_occ")
        return win, dist.select(*win.columns)

    def top_k(op, k, value, tiebreak):
        # the operator ranking every row (k unbounded) is the frame it
        # ranks; the two-phase top-k over it must equal the operator's
        tm = task_metrics(t["events"])
        win = op(tm, k)
        every = op(tm, 1 << 30).drop("rank").withColumn("_v", value)
        dist = obs._global_desc_ranked(every, "_v", tiebreak)
        return win, dist.filter(F.col("rank") <= k).select(*win.columns)

    builders = {
        "customers_abc_pareto": abc,
        "customers_rfm_segments": rfm,
        "vocab_coverage": vocab,
        "heavy_hitters_cms": lambda: top_k(
            obs.heavy_hitters_cms, 20, F.col("est_n"), "key"
        ),
        "top_movers": lambda: top_k(
            obs.top_movers, 10, F.abs(F.col("delta_ms")), "executor_id"
        ),
    }
    two_phase_equal(*builders[name]())


def test_r8_operator_plan_shapes(spark, sf_dir):
    """Physical-plan pins for the round-8 operators — the shapes their
    docstrings promise at 100 TB:

    - T47 windowFunnel: BOTH window specs share one (user_id) sort —
      exactly 2 Exchanges total (user shuffle + the 1-row global agg),
      2 Window nodes, and NO join anywhere (the whole point vs the
      self-join formulation).
    - O67 EWMA: all nine lags evaluate in ONE Window node.
    - O71 multi-window burn rate: all six trailing sums share ONE Window
      node (same partition/order spec) over the hourly rollup.
    - O63/O74 regression family: no Window node at all — sufficient
      statistics are plain aggregates (nothing funnels a type's rows
      through a sort).
    - D26 KMV: the two-phase k-minimum means NO window is ever
      partitioned by source alone before the bucket phase — every
      row_number sort key includes the bucket or runs on post-phase-1
      bounded data; concretely the plan carries 3 Window nodes and at
      least one Exchange hashpartitioning on (source, bkt).
    """
    from guidance_for_analytics_observability_on_aws_spark.plans.registry import (
        REGISTRY,
    )

    funnel = _executed_plan(
        REGISTRY["events_funnel_windowed"].builder(spark, sf_dir)
    )
    assert funnel.count("Exchange") == 2, funnel.count("Exchange")
    assert funnel.count("Window") == 2
    assert "Join" not in funnel

    ewma = _executed_plan(REGISTRY["obs_ewma_smooth"].builder(spark, sf_dir))
    assert ewma.count("Window") == 1

    burn = _executed_plan(
        REGISTRY["obs_burn_rate_multiwindow"].builder(spark, sf_dir)
    )
    assert burn.count("Window") == 1

    for name in ("obs_trend_regression", "obs_forecast_linear"):
        plan = _executed_plan(REGISTRY[name].builder(spark, sf_dir))
        assert "Window" not in plan, name

    kmv_df = REGISTRY["docs_kmv_overlap"].builder(spark, sf_dir)
    kmv = _executed_plan(kmv_df)
    # the sketch is checkpointed once, so the pairwise phase plans ONE
    # Window (the per-pair union re-rank) — the shingle/rank subtree is
    # never re-planned per reference
    assert kmv.count("Window [") == 1, kmv.count("Window [")
    # downstream of the checkpoint the plan reads the materialized sketch
    assert "Scan ExistingRDD" in kmv


def test_r8_operator_column_pruning(spark, sf_dir):
    """Column pruning must reach the parquet scans for the r8 operators:
    T47 reads exactly (ts, user_id, event_type) of the 6-column events
    table; T46's widest scans read 2 columns each of orders/lineitem; O74
    reads (ts, event_type, value). A scan reading all columns for a
    3-column plan is wrong at 100 TB."""
    import re

    from guidance_for_analytics_observability_on_aws_spark.plans.registry import (
        REGISTRY,
    )

    def schemas(name):
        plan = _executed_plan(REGISTRY[name].builder(spark, sf_dir))
        return re.findall(r"ReadSchema: struct<([^>]*)>", plan)

    funnel = schemas("events_funnel_windowed")
    assert funnel and all(
        sorted(c.split(":")[0] for c in s.split(","))
        == ["event_type", "ts", "user_id"]
        for s in funnel
    ), funnel

    backlog = schemas("orders_backlog_timeline")
    assert backlog and all(len(s.split(",")) <= 2 for s in backlog), backlog

    forecast = schemas("obs_forecast_linear")
    assert forecast and all(len(s.split(",")) <= 3 for s in forecast), forecast


def test_bench_p_group_covers_every_pipeline_sql_entry():
    """bench.py::_P_GROUP is a hand-enumerated list (pipeline-family names
    share prefixes with D's dedup_*); a future pipeline operator left out
    would silently classify as 'T' and skew both groups' bench subtotals.
    Pin: every sql-oracled registry entry whose builder references the
    pipeline module is in _P_GROUP."""
    import bench

    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            continue
        code = getattr(spec.builder, "__code__", None)
        if code is not None and "pipeline" in code.co_names:
            assert name in bench._P_GROUP, (
                f"{name} builds from operators.pipeline but is missing from "
                "bench._P_GROUP — it would misclassify as group T"
            )


def test_repeated_spans_plans_stay_hash_partitioned(spark, sf_dir):
    """D34/D35: never a nested-loop/cartesian plan (the span explode is
    the biggest fan-out in the dedup family; an all-pairs fallback here
    would be quadratic in corpus size), and the span explode must run
    ONCE — the r12 window form (count over span_hash) rides a single
    hash exchange; a regression to the r11 groupBy+join-back shape
    would generate the explode twice (two Generate nodes) and shuffle
    it twice."""
    for name in ("dedup_repeated_spans", "dedup_repeated_spans_scrub"):
        plan = _executed_plan(REGISTRY[name].builder(spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    plan34 = _executed_plan(
        REGISTRY["dedup_repeated_spans"].builder(spark, sf_dir)
    )
    assert plan34.count("Generate") == 1, (
        "D34 must explode spans exactly once (single window shuffle), "
        f"got {plan34.count('Generate')} Generate nodes"
    )
    # the per-doc aggregate still partial-aggregates map-side
    assert "partial" in plan34.lower(), plan34[:500]
