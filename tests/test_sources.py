"""JSON log ingestion + partitioned sink tests (sources/logs_json.py)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from guidance_for_analytics_observability_on_aws_spark.sources.logs_json import (
    corrupt_log_events,
    normalize_log_events,
    read_log_events,
    write_partitioned_telemetry,
)
from guidance_for_analytics_observability_on_aws_spark.sources.schemas import LOG_SCHEMA
from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables
from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import task_metrics


def _write_log_lines(path: str) -> None:
    events = [
        {
            "appName": "etl-app",
            "appId": "app-001",
            "executorId": "1",
            "level": "ERROR",
            "message": "boom",
            "timeMillis": 1700000000123,
            "taskName": "task 3.0 in stage 7.0 (TID 3)",
        },
        {
            "appName": "etl-app",
            "appId": "app-001",
            "executorId": "2",
            "level": "INFO",
            "message": "ok",
            "timeMillis": 1700000001456,
            "taskName": "task 12.0 in stage 7.0 (TID 12)",
        },
        {
            "appName": "etl-app",
            "appId": "app-002",
            "executorId": "driver",
            "level": "WARN",
            "message": "no mdc",
            "timeMillis": 1700000002789,
            "taskName": None,
        },
    ]
    with open(os.path.join(path, "part-0.json"), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
        f.write('{"appName": "broken", "level": ')  # truncated line
        f.write("\n")


def test_json_log_roundtrip(spark, tmp_path):
    src = tmp_path / "logs"
    src.mkdir()
    _write_log_lines(str(src))

    raw = read_log_events(spark, str(src))
    norm = normalize_log_events(raw)
    rows = {r["executor_id"]: r for r in norm.collect()}

    assert set(norm.columns) == {f.name for f in LOG_SCHEMA.fields}
    assert len(rows) == 3
    assert rows["1"]["task_id"] == 3
    assert rows["1"]["parsed_task_id"] == "3.0"
    assert rows["1"]["parsed_stage_id"] == "7.0"
    assert rows["1"]["message"] == "[Stage 7.0 - Task 3.0] boom"
    assert rows["driver"]["parsed_task_id"] == ""  # no MDC → empty extract
    assert rows["driver"]["task_id"] is None
    assert rows["driver"]["message"] == "[Stage  - Task ] no mdc"

    bad = corrupt_log_events(raw).collect()
    assert len(bad) == 1 and bad[0]["raw_line"].startswith('{"appName": "broken"')


def test_partitioned_telemetry_sink(spark, sf_dir, tmp_path):
    out = str(tmp_path / "telemetry")
    tm = task_metrics(load_tables(spark, sf_dir)["events"]).limit(500)
    write_partitioned_telemetry(tm, out)

    # Physical layout: metrics_type=…/metric_date=… directories exist.
    type_dirs = [d for d in os.listdir(out) if d.startswith("metrics_type=")]
    assert type_dirs
    day_dirs = os.listdir(os.path.join(out, type_dirs[0]))
    assert any(d.startswith("metric_date=") for d in day_dirs)

    back = spark.read.parquet(out)
    assert back.count() == 500

    # Partition pruning: a day filter must prune, not scan, other days.
    one_day = back.select("metric_date").distinct().limit(1).collect()[0][0]
    pruned = back.filter(F.col("metric_date") == F.lit(one_day))
    explained = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [" in explained
    assert pruned.count() > 0


def test_csv_log_roundtrip(spark, tmp_path):
    from guidance_for_analytics_observability_on_aws_spark.sources.logs_csv import read_log_events_csv

    src = tmp_path / "csv_logs"
    src.mkdir()
    with open(src / "part-0.csv", "w") as f:
        f.write("appName,appId,executorId,level,message,timeMillis,taskName\n")
        f.write('etl-app,app-001,1,ERROR,boom,1700000000123,"task 3.0 in stage 7.0 (TID 3)"\n')
        f.write("etl-app,app-002,driver,WARN,no mdc,1700000002789,\n")
        f.write("etl-app,app-003,2,INFO,bad time,NOT_A_NUMBER,x\n")  # corrupt long

    raw = read_log_events_csv(spark, str(src))
    norm = normalize_log_events(raw)
    rows = {r["executor_id"]: r for r in norm.collect()}
    assert set(norm.columns) == {f.name for f in LOG_SCHEMA.fields}
    assert len(rows) == 2
    assert rows["1"]["message"] == "[Stage 7.0 - Task 3.0] boom"
    assert rows["1"]["task_id"] == 3
    assert rows["driver"]["task_id"] is None
    bad = corrupt_log_events(raw).collect()
    assert len(bad) == 1 and "NOT_A_NUMBER" in bad[0]["raw_line"]


def _parquet_files(path):
    out = []
    for root, _dirs, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out


def test_compaction_unpartitioned(spark, sf_dir, tmp_path):
    from guidance_for_analytics_observability_on_aws_spark.sources.compaction import (
        compact_dataset,
        dataset_bytes,
    )

    src, dst = str(tmp_path / "many"), str(tmp_path / "few")
    ev = load_tables(spark, sf_dir)["events"]
    ev.repartition(24).write.parquet(src)
    assert len(_parquet_files(src)) == 24

    n = compact_dataset(spark, src, dst, target_file_bytes=dataset_bytes(src))
    assert n == 1 and len(_parquet_files(dst)) == 1
    a = sorted(map(tuple, spark.read.parquet(src).collect()))
    b = sorted(map(tuple, spark.read.parquet(dst).collect()))
    assert a == b


def test_compaction_partitioned_preserves_layout(spark, sf_dir, tmp_path):
    from guidance_for_analytics_observability_on_aws_spark.sources.compaction import compact_dataset

    src, dst = str(tmp_path / "part_many"), str(tmp_path / "part_few")
    ev = load_tables(spark, sf_dir)["events"].withColumn(
        "bucket", (F.col("event_id") % 3).cast("int")
    )
    ev.repartition(16).write.partitionBy("bucket").parquet(src)
    before = len(_parquet_files(src))

    compact_dataset(spark, src, dst, target_file_bytes=1 << 40, partition_cols=["bucket"])
    after = len(_parquet_files(dst))
    assert after < before
    assert sorted(d for d in os.listdir(dst) if d.startswith("bucket=")) == [
        "bucket=0", "bucket=1", "bucket=2",
    ]
    a = sorted(map(tuple, spark.read.parquet(src).select("event_id", "bucket").collect()))
    b = sorted(map(tuple, spark.read.parquet(dst).select("event_id", "bucket").collect()))
    assert a == b

    import pytest
    with pytest.raises(ValueError):
        compact_dataset(spark, src, src)


def test_live_collector_reads_real_metrics(spark, sf_dir):
    """The live collector must surface REAL task metrics (nonzero input
    bytes for a parquet scan, shuffle bytes for a groupBy) with the
    stage→job mapping reconstructed — CustomMetricsListener parity over
    the in-process AppStatusStore."""
    from pyspark.sql import functions as F

    from guidance_for_analytics_observability_on_aws_spark.sources.live_metrics import (
        live_task_metrics,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )

    t = load_tables(spark, sf_dir)
    t["lineitem"].groupBy("l_returnflag").count().collect()

    m = live_task_metrics(spark).cache()
    assert m.count() > 0
    totals = m.agg(
        F.sum("input_bytes_read").alias("inb"),
        F.sum("shuffle_bytes_read").alias("shb"),
        F.sum("run_time_ms").alias("rt"),
    ).collect()[0]
    assert totals.inb > 0, "no real input bytes collected"
    assert totals.shb > 0, "no real shuffle bytes collected"
    assert totals.rt > 0
    # stage→job bookkeeping (reference onJobStart parity)
    mapped = {r.job_id for r in m.select("job_id").distinct().collect()}
    assert mapped - {-1}, "no task rows mapped to a job"
    m.unpersist()


def test_live_collector_status_store_fallback(spark, sf_dir):
    """With or without spark.ui.enabled (the r4 driver row was 0 rows
    when the UI was off), the collector reads TaskMetrics from the
    in-process AppStatusStore, whose listener always runs. Collect under
    a max_stages cap and check it reports real input/shuffle bytes, run
    time and a job mapping, and that the cap holds."""
    from pyspark.sql import functions as F

    from guidance_for_analytics_observability_on_aws_spark.sources.live_metrics import (
        live_task_metrics,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )

    t = load_tables(spark, sf_dir)
    t["lineitem"].groupBy("l_returnflag").count().collect()

    df = live_task_metrics(spark, max_stages=200)
    rows = df.collect()
    assert rows, "status store collected no task rows"

    totals = df.agg(
        F.sum("input_bytes_read").alias("inb"),
        F.sum("shuffle_bytes_read").alias("shb"),
        F.sum("run_time_ms").alias("rt"),
    ).collect()[0]
    assert totals.inb > 0, "no real input bytes via status store"
    assert totals.shb > 0, "no real shuffle bytes via status store"
    assert totals.rt > 0
    assert {r[2] for r in rows} - {-1}, "no job mapping via status store"
    capped = live_task_metrics(spark, max_stages=1)
    assert capped.select("stage_id").distinct().count() == 1


def test_retention_drops_only_aged_partitions(spark, sf_dir, tmp_path):
    """S7: retention must delete exactly the metric_date partitions older
    than the cutoff and leave surviving data byte-identical (the deletion
    half of the reference's daily index rotation)."""
    from datetime import date

    from guidance_for_analytics_observability_on_aws_spark.sources.logs_json import (
        write_partitioned_telemetry,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.retention import (
        apply_retention,
        list_date_partitions,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )

    tm = task_metrics(load_tables(spark, sf_dir)["events"])
    out = str(tmp_path / "telemetry")
    write_partitioned_telemetry(tm, out)

    parts = list_date_partitions(out)
    assert parts, "sink produced no date partitions"
    dates = sorted({d for d, _ in parts})
    cutoff = dates[len(dates) // 2]

    keep_count = spark.read.parquet(out).filter(f"metric_date >= '{cutoff}'").count()
    deleted = apply_retention(out, cutoff)
    assert deleted, "nothing deleted despite partitions older than cutoff"
    survivors = spark.read.parquet(out)
    assert survivors.count() == keep_count
    assert survivors.filter(f"metric_date < '{cutoff}'").count() == 0


def test_normalize_events_adapts_both_encodings(spark, sf_dir):
    """events.ts has shipped as bigint epoch-nanos AND as timestamp[us];
    normalize_events must map both to the same timestamp column, and the
    schema guard must reject anything else with one clear message."""
    from pyspark.sql import functions as F

    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        check_schema,
        load_tables,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        normalize_events,
    )

    ts_events = load_tables(spark, sf_dir)["events"]
    assert dict(ts_events.dtypes)["ts"] == "timestamp"

    # Re-encode as bigint nanos and round-trip through the adapter.
    nanos = ts_events.withColumn("ts", F.unix_micros("ts") * 1000)
    assert dict(nanos.dtypes)["ts"] == "bigint"
    back = normalize_events(nanos)
    assert dict(back.dtypes)["ts"] == "timestamp"
    want = ts_events.select("event_id", "ts").orderBy("event_id").limit(50).collect()
    got = back.select("event_id", "ts").orderBy("event_id").limit(50).collect()
    assert [r.ts for r in got] == [r.ts for r in want]

    # Unsupported encoding fails loudly.
    import pytest as _pytest

    with _pytest.raises(TypeError, match="unsupported type"):
        normalize_events(ts_events.withColumn("ts", F.col("ts").cast("string")))

    # Schema guard names the drifting column.
    with _pytest.raises(TypeError, match="event_id"):
        check_schema(
            "events", ts_events.withColumn("event_id", F.col("event_id").cast("int"))
        )


def test_schema_evolution_invariants(spark, sf_dir):
    """S8: merged-footer read across file generations must union the
    schema, NULL-fill the added column for old rows exactly, and a filter
    on the new column must select only new-generation rows."""
    from guidance_for_analytics_observability_on_aws_spark.sources.evolution import (
        schema_evolution_report,
    )

    r = schema_evolution_report(spark, sf_dir).collect()[0]
    assert r.rows_merged == 2 * r.rows_per_gen
    assert r.rows_gen1_nullfilled == r.rows_per_gen   # old rows NULL-fill
    assert r.rows_gen2 == r.rows_per_gen
    assert r.rows_without_props == r.rows_per_gen     # dropped col NULLs too
    assert r.rows_new_col_filter == r.rows_per_gen    # filter hits gen2 only
    assert r.n_cols_merged == r.n_cols_gen1 + 2       # props + schema_rev


def test_read_with_evolution_aligns_to_expected_schema(spark, sf_dir, tmp_path):
    """The expected-schema alignment must add typed NULL columns for
    fields no generation has, drop extras, and normalize order."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from guidance_for_analytics_observability_on_aws_spark.sources.evolution import (
        read_with_evolution,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet").limit(100)
    events.select("event_id", "user_id").write.parquet(str(tmp_path / "d"))
    expected = StructType(
        [
            StructField("event_id", LongType()),
            StructField("future_col", StringType()),
        ]
    )
    out = read_with_evolution(spark, str(tmp_path / "d"), expected=expected)
    assert out.columns == ["event_id", "future_col"]  # extras dropped, ordered
    assert out.filter(F.col("future_col").isNotNull()).count() == 0
    assert out.count() == 100


def test_clustered_layout_skips_row_groups(spark, sf_dir):
    """S9: under a selective key-range predicate the clustered layout must
    read strictly fewer row groups than the hash-scattered control (the
    zone-map payoff), while both layouts hold identical rows."""
    from guidance_for_analytics_observability_on_aws_spark.sources.clustering import (
        clustering_report,
    )

    r = clustering_report(spark, sf_dir).collect()[0]
    assert r.rows_selected > 0
    # the scattered control reads essentially everything (>= 90%; strict
    # all-groups equality would be fixture-luck on a sparse key domain)...
    assert r.rg_read_scattered >= 0.9 * r.n_row_groups_scattered
    # ...the clustered layout skips most of its row groups
    assert r.rg_read_clustered < r.rg_read_scattered
    assert r.skip_ratio_clustered >= 0.5


def test_snapshot_isolation_and_time_travel(spark, sf_dir, tmp_path):
    """S10: a pinned version is byte-stable across later commits, orphan
    data files are invisible, expiry keeps the survivors readable, and a
    stale version handle errors clearly after expiry."""
    import pytest

    from guidance_for_analytics_observability_on_aws_spark.sources.snapshots import (
        commit_append,
        expire_snapshots,
        read_snapshot,
        snapshot_versions,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    table = str(tmp_path / "snap_table")
    v1 = commit_append(events.filter("event_id % 2 = 0"), table)
    v1_rows = sorted(r.event_id for r in read_snapshot(spark, table, v1).select("event_id").collect())
    v2 = commit_append(events.filter("event_id % 2 = 1"), table)
    # orphan: simulated writer crash before manifest publish
    events.limit(5).write.parquet(str(tmp_path / "snap_table" / "data" / "orphan"))
    assert sorted(
        r.event_id for r in read_snapshot(spark, table, v1).select("event_id").collect()
    ) == v1_rows
    assert read_snapshot(spark, table, v2).count() == events.count()
    assert read_snapshot(spark, table).count() == events.count()  # latest
    assert snapshot_versions(table) == [v1, v2]
    assert expire_snapshots(table, keep_last=1) == [v1]
    assert read_snapshot(spark, table).count() == events.count()
    with pytest.raises(ValueError):
        read_snapshot(spark, table, v1)


def test_snapshot_commit_collision_raises(spark, sf_dir, tmp_path, monkeypatch):
    """S10: publishing is exclusive-create — a writer whose target version
    was claimed by a concurrent commit gets a loud FileExistsError, never a
    silent manifest clobber (which would orphan the loser's data files)."""
    import os

    import pytest

    from guidance_for_analytics_observability_on_aws_spark.sources import snapshots

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    table = str(tmp_path / "collide_table")
    snapshots.commit_append(events.limit(10), table)
    # Simulate the race: a concurrent writer publishes version 2 AFTER this
    # writer lists versions (pinned to [1]) but before its publish step.
    os.link(snapshots._manifest_path(table, 1), snapshots._manifest_path(table, 2))
    monkeypatch.setattr(snapshots, "snapshot_versions", lambda d: [1])
    with pytest.raises(FileExistsError, match="concurrent"):
        snapshots.commit_append(events.limit(5), table)
    # the winner's version 2 is untouched, and the loser's staged tmp file
    # AND staged parquet directory were both reclaimed (only v1's commit
    # dir remains under data/ — no permanent leak on retry)
    monkeypatch.undo()
    assert snapshots.read_snapshot(spark, table, 2).count() == 10
    assert not [f for f in os.listdir(table) if f.endswith(".tmp")]
    assert len(os.listdir(os.path.join(table, "data"))) == 1


def test_incremental_view_matches_full_recompute(spark, sf_dir):
    """S12: the manifest-diff-maintained rollup must equal the full
    recompute at EVERY commit, with each delta strictly smaller than the
    table (incremental cost ∝ commit, the claim that matters at 100 TB)."""
    from guidance_for_analytics_observability_on_aws_spark.sources.incremental_view import (
        incremental_view_report,
    )

    rows = incremental_view_report(spark, sf_dir).collect()
    assert [r.version for r in rows] == [1, 2, 3]
    assert all(r.view_equals_full for r in rows)
    assert all(r.delta_is_partial for r in rows)
    # the view only grows (hour×type cells accumulate monotonically)
    assert rows[0].view_rows <= rows[1].view_rows <= rows[2].view_rows


def test_zone_map_report_contract_and_ordering(spark, sf_dir):
    """S13: the zone-map guarantee must hold on the actual rows for BOTH
    layouts (a skippable file contains zero matches), counts must be
    layout-invariant (same rows, different placement), and the
    range-clustered layout must skip at least as many files as the
    hash-scattered one — the number that justifies a clustering rewrite."""
    from guidance_for_analytics_observability_on_aws_spark.sources.zonemap import (
        zone_map_report,
    )

    out = {r.layout: r for r in zone_map_report(spark, sf_dir).collect()}
    assert set(out) == {"clustered", "scattered"}
    c, s = out["clustered"], out["scattered"]
    for r in (c, s):
        assert r.guarantee_holds, r
        assert 0 <= r.n_skippable <= r.n_files
    assert c.n_rows == s.n_rows and c.n_match == s.n_match
    assert c.n_match > 0  # the 1996 predicate matches real rows
    assert c.n_skippable >= s.n_skippable
    # clustering must actually buy skipping on a 6+-year date domain
    assert c.n_skippable > 0


def test_snapshot_diff_incremental_read_contract(spark, sf_dir):
    """S14: for append-only commits, reading ONLY the manifest-diff's
    added files must yield exactly the rows the full anti-join diff
    finds, with zero files removed — the contract incremental consumers
    scan deltas by."""
    from guidance_for_analytics_observability_on_aws_spark.sources.snapshots import (
        snapshot_diff_report,
    )

    rows = snapshot_diff_report(spark, sf_dir).collect()
    assert len(rows) == 2
    for r in rows:
        assert r.incremental_read_exact, r
        assert r.n_files_removed == 0
        assert r.n_files_added >= 1
        assert r.rows_added_incremental > 0
        assert r.version_to == r.version_from + 1
