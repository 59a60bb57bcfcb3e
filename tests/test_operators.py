"""Semantic unit tests for operators whose correctness isn't fully captured
by oracle parity (formula spot-checks, stub plumbing, planted-dup recall)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from guidance_for_analytics_observability_on_aws_spark.operators import (
    dedup,
    multimodal,
    similarity,
)
from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
    retry_backoff,
    stage_agg_skewness,
)
from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables
from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
    task_metrics,
)


@pytest.fixture(scope="module")
def tables(spark, sf_dir):
    return load_tables(spark, sf_dir)


def test_skewness_formula_hand_example(spark):
    # Reference example: tasks reading [0, 50, 100] bytes → avg=50, range=100,
    # max |x-avg| = 50 → skewness 0.5 (CustomMetricsListener.scala:146-188).
    rows = [
        ("app", "run", 1, 1, i, 0, b, 0, t)
        for i, (b, t) in enumerate([(0, 10), (50, 20), (100, 30)])
    ]
    tm = spark.createDataFrame(
        rows,
        "app_name string, app_id string, job_id long, stage_id long, task_id long,"
        "partition_id int, input_bytes_read long, shuffle_bytes_read long,"
        "metric_time_ms long",
    )
    out = stage_agg_skewness(tm).collect()[0]
    assert out["input_bytes_read_skewness"] == 0.5
    assert out["max_input_bytes_read"] == 100
    # all-equal shuffle bytes → range-0 guard → skewness 0.0
    assert out["shuffle_bytes_read_skewness"] == 0.0


def test_backoff_schedule_caps(spark, tables):
    tm = task_metrics(tables["events"])
    rows = retry_backoff(tm).collect()
    by_attempt = {}
    for r in rows:
        if not r["aborted"]:
            by_attempt.setdefault(r["attempt_no"], set()).add(r["backoff_s"])
    # Reference: INITIAL_BACKOFF=5 doubling capped at MAX_BACKOFF=60.
    assert by_attempt.get(1, {10}) == {10}
    assert by_attempt.get(2, {20}) == {20}
    assert by_attempt.get(3, {40}) == {40}
    assert by_attempt.get(4, {60}) == {60}
    assert by_attempt.get(5, {60}) == {60}
    # aborts never schedule a wait
    assert all(r["backoff_s"] == 0 for r in rows if r["aborted"])


def test_retry_state_machine_hand_example(spark):
    """ObservabilityClient.scala:281-306 parity on a hand-built timeline.

    One executor; task_id % 5 == 0 marks a failure NON-retryable.
    Timeline (F=failure, S=success):
      F(1) F(2) F(3) F(4) F(6) F(7)  — six retryables: attempts 1..6,
                                       backoffs 10,20,40,60,60 then
                                       exhaustion ABORT (backoff 0)
      F(8) F(5)                      — fresh client: retryable attempt 1
                                       (10s), then NON-retryable abort
      S(9)                           — success resets
      F(11) S(12)                    — attempt 1 again after reset
    And batch_flush must report backing_off exactly while a retryable
    failure is pending un-reset.
    """
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        batch_flush,
    )

    ids = [1, 2, 3, 4, 6, 7, 8, 5, 9, 11, 12]
    errors = {1, 2, 3, 4, 6, 7, 8, 5, 11}
    rows = [
        ("e1", tid, 1000 * (i + 1), "error" if tid in errors else "view")
        for i, tid in enumerate(ids)
    ]
    tm = spark.createDataFrame(
        rows, "executor_id string, task_id long, metric_time_ms long, event_type string"
    )
    out = {r.task_id: r for r in retry_backoff(tm).collect()}
    assert set(out) == errors
    expect = {
        1: (1, 10, False), 2: (2, 20, False), 3: (3, 40, False),
        4: (4, 60, False), 6: (5, 60, False), 7: (6, 0, True),
        8: (1, 10, False), 5: (2, 0, True), 11: (1, 10, False),
    }
    for tid, (att, bo, ab) in expect.items():
        r = out[tid]
        assert (r.attempt_no, r.backoff_s, r.aborted) == (att, bo, ab), (
            tid, r.attempt_no, r.backoff_s, r.aborted)
    assert out[7].retries_exhausted and not out[5].retries_exhausted
    # backing_off state seen by each add(): true iff previous event left
    # the client backing off (retryable failure, not aborted, not reset)
    bo = {r.task_id: r.backing_off for r in batch_flush(tm).collect()}
    #            1      2     3     4     6     7     8      5     9     11     12
    want_bo = [False, True, True, True, True, True, False, True, False, False, True]
    assert [bo[t] for t in ids] == want_bo


def test_minhash_lsh_finds_planted_exact_dups(spark, tables):
    docs = tables["documents"]
    planted = {
        (r["doc_id"], r["doc_id"] + 1000000)
        for r in docs.filter(F.col("doc_id") % 25 == 0).select("doc_id").collect()
    }
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.dedup_minhash_lsh(docs).collect()
    }
    # Exact copies must collide in every band.
    assert planted <= pairs


def test_embedding_near_dups_find_planted_copies(spark, tables):
    emb = tables["embeddings"]
    planted = {
        (r["vec_id"], r["vec_id"] + 100000)
        for r in emb.filter(F.col("vec_id") % 25 == 0).select("vec_id").collect()
    }
    got = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in similarity.embedding_near_dups(emb).collect()
    }
    assert planted <= set(got)
    assert all(abs(got[p] - 1.0) < 1e-6 for p in planted)


def test_decode_stub_plumbing(spark, tables):
    docs = tables["documents"]
    decoded = multimodal.decode_frames_stub(docs).limit(50).collect()
    assert decoded, "decode stub produced no frames"
    for r in decoded:
        assert len(r["frame_bytes"]) == 16  # md5 payload
        assert r["frame_sha8"] == bytes(r["frame_bytes"]).hex()[:8]
    plan_n = multimodal.frame_sample_plan(docs).count()
    assert multimodal.decode_frames_stub(docs).count() == plan_n


def test_salted_sum_equals_plain_groupby(spark, sf_dir):
    from guidance_for_analytics_observability_on_aws_spark.operators.skew import salted_sum
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    events = load_tables(spark, sf_dir)["events"]
    got = {
        r["event_type"]: (r["n_rows"], r["sum_value"])
        for r in salted_sum(
            events, ["event_type"], ["value"], salt_from="event_id", n_salts=16
        ).collect()
    }
    want = {
        r["event_type"]: (r["n"], r["s"])
        for r in events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(got) == set(want)
    for k, (n, s) in want.items():
        assert got[k][0] == n
        assert abs(got[k][1] - s) < 1e-6 * max(1.0, abs(s))


def test_salted_broadcast_join_equals_plain_join(spark, sf_dir):
    from guidance_for_analytics_observability_on_aws_spark.operators.skew import (
        salted_broadcast_join,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    t = load_tables(spark, sf_dir)
    fact, dim = t["orders"], t["customer"].select("c_custkey", "c_mktsegment")
    salted = salted_broadcast_join(
        fact.withColumnRenamed("o_custkey", "c_custkey"),
        dim,
        key="c_custkey",
        salt_from="o_orderkey",
        n_salts=4,
    )
    plain = fact.withColumnRenamed("o_custkey", "c_custkey").join(
        dim, "c_custkey", "inner"
    )
    assert salted.count() == plain.count()
    assert sorted(salted.columns) == sorted(plain.columns)
    g = salted.groupBy("c_mktsegment").count().collect()
    w = plain.groupBy("c_mktsegment").count().collect()
    assert {r["c_mktsegment"]: r["count"] for r in g} == {
        r["c_mktsegment"]: r["count"] for r in w
    }


def test_blas_near_dups_equals_declarative(spark, sf_dir):
    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (
        embedding_near_dups,
        embedding_near_dups_blas,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"]
    a = {tuple(r) for r in embedding_near_dups(emb).collect()}
    b = {tuple(r) for r in embedding_near_dups_blas(emb).collect()}
    assert a and a == b


def test_near_dup_sub_block_split_bounds_tasks(spark, sf_dir):
    """The D5/D8 sub-block split must (a) bound every scored group well
    below the full label block, (b) lose no pair vs an unsplit all-pairs
    reference, and (c) put the composite (label, sub) key in the D5 join.
    """
    from pyspark.sql import functions as F

    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (
        _sub_block,
        augmented_embeddings,
        embedding_near_dups,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"]
    aug = augmented_embeddings(emb).withColumn("sub", _sub_block())

    # (a) group-size bound: largest (label, s1, s2) group ≤ 2× the largest
    # per-sub-block slice, which is what one task actually holds.
    label_max = aug.groupBy("label").count().agg(F.max("count")).first()[0]
    slice_max = aug.groupBy("label", "sub").count().agg(F.max("count")).first()[0]
    assert slice_max * 2 < label_max, "split did not reduce per-task block size"

    # (b) lossless vs an unsplit all-pairs reference on a small slice.
    small = emb.filter(F.col("vec_id") < 400)
    got = {(r.vec_a, r.vec_b) for r in embedding_near_dups(small).collect()}
    from guidance_for_analytics_observability_on_aws_spark.functions.vectors import (
        cosine6,
        dot,
        quantize,
        sq_norm,
    )

    q = (
        augmented_embeddings(small)
        .select("vec_id", "label", quantize(F.col("embedding")).alias("qv"))
        .withColumn("nrm", sq_norm(F.col("qv")))
    )
    a, b = q.alias("a"), q.alias("b")
    want = {
        (r.vec_a, r.vec_b)
        for r in a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine6(
                dot(F.col("a.qv"), F.col("b.qv")), F.col("a.nrm"), F.col("b.nrm")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.98)
        .collect()
    }
    assert got == want

    # (c) composite key reaches the physical join.
    plan = (
        embedding_near_dups(emb)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "pmod(xxhash64" in plan and "sub#" in plan, plan


def test_resize_stub_dims_and_determinism(spark, sf_dir):
    from guidance_for_analytics_observability_on_aws_spark.operators.multimodal import (
        binary_meta,
        resize_images_stub,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    out = resize_images_stub(docs).collect()
    n_images = binary_meta(docs).filter("modality = 'image'").count()
    assert len(out) == n_images > 0
    for r in out:
        assert r["out_width"] == 64
        # aspect-ratio-preserving integer downscale, floored at 1
        assert r["out_height"] == max(1, r["in_height"] * 64 // r["in_width"])
        assert len(r["resized_sha8"]) == 8
    # deterministic across runs
    again = {(r["doc_id"], r["resized_sha8"]) for r in resize_images_stub(docs).collect()}
    assert again == {(r["doc_id"], r["resized_sha8"]) for r in out}


def test_ann_lsh_buckets_and_ranks(spark, sf_dir):
    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import topk_ann_lsh
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"]
    rows = topk_ann_lsh(emb).collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1)) and len(rs) <= 3
        # every query's results come from a single bucket (its own signature)
        assert len({r["sig"] for r in rs}) == 1
        cosines = [r["cosine"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert cosines == sorted(cosines, reverse=True)


def test_dup_groups_cover_pair_graph(spark, tables):
    """Every LSH candidate pair must land in one group; group ids are the
    component minimum (union-find ground truth computed driver-side)."""
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        dup_groups,
    )

    pairs = (
        dedup.dedup_minhash_lsh(tables["documents"])
        .select("doc_a", "doc_b")
        .collect()
    )
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r.doc_a), find(r.doc_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want: dict[int, list[int]] = {}
    for v in parent:
        want.setdefault(find(v), []).append(v)
    want_groups = {
        min(m): ",".join(str(d) for d in sorted(m)) for m in want.values() if len(m) >= 2
    }

    got = {r.group_id: r.doc_ids for r in dup_groups(tables["documents"]).collect()}
    assert got == want_groups


def test_anomaly_zscore_matches_float_formula(spark, tables):
    """The exact-integer inequality must agree with the float z-score > 3
    definition (checked per-row against pandas rolling stats)."""
    import pandas as pd

    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        anomaly_zscore,
    )

    tm = task_metrics(tables["events"])
    flagged = {
        (r.executor_id, r.task_id)
        for r in anomaly_zscore(tm).collect()
    }
    pdf = (
        tm.select("executor_id", "task_id", "metric_time_ms", "input_bytes_read")
        .toPandas()
        .sort_values(["executor_id", "metric_time_ms", "task_id"])
    )
    want = set()
    for exec_id, g in pdf.groupby("executor_id"):
        x = g["input_bytes_read"].astype(float)
        mean = x.rolling(20).mean()
        std = x.rolling(20).std()
        hits = g[(std > 0) & ((x - mean).abs() > 3 * std)]
        want |= {(exec_id, t) for t in hits["task_id"]}
    assert flagged == want


def test_pack_sequences_bin_assignment(spark, tables):
    """bin == floor(cumulative-tokens-before / 512), recomputed driver-side."""
    from guidance_for_analytics_observability_on_aws_spark.functions.text import tokens
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        PACK_CONTEXT,
        pack_sequences,
    )

    per_doc = (
        tables["documents"]
        .select("doc_id", "source", F.size(tokens(F.col("text"))).alias("t"))
        .toPandas()
        .sort_values(["source", "doc_id"])
    )
    per_doc["before"] = per_doc.groupby("source")["t"].cumsum() - per_doc["t"]
    per_doc["bin"] = per_doc["before"] // PACK_CONTEXT
    want = (
        per_doc.groupby(["source", "bin"])
        .agg(n_docs=("doc_id", "size"), bin_tokens=("t", "sum"))
        .reset_index()
    )
    got = pack_sequences(tables["documents"]).toPandas()
    merged = got.merge(want, on=["source", "bin"], suffixes=("", "_want"))
    assert len(merged) == len(got) == len(want)
    assert (merged["n_docs"] == merged["n_docs_want"]).all()
    assert (merged["bin_tokens"] == merged["bin_tokens_want"]).all()


def test_train_val_split_shares(spark, tables):
    """Hash split must be exhaustive, disjoint, and roughly 90/5/5."""
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        train_val_split,
    )

    got = train_val_split(tables["documents"]).toPandas()
    total_docs = tables["documents"].count()
    assert got["n_docs"].sum() == total_docs
    shares = got.groupby("split")["n_docs"].sum() / total_docs
    assert 0.8 < shares.get("train", 0) < 0.97
    assert shares.get("val", 0) < 0.12 and shares.get("test", 0) < 0.12


def test_cms_estimate_never_underestimates(spark, tables):
    """Count-Min property: est_n >= exact_n for every reported key."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        heavy_hitters_cms,
    )

    tm = task_metrics(tables["events"])
    rows = heavy_hitters_cms(tm).collect()
    assert rows, "sketch returned no heavy hitters"
    assert all(r.est_n >= r.exact_n for r in rows)


def test_pq_train_update_matches_reference(spark):
    """r16 pin for the _pq_train update step (the per-round back-join was
    replaced by carrying the subvector THROUGH the argmin struct): one
    training round's codebooks must equal a pure-Python Lloyd update —
    md5-top-k seeds, (d, cid)-argmin assignment per subspace, per
    (sub, code, dim) member mean — on a small deterministic corpus."""
    import hashlib

    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (
        _pq_train,
    )

    m, k, d = 2, 3, 4
    rows = [
        (i, [float((i * 7 + j * 3) % 11) for j in range(d)]) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id long, qv array<double>")
    got = _pq_train(df, m=m, k=k, iters=1, cache_key=None)

    # Reference: identical seeding and one identical update, in Python.
    by_id = dict(rows)
    seed_ids = sorted(
        by_id, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:k]
    sub_d = d // m
    books = {
        (s, c): by_id[i][s * sub_d : (s + 1) * sub_d]
        for s in range(m)
        for c, i in enumerate(seed_ids)
    }
    sums: dict[tuple, list] = {}
    counts: dict[tuple, int] = {}
    for i, vec in rows:
        for s in range(m):
            sv = vec[s * sub_d : (s + 1) * sub_d]
            best = min(
                (
                    (sum((x - y) ** 2 for x, y in zip(sv, books[(s, c)])), c)
                    for c in range(k)
                )
            )[1]
            acc = sums.setdefault((s, best), [0.0] * sub_d)
            for dim, x in enumerate(sv):
                acc[dim] += x
            counts[(s, best)] = counts.get((s, best), 0) + 1
    expected = dict(books)
    for key, acc in sums.items():
        expected[key] = [x / counts[key] for x in acc]
    assert set(got) == set(expected)
    for key in expected:
        assert got[key] == pytest.approx(expected[key], rel=1e-9, abs=1e-9), key


def test_kmeans_converges_and_covers(spark, tables):
    """Lloyd's refinement must not increase total inertia, and every vector
    is assigned to exactly one cluster."""
    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (
        embedding_kmeans,
    )

    n = tables["embeddings"].count()
    one = embedding_kmeans(tables["embeddings"], max_iter=1).collect()
    five = embedding_kmeans(tables["embeddings"], max_iter=5).collect()
    assert sum(r.n_vecs for r in five) == n
    assert sum(r.n_vecs for r in one) == n
    inertia_1 = sum(r.inertia_floor for r in one)
    inertia_5 = sum(r.inertia_floor for r in five)
    assert inertia_5 <= inertia_1 + len(five)  # floor slack per cluster


def test_kmeans_recovers_planted_clusters(spark):
    """Quality gate for D12 (and the D17 quantizer it trains): on a corpus
    of 4 well-separated planted clusters, Lloyd's must recover the planted
    partition EXACTLY — same-cluster points share a cluster_id, distinct
    clusters get distinct ids. Deterministic (md5 seeding, fixed corpus),
    so any future regression in seeding/assignment/update logic trips it.
    """
    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (
        _kmeans_assignments,
    )

    dims, per_cluster = 8, 25
    rows = []
    for c in range(4):
        for i in range(per_cluster):
            # center: 100 in dim c; jitter ±0.3 on a rotating dim
            vec = [0.0] * dims
            vec[c] = 100.0
            vec[(c + 1 + i % 3) % dims] += (i % 7 - 3) * 0.1
            rows.append((c * 1000 + i, vec, c))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = _kmeans_assignments(df, k=4, max_iter=10).select(
        "vec_id", "cluster_id"
    ).collect()
    by_planted: dict[int, set] = {}
    for r in got:
        by_planted.setdefault(r.vec_id // 1000, set()).add(r.cluster_id)
    assert len(by_planted) == 4 and all(len(s) == 1 for s in by_planted.values()), (
        by_planted
    )
    ids = [next(iter(s)) for s in by_planted.values()]
    assert len(set(ids)) == 4, f"planted clusters merged: {by_planted}"


def test_decontaminate_flags_planted_benchmark_copies(spark, sf_dir):
    """Every exact copy (+1M) of a benchmark member (doc_id%25==0) must be
    flagged contaminated; unrelated docs stay below threshold."""
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        decontaminate,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    out = decontaminate(docs).collect()
    flagged = {r.doc_id for r in out if r.contaminated}
    bench_ids = {r.doc_id for r in docs.filter("doc_id % 25 = 0").collect()}
    planted_copies = {i + 1000000 for i in bench_ids}
    assert planted_copies <= flagged
    # Raw (non-augmented) docs share only background n-grams from the
    # tiny synthetic vocabulary — a handful of short docs can exceed the
    # threshold by chance, but the false-flag RATE must stay small.
    n_raw = docs.count()
    raw_flagged = {i for i in flagged if i < 1000000}
    assert len(raw_flagged) < 0.05 * n_raw


def test_mixture_sample_fills_targets(spark, sf_dir):
    """Each source's picked tokens must fit its target and be maximal for
    the deterministic ranking (next doc would overflow)."""
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        MIXTURE_BUDGET,
        mixture_sample,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    rows = mixture_sample(docs).collect()
    assert rows
    for r in rows:
        assert r.picked_tokens <= r.target_tokens
        assert 1 <= r.weight <= 3
    assert sum(r.target_tokens for r in rows) <= MIXTURE_BUDGET


def test_pack_sequences_distributed_equals_single_window(spark, sf_dir):
    """The two-phase prefix-sum packing must be row-identical to the
    single-window P3 formulation."""
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        pack_sequences,
        pack_sequences_distributed,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    a = {tuple(r) for r in pack_sequences(docs).collect()}
    b = {tuple(r) for r in pack_sequences_distributed(docs).collect()}
    assert a and a == b


def test_slo_burn_rate_pages_on_sustained_burn(spark):
    """Both-windows-hot must page; quiet apps must not. (The parity gate
    cannot catch a threshold bug mirrored into the oracle — this pins the
    semantics independently.)"""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        slo_burn_rate,
    )

    rows = []
    # app 'hot': 6 hours at 20% errors -> burn_1h=20 (>=14.4), burn_6h=20 (>=6)
    for h in range(6):
        for i in range(10):
            rows.append(("hot", h * 3600000 + i, "error" if i < 2 else "ok"))
    # app 'quiet': 6 hours at 1% errors
    for h in range(6):
        for i in range(100):
            rows.append(("quiet", h * 3600000 + i, "error" if i < 1 else "ok"))
    tm = spark.createDataFrame(rows, "app_id string, metric_time_ms long, event_type string")
    out = slo_burn_rate(tm).collect()
    hot_pages = [r.page for r in out if r.app_id == "hot"]
    quiet_pages = [r.page for r in out if r.app_id == "quiet"]
    assert all(hot_pages) and len(hot_pages) == 6
    assert not any(quiet_pages)


def test_containment_finds_planted_truncations(spark, sf_dir):
    """Every 90%-truncation (+3M) must pair with its parent at containment
    ~1.0 — the partial-dup family Jaccard under-scores."""
    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        dedup_containment,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    pairs = {
        (r.doc_a, r.doc_b): max(r.containment_a, r.containment_b)
        for r in dedup_containment(docs).collect()
    }
    parents = {
        r.doc_id
        for r in docs.filter("doc_id % 25 = 10").select("doc_id").collect()
    }
    planted = {(i, i + 3000000) for i in parents}
    missing = planted - set(pairs)
    assert not missing, f"truncation pairs not found: {sorted(missing)[:5]}"
    assert all(pairs[p] >= 0.9 for p in planted)


def test_banded_containment_precision_and_recall(spark, sf_dir):
    """D15 vs the exact D2/D14 baselines: every banded survivor must be an
    exact survivor (precision 1.0 — scoring IS the exact arithmetic, only
    candidate generation is pruned), and recall must stay near the 4×4
    banding bound 1-(1-s^4)^4 ≈ 0.879 at s=0.8 — asserted with a 0.85
    floor to absorb corpus-draw variance (measured 0.99 overall / 0.96 on
    the planted +3M truncations at sf0.001), both overall and on the
    planted truncations specifically."""
    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        dedup_containment,
        dedup_containment_banded,
        dedup_ngram_jaccard,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    exact = {
        (r.doc_a, r.doc_b) for r in dedup_ngram_jaccard(docs).collect()
    } | {(r.doc_a, r.doc_b) for r in dedup_containment(docs).collect()}
    banded_rows = dedup_containment_banded(docs).collect()
    banded = {(r.doc_a, r.doc_b) for r in banded_rows}
    assert banded <= exact, f"false positives: {sorted(banded - exact)[:5]}"
    assert exact, "exact baseline found nothing — test data changed?"
    assert len(banded & exact) / len(exact) >= 0.85
    trunc = {p for p in exact if p[0] >= 3000000 or p[1] >= 3000000}
    if trunc:
        assert len(banded & trunc) / len(trunc) >= 0.85
    # both scores ride along, exact-arithmetic-equal to their baselines
    for r in banded_rows:
        assert 0.0 <= r.jaccard <= 1.0
        assert r.containment_a <= 1.0 and r.containment_b <= 1.0


def test_verify_pairs_keeps_pair_intersection_arithmetic(spark, sf_dir):
    """The per-pair verifier (D15, D30, D31, D43) scores with D2's
    arithmetic: over every co-shingle pair of the corpus, and over D3's
    LSH candidates that share a shingle, its (intersection_size, size_a,
    size_b) equal :func:`_shingle_pair_intersections`' row for row, with
    the same dtypes, from a (doc_id, toks) base and from a (doc_id, sh)
    array base alike."""
    from pyspark.sql import functions as F

    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        _shingle_base,
        _shingle_pair_intersections,
        _verify_pairs,
        dedup_minhash_lsh,
        shingles,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    base = _shingle_base(docs)
    arrays = base.select("doc_id", shingles(F.col("toks")).alias("sh"))
    cols = ["doc_a", "doc_b", "intersection_size", "size_a", "size_b"]
    ref = _shingle_pair_intersections(docs).select(cols)
    want = sorted(ref.collect())
    assert want, "no co-shingle pairs — test data changed?"
    for b in (base, arrays):
        got = _verify_pairs(ref.select("doc_a", "doc_b"), b).select(cols)
        assert got.dtypes == ref.dtypes
        assert sorted(got.collect()) == want
    cand = dedup_minhash_lsh(docs).select("doc_a", "doc_b")
    on_cand = (
        _verify_pairs(cand, base)
        .filter(F.col("intersection_size") > 0)
        .select(cols)
    )
    want_cand = sorted(ref.join(cand, ["doc_a", "doc_b"]).select(cols).collect())
    assert want_cand and sorted(on_cand.collect()) == want_cand


def test_paragraph_minhash_planted_recovery(spark, sf_dir):
    """D43: every corpus exact-copy pair (source ≡ 0 mod 25 and its +1M
    plant) must surface with dup_frac EXACTLY 1.0 on both sides —
    identical token streams chunk to identical paragraphs, identical
    paragraphs get identical MinHash signatures (candidate recall 1.0,
    all bands collide) and Jaccard exactly 1.0 ≥ 0.8. Also pins the
    rollup algebra (dup ⊆ total, frac = dup_tokens/para_tokens) and that
    a boilerplate paragraph shared by otherwise-unrelated hand docs is
    recovered while the unique docs stay clean."""
    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        dedup_paragraph_minhash,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    rows = dedup_paragraph_minhash(docs).collect()
    by_id = {r.doc_id: r for r in rows}
    for r in rows:
        assert 1 <= r.n_dup_paras <= r.n_paras
        assert 0 < r.dup_tokens <= r.para_tokens
        assert r.dup_frac == r.dup_tokens / r.para_tokens
    src_ids = [
        r.doc_id
        for r in docs.filter(F.col("doc_id") % 25 == 0).select("doc_id").collect()
    ]
    assert src_ids
    for d in src_ids:
        for side in (d, d + 1000000):
            assert side in by_id, f"copy pair member {side} missing"
            assert by_id[side].dup_frac == 1.0, (side, by_id[side])

    # hand corpus: shared 32-token boilerplate inside two otherwise
    # disjoint docs; a third doc has no repeated mass. ids avoid the
    # corpus() plant residues (mod 25 ∉ {0, 5, 10}).
    boiler = " ".join(f"b{i}" for i in range(32))
    uniq1 = " ".join(f"u{i}" for i in range(32))
    uniq2 = " ".join(f"v{i}" for i in range(32))
    uniq3 = " ".join(f"w{i}" for i in range(32))
    hand = spark.createDataFrame(
        [
            (1, boiler + " " + uniq1, "en", "s1"),
            (2, boiler + " " + uniq2, "en", "s2"),
            (3, uniq3, "en", "s3"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = {r.doc_id: r for r in dedup_paragraph_minhash(hand).collect()}
    assert set(got) == {1, 2}
    assert got[1].n_dup_paras == 1 and got[2].n_dup_paras == 1
    assert got[1].dup_tokens == 32 and got[1].para_tokens == 64
    assert got[1].dup_frac == 0.5


def test_executor_concurrency_sweep_line(spark):
    """Hand example: [0,10),[5,15),[20,30) peaks at 2 (t=5); touching
    intervals [0,10),[10,20) never count as overlapping."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        executor_concurrency,
    )

    rows = [("a", 10, 10), ("a", 15, 10), ("a", 30, 10),
            ("b", 10, 10), ("b", 20, 10)]
    tm = spark.createDataFrame(
        rows, "executor_id string, metric_time_ms long, run_time_ms long"
    )
    out = {r.executor_id: r for r in executor_concurrency(tm).collect()}
    assert out["a"].peak_concurrency == 2 and out["a"].peak_at_ms == 5
    assert out["b"].peak_concurrency == 1 and out["b"].peak_at_ms == 0


def test_split_leak_proof_zero_cross_split_pairs(spark, sf_dir):
    """Group-keyed splitting must place every near-dup pair in one split
    (n_cross_split_pairs == 0), while the naive P1-style per-doc hash on
    the same corpus demonstrably leaks."""
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        split_leak_proof,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    rows = split_leak_proof(docs).collect()
    assert rows and all(r.n_cross_split_pairs == 0 for r in rows)
    assert {r.split for r in rows} <= {"train", "val", "test"}
    assert sum(r.n_docs for r in rows) > 0


def test_mixture_sample_tolerates_non_numeric_source(spark):
    """Under Spark 4's default ANSI mode a plain cast throws on 'srcX';
    mixture_sample must NULL the weight instead (try_cast), matching the
    oracle's TRY_CAST — pinned after a review caught the divergence."""
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        mixture_sample,
    )

    df = spark.createDataFrame(
        [(1, "srcX", "a b c d", 7), (2, "src2", "a b c", 5), (3, "src2", "d e", 3)],
        "doc_id long, source string, text string, n_chars long",
    )
    rows = {r.source: r for r in mixture_sample(df).collect()}
    assert rows["srcX"].weight is None
    assert rows["src2"].weight == 3  # (2 % 3) + 1


def test_curation_v2_drops_subset_of_v1(spark, sf_dir):
    """P11 keys near-dup removal on D15's VERIFIED pairs — a subgraph of
    P5's raw LSH candidates — so it may only keep MORE docs at the
    near-dedup stage, never fewer; earlier stages are identical and both
    funnels are monotone."""
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        curation_pipeline,
        curation_pipeline_v2,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    v1 = {r.stage: r.n_docs for r in curation_pipeline(docs).collect()}
    v2 = {r.stage: r.n_docs for r in curation_pipeline_v2(docs).collect()}
    assert v1["0_raw"] == v2["0_raw"]
    assert v1["1_exact_dedup"] == v2["1_exact_dedup"]
    assert v2["2_near_dedup"] >= v1["2_near_dedup"]
    for v in (v1, v2):
        assert v["0_raw"] >= v["1_exact_dedup"] >= v["2_near_dedup"] >= v["3_quality"]


def test_trained_ivf_cells_balanced_and_recall_comparable(spark, sf_dir):
    """D17: the k-means-trained coarse quantizer must produce balanced
    cells (the scale rationale — no straggler cell), cover every query
    with a contiguous top-k, and hold recall comparable to the untrained
    D7 baseline (trained beats it at sf0.01; small-sf noise allowed)."""
    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (
        _kmeans_assignments,
        topk_bruteforce,
        topk_ivf,
        topk_ivf_trained,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    sizes = [
        r["count"]
        for r in _kmeans_assignments(emb).groupBy("cluster_id").count().collect()
    ]
    assert max(sizes) <= 2 * (sum(sizes) / len(sizes)), f"unbalanced: {sizes}"

    trained = topk_ivf_trained(emb).collect()
    by_q = {}
    for r in trained:
        by_q.setdefault(r.query_id, []).append(r)
    for rs in by_q.values():
        assert sorted(x.rank for x in rs) == list(range(1, len(rs) + 1))
        assert len({x.cell_id for x in rs}) == 1  # own cell only

    # recall vs exact top-3 (D6's operator, generalized to the same query
    # range — ONE definition of exact top-k), vs the untrained baseline
    tset = {}
    for r in topk_bruteforce(emb, k=3, q_lo=8, q_hi=24).collect():
        tset.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(len(got.get(k, set()) & t) for k, t in tset.items()) / sum(
            len(t) for t in tset.values()
        )

    r_trained = recall(trained)
    r_untrained = recall(topk_ivf(emb).collect())
    assert r_trained >= r_untrained - 0.15
    assert r_trained > 0.1


def test_alert_debounce_islands_hand_example(spark):
    """Gaps-and-islands semantics pinned: buckets {0,1,2} fire (3
    consecutive), {5} and {7} are separate non-fired islands; a second
    executor's identical buckets form independent islands."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        alert_debounce,
    )

    rows = []
    for ex, buckets in [("e1", [0, 0, 1, 2, 5, 7]), ("e2", [5, 6])]:
        for b in buckets:
            rows.append((ex, "logs", "error", b * 60000 + 1))
    # a non-error log record in a firing bucket must NOT count
    rows.append(("e1", "logs", "warn", 1))
    tm = spark.createDataFrame(
        rows,
        "executor_id string, metrics_type string, event_type string,"
        " metric_time_ms long",
    )
    got = {
        (r.executor_id, r.island_start_ms // 60000): (
            r.n_buckets,
            r.total_errors,
            r.fired,
        )
        for r in alert_debounce(tm).collect()
    }
    assert got == {
        ("e1", 0): (3, 4, True),   # buckets 0,1,2 (bucket 0 has 2 errors)
        ("e1", 5): (1, 1, False),
        ("e1", 7): (1, 1, False),
        ("e2", 5): (2, 2, False),  # 2 consecutive < 3 -> suppressed
    }


def test_straggler_detect_hand_example(spark):
    """Median/threshold semantics pinned: odd and even stage sizes, the
    1.5x-median cutoff exclusive, and the sub-100ms floor."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        straggler_detect,
    )

    rows = []
    # stage A (odd n=5): run times 100,100,200,200,1000 -> median 200,
    # straggler iff rt > 300 -> only the 1000ms task.
    for tid, rt in enumerate([100, 100, 200, 200, 1000]):
        rows.append(("app", "run", 1, 1, tid, "e1", rt))
    # stage B (even n=4): 100,200,400,400 -> median_x2 = 600 (median 300),
    # straggler iff 4*rt > 1800 i.e. rt > 450 -> none (400 is not > 450).
    for tid, rt in enumerate([100, 200, 400, 400]):
        rows.append(("app", "run", 1, 2, 100 + tid, "e2", rt))
    # stage C: 50, 10000 -> median_x2 = 10050; 4*10000 > 3*10050 -> flagged;
    # the 50ms task is under the floor AND under threshold.
    rows.append(("app", "run", 1, 3, 200, "e3", 50))
    rows.append(("app", "run", 1, 3, 201, "e3", 10000))
    tm = spark.createDataFrame(
        rows,
        "app_name string, app_id string, job_id long, stage_id long,"
        " task_id long, executor_id string, run_time_ms long",
    )
    got = {(r.stage_id, r.task_id): (r.median_x2, r.ratio) for r in
           straggler_detect(tm).collect()}
    assert got == {
        (1, 4): (400, 5.0),      # 1000 vs median 200
        (3, 201): (10050, 20000 / 10050),
    }


def test_log_sample_budget_and_determinism(spark, sf_dir):
    """At most 5 kept per (executor, minute); n_logs carries the true
    pre-sampling count; selection is content-independent (re-run equal)."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        log_sample,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import task_metrics

    tm = task_metrics(load_tables(spark, sf_dir)["events"])
    out = log_sample(tm).toPandas()
    per_key = out.groupby(["executor_id", "minute_ms"]).size()
    assert (per_key <= 5).all()
    # kept == min(5, n_logs) per key: the sampler never drops below budget
    for (_, _), grp in out.groupby(["executor_id", "minute_ms"]):
        assert len(grp) == min(5, grp["n_logs"].iloc[0])
    # total log volume is preserved in n_logs
    n_logs_total = int(
        tm.filter("metrics_type = 'logs'").count()
    )
    assert int(out.drop_duplicates(["executor_id", "minute_ms"])["n_logs"].sum()) == n_logs_total
    again = log_sample(tm).toPandas()
    assert sorted(map(tuple, out.values.tolist())) == sorted(
        map(tuple, again.values.tolist())
    )


def test_minhash_estimate_vs_exact_scores(spark, sf_dir):
    """D18's signature-agreement estimate must land within the k=16
    estimator error of the EXACT Jaccard on every pair it emits, and its
    verdicts must recover the planted exact dups (est 16/16) that D15
    confirms."""
    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        dedup_minhash_estimate,
        dedup_ngram_jaccard,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    est = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup_minhash_estimate(docs).collect()
    }
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_ngram_jaccard(docs, threshold=0.0).collect()
    }
    assert est, "estimator returned no pairs"
    # planted exact copies (doc_id + 1000000) must appear with est = 1.0
    planted = [p for p in exact if p[1] == p[0] + 1000000 and exact[p] == 1.0]
    for p in planted:
        assert est.get(p) == 1.0, f"exact copy {p} not at est 1.0"
    # every emitted estimate is within 3*sigma (sigma ~ sqrt(J(1-J)/16),
    # bounded by 0.125) of the true Jaccard
    for pair, e in est.items():
        true_j = exact.get(pair, 0.0)
        assert abs(e - true_j) <= 3 * 0.125, (
            f"{pair}: est {e} vs exact {true_j}"
        )


def test_dataset_card_internal_consistency(spark, sf_dir):
    """P12's card must be self-consistent: quality bands partition the
    docs, the dup count equals what D1 would drop within each source, and
    the dominant language count never exceeds the doc count."""
    from guidance_for_analytics_observability_on_aws_spark.functions.text import corpus
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        dataset_card_report,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    card = {r.source: r for r in dataset_card_report(docs).collect()}
    assert card
    c = corpus(docs)
    n_by_source = {r.source: r.n for r in
                   c.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    drop_by_source = {
        r.source: r.n_drop
        for r in c.groupBy("source", F.md5("text").alias("fp"))
        .agg((F.count(F.lit(1)) - 1).alias("extra"))
        .groupBy("source")
        .agg(F.sum("extra").alias("n_drop"))
        .collect()
    }
    for src, r in card.items():
        assert r.n_docs == n_by_source[src]
        assert r.n_high_quality + r.n_medium_quality + r.n_low_quality == r.n_docs
        assert r.n_dup_docs == drop_by_source[src]
        assert 1 <= r.top_lang_docs <= r.n_docs
        assert r.dup_ratio == r.n_dup_docs / r.n_docs


def test_latency_heatmap_shares_and_bounds(spark, sf_dir):
    """O52: per-hour shares partition to 1, bucket ids bounded, the
    overflow bucket is open-ended, counts total the input."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        latency_heatmap,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import task_metrics

    tm = task_metrics(load_tables(spark, sf_dir)["events"])
    out = latency_heatmap(tm).toPandas()
    assert out["bucket_id"].between(0, 19).all()
    assert out.loc[out.bucket_id == 19, "bucket_hi_ms"].isna().all()
    assert (out.loc[out.bucket_id < 19, "bucket_hi_ms"]
            == out.loc[out.bucket_id < 19, "bucket_lo_ms"] + 500).all()
    assert int(out["n_tasks"].sum()) == tm.count()
    import numpy as np
    for _, grp in out.groupby("hour_ms"):
        assert np.isclose(grp["share_of_hour"].sum(), 1.0)


def test_job_critical_stage_invariants(spark, sf_dir):
    """O53: the critical share is at least 1/n_stages (the max can't be
    below the mean) and at most 1; the critical stage really is the
    per-job max with the stage_id tie-break."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        job_critical_stage,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import task_metrics

    tm = task_metrics(load_tables(spark, sf_dir)["events"])
    out = job_critical_stage(tm).toPandas()
    assert len(out) == tm.select("app_id", "job_id").distinct().count()
    assert (out["critical_share"] <= 1.0).all()
    assert (out["critical_share"] >= 1.0 / out["n_stages"]).all()
    per_stage = (
        tm.groupBy("app_id", "job_id", "stage_id")
        .agg(F.sum("run_time_ms").alias("t"))
        .toPandas()
    )
    for _, r in out.iterrows():
        grp = per_stage[(per_stage.app_id == r.app_id) & (per_stage.job_id == r.job_id)]
        best = grp.sort_values(["t", "stage_id"], ascending=[False, True]).iloc[0]
        assert (best.stage_id, best.t) == (r.critical_stage_id, r.critical_stage_time_ms)


def test_filter_ablation_partitions_corpus(spark, sf_dir):
    """P13: the 2^3 combination counts partition the corpus exactly, and
    the dup-flag marginal equals what D1 would drop."""
    from guidance_for_analytics_observability_on_aws_spark.functions.text import corpus
    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import dedup_exact
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        filter_ablation,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    out = filter_ablation(docs).toPandas()
    n_corpus = corpus(docs).count()
    assert int(out["n_docs"].sum()) == n_corpus
    import numpy as np
    assert np.isclose(out["share"].sum(), 1.0)
    d1_drops = (
        dedup_exact(docs)
        .agg(F.sum(F.col("n_docs") - 1).alias("drops"))
        .collect()[0]["drops"]
    )
    assert int(out.loc[out.f_exact_dup, "n_docs"].sum()) == d1_drops


def test_percentile_timeline_monotone_and_consistent(spark, sf_dir):
    """O54: within every hour p25 <= p50 <= p75 <= p99, and each value is
    an actual run time from that hour (order-statistic selection, never
    interpolation)."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        percentile_timeline,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import task_metrics

    tm = task_metrics(load_tables(spark, sf_dir)["events"])
    out = percentile_timeline(tm).toPandas()
    assert (out.p25 <= out.p50).all() and (out.p50 <= out.p75).all() and (
        out.p75 <= out.p99
    ).all()
    hours = (
        tm.select(
            F.expr("metric_time_ms DIV 3600000 * 3600000").alias("h"), "run_time_ms"
        ).toPandas()
    )
    sample = out.sample(n=min(10, len(out)), random_state=7)
    for _, r in sample.iterrows():
        vals = set(hours[hours.h == r.hour_ms]["run_time_ms"])
        assert {r.p25, r.p50, r.p75, r.p99} <= vals


def test_mm_dedup_exact_finds_planted_payload_copies(spark, sf_dir):
    """M8: every planted byte-identical copy (doc_id + 1M) must appear in
    a dup group with its parent as the keeper, and reclaimable bytes are
    (copies-1) x payload size."""
    from guidance_for_analytics_observability_on_aws_spark.operators.multimodal import (
        mm_dedup_exact,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    groups = mm_dedup_exact(docs).collect()
    assert groups
    planted_parents = {
        r.doc_id for r in docs.filter(F.col("doc_id") % 25 == 0).collect()
    }
    keepers = {r.keep_doc_id for r in groups}
    assert planted_parents <= keepers
    for r in groups:
        assert r.n_copies >= 2
        assert r.reclaimable_bytes == (r.n_copies - 1) * r.payload_bytes


def test_batch_flush_defers_suppressed_size_flush(spark):
    """O9 deferred-flush parity: a size boundary swallowed by a backoff
    window must re-fire on the FIRST add after recovery (the reference
    buffer kept growing), not wait for the next boundary."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        batch_flush,
    )

    # batch_size=3; event 5 is a retryable failure (task 7, 7%5!=0), so
    # event 6 — a boundary — is backing off and its flush defers to 7.
    rows = [
        ("e1", 7 if i == 5 else 100 + i, 1000 * i, "error" if i == 5 else "view")
        for i in range(1, 10)
    ]
    tm = spark.createDataFrame(
        rows, "executor_id string, task_id long, metric_time_ms long, event_type string"
    )
    out = {r.task_id: r for r in batch_flush(tm, batch_size=3).collect()}
    by_rn = [out[7 if i == 5 else 100 + i] for i in range(1, 10)]
    assert [r.flushed_by_size for r in by_rn] == [
        False, False, True,   # boundary 3 flushes in place
        False, False,
        False,                # boundary 6 suppressed (backing off)
        True,                 # deferred flush on first recovered add
        False, True,          # boundary 9 back to normal
    ]
    assert [r.backing_off for r in by_rn] == [
        False, False, False, False, False, True, False, False, False
    ]


def test_range_search_contains_planted_copy_and_agrees_with_topk(spark, sf_dir):
    """D19: the planted exact copy is an in-range cosine-1.0 hit, every
    returned score clears the radius, and on the shared corpus slice the
    range result at radius r equals the brute-force scores >= r."""
    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (
        range_search,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"]
    rows = range_search(emb).collect()
    assert rows
    got = {(r.query_id, r.neighbor_id): r.cosine for r in rows}
    assert got.get((0, 100000)) == 1.0  # planted copy of vec 0
    assert all(c >= 0.3 for c in got.values())
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, set()).add(r.n_in_range)
    for q, counts in per_q.items():
        assert counts == {sum(1 for k in got if k[0] == q)}


def test_apdex_bounds_and_partition(spark, sf_dir):
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        apdex,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import task_metrics

    tm = task_metrics(load_tables(spark, sf_dir)["events"])
    out = apdex(tm).toPandas()
    assert len(out) == tm.select("app_id").distinct().count()
    assert out.apdex.between(0, 1).all()
    assert (
        out.n_satisfied + out.n_tolerating + out.n_frustrated == out.n_tasks
    ).all()
    assert (
        out.apdex == (2 * out.n_satisfied + out.n_tolerating) / (2 * out.n_tasks)
    ).all()


def test_abc_pareto_classes_are_rank_monotone(spark, sf_dir):
    """T39: cumulative share is non-decreasing in rank, classes only ever
    move A->B->C along the ranking, and every customer appears once."""
    from guidance_for_analytics_observability_on_aws_spark.operators.tpch import (
        customers_abc_pareto,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    orders = load_tables(spark, sf_dir)["orders"]
    out = customers_abc_pareto(orders).toPandas().sort_values("revenue_rank")
    assert len(out) == orders.select("o_custkey").distinct().count()
    assert out.cum_share.is_monotonic_increasing
    assert abs(out.cum_share.iloc[-1] - 1.0) < 1e-12
    order = {"A": 0, "B": 1, "C": 2}
    codes = out.abc_class.map(order)
    assert codes.is_monotonic_increasing
    assert set(out.abc_class) >= {"A"}


def test_vocab_coverage_monotone(spark, sf_dir):
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        VOCAB_POINTS,
        vocab_coverage,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    out = (
        vocab_coverage(load_tables(spark, sf_dir)["documents"])
        .toPandas()
        .sort_values("vocab_size")
    )
    assert list(out.vocab_size) == [k for k in VOCAB_POINTS if k <= out.n_types.iloc[0]]
    assert out.coverage.is_monotonic_increasing
    assert (out.coverage <= 1.0).all() and (out.coverage > 0).all()
    # the full-vocab point covers everything when it exists
    if out.vocab_size.iloc[-1] >= out.n_types.iloc[0]:
        assert out.coverage.iloc[-1] == 1.0


def test_star_cc_matches_min_label_and_handles_long_paths(spark, sf_dir):
    """P15: the driver union-find gate path gives the same labels as the
    forced distributed star loop on the real corpus's LSH pair graph and
    on ``dedup_containment_banded``'s verified graph (the one curation
    v2 feeds it), and on a planted 64-node PATH (diameter 63 — the shape
    min-label propagation needs ~diameter rounds for) the loop converges
    within the round budget and returns one component."""
    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        dedup_containment_banded,
        dedup_minhash_lsh,
    )
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        dup_labels_star,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    for graph in (dedup_minhash_lsh, dedup_containment_banded):
        pairs = graph(docs).select("doc_a", "doc_b").localCheckpoint(eager=True)
        gate = {tuple(r) for r in dup_labels_star(None, pairs=pairs).collect()}
        loop = {
            tuple(r)
            for r in dup_labels_star(None, pairs=pairs, driver_max_edges=0).collect()
        }
        assert gate, graph.__name__
        assert gate == loop, graph.__name__
    # planted path 0-1-2-...-63: the DISTRIBUTED star loop (forced past
    # the r14 driver union-find gate) must resolve it in <= 10 rounds
    # (log2(64)=6 plus slack), where min-label would need ~63.
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    dist = {
        tuple(r)
        for r in dup_labels_star(
            None, max_iter=10, pairs=path, driver_max_edges=0
        ).collect()
    }
    labels = dict(dist)
    assert set(labels) == set(range(64))
    assert set(labels.values()) == {0}
    # the driver union-find fast path is label-identical to the loop
    drv = {
        tuple(r)
        for r in dup_labels_star(None, max_iter=10, pairs=path).collect()
    }
    assert drv == dist


def test_dup_labels_star_gate_path_never_checkpoints(spark, monkeypatch):
    """Under the edge-count gate the labels come from one take over the
    lazy distinct edge frame and a driver union-find: no checkpoint is
    taken, so a ``localCheckpoint`` that raises cannot stop it. Duplicate,
    reversed and self pairs collapse to the component minima."""
    from pyspark.sql import DataFrame

    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        dup_labels_star,
    )

    pairs = spark.createDataFrame(
        [(5, 3), (3, 5), (3, 9), (9, 9), (20, 11), (11, 20), (11, 14), (7, 7)],
        "doc_a long, doc_b long",
    )

    def _no_checkpoint(self, eager=True):
        raise AssertionError("sub-gate CC path checkpointed")

    monkeypatch.setattr(DataFrame, "localCheckpoint", _no_checkpoint)
    got = {tuple(r) for r in dup_labels_star(None, pairs=pairs).collect()}
    assert got == {(3, 3), (5, 3), (9, 3), (11, 11), (14, 11), (20, 11)}


def test_pq_planted_copy_and_ranking_signal(spark, sf_dir):
    """D20: a planted byte-identical copy shares its parent's codes, so
    it ranks top-1 at the query's own reconstruction distance; and the
    ADC ordering carries signal (the true cosine top-5's mean ADC beats
    the population mean). Determinism: a re-run is identical."""
    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (
        similarity_pq,
        topk_bruteforce,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"]
    rows = similarity_pq(emb).collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    # vec 0 is the only query (< 8) with a planted copy (vec_id % 25 == 0)
    top1 = min(by_q[0], key=lambda r: r.rank)
    assert top1.neighbor_id == 100000
    # ranking signal: PQ's top-5 ADC must sit well below a random pick —
    # every ranked ADC is <= any unranked one by construction; check the
    # true top-5 overlap is at least above chance (5/500)
    bf = {(r.query_id, r.neighbor_id) for r in topk_bruteforce(emb).collect()}
    pq_pairs = {(r.query_id, r.neighbor_id) for r in rows}
    overlap = len(bf & pq_pairs)
    assert overlap >= 2, f"PQ overlap with true top-5 at chance level: {overlap}"
    again = similarity_pq(emb).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_rfm_segments_partition_and_quintiles(spark, sf_dir):
    """T40: every customer appears once, NTILE quintiles are balanced
    within 1, the rfm_code decomposes into the three scores, and segment
    rules match the score logic."""
    from guidance_for_analytics_observability_on_aws_spark.operators.tpch import (
        customers_rfm_segments,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    orders = load_tables(spark, sf_dir)["orders"]
    out = customers_rfm_segments(orders).toPandas()
    assert len(out) == orders.select("o_custkey").distinct().count()
    for col in ("r_score", "f_score", "m_score"):
        sizes = out[col].value_counts()
        assert set(sizes.index) == {1, 2, 3, 4, 5}
        assert sizes.max() - sizes.min() <= 1
    assert (
        out.rfm_code == out.r_score * 100 + out.f_score * 10 + out.m_score
    ).all()
    champ = out[out.segment == "champion"]
    assert ((champ.r_score >= 4) & (champ.f_score >= 4) & (champ.m_score >= 4)).all()


def test_cross_source_overlap_matrix_complete_and_symmetric_free(spark, sf_dir):
    """P16: every unordered source pair appears exactly once, Jaccard in
    (0, 1], and the intersection never exceeds either side."""
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        cross_source_overlap,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    out = cross_source_overlap(docs).toPandas()
    n_sources = docs.select("source").distinct().count()
    assert len(out) == n_sources * (n_sources - 1) // 2
    assert (out.source_a < out.source_b).all()
    assert (out.n_shared <= out[["n_a", "n_b"]].min(axis=1)).all()
    assert out.jaccard.between(0, 1, inclusive="right").all()
    expect = out.n_shared / (out.n_a + out.n_b - out.n_shared)
    assert (out.jaccard == expect).all()


def test_seasonal_baseline_hand_example(spark):
    """O56: profile semantics pinned — a nightly batch hour with a high
    baseline must NOT flag the same load in the eval window, while an
    off-profile spike at a normally-quiet hour must flag."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        seasonal_baseline,
    )

    H, D = 3600000, 86400000
    rows = []
    # days 0-6 baseline (cutoff = 0 + 6*7//10 = 4 -> days 0-4 baseline),
    # days 5,6 eval. hour 2 is the batch hour (rt 1000), hour 10 quiet (rt 10).
    for d in range(7):
        rows.append(("e1", d, d * D + 2 * H + 1, 1000))
        rows.append(("e1", 100 + d, d * D + 10 * H + 1, 10))
    # day 6, hour 10: a 30x off-profile spike
    rows.append(("e1", 200, 6 * D + 10 * H + 2, 300))
    tm = spark.createDataFrame(
        rows, "executor_id string, task_id long, metric_time_ms long, run_time_ms long"
    )
    got = {(r.day, r.hour_of_day): r.flagged for r in seasonal_baseline(tm).collect()}
    assert got[(5, 2)] is False and got[(6, 2)] is False  # batch hour: normal
    assert got[(5, 10)] is False
    assert got[(6, 10)] is True  # quiet hour mean (10+300)/2 = 155 > 2*10


def test_q2_min_cost_winner_is_true_minimum(spark, sf_dir):
    """T41: for every emitted part, the chosen supplier's cost is the
    exact minimum over ALL region suppliers who shipped it, with the
    supplier-id tie-break."""
    from guidance_for_analytics_observability_on_aws_spark.operators.tpch import (
        q2_min_cost_supplier,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    t = load_tables(spark, sf_dir)
    out = q2_min_cost_supplier(
        t["lineitem"], t["part"], t["supplier"], t["nation"], t["region"]
    ).collect()
    assert out
    # recompute the pair costs independently
    li = t["lineitem"].toPandas()
    parts = {r.p_partkey for r in t["part"].filter("p_type = 'STANDARD'").collect()}
    eu_nations = {
        r.n_nationkey
        for r in t["nation"]
        .join(t["region"].filter("r_name = 'EUROPE'"), F.expr("n_regionkey = r_regionkey"))
        .collect()
    }
    eu_supps = {
        r.s_suppkey
        for r in t["supplier"].collect()
        if r.s_nationkey in eu_nations
    }
    import math
    pair = {}
    for r in li.itertuples():
        if r.l_partkey in parts and r.l_suppkey in eu_supps:
            c = math.floor(r.l_extendedprice / r.l_quantity * 100 + 0.5)
            k = (r.l_partkey, r.l_suppkey)
            pair[k] = min(pair.get(k, c), c)
    for row in out:
        cands = {sk: c for (pk, sk), c in pair.items() if pk == row.p_partkey}
        best = min(cands.items(), key=lambda kv: (kv[1], kv[0]))
        assert (row.s_suppkey, row.cost_cents) == (best[0], best[1])


def test_top_movers_halves_partition_and_ordering(spark, sf_dir):
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        top_movers,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import task_metrics

    tm = task_metrics(load_tables(spark, sf_dir)["events"])
    out = top_movers(tm).toPandas().sort_values("rank")
    assert (out.delta_ms == out.second_half_ms - out.first_half_ms).all()
    assert out.delta_ms.abs().is_monotonic_decreasing
    total = tm.agg(F.sum("run_time_ms")).collect()[0][0]
    full = top_movers(tm, top_n=10**9).toPandas()
    assert int((full.first_half_ms + full.second_half_ms).sum()) == total


def test_ivf_pq_cell_bound_and_planted_copy(spark, sf_dir):
    """D21: every returned neighbor lives in the QUERY'S OWN cell (the
    IVF probe bound), and the planted byte-identical copy — which shares
    its parent's cell by construction — ranks top-1."""
    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (
        _coarse_cells_norm,
        similarity_ivf_pq,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"]
    rows = similarity_ivf_pq(emb).collect()
    assert rows
    # re-derive cells through the SAME family-shared quantizer definition
    _, assigned, _ = _coarse_cells_norm(emb, n_cells=8)
    cells = {
        r.vec_id: r.cluster_id
        for r in assigned.select("vec_id", "cluster_id").collect()
    }
    for r in rows:
        assert cells[r.neighbor_id] == r.cell_id == cells[r.query_id]
    top1 = {r.query_id: r.neighbor_id for r in rows if r.rank == 1}
    assert top1[0] == 100000


def test_rolling_wau_matches_bruteforce_window(spark, sf_dir):
    """T42: the window-coverage explode must equal the brute-force
    per-day re-scan (distinct users active in [d-6, d]) on every day."""
    from guidance_for_analytics_observability_on_aws_spark.operators.tpch import (
        events_rolling_wau,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        normalize_events,
    )

    ev = normalize_events(load_tables(spark, sf_dir)["events"])
    got = {r.report_day_ms // 86400000: r.rolling_active_users
           for r in events_rolling_wau(load_tables(spark, sf_dir)["events"]).collect()}
    pairs = ev.selectExpr("user_id", "unix_millis(ts) DIV 86400000 AS day").distinct().toPandas()
    days = sorted(pairs.day.unique())
    for d in days:
        want = pairs[(pairs.day >= d - 6) & (pairs.day <= d)].user_id.nunique()
        assert got[d] == want, (d, got[d], want)
    # rolling >= single-day distinct, always
    daily = pairs.groupby("day").user_id.nunique()
    for d in days:
        assert got[d] >= daily[d]


def test_ivf_pq_residual_planted_copy_and_cell_bound(spark, sf_dir):
    """D22: residual-encoded IVF-PQ keeps D21's retrieval contract — the
    planted byte-identical copy (same cell, zero residual gap) ranks
    top-1 for query 0, and every candidate comes from the query's own
    cell (one cell_id per query, equal to the query's own)."""
    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (
        similarity_ivf_pq_residual,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"]
    rows = similarity_ivf_pq_residual(emb).collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, set()).add(r.cell_id)
    for q, cells in by_q.items():
        assert len(cells) == 1, (q, cells)
    top1 = {r.query_id: r.neighbor_id for r in rows if r.rank == 1}
    assert top1[0] == 100000


def test_ivf_pq_residual_beats_global_codes_on_tight_cells(spark):
    """D22's reason to exist: when the coarse cells are TIGHT (clustered
    corpus — the regime IVF is built for), residual codes quantize the
    remaining spread far finer than global codes. Pin both effects on a
    planted 8-cluster corpus: ADC distance error strictly lower, recall@5
    vs exact no worse. (On the near-uniform driver corpus the two tie —
    distance concentration; documented in the D20/D21 docstrings.)"""
    import numpy as np

    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (
        _quantized,
        augmented_embeddings,
        similarity_ivf_pq,
        similarity_ivf_pq_residual,
        topk_bruteforce,
    )

    rng = np.random.RandomState(7)
    centers = rng.normal(0, 1, (8, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(400):
        v = centers[i % 8] + rng.normal(0, 0.02, 16)
        rows.append((i, [float(x) for x in v], f"lab{i % 4}"))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    exact = topk_bruteforce(augmented_embeddings(emb), k=5, n_queries=8).collect()
    truth: dict[int, set[int]] = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(rs):
        got: dict[int, set[int]] = {}
        for r in rs:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(len(s & got.get(q, set())) for q, s in truth.items())
        return hits / sum(len(s) for s in truth.values())

    nv = _quantized(augmented_embeddings(emb)).select(
        "vec_id",
        F.transform(
            F.col("qv"), lambda x: x / F.sqrt(F.col("nrm").cast("double"))
        ).alias("v"),
    ).collect()
    V = {r.vec_id: np.array(r.v) for r in nv}

    def mae(rs):
        errs = [
            abs(r.approx_d2 - float(((V[r.query_id] - V[r.neighbor_id]) ** 2).sum()))
            for r in rs
        ]
        return sum(errs) / len(errs)

    g = similarity_ivf_pq(emb).collect()
    r = similarity_ivf_pq_residual(emb).collect()
    assert mae(r) < mae(g), (mae(r), mae(g))
    assert recall(r) >= recall(g), (recall(r), recall(g))


def test_trained_model_registry_replay_is_exact(spark, sf_dir):
    """The session trained-model registry (D12/D17/D20/D21/D22): a cached
    replay must be bit-identical to a cold retrain, the D21/D22 coarse
    quantizer must be ONE model (shared key), and clearing the cache must
    not change any result (determinism is what makes caching sound)."""
    from guidance_for_analytics_observability_on_aws_spark.operators import similarity as S

    emb = load_tables(spark, sf_dir)["embeddings"]
    S.trained_cache_clear()
    cold_21 = sorted(map(tuple, S.similarity_ivf_pq(emb).collect()))
    keys_after_21 = set(S._TRAINED_CACHE)
    # D21 trained + registered the family coarse quantizer and PQ books
    assert any(k[0] == "coarse-norm-aug" for k in keys_after_21)
    assert any(k[0] == "pq-norm-aug" for k in keys_after_21)
    # D22 reuses the SAME coarse model (no new coarse key), adds residual books
    S.similarity_ivf_pq_residual(emb).collect()
    new_keys = set(S._TRAINED_CACHE) - keys_after_21
    assert all(k[0] == "pq-residual-norm-aug" for k in new_keys), new_keys
    # warm replay of D21 is bit-identical
    warm_21 = sorted(map(tuple, S.similarity_ivf_pq(emb).collect()))
    assert warm_21 == cold_21
    # and a cold retrain after clearing reproduces it too
    S.trained_cache_clear()
    cold_again = sorted(map(tuple, S.similarity_ivf_pq(emb).collect()))
    assert cold_again == cold_21


def test_ivf_pq_multiprobe_recovers_boundary_neighbors(spark):
    """D23's reason to exist: queries sitting between two tight cells have
    true neighbors split across both; single-probe D22 can only see the
    home cell, multiprobe with per-cell residual tables sees both. On a
    planted boundary corpus: recall@5 vs exact must be >= D22's, at least
    one returned neighbor must come from OUTSIDE the query's home cell,
    and the planted byte-identical copy still ranks top-1."""
    import numpy as np

    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (
        _coarse_cells_norm,
        augmented_embeddings,
        similarity_ivf_pq_multiprobe,
        similarity_ivf_pq_residual,
        topk_bruteforce,
    )

    rng = np.random.RandomState(11)
    centers = rng.normal(0, 1, (8, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    # queries 0..7: just inside cluster i's side of the i/(i+1) boundary,
    # so the 2nd-nearest cell holds some of the true top-5
    for i in range(8):
        v = 0.56 * centers[i] + 0.44 * centers[(i + 1) % 8]
        rows.append((i, [float(x) for x in v], f"lab{i % 4}"))
    # tight clusters: 50 points each
    vid = 8
    for c in range(8):
        for j in range(50):
            v = centers[c] + rng.normal(0, 0.02, 16)
            rows.append((vid, [float(x) for x in v], f"lab{c % 4}"))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    exact = topk_bruteforce(augmented_embeddings(emb), k=5, n_queries=8).collect()
    truth: dict[int, set[int]] = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(rs):
        got: dict[int, set[int]] = {}
        for r in rs:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = sum(len(s & got.get(q, set())) for q, s in truth.items())
        return hits / sum(len(s) for s in truth.values())

    single = similarity_ivf_pq_residual(emb).collect()
    multi = similarity_ivf_pq_multiprobe(emb).collect()
    assert recall(multi) >= recall(single), (recall(multi), recall(single))
    # the probe genuinely widened: some hit lives outside the home cell
    _, assigned, _ = _coarse_cells_norm(emb, n_cells=8)
    home = {
        r.vec_id: r.cluster_id
        for r in assigned.select("vec_id", "cluster_id").collect()
    }
    assert any(r.cell_id != home[r.query_id] for r in multi), (
        "no out-of-home-cell candidate ever returned"
    )
    # planted copy (vec 0 -> 100000) still top-1 in query 0's own cell
    top1 = {r.query_id: r.neighbor_id for r in multi if r.rank == 1}
    assert top1[0] == 100000


def test_anomaly_mad_hand_example(spark):
    """O58: pinned hand example — median/MAD are the lower order
    statistics, and exactly the planted far point crosses the
    cross-multiplied 3·1.4826·MAD fence while a tight group flags
    nothing (the robustness property: one huge outlier cannot inflate
    MAD and hide itself, unlike a mean/stddev z-score)."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        anomaly_mad,
    )

    rows = []
    # group 'spiky': values 1..9 plus one massive outlier 1000
    for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 9, 1000]):
        rows.append(("spiky", i, float(v)))
    # group 'tight': constant-ish values, nothing should flag
    for i, v in enumerate([10, 10, 11, 11, 12, 12]):
        rows.append(("tight", 100 + i, float(v)))
    tm = spark.createDataFrame(rows, "event_type string, task_id long, value double")
    out = {r.event_type: r for r in anomaly_mad(tm).collect()}
    s = out["spiky"]
    # sorted cents: 100..900,100000; n=10 → med at 0-based rank 4 → 500
    assert s.med_cents == 500
    # abs devs: 400,300,200,100,0,100,200,300,400,99500 sorted →
    # 0,100,100,200,200,300,300,400,400,99500; rank 4 → 200
    assert s.mad_cents == 200
    # fence: 4.4478 * 200 = 889.56 cents → only the 99500 deviation flags
    assert s.n_outliers == 1
    t = out["tight"]
    assert t.n_outliers == 0 and t.n_tasks == 6


def test_market_basket_counts_and_lift(spark):
    """T44: planted baskets — a pair that always co-occurs gets lift > 1
    with exact support counts; brands never sharing an order produce no
    pair row; confidence is n_co/n_item exactly."""
    from guidance_for_analytics_observability_on_aws_spark.operators.tpch import (
        orders_market_basket,
    )

    li, pa = [], []
    # parts 1/2 = brands A/B (always bought together), part 3 = brand C alone
    for pk, brand in ((1, "A"), (2, "B"), (3, "C")):
        pa.append((pk, f"part{pk}", brand, "TYPE", 1, 1.0))
    for o in range(30):
        li.append((o, 1)); li.append((o, 2))  # A+B baskets
    for o in range(100, 140):
        li.append((o, 3))  # C-only baskets
    lineitem = spark.createDataFrame(
        [(o, p, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "1996-01-01") for o, p in li],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate string",
    )
    part = spark.createDataFrame(
        pa, "p_partkey long, p_name string, p_brand string, p_type string, "
            "p_size int, p_retailprice double",
    )
    out = orders_market_basket(lineitem, part, min_support=20).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.brand_a, r.brand_b) == ("A", "B")
    assert r.n_co == 30 and r.n_a == 30 and r.n_b == 30 and r.n_baskets == 70
    assert r.confidence_a_b == 1.0 and r.confidence_b_a == 1.0
    # lift = 70*30/(30*30) = 2.333... > 1 (co-occurrence beats independence)
    assert abs(r.lift - 70 * 30 / 900) < 1e-12


def test_table_stats_exact_values(spark, sf_dir):
    """S11: the tall stats frame must agree with directly-computed
    extremes/cardinalities, hold a constant n_rows across rows, and
    leave the categorical column's min/max NULL."""
    from guidance_for_analytics_observability_on_aws_spark.sources.stats import (
        table_stats_report,
    )

    out = {r.col_name: r for r in table_stats_report(spark, sf_dir).collect()}
    assert set(out) == {"event_id", "user_id", "ts_ms", "value_cents", "event_type"}
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n = ev.count()
    assert all(r.n_rows == n for r in out.values())
    lo, hi = ev.agg(F.min("event_id"), F.max("event_id")).first()
    assert (out["event_id"].min_v, out["event_id"].max_v) == (lo, hi)
    assert out["event_id"].n_distinct == ev.select("event_id").distinct().count()
    assert out["event_type"].min_v is None and out["event_type"].max_v is None
    assert out["event_type"].n_distinct == ev.select("event_type").distinct().count()


def test_sq8_planted_copy_and_recall(spark, sf_dir):
    """D24: a byte-identical planted copy shares every SQ8 code, so its
    d2q is exactly 0 and it ranks top-1 for query 0; per-query ranks are
    contiguous; and the 8-bit codec keeps recall@5 vs exact brute force
    well above chance."""
    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (
        augmented_embeddings,
        similarity_sq8,
        topk_bruteforce,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    rows = similarity_sq8(emb).collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for rs in by_q.values():
        assert sorted(x.rank for x in rs) == list(range(1, len(rs) + 1))
    top1 = {r.query_id: r for r in rows if r.rank == 1}
    assert top1[0].neighbor_id == 100000 and top1[0].d2q == 0
    bf = {(r.query_id, r.neighbor_id)
          for r in topk_bruteforce(augmented_embeddings(emb)).collect()}
    got = {(r.query_id, r.neighbor_id) for r in rows}
    # 8 queries x 5 ranks; chance overlap ~ 5/corpus — require well above
    assert len(bf & got) >= 10, len(bf & got)


def test_simhash_hamming_finds_plants_and_is_pigeonhole_complete(spark, sf_dir):
    """D25: exact copies and token-reversals (same token SET) must pair at
    hamming 0; every returned pair respects the <= 3 fence; and the
    banding is pigeonhole-complete — brute-forcing all signature pairs
    within distance 3 finds NOTHING the banded join missed."""
    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        dedup_simhash_hamming,
        simhash_wide,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    pairs = dedup_simhash_hamming(docs).collect()
    assert pairs
    assert all(r.hamming <= 3 for r in pairs)
    assert all(1 <= r.n_shared_bands <= 4 for r in pairs)
    got = {(r.doc_a, r.doc_b) for r in pairs}
    # plants: exact copy (+1M) and reversal (+2M) share the token set
    assert any(b - a == 1000000 for a, b in got)
    assert any(b - a == 2000000 for a, b in got)
    # completeness: brute-force over collected signatures (64-bit hash as
    # two 32-bit halves — hamming is the sum of the half popcounts)
    sigs = simhash_wide(docs).collect()
    want = set()
    for i, r1 in enumerate(sigs):
        for r2 in sigs[i + 1:]:
            d = bin(r1.simhash_lo ^ r2.simhash_lo).count("1") + bin(
                r1.simhash_hi ^ r2.simhash_hi
            ).count("1")
            if d <= 3:
                a, b = sorted((r1.doc_id, r2.doc_id))
                want.add((a, b))
    assert got == want, (len(got), len(want))


def test_cusum_drift_localizes_planted_level_shift(spark):
    """O59: on a series that steps from level A to level B at a known
    time, the cumulative-deviation extreme must land EXACTLY on the last
    pre-shift point (the CUSUM changepoint property), and a flat series
    scores (near) zero drift."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        cusum_drift,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )

    rows = []
    # 'shift': 50 points at 10.0 then 50 points at 20.0 (mean 15 → devs
    # -5 then +5; S descends to its trough at the last low point)
    for i in range(100):
        v = 10.0 if i < 50 else 20.0
        rows.append((i, i * 1000, 7000 + i, "shift", v, "{}"))
    # 'flat': constant series → every deviation 0
    for i in range(60):
        rows.append((1000 + i, i * 1000, 7000 + i, "flat", 5.0, "{}"))
    import datetime as _dt

    ev = spark.createDataFrame(
        [(eid, _dt.datetime.fromtimestamp(ts / 1000.0, _dt.timezone.utc)
          .replace(tzinfo=None), uid, et, v, p)
         for eid, ts, uid, et, v, p in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {r.event_type: r for r in cusum_drift(task_metrics(ev)).collect()}
    s = out["shift"]
    # trough at the 50th point (0-based 49): time = 49_000 ms
    assert s.trough_time_ms == 49000, s
    assert s.cum_trough < 0 < s.cum_peak or s.cum_trough < 0
    f = out["flat"]
    assert f.cum_peak == 0 and f.cum_trough == 0 and f.drift_score == 0.0
    assert s.drift_score > f.drift_score


def test_dedup_eval_report_grades_scale_paths(spark, sf_dir):
    """P17: banded exact re-scoring must have precision 1.0 (it re-runs
    the exact arithmetic) with recall <= the raw candidates' recall (it
    can only drop pairs); counts must be internally consistent; and the
    planted corpus keeps every method's recall well above zero."""
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        dedup_eval_report,
    )

    out = {r.method: r for r in dedup_eval_report(
        load_tables(spark, sf_dir)["documents"]).collect()}
    assert set(out) == {
        "lsh_candidates",
        "banded_exact",
        "sketch_estimate",
        "snm_exact",
    }
    for r in out.values():
        assert r.tp + r.fp == r.n_pred and r.tp + r.fn == r.n_true
        assert r.recall > 0.5, r
    b = out["banded_exact"]
    assert b.precision == 1.0, b
    assert b.recall <= out["lsh_candidates"].recall
    # D30's pairs are exact-scored at the truth's threshold → subset of
    # truth → precision structurally 1.0 (recall is the blocking's).
    assert out["snm_exact"].precision == 1.0, out["snm_exact"]


def test_tail_sampling_policy_partitions_and_keeps_all_errors(spark, sf_dir):
    """O60: keep reasons must partition (error + tail + baseline +
    dropped == total), EVERY error-typed record must be kept as 'error'
    (the whole point vs head sampling), the tail bucket must be ~1% of
    non-error traffic, and kept_share must sit far below 1 for non-error
    types (the volume win)."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        tail_sampling,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )

    tm = task_metrics(load_tables(spark, sf_dir)["events"])
    out = {r.event_type: r for r in tail_sampling(tm).collect()}
    totals = {
        r.event_type: r.n for r in
        tm.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_errors = tm.filter(F.col("metrics_type") == "logs").count()
    assert out["error"].n_error_kept == n_errors == out["error"].n_total
    assert out["error"].kept_share == 1.0
    for et, r in out.items():
        assert r.n_total == totals[et]
        assert r.n_error_kept + r.n_tail_kept + r.n_baseline_kept == r.n_kept
        assert r.n_kept <= r.n_total
        if et != "error":
            assert r.n_error_kept == 0
            # p99 cut keeps ~1% (+ duplicates at the threshold value)
            assert r.n_tail_kept >= max(1, r.n_total // 100 - 1)
            assert r.kept_share < 0.2, (et, r.kept_share)


def test_ship_latency_percentiles_monotone_and_consistent(spark, sf_dir):
    """T45: per-priority percentiles must be monotone (p25<=p50<=p75<=p99
    <=max), line counts must sum to the join cardinality, and the SLA
    share must equal the direct filter count."""
    from guidance_for_analytics_observability_on_aws_spark.operators.tpch import (
        orders_ship_latency,
    )

    t = load_tables(spark, sf_dir)
    out = orders_ship_latency(t["lineitem"], t["orders"]).collect()
    assert len(out) == 5
    joined = t["lineitem"].join(
        t["orders"], F.col("l_orderkey") == F.col("o_orderkey")
    )
    assert sum(r.n_lines for r in out) == joined.count()
    for r in out:
        assert r.p25_days <= r.p50_days <= r.p75_days <= r.p99_days <= r.max_days
        want_over = joined.filter(
            F.expr("(unix_millis(CAST(l_shipdate AS TIMESTAMP)) - unix_millis(CAST(o_orderdate AS TIMESTAMP))) DIV 86400000")
            > 120
        ).filter(F.col("o_orderpriority") == r.o_orderpriority).count()
        assert r.n_over_sla == want_over


def test_trained_model_persistence_across_spark_sessions(spark, sf_dir, tmp_path):
    """D26 (r8): a model trained and snapshot-persisted by a DIFFERENT
    Spark session (separate process, separate JVM) must be found by THIS
    session's freshly computed cache keys (semanticHash + file footprint
    are cross-session stable for the same on-disk data), be bit-equal to
    what this session would train, and replay the search row-identically
    — the production "train once, serve many sessions" loop."""
    import subprocess
    import sys

    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (
        _LOADED_HITS,
        _LOADED_MODELS,
        _TRAINED_CACHE,
        _stable_key,
        load_trained_models,
        similarity_ivf_pq,
        trained_cache_clear,
    )

    table_dir = str(tmp_path / "ann_models")
    script = (
        "import sys\n"
        "sys.path.insert(0, '/root/repo')\n"
        "from guidance_for_analytics_observability_on_aws_spark.session import get_spark\n"
        "from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (\n"
        "    persist_trained_models, similarity_ivf_pq)\n"
        "from guidance_for_analytics_observability_on_aws_spark.sources.tables import load_tables\n"
        "spark = get_spark('train-session')\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        f"emb = load_tables(spark, '{sf_dir}')['embeddings']\n"
        "similarity_ivf_pq(emb).write.format('noop').mode('overwrite').save()\n"
        f"v, n = persist_trained_models(spark, '{table_dir}')\n"
        "assert n >= 2, f'trained {n} models'\n"
        "spark.stop()\n"
    )
    subprocess.run(
        [sys.executable, "-c", script], check=True, cwd="/root/repo", timeout=420
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    # What THIS session would train from scratch (deterministic).
    trained_cache_clear()
    ref_rows = sorted((tuple(r) for r in similarity_ivf_pq(emb).collect()), key=str)
    retrained = {k: dict(v) for k, v in _TRAINED_CACHE.items()}
    assert len(retrained) >= 2

    # Restart simulation: wipe, load the OTHER session's snapshot.
    trained_cache_clear()
    n_loaded = load_trained_models(spark, table_dir)
    assert n_loaded >= 2
    # Cross-session identity: semanticHash is per-JVM (NOT stable across
    # sessions), so resolution goes through the STABLE subkey (tag, file
    # footprint, hyperparams) — this session's keys must map onto the
    # loaded store.
    assert {
        _stable_key(k) for k in retrained
    } <= set(_LOADED_MODELS), "cross-session stable-key mismatch"
    # Bit-equality of the driver-held structures (doubles round-trip parquet).
    for k, model in retrained.items():
        assert _LOADED_MODELS[_stable_key(k)] == model, f"model drift for {k}"
    # Replay is row-identical AND actually served the persisted models:
    # the hit counter distinguishes a true replay from a silent
    # deterministic retrain (which would produce identical rows).
    hits_before = _LOADED_HITS["n"]
    replay_rows = sorted(
        (tuple(r) for r in similarity_ivf_pq(emb).collect()), key=str
    )
    assert replay_rows == ref_rows
    assert _LOADED_HITS["n"] >= hits_before + 2, "search retrained instead of replaying"
    # The promoted full keys are this session's own keys.
    assert set(retrained) <= set(_TRAINED_CACHE)


def test_dup_groups_incremental_equals_full_recompute(spark, sf_dir):
    """P19: folding the new batch's edges into prior labels must yield
    exactly P4's full-recompute groups on the planted two-batch corpus
    (old = doc_id < 1e6, new = the planted ≥ 1e6 copies)."""
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        dup_groups,
        dup_groups_incremental,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    inc = sorted(tuple(r) for r in dup_groups_incremental(docs).collect())
    full = sorted(tuple(r) for r in dup_groups(docs).collect())
    assert inc == full and inc


def test_dup_labels_incremental_fold_merges_old_groups(spark):
    """The fold must handle the hard case the natural corpus may never
    exercise: ONE new doc bridging TWO distinct prior components (plus a
    previously-isolated old doc first touched by a new edge). Expected
    labels follow min-id composition; cross-checked against star CC over
    the union graph."""
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        dup_labels_incremental_fold,
        dup_labels_star,
    )

    old_pairs = spark.createDataFrame(
        [(1, 2), (2, 5), (3, 4)], "doc_a long, doc_b long"
    )
    # 100 bridges components {1,2,5} and {3,4}; 7 is an old isolated doc
    # first labeled now; (101, 102) is a new-new pair.
    new_pairs = spark.createDataFrame(
        [(2, 100), (100, 4), (7, 101), (101, 102)], "doc_a long, doc_b long"
    )
    prior = dup_labels_star(None, pairs=old_pairs)
    folded = {
        r.src: r.group_id
        for r in dup_labels_incremental_fold(prior, new_pairs).collect()
    }
    want = {
        r.src: r.group_id
        for r in dup_labels_star(
            None, pairs=old_pairs.unionByName(new_pairs)
        ).collect()
    }
    assert folded == want
    assert folded[100] == 1 and folded[4] == 1 and folded[5] == 1  # merged
    assert folded[7] == 7 and folded[101] == 7 and folded[102] == 7
    # r15 dispatch equality: driver-via-known_sizes (the nightly's path),
    # driver-via-take-probes (default above), and forced-distributed
    # contraction must emit the identical label set.
    sized = {
        r.src: r.group_id
        for r in dup_labels_incremental_fold(
            prior, new_pairs, known_sizes=(prior.count(), new_pairs.count())
        ).collect()
    }
    dist = {
        r.src: r.group_id
        for r in dup_labels_incremental_fold(
            prior, new_pairs, driver_max_rows=0
        ).collect()
    }
    assert sized == folded == dist
    # and star's pairs_distinct fast canon is label-identical to the
    # full canonicalization over an already-distinct edge list
    pd_labels = {
        r.src: r.group_id
        for r in dup_labels_star(
            None,
            pairs=old_pairs.unionByName(new_pairs).distinct()
            .localCheckpoint(eager=True),
            pairs_distinct=True,
        ).collect()
    }
    assert pd_labels == want


def test_lsh_band_salting_lossless(spark, sf_dir):
    """r8: the hot-bucket band-key salting (n_splits) must emit the EXACT
    candidate pair multiset of the unsalted join — the salt bounds the
    per-task bucket work, never the output — including the per-pair
    n_shared_bands count."""
    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        dedup_minhash_lsh,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    plain = sorted(tuple(r) for r in dedup_minhash_lsh(docs).collect())
    salted = sorted(
        tuple(r) for r in dedup_minhash_lsh(docs, n_splits=8).collect()
    )
    assert plain == salted and plain


def test_events_funnel_windowed_hand_chains(spark):
    """T47: a chain completed within the hour counts at depth 3; the same
    stage sequence stretched past the window counts only the depths whose
    chain fits; order violations never count. Also pins the optimality
    trick: a LATER signup can rescue a purchase an earlier signup's
    window would miss."""
    import datetime as dt

    from guidance_for_analytics_observability_on_aws_spark.operators.tpch import (
        events_funnel_windowed,
    )

    t0 = dt.datetime(2024, 1, 1)
    m = lambda k: t0 + dt.timedelta(minutes=k)  # noqa: E731
    rows = [
        # u1: full chain inside 60m → depth 3
        (1, m(0), "signup"), (1, m(10), "click"), (1, m(30), "purchase"),
        # u2: signup→click inside, purchase at +90m breaks the window → depth 2
        (2, m(0), "signup"), (2, m(20), "click"), (2, m(90), "purchase"),
        # u3: click before signup — order violation → depth 1
        (3, m(10), "click"), (3, m(20), "signup"),
        # u4: early signup's window misses the purchase, but the LATER
        # signup at +50m opens a chain (50<55<70, 70-50<=60) → depth 3
        (4, m(0), "signup"), (4, m(50), "signup"),
        (4, m(55), "click"), (4, m(70), "purchase"),
        # u5: no signup at all → depth 0
        (5, m(0), "purchase"),
    ]
    ev = spark.createDataFrame(
        [(i, ts, uid, et, 1.0, "{}") for i, (uid, ts, et) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = events_funnel_windowed(ev, window_ms=3600_000).collect()[0]
    assert got.n_users == 5
    assert got.n_signup == 4
    assert got.n_click_in_window == 3   # u1, u2, u4
    assert got.n_full_funnel_in_window == 2  # u1, u4


def test_kmv_overlap_exact_branch_on_small_union(spark):
    """D26: when a pair's union sketch holds fewer than k hashes it IS the
    exact distinct-shingle union — union_est/inter_est must equal the
    exact set arithmetic, and jaccard_est = matches/k_used is then the
    true containment-weighted Jaccard of the shingle sets."""
    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        docs_kmv_overlap,
    )

    # two 5-token docs per source sharing one 3-token run across sources
    shared = "alpha beta gamma"
    docs = [
        (1, f"{shared} delta epsilon", "en", "sA", 30),
        (2, f"zeta eta theta iota kappa", "en", "sA", 30),
        (3, f"{shared} lam mu", "en", "sB", 30),
        (4, f"nu xi omicron pi rho", "en", "sB", 30),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = docs_kmv_overlap(df).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.source_a, r.source_b) == ("sA", "sB")
    # 5-token docs → 3 shingles each, 6 per source, exactly 1 shared
    # ("alpha beta gamma") → union = 11, all far below k=128.
    assert r.k_used == 11
    assert r.n_matches == 1
    assert r.union_est == 11.0
    assert r.inter_est == (1.0 / 11.0) * 11.0


def test_ewma_smooth_hand_weights(spark):
    """O67: pinned dyadic arithmetic on a hand series — warmup rows use
    only the weights present, a flat series smooths to itself, and the
    planted 5× spike trips the cross-multiplied flag exactly once."""
    import datetime as dt

    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        ewma_smooth,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # one event per minute; value v → run_time_ms = floor(v*16)
    series = [4.0] * 10 + [20.0] + [4.0] * 3  # flat 64ms, spike 320ms, flat
    for i, v in enumerate(series):
        rows.append((i, t0 + dt.timedelta(minutes=i), 0, "signup", v, '{"k": 1}'))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {
        r.minute_ms: r
        for r in ewma_smooth(task_metrics(ev)).collect()
    }
    assert len(got) == len(series)
    by_idx = [got[k] for k in sorted(got)]
    # first row: no lags → den = 128, ewma = x
    assert by_idx[0].ewma_den == 128 and by_idx[0].ewma == 64.0
    # second row: den = 128 + 64
    assert by_idx[1].ewma_den == 192
    # steady flat rows smooth to exactly 64
    assert by_idx[9].ewma_den == 255 and by_idx[9].ewma == 64.0
    # exactly one spike, at the planted index
    spikes = [i for i, r in enumerate(by_idx) if r.is_spike == 1]
    assert spikes == [10]
    # spike row's own ewma pulls up: num = 320*128 + 64*127
    assert by_idx[10].ewma_num == 320 * 128 + 64 * 127


def test_similarity_eval_report_orders_ivf_variants(spark, sf_dir):
    """D27: the report's recall for multi-probe IVF must be ≥ single-probe
    IVF (structural guarantee: same index, strictly larger probe set), and
    every searcher returns exactly k rows per query here (full cells), so
    n_pred == n_truth and precision == recall."""
    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (
        similarity_eval_report,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    rows = {r.method: r for r in similarity_eval_report(emb).collect()}
    assert set(rows) == {"ivf", "ivf_multiprobe", "ann_lsh"}
    assert rows["ivf_multiprobe"].recall >= rows["ivf"].recall
    for r in rows.values():
        assert r.n_hits <= r.n_truth
        assert r.recall == r.n_hits / r.n_truth


def test_hll_rollup_merge_identity(spark, sf_dir):
    """O70: merging minute sketches must give EXACTLY the estimate a
    direct scan of the coarser bucket builds (same lgK) — the property
    that makes sketch partials a valid rollup currency; and the hour
    level's estimates are close to exact distinct counts on this
    low-cardinality entity."""
    from pyspark.sql import functions as F

    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        distinct_rollup_hll,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )

    tm = task_metrics(load_tables(spark, sf_dir)["events"])
    got = distinct_rollup_hll(tm)
    # direct per-level sketches straight from raw — no minute hop
    def direct(level_ms, name):
        return (
            tm.groupBy(
                "event_type",
                F.expr(f"metric_time_ms DIV {level_ms} * {level_ms}").alias(
                    "bucket_ms"
                ),
            )
            .agg(
                F.hll_sketch_estimate(
                    F.hll_sketch_agg(F.col("partition_id"), F.lit(12))
                )
                .cast("long")
                .alias("n_direct")
            )
            .withColumn("level", F.lit(name))
        )

    want = direct(3600000, "hour").unionByName(direct(86400000, "day"))
    j = got.join(want, ["level", "event_type", "bucket_ms"], "full")
    bad = j.filter(
        F.col("n_distinct_est").isNull()
        | F.col("n_direct").isNull()
        | (F.col("n_distinct_est") != F.col("n_direct"))
    ).count()
    assert bad == 0
    # sanity vs exact distinct at the hour level
    exact = (
        tm.groupBy(
            "event_type",
            F.expr("metric_time_ms DIV 3600000 * 3600000").alias("bucket_ms"),
        )
        .agg(F.countDistinct("partition_id").alias("n_exact"))
    )
    chk = (
        got.filter("level = 'hour'")
        .join(exact, ["event_type", "bucket_ms"])
        .select(
            F.max(
                F.abs(F.col("n_distinct_est") - F.col("n_exact"))
                / F.col("n_exact")
            ).alias("max_rel_err")
        )
        .collect()[0]
    )
    assert chk.max_rel_err is not None and chk.max_rel_err < 0.05


def test_burn_rate_multiwindow_and_semantics(spark):
    """O71: a single-hour 100% burst does NOT page (the 6h window
    dilutes it below 2×), a sustained 6h burst pages, and a mild
    persistent overshoot tickets without paging — the three regimes the
    two-window AND exists to separate."""
    import datetime as dt

    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        burn_rate_multiwindow,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0

    def hour(app_uid, h, n_err, n_ok):
        nonlocal eid
        for i in range(n_err):
            rows.append((eid, t0 + dt.timedelta(hours=h, seconds=i), app_uid, "error", 1.0, '{"k":1}'))
            eid += 1
        for i in range(n_ok):
            rows.append((eid, t0 + dt.timedelta(hours=h, seconds=600 + i), app_uid, "click", 1.0, '{"k":1}'))
            eid += 1

    # app uid 0 → app-0: 23h clean, then ONE hour of 100% errors (blip)
    for h in range(23):
        hour(0, h, 0, 20)
    hour(0, 23, 20, 0)
    # app uid 1 → app-1: 18h clean, then SIX hours of 100% errors (page)
    for h in range(18):
        hour(1, h, 0, 20)
    for h in range(18, 24):
        hour(1, h, 20, 0)
    # app uid 2 → app-2: 24h of mild overshoot (25% > 20% SLO, < 2×) (ticket)
    for h in range(24):
        hour(2, h, 5, 15)
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = burn_rate_multiwindow(task_metrics(ev)).collect()
    by_app = {}
    for r in out:
        a = by_app.setdefault(r.app_name, {"page": 0, "ticket": 0})
        a["page"] += r.page_alert
        a["ticket"] += r.ticket_alert
    # user_id % 4 → app names
    assert by_app["app-0"]["page"] == 0  # blip diluted by the 6h window
    assert by_app["app-1"]["page"] >= 1  # sustained burst pages
    assert by_app["app-2"]["page"] == 0  # mild overshoot never pages...
    assert by_app["app-2"]["ticket"] >= 1  # ...but tickets


def test_cdc_chunks_boundary_locality(spark, sf_dir):
    """D29: content-defined boundaries are LOCAL — exact copies share every
    chunk (containment 1.0 both sides), truncated-to-90% variants keep a
    high share of their parent's chunks (only the tail chunk perturbs),
    and reversed docs never pair (no common span survives reversal)."""
    from pyspark.sql import functions as F

    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        dedup_cdc_chunks,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )

    df = dedup_cdc_chunks(load_tables(spark, sf_dir)["documents"])
    rows = df.collect()
    exact = [r for r in rows if r.doc_b - r.doc_a == 1000000 and r.doc_a < 1000000]
    assert exact and all(
        r.containment_a == 1.0 and r.containment_b == 1.0 for r in exact
    )
    trunc = [r for r in rows if r.doc_b - r.doc_a == 3000000 and r.doc_a < 1000000]
    assert trunc and all(r.containment_b >= 0.5 for r in trunc)
    reverse = [r for r in rows if r.doc_b - r.doc_a == 2000000 and r.doc_a < 1000000]
    assert reverse == []


def test_forecast_linear_crossing_regimes(spark):
    """O74: a steadily rising series projects a crossing AHEAD of its last
    observation (flag 1, positive seconds_remaining); a flat series has
    slope 0 → NULL crossing, flag 0; a falling series never crosses
    upward (flag 0)."""
    import datetime as dt

    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        forecast_linear,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    series = {
        "click": [10.0 + i for i in range(20)],     # rising
        "view": [50.0] * 20,                        # flat
        "error": [100.0 - 2 * i for i in range(20)],  # falling
    }
    for et, vals in series.items():
        for i, v in enumerate(vals):
            rows.append((eid, t0 + dt.timedelta(minutes=i), 1, et, v, '{"k":1}'))
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {r.event_type: r for r in forecast_linear(task_metrics(ev)).collect()}
    rising = got["click"]
    assert rising.will_cross_ahead == 1 and rising.seconds_remaining > 0
    # rising from 10 by 1/min: mean=19.5, threshold=39, crosses at
    # value 39 → 29 minutes in → 1740 s (least squares exact on a line)
    assert abs(rising.cross_t_s - 1740.0) < 1e-6
    flat = got["view"]
    assert flat.cross_t_s is None and flat.will_cross_ahead == 0
    falling = got["error"]
    assert falling.will_cross_ahead == 0 and falling.cross_t_s is None


def test_length_percentiles_distributed_bit_equal(spark, sf_dir, two_phase_equal):
    """X15: the two-phase rank must reproduce the operator's window rank
    bit-for-bit (the family convention every _ranked_with_n consumer
    pins)."""
    from guidance_for_analytics_observability_on_aws_spark.operators.textops import (
        length_percentiles,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    two_phase_equal.swap(lambda: length_percentiles(docs))


def test_histogram_rollup_merge_identity(spark, sf_dir):
    """O75: the hour panel built from MINUTE bin partials must be
    bit-identical to one built from a direct hour-grain scan of raw —
    the lossless-merge property that makes fixed-bin histograms a valid
    rollup currency (unlike exact percentiles, which don't merge)."""
    from pyspark.sql import functions as F

    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        histogram_minute_partials,
        histogram_percentile_tail,
        histogram_rollup,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )

    tm = task_metrics(load_tables(spark, sf_dir)["events"])
    got = histogram_rollup(tm).filter("level = 'hour'")
    # direct hour-grain binning straight from raw — no minute hop
    direct_bins = (
        tm.withColumn(
            "bin",
            F.least(F.floor(F.col("run_time_ms") / 100), F.lit(31)).cast("long"),
        )
        .groupBy(
            "event_type",
            F.expr("metric_time_ms DIV 3600000 * 3600000").alias("bucket_ms"),
            "bin",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.lit("hour").alias("level"), "*")
    )
    want = histogram_percentile_tail(direct_bins)
    a = sorted((tuple(r) for r in got.collect()), key=str)
    b = sorted((tuple(r) for r in want.collect()), key=str)
    assert a == b and a


def test_histogram_rollup_percentile_semantics(spark):
    """O75: hand case — the selected bin must contain the ceil(p*n/100)-th
    value, and the percentile edges are monotone p50<=p95<=p99."""
    import datetime as dt

    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        histogram_rollup,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    # 100 values: run_time_ms = 0..99 ms*10 → bins 0..9 with 10 each.
    rows = [
        (i, t0 + dt.timedelta(seconds=i), 1, "click", float(i * 10), "{}")
        for i in range(100)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    tm = task_metrics(ev)
    # run_time_ms here is derived from value by the telemetry mapping;
    # re-derive expectations from the actual binning instead of assuming.
    by_level = {
        r.level: r for r in histogram_rollup(tm).filter("event_type='click'").collect()
    }
    assert set(by_level) == {"hour", "day"}
    for r in by_level.values():
        assert r.n_rows == 100
        assert r.p50_lo <= r.p95_lo <= r.p99_lo
    # hour and day panels agree (all rows fall in one hour)
    h, d = by_level["hour"], by_level["day"]
    assert (h.p50_lo, h.p95_lo, h.p99_lo) == (d.p50_lo, d.p95_lo, d.p99_lo)


def test_sorted_neighborhood_distributed_bit_equal(spark, sf_dir, two_phase_equal):
    """D30: the operator's two-phase global rank must reproduce a
    single-window rank bit-for-bit (the _ranked_with_n family
    convention) — same ranks over D30's own sort frame, and the same
    candidates and scores. The rank comparison covers every document: a
    rank that skips a number at a slice boundary changes no reported
    pair unless a near-dup pair straddles that boundary."""
    from pyspark.sql import functions as F

    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        _shingle_base,
        dedup_sorted_neighborhood,
    )
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        _ranked_with_n,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    sort_frame = _shingle_base(docs).select(
        "doc_id",
        F.substring(F.concat_ws(" ", F.col("toks")), 1, 40).alias("skey"),
        F.lit(0).alias("_g"),
    )
    ranks = [
        _ranked_with_n(sort_frame, "_g", ["skey", "doc_id"], distributed=d)
        .select("doc_id", "rn", "n")
        for d in (False, True)
    ]
    two_phase_equal(*ranks)
    two_phase_equal.swap(lambda: dedup_sorted_neighborhood(docs), two_phase=True)


def test_sorted_neighborhood_finds_planted_exact_dups(spark, sf_dir):
    """D30: planted exact copies (doc_id+1000000, identical text → identical
    sort key → adjacent ranks unless other docs share the full 40-char
    prefix) must surface with jaccard == 1.0; every emitted pair respects
    the window and threshold contracts."""
    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        dedup_sorted_neighborhood,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    rows = dedup_sorted_neighborhood(docs).collect()
    assert rows
    exact_pairs = [
        r for r in rows if r.doc_b == r.doc_a + 1000000 and r.jaccard == 1.0
    ]
    assert exact_pairs, "no planted exact-copy pair recovered"
    for r in rows:
        assert 1 <= r.rank_gap <= 7
        assert r.intersection_size * 100 >= 80 * (
            r.size_a + r.size_b - r.intersection_size
        )


def test_vocab_growth_distributed_bit_equal_and_totals(
    spark, sf_dir, two_phase_equal
):
    """X16: the two-phase rank must be bit-identical to the operator's
    window rank, and per source the panel's totals must reconcile
    exactly: Σnew_types == distinct types, Σn_tokens == occurrences,
    Σn_docs == docs."""
    from pyspark.sql import functions as F

    from guidance_for_analytics_observability_on_aws_spark.functions.text import (
        tokens,
    )
    from guidance_for_analytics_observability_on_aws_spark.operators.textops import (
        vocab_growth,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    panel = vocab_growth(docs)
    two_phase_equal.swap(lambda: vocab_growth(docs))
    got = {
        r.source: r
        for r in panel.groupBy("source")
        .agg(
            F.sum("new_types").alias("types"),
            F.sum("n_tokens").alias("toks"),
            F.sum("n_docs").alias("docs"),
        )
        .collect()
    }
    toks = docs.select("source", F.explode(tokens(F.col("text"))).alias("t"))
    want = {
        r.source: r
        for r in toks.groupBy("source")
        .agg(
            F.countDistinct("t").alias("types"), F.count(F.lit(1)).alias("toks")
        )
        .collect()
    }
    n_docs = {r.source: r.n for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    for src, r in got.items():
        assert r.types == want[src].types
        assert r.toks == want[src].toks
        assert r.docs == n_docs[src]


def test_vocab_growth_hand_case(spark):
    """X16: two docs 'a b c' then 'a b d' — doc ranks 1,2 of n=2 land in
    buckets 0 and 5; the second doc contributes exactly one new type."""
    from guidance_for_analytics_observability_on_aws_spark.operators.textops import (
        vocab_growth,
    )

    docs = spark.createDataFrame(
        [(1, "a b c", "en", "s1", 5), (2, "a b d", "en", "s1", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {r.bucket: r for r in vocab_growth(docs).collect()}
    assert set(rows) == {0, 5}
    assert rows[0].new_types == 3 and rows[0].n_tokens == 3
    assert rows[5].new_types == 1 and rows[5].n_tokens == 3
    assert rows[5].cum_types == 4 and rows[5].cum_tokens == 6


def test_alert_flap_detect_hand_case(spark):
    """O77: a series alternating above/below the run_time_ms threshold
    every minute must produce one transition per minute after the first
    and flip the flap verdict once the trailing-1h count reaches 4 — the
    counts are fully determined, so pin them exactly."""
    import datetime as dt

    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        alert_flap_detect,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    # run_time_ms = floor(value*16); threshold 3200 → 300→4800 fires,
    # 100→1600 is quiet. 20 minutes, strictly alternating.
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 1, "click",
         300.0 if i % 2 == 0 else 100.0, "{}")
        for i in range(20)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {r.rule_id: r for r in alert_flap_detect(task_metrics(ev)).collect()}
    r2 = got[2]  # run_time_ms > 3200
    assert r2.n_minutes == 20
    assert r2.n_firing_minutes == 10
    assert r2.n_transitions == 19
    assert r2.max_transitions_1h == 19
    # trans_1h at minute i is i; >= 4 from minute 4 on → 16 minutes
    assert r2.n_flapping_minutes == 16


def test_alert_flap_detect_no_flap_on_stable_series(spark):
    """O77: a series permanently above threshold has zero transitions and
    zero flapping minutes — firing forever is an incident, not a flap."""
    import datetime as dt

    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        alert_flap_detect,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 1, "click", 300.0, "{}")
        for i in range(10)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    r2 = {r.rule_id: r for r in alert_flap_detect(task_metrics(ev)).collect()}[2]
    assert r2.n_firing_minutes == 10
    assert r2.n_transitions == 0 and r2.n_flapping_minutes == 0


def test_prefix_filter_equals_exact_allpairs(spark, sf_dir):
    """D31: prefix filtering is LOSSLESS by the prefix-overlap theorem,
    so its verified output must equal D2's exact all-pairs result
    row-for-row — recall 1.0 by proof, not measurement."""
    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        dedup_ngram_jaccard,
        dedup_prefix_filter,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    a = sorted((tuple(r) for r in dedup_prefix_filter(docs).collect()), key=str)
    b = sorted((tuple(r) for r in dedup_ngram_jaccard(docs).collect()), key=str)
    assert a == b and a


def test_prefix_filter_prunes_candidates(spark, sf_dir):
    """D31: the point of the prefix index — the candidate set it scores
    must be strictly smaller than D2's any-shared-shingle candidate set
    (while still finding every qualifying pair, previous test)."""
    from pyspark.sql import functions as F

    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        _shingle_base,
        _shingle_rows,
        shingles,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir)["documents"]
    ex = _shingle_rows(docs)
    full = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    # rebuild D31's candidate stage exactly (df-ordered prefix join)
    exploded = _shingle_base(docs).select(
        "doc_id", F.explode(shingles(F.col("toks"))).alias("shingle")
    )
    df_tbl = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sized = (
        exploded.join(df_tbl, "shingle")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "shingle")
            ),
        )
        .withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
        )
    )
    prefix = sized.filter(
        F.col("pos") <= F.expr("n - ((80 * n + 99) DIV 100) + 1")
    ).select("doc_id", "shingle")
    pruned = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    assert pruned < full
    # on this corpus the rare-token prefixes prune aggressively
    assert pruned <= full // 2, (pruned, full)


def test_mm_frame_dedup_detects_trim(spark):
    """M10: a trimmed clip (prefix of the source payload) must surface
    with containment 1.0 on the trim side and partial on the source side
    — the asymmetry that distinguishes a trim from a re-encode."""
    from guidance_for_analytics_observability_on_aws_spark.operators.multimodal import (
        mm_frame_dedup,
    )

    src = "abcdefghijklmnop" * 4  # 4 frames of 16 chars
    trim = src[:32]  # first 2 frames
    other = "zyxwvutsrqponmlk" * 3  # unrelated video
    docs = spark.createDataFrame(
        [
            (2, src, "en", "s1", len(src)),
            (5, trim, "en", "s1", len(trim)),
            (8, other, "en", "s1", len(other)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = mm_frame_dedup(docs).collect()
    # src repeats one 16-char block -> 1 DISTINCT frame; trim likewise
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (2, 5)
    assert r.n_shared_frames == 1 and r.n_a == 1 and r.n_b == 1
    assert r.containment_a == 1.0 and r.containment_b == 1.0
    # distinct-frame semantics with non-repeating content
    src2 = "".join(chr(97 + k) * 16 for k in range(4))  # aaaa.. bbbb.. cccc.. dddd..
    docs2 = spark.createDataFrame(
        [(2, src2, "en", "s1", 64), (5, src2[:32], "en", "s1", 32)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r2 = mm_frame_dedup(docs2).collect()[0]
    assert r2.n_a == 4 and r2.n_b == 2 and r2.n_shared_frames == 2
    assert r2.containment_b == 1.0 and r2.containment_a == 0.5


def test_attribution_multitouch_conserves_cents(spark, sf_dir):
    """T48: per purchase, the integer credit split must sum EXACTLY to the
    purchase's cents (largest-remainder identity — a float 1/n split
    leaks cents); multi-touch purchases carry exactly one 'last' and one
    'first' touch, single-touch purchases exactly one 'only' touch."""
    from pyspark.sql import functions as F

    from guidance_for_analytics_observability_on_aws_spark.operators.tpch import (
        events_attribution_multitouch,
    )

    out = events_attribution_multitouch(
        spark.read.parquet(f"{sf_dir}/events.parquet")
    )
    bad = (
        out.groupBy("purchase_event_id", "purchase_cents")
        .agg(
            F.sum("credit_cents").alias("tot"),
            F.sum((F.col("position") == "last").cast("int")).alias("n_last"),
            F.sum((F.col("position") == "first").cast("int")).alias("n_first"),
            F.sum((F.col("position") == "only").cast("int")).alias("n_only"),
            F.max("n_touches").alias("n"),
        )
        .filter(
            (F.col("tot") != F.col("purchase_cents"))
            | (F.col("n_last") + F.col("n_only") != 1)
            | (F.col("n_first") + F.col("n_only") != 1)
            | ((F.col("n") == 1) != (F.col("n_only") == 1))
        )
        .count()
    )
    assert bad == 0
    assert out.count() > 0


def test_attribution_multitouch_hand_case(spark):
    """T48: purchase of 1.01 (101 cents) after 3 clicks → credits 34/34/33
    with the extra cents going to the most recent touches; clicks outside
    the 7-day lookback are excluded."""
    import datetime as dt

    from guidance_for_analytics_observability_on_aws_spark.operators.tpch import (
        events_attribution_multitouch,
    )

    t0 = dt.datetime(2024, 6, 1, 12, 0, 0)
    rows = [
        (1, t0 - dt.timedelta(days=8), 7, "click", 0.0, "{}"),  # outside lookback
        (2, t0 - dt.timedelta(days=3), 7, "click", 0.0, "{}"),
        (3, t0 - dt.timedelta(days=2), 7, "click", 0.0, "{}"),
        (4, t0 - dt.timedelta(days=1), 7, "click", 0.0, "{}"),
        (5, t0, 7, "purchase", 1.01, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {r.click_event_id: r for r in events_attribution_multitouch(ev).collect()}
    assert set(got) == {2, 3, 4}
    assert got[4].position == "last" and got[4].credit_cents == 34
    assert got[3].position == "middle" and got[3].credit_cents == 34
    assert got[2].position == "first" and got[2].credit_cents == 33
    assert sum(r.credit_cents for r in got.values()) == 101


def test_attribution_multitouch_sign_safe_and_only_label(spark):
    """T48: a NEGATIVE purchase (refund, -1.01 → -101 cents) must still
    conserve cents exactly — pmod remainder + exactly-divisible floor
    share give -33/-34/-34 by recency (trunc-vs-floor quotients agree
    because the adjusted dividend divides exactly); a single-touch
    purchase is labeled the distinct 'only' class."""
    import datetime as dt

    from guidance_for_analytics_observability_on_aws_spark.operators.tpch import (
        events_attribution_multitouch,
    )

    t0 = dt.datetime(2024, 6, 1, 12, 0, 0)
    rows = [
        (1, t0 - dt.timedelta(days=3), 7, "click", 0.0, "{}"),
        (2, t0 - dt.timedelta(days=2), 7, "click", 0.0, "{}"),
        (3, t0 - dt.timedelta(days=1), 7, "click", 0.0, "{}"),
        (4, t0, 7, "purchase", -1.01, "{}"),  # refund
        (5, t0 - dt.timedelta(days=1), 9, "click", 0.0, "{}"),
        (6, t0, 9, "purchase", 2.50, "{}"),  # single touch
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    got = {r.click_event_id: r for r in events_attribution_multitouch(ev).collect()}
    assert got[3].credit_cents == -33 and got[3].position == "last"
    assert got[2].credit_cents == -34 and got[2].position == "middle"
    assert got[1].credit_cents == -34 and got[1].position == "first"
    assert sum(
        r.credit_cents for r in got.values() if r.purchase_event_id == 4
    ) == -101
    assert got[5].position == "only" and got[5].credit_cents == 250


def test_export_order_plan_contracts(spark, sf_dir, two_phase_equal):
    """P21: ranks are a permutation (1..N, no gaps), shard/offset are
    consistent integer arithmetic on the rank, the operator's two-phase
    rank is bit-identical to a window rank, and the order is reproducible
    (two runs produce identical plans)."""
    from pyspark.sql import functions as F

    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        export_order_plan,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    plan = export_order_plan(docs)
    n = docs.count()
    agg = plan.agg(
        F.count(F.lit(1)).alias("rows"),
        F.min("rank").alias("lo"),
        F.max("rank").alias("hi"),
        F.countDistinct("rank").alias("d"),
        F.sum(
            (
                F.col("shard_id") * 256 + F.col("offset") != F.col("rank") - 1
            ).cast("int")
        ).alias("bad"),
    ).collect()[0]
    assert (agg.rows, agg.lo, agg.hi, agg.d, agg.bad) == (n, 1, n, n, 0)
    a = sorted((tuple(r) for r in plan.collect()), key=str)
    b = two_phase_equal.swap(lambda: export_order_plan(docs), two_phase=True)
    assert a == b


def test_decontaminate_neardup_finds_every_planted_copy(spark, sf_dir):
    """P22: every planted exact copy (+1M of the %25==0 benchmark slice,
    ≥3 tokens) must pair with ITS OWN benchmark source at containment 1.0
    — the pairwise verdict P6's pooled ratio cannot produce; every
    reported pair must meet the cross-multiplied containment bound."""
    from pyspark.sql import functions as F

    from guidance_for_analytics_observability_on_aws_spark.functions.text import (
        tokens,
    )
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        decontaminate_neardup,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    rows = decontaminate_neardup(docs).collect()
    assert rows
    got_pairs = {(r.doc_id, r.bench_doc_id) for r in rows}
    bench_ids = {
        r.doc_id
        for r in docs.filter(
            (F.col("doc_id") % 25 == 0) & (F.size(tokens(F.col("text"))) >= 3)
        ).collect()
    }
    for b in bench_ids:
        assert (b + 1000000, b) in got_pairs, f"planted copy of {b} missed"
    for r in rows:
        assert r.n_shared * 100 >= 80 * r.n_bench_shingles
        if r.doc_id == r.bench_doc_id + 1000000:
            assert r.containment_bench == 1.0


def test_decontaminate_paragraph_finds_every_planted_copy(spark, sf_dir):
    """P32: every planted exact copy (+1M of the %25==0 slice, ≥3 tokens)
    must pair with its own benchmark source — every one of its windows is
    a contiguous span of the source, so paragraph containment is exactly
    1.0 from window 1 on (first_para == 1, max == 1.0)."""
    from guidance_for_analytics_observability_on_aws_spark.functions.text import (
        tokens,
    )
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        decontaminate_paragraph,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    rows = {(r.doc_id, r.bench_doc_id): r for r in decontaminate_paragraph(docs).collect()}
    assert rows
    bench_ids = {
        r.doc_id
        for r in docs.filter(
            (F.col("doc_id") % 25 == 0) & (F.size(tokens(F.col("text"))) >= 3)
        ).collect()
    }
    for b in bench_ids:
        r = rows.get((b + 1000000, b))
        assert r is not None, f"planted copy of {b} missed"
        assert r.first_para == 1
        assert r.max_containment_para == 1.0
    for r in rows.values():
        assert 0.8 <= r.max_containment_para <= 1.0
        assert r.n_leaked_paras >= 1


def test_decontaminate_paragraph_catches_fragment_leak_p22_dilutes(spark):
    """P32's distinct catch, pinned as a hand case: a 64-token FRAGMENT of
    a 600-token benchmark doc embedded window-aligned in a training doc.
    Doc-level bench containment is ~62/598 ≈ 0.10 — P22 must NOT flag the
    pair — while the two embedded windows are 100% benchmark content, so
    P32 flags it at max containment exactly 1.0 starting at window 2."""
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        decontaminate_neardup,
        decontaminate_paragraph,
    )

    bench_toks = [f"w{i}" for i in range(600)]
    train_toks = (
        [f"zz{i}" for i in range(32)]  # window 1: filler
        + bench_toks[:64]  # windows 2-3: verbatim bench fragment
        + [f"yy{i}" for i in range(32)]  # window 4: filler
    )
    docs = spark.createDataFrame(
        [
            (50, " ".join(bench_toks), "en", "bench", 0),
            (7, " ".join(train_toks), "en", "scrape", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    neardup_pairs = {
        (r.doc_id, r.bench_doc_id) for r in decontaminate_neardup(docs).collect()
    }
    assert (7, 50) not in neardup_pairs, "doc-level gate should dilute past a fragment"
    got = {(r.doc_id, r.bench_doc_id): r for r in decontaminate_paragraph(docs).collect()}
    frag = got[(7, 50)]
    assert frag.n_leaked_paras == 2
    assert frag.first_para == 2
    assert frag.max_containment_para == 1.0
    # the corpus plant (+1M copy of bench doc 50) is caught wholesale too
    plant = got[(1000050, 50)]
    assert plant.first_para == 1
    assert plant.n_leaked_paras == 19  # ceil(600/32) windows, all ≥3 tokens
    assert plant.max_containment_para == 1.0


def test_dup_fraction_hand_case(spark):
    """X17: two identical docs (every shingle duplicated → bin 9) and one
    unique doc (df 1 everywhere → bin 0) — counts and bins pinned.
    Uses doc_ids that dodge the corpus() planting residues."""
    from guidance_for_analytics_observability_on_aws_spark.operators.textops import (
        dup_fraction,
    )

    docs = spark.createDataFrame(
        [
            (1, "red fox jumps over lazy dog", "en", "sA", 27),
            (2, "red fox jumps over lazy dog", "en", "sA", 27),
            (3, "entirely different words here now", "en", "sB", 33),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {(r.source, r.dup_bin): r for r in dup_fraction(docs).collect()}
    assert rows[("sA", 9)].n_docs == 2
    assert rows[("sA", 9)].total_dup_shingles == rows[("sA", 9)].total_shingles
    assert rows[("sB", 0)].n_docs == 1
    assert rows[("sB", 0)].total_dup_shingles == 0
    # token shares sum to 1 per source
    import collections

    share = collections.defaultdict(float)
    for r in dup_fraction(docs).collect():
        share[r.source] += r.token_share_of_source
    for s, v in share.items():
        assert abs(v - 1.0) < 1e-12, (s, v)


def test_red_panel_contracts(spark, sf_dir, two_phase_equal):
    """O79: the two-phase rank is bit-identical to the operator's window
    rank, error shares honor the cross-multiplied breach rule, and duration
    percentiles are monotone p50<=p75<=p99."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        red_panel,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.tables import (
        load_tables,
    )
    from guidance_for_analytics_observability_on_aws_spark.sources.telemetry import (
        task_metrics,
    )

    tm = task_metrics(load_tables(spark, sf_dir)["events"])
    rows = red_panel(tm).collect()
    assert rows
    for r in rows:
        assert r.p50_ms <= r.p75_ms <= r.p99_ms
        assert r.err_breach == int(r.n_errors * 100 > 5 * r.n_logs)
        assert 0 <= r.n_errors <= r.n_logs
    two_phase_equal.swap(lambda: red_panel(tm))


def test_ntile_from_rank_matches_spark_ntile(spark):
    """`ntile_from_rank` (conftest) must reproduce Spark's ntile() split
    exactly for every (n, k) shape — including n < k, where every row gets
    its own tile and the ELSE branch (guarded q=0 division) is
    unreachable."""
    from conftest import ntile_from_rank
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    for n in (1, 2, 3, 4, 5, 6, 11, 13, 25):
        for k in (2, 3, 5, 7):
            df = spark.range(1, n + 1).select(
                F.col("id").alias("rn"), F.lit(n).cast("long").alias("n")
            )
            got = {
                r.rn: r.tile
                for r in df.select("rn", ntile_from_rank(k).alias("tile")).collect()
            }
            want = {
                r.rn: r.tile
                for r in spark.range(1, n + 1)
                .select(F.col("id").alias("rn"))
                .select(
                    "rn",
                    F.ntile(k).over(Window.orderBy("rn")).cast("long").alias("tile"),
                )
                .collect()
            }
            assert got == want, (n, k)


def test_dup_groups_nightly_loop_contracts(spark, sf_dir):
    """P23: three REAL snapshot commits; every night's fold (prior labels
    read from the stored label table via manifest diff, delta edges from
    probing the stored band index) must equal the from-scratch recompute
    — the runner itself raises otherwise — and the later nights must do
    batch-bounded work (delta edges exist, docs arrive each night)."""
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        dup_groups_nightly_report,
    )

    rows = {
        r.night: r
        for r in dup_groups_nightly_report(spark, sf_dir, verify=True).collect()
    }
    assert set(rows) == {0, 1, 2}
    for r in rows.values():
        assert r.fold_equals_full
        assert r.n_new_docs > 0
    # night 1 commits the planted byte-exact copies: they MUST edge to
    # their originals; groups can only grow as nights accumulate
    assert rows[1].n_delta_edges > 0
    assert rows[0].n_labeled <= rows[1].n_labeled <= rows[2].n_labeled
    assert rows[1].docs_version == 2 and rows[2].docs_version == 3
    # r15 warm/cold pin: the default warm path (in-session mirrors of the
    # append-only band index + last night's labels, batch-as-delta) must
    # report row-identically to the cold path that re-reads every night's
    # state from the committed snapshots via the S14 manifest diff — the
    # commit wrote exactly the mirror's rows, so any divergence means a
    # broken read-back path. Cold also runs verify=True, so the stored-
    # state recompute oracle stays exercised end-to-end.
    cold = {
        r.night: r
        for r in dup_groups_nightly_report(
            spark, sf_dir, verify=True, warm_state=False
        ).collect()
    }
    assert set(cold) == set(rows)
    for night, r in rows.items():
        assert tuple(r) == tuple(cold[night]), (night, r, cold[night])


def test_bloom_gate_no_false_negatives_and_audit(spark, sf_dir):
    """D32: the Bloom theorem (no false negatives) must hold per source
    (all_true_dups_flagged), the audit columns must reconcile, and the
    planted byte-exact copies must be counted as true dups."""
    from pyspark.sql import functions as F

    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        dedup_bloom_gate,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = dedup_bloom_gate(docs).collect()
    assert rows
    assert all(r.all_true_dups_flagged for r in rows)
    for r in rows:
        assert 0 <= r.n_true_dup <= r.n_flagged <= r.n_new
        assert r.n_false_pos == r.n_flagged - r.n_true_dup or r.n_flagged >= r.n_true_dup
    # planted exacts (doc_id % 25 == 0 originals copied to +1e6) are dups
    assert sum(r.n_true_dup for r in rows) > 0
    # tiny filter (m=64 bits) must saturate into false positives while the
    # no-false-negative guarantee STILL holds — the capacity alarm shape
    tiny = dedup_bloom_gate(docs, m_bits=64).collect()
    assert all(r.all_true_dups_flagged for r in tiny)
    assert sum(r.n_false_pos for r in tiny) > 0


def test_unigram_surprisal_matches_literal(spark, sf_dir):
    """X18 vs a literal Python unigram model on the real table: bitlen
    sums, the integer mean, and the cross-multiplied verdict."""
    from guidance_for_analytics_observability_on_aws_spark.operators.textops import (
        text_unigram_surprisal,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r.doc_id: (r.n_tokens, r.sum_surprisal_bits, r.mean_surprisal_x100,
                   r.above_corpus_avg)
        for r in text_unigram_surprisal(docs).collect()
    }
    import re
    from collections import Counter

    texts = {r.doc_id: r.text for r in docs.collect()}
    freq = Counter()
    for t in texts.values():
        freq.update(re.split(r"\s+", t))
    n_total = sum(freq.values())
    tb = n_total.bit_length()
    want = {}
    for did, t in texts.items():
        toks = re.split(r"\s+", t)
        s = sum(tb - freq[w].bit_length() for w in toks)
        want[did] = (len(toks), s, s * 100 // len(toks))
    cb = sum(w[1] for w in want.values())
    ct = sum(w[0] for w in want.values())
    for did, (nt, s, mean) in want.items():
        assert got[did] == (nt, s, mean, int(s * ct > cb * nt)), did


def test_distribution_drift_bounds(spark):
    """X19 hand cases: identical old/new distributions → TV = 0; disjoint
    vocabularies → TV = 1; no-new-batch source → NULL TV, all-lost types."""
    rows = [
        # src_same: old and new have identical token distributions
        (1, "a b a", "en", "src_same", 5),
        (1_000_001, "a b a", "en", "src_same", 5),
        # src_disj: disjoint vocabularies
        (2, "x x y", "en", "src_disj", 5),
        (1_000_002, "p q q", "en", "src_disj", 5),
        # src_only_old: nothing arrives
        (3, "m n", "en", "src_only_old", 3),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    from guidance_for_analytics_observability_on_aws_spark.operators.textops import (
        text_distribution_drift,
    )

    # corpus() plants copies only for doc_id % 25 ∈ {0,5,10}; these ids avoid
    # that, so the frame is exactly the five rows above.
    got = {r.source: r for r in text_distribution_drift(docs).collect()}
    assert got["src_same"].tv_distance == 0.0
    assert got["src_same"].n_gained_types == 0 and got["src_same"].n_lost_types == 0
    assert got["src_disj"].tv_distance == 1.0
    assert got["src_disj"].n_gained_types == 2 and got["src_disj"].n_lost_types == 2
    assert got["src_only_old"].tv_distance is None
    assert got["src_only_old"].n_lost_types == 2


def test_soft_dedup_contracts(spark, sf_dir):
    """P24: unique docs always kept; duplicate-cluster keeps bounded by
    cluster membership; token masses reconcile; reruns identical; and on
    the real corpus the dup keep-rate sits near the 1/n expectation
    (loose band — the rule is deterministic, not random)."""
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        mixture_soft_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = {r.source: r for r in mixture_soft_dedup(docs).collect()}
    assert rows
    for r in rows.values():
        assert r.all_unique_kept
        assert 0 <= r.n_dup_kept <= r.n_dup_docs
        assert r.n_kept == (r.n_docs - r.n_dup_docs) + r.n_dup_kept
        assert r.tokens_after <= r.tokens_before
    total_dup = sum(r.n_dup_docs for r in rows.values())
    total_dup_kept = sum(r.n_dup_kept for r in rows.values())
    assert total_dup > 0  # planted exact copies form 2-copy clusters
    # 2-copy clusters dominate → expectation ≈ half of dup docs kept
    assert 0.2 * total_dup <= total_dup_kept <= 0.8 * total_dup
    again = {r.source: r for r in mixture_soft_dedup(docs).collect()}
    assert {k: tuple(v) for k, v in rows.items()} == {
        k: tuple(v) for k, v in again.items()
    }


def test_repeated_spans_planted_passages_and_interval_union(spark):
    """D34: a passage planted in two otherwise-unique docs is recovered at
    both sites; an INTRA-doc repeat counts (the Lee et al. rule is "seen
    twice in the corpus", not "in two documents"); overlapping repeated
    spans contribute their interval UNION to repeated_token_mass (the
    min(w, gap) algebra), not n_spans*w; and a fully-unique doc is absent."""
    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        dedup_repeated_spans,
    )

    w = 4
    # doc_ids chosen ∉ {0,5,10} mod 25 so corpus() adds no augmented rows.
    mk = lambda *t: " ".join(t)  # noqa: E731
    docs = spark.createDataFrame(
        [
            # A/B: shared 4-token passage P1..P4 at different offsets
            (1, mk(*[f"ua{i}" for i in range(6)], "P1", "P2", "P3", "P4",
                   *[f"va{i}" for i in range(6)]), "en", "web"),
            (2, mk("xb0", "xb1", "xb2", "P1", "P2", "P3", "P4",
                   *[f"yb{i}" for i in range(9)]), "en", "web"),
            # C: intra-doc repeat of Q1..Q4 (starts 1 and 6; disjoint union)
            (3, mk("Q1", "Q2", "Q3", "Q4", "zc1", "Q1", "Q2", "Q3", "Q4",
                   "zc2", "zc3", "zc4"), "en", "web"),
            # D: fully unique — must not appear
            (4, mk(*[f"ud{i}" for i in range(12)]), "en", "web"),
            # E/F: shared 5-token run R1..R5 → two OVERLAPPING repeated
            # spans (starts 1,2); union is 5 tokens, not 8
            (6, mk("R1", "R2", "R3", "R4", "R5", "ae1", "ae2", "ae3"),
             "en", "web"),
            (7, mk("R1", "R2", "R3", "R4", "R5", "bf1", "bf2", "bf3"),
             "en", "web"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    out = {r.doc_id: r for r in dedup_repeated_spans(docs, span_tokens=w).collect()}
    assert set(out) == {1, 2, 3, 6, 7}
    assert out[1].n_repeated_spans == 1 and out[1].repeated_token_mass == 4
    assert out[1].n_tokens == 16 and out[1].repeated_fraction == 4 / 16
    assert out[2].n_repeated_spans == 1 and out[2].repeated_token_mass == 4
    # intra-doc: two disjoint occurrences → union 8 of 12 tokens
    assert out[3].n_repeated_spans == 2 and out[3].repeated_token_mass == 8
    assert out[3].repeated_fraction == 8 / 12
    # overlap: 2 repeated spans but union is only 5 tokens
    for d in (6, 7):
        assert out[d].n_repeated_spans == 2
        assert out[d].repeated_token_mass == 5
        assert out[d].repeated_fraction == 5 / 8


def test_repeated_spans_scrub_keeps_canonical_occurrence(spark):
    """D35: the canonical (globally first by (doc_id, start)) occurrence
    of each repeated span survives; every other occurrence is removed;
    untouched docs pass through verbatim (token-joined); overlapping
    scrubbed spans remove their interval UNION."""
    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        dedup_repeated_spans_scrub,
    )

    w = 4
    mk = lambda *t: " ".join(t)  # noqa: E731
    rows = [
        (1, mk(*[f"ua{i}" for i in range(6)], "P1", "P2", "P3", "P4",
               *[f"va{i}" for i in range(6)]), "en", "web"),
        (2, mk("xb0", "xb1", "xb2", "P1", "P2", "P3", "P4",
               *[f"yb{i}" for i in range(9)]), "en", "web"),
        (3, mk("Q1", "Q2", "Q3", "Q4", "zc1", "Q1", "Q2", "Q3", "Q4",
               "zc2", "zc3", "zc4"), "en", "web"),
        (4, mk(*[f"ud{i}" for i in range(12)]), "en", "web"),
        (6, mk("R1", "R2", "R3", "R4", "R5", "ae1", "ae2", "ae3"), "en", "web"),
        (7, mk("R1", "R2", "R3", "R4", "R5", "bf1", "bf2", "bf3"), "en", "web"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = {
        r.doc_id: r
        for r in dedup_repeated_spans_scrub(docs, span_tokens=w).collect()
    }
    assert set(out) == {1, 2, 3, 4, 6, 7}  # full corpus, untouched included
    # doc 1 holds the canonical P passage (doc 1 < doc 2) — untouched
    assert out[1].n_scrubbed == 0 and out[1].text_clean == rows[0][1]
    # doc 2's copy is scrubbed: positions 4-7 drop
    assert out[2].n_scrubbed == 4
    assert out[2].text_clean == mk("xb0", "xb1", "xb2",
                                   *[f"yb{i}" for i in range(9)])
    # intra-doc repeat: first occurrence (start 1) kept, second removed
    assert out[3].n_scrubbed == 4
    assert out[3].text_clean == mk("Q1", "Q2", "Q3", "Q4", "zc1",
                                   "zc2", "zc3", "zc4")
    # unique doc: verbatim
    assert out[4].n_scrubbed == 0 and out[4].text_clean == rows[3][1]
    # doc 6 holds both canonical R spans; doc 7 scrubs their union (1-5)
    assert out[6].n_scrubbed == 0 and out[6].text_clean == rows[4][1]
    assert out[7].n_scrubbed == 5
    assert out[7].text_clean == mk("bf1", "bf2", "bf3")


def test_repeated_spans_scrub_long_doc_at_paper_width(spark):
    """D35 at Lee et al.'s w=50 on 5k-token documents — the fully-scrubbed
    worst case the two-pointer walk must stay linear on: an exact
    5000-token copy is scrubbed to the EMPTY string (every position
    covered by non-canonical occurrences; the r11 array_contains form
    was O(n·|covered|) ≈ 25M membership probes on this one row), and a
    200-token planted passage scrubs exactly its 200-token union from
    the copy while the canonical doc survives verbatim."""
    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        dedup_repeated_spans_scrub,
    )

    w = 50
    base_toks = [f"t{i}" for i in range(5000)]
    passage = base_toks[1000:1200]  # 200-token run shared with doc 3
    other = [f"c{i}" for i in range(1000)]
    rows = [
        (1, " ".join(base_toks), "en", "web"),
        (2, " ".join(base_toks), "en", "web"),  # exact copy → fully scrubbed
        (3, " ".join(other[:500] + passage + other[500:]), "en", "web"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = {
        r.doc_id: r
        for r in dedup_repeated_spans_scrub(docs, span_tokens=w).collect()
    }
    assert out[1].n_scrubbed == 0 and out[1].text_clean == rows[0][1]
    assert out[2].n_scrubbed == 5000 and out[2].text_clean == ""
    assert out[3].n_scrubbed == 200
    assert out[3].text_clean == " ".join(other)


def test_span_width_guard_rejects_overflow_widths():
    """_span_rows must refuse widths whose w-term polynomial sum could
    leave exact BIGINT range (w > 128: sum bound w·2⁵⁵ ≥ 2⁶²·2)."""
    import pytest as _pytest

    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        _span_rows,
    )

    with _pytest.raises(ValueError, match="overflow"):
        _span_rows(None, 129)


def test_repeated_spans_eval_class_verdicts(spark, sf_dir):
    """D37: the planted-class verdicts are THEOREMS of the span algebra,
    not tendencies — every eligible exact copy and truncation is fully
    scrubbed (all their spans recur in the lower-id original, so every
    position is non-canonically covered → recall exactly 1.0); reversals
    share no w≥2-token span with their source → recall exactly 0.0 (the
    family's documented order-sensitivity blind spot); base docs, being
    the canonical occurrences, are never scrubbed by their own plants."""
    from guidance_for_analytics_observability_on_aws_spark.operators.dedup import (
        dedup_repeated_spans_eval,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    # Precondition of the reversal-recall-0.0 theorem: it only rules out
    # spans shared with each reversal's OWN source. If two reversal
    # sources (doc_id % 25 == 5) carried identical text, their reversals
    # would be mutual repeats and one would be scrubbed — assert the
    # corpus can't do that, so a future testdata change fails HERE with
    # a clear message instead of a mysterious recall > 0.
    rev_src = docs.filter(F.col("doc_id") % 25 == 5).select("text")
    assert rev_src.count() == rev_src.distinct().count(), (
        "duplicate reversal-source texts: the reversal recall-0.0 "
        "theorem's no-duplicate-source precondition is violated"
    )
    rows = {r.doc_class: r for r in dedup_repeated_spans_eval(docs, 16).collect()}
    assert set(rows) == {"base", "exact_copy", "reversal", "truncation"}
    for cls in ("exact_copy", "truncation"):
        r = rows[cls]
        assert r.n_eligible > 0
        assert r.n_fully_scrubbed == r.n_eligible, cls
        assert r.tokens_scrubbed == r.tokens_eligible, cls
        assert r.scrub_recall == 1.0, cls
    rv = rows["reversal"]
    assert rv.n_scrubbed_docs == 0 and rv.tokens_scrubbed == 0
    assert rv.scrub_recall == 0.0
    # base scrubbing records genuine cross-base repeats, never plant echo:
    # it must stay a small minority of base token mass
    b = rows["base"]
    assert b.tokens_scrubbed < 0.2 * b.tokens_eligible


def test_winnow_rolling_is_sound_winnowing(spark, sf_dir):
    """X20: what IS hash-independent about winnowing — exact duplicates
    always share a signature under any gram hash; every multi-doc group
    either variant reports consists of genuinely near-identical texts
    (winnow set-equality for NON-identical docs is hash-dependent: the
    differing region's window minima may or may not come from shared
    grams, so X6 and X20 legitimately disagree on borderline near-dups
    — asserting partition equality would be pinning a non-theorem);
    and X20 must recover every group X6's md5 winnow finds on exact
    ties (n_grams == n_selected metadata identical per doc set)."""
    import difflib

    from guidance_for_analytics_observability_on_aws_spark.operators.textops import (
        winnow_fingerprint,
        winnow_fingerprint_rolling,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}

    def dup_groups(df):
        return {r.doc_ids for r in df.filter(F.col("n_docs") >= 2).collect()}

    for g in dup_groups(winnow_fingerprint(docs)) | dup_groups(
        winnow_fingerprint_rolling(docs)
    ):
        ids = [int(x) for x in g.split(",")]
        base = texts[ids[0]]
        for other in ids[1:]:
            ratio = difflib.SequenceMatcher(
                None, base, texts[other]
            ).quick_ratio()
            assert ratio >= 0.9, (g, ratio)
    # exact-copy grouping is the hash-independent theorem:
    two = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again", "en", "w"),
         (2, "the quick brown fox jumps over the lazy dog again", "en", "w"),
         (3, "an entirely different sentence with other words here", "en", "w")],
        "doc_id long, text string, lang string, source string",
    )
    for fn in (winnow_fingerprint, winnow_fingerprint_rolling):
        out = {r.doc_ids: r.n_docs for r in fn(two).collect()}
        assert out.get("1,2") == 2 and "3" in out, fn.__name__


def _sql_div(a: int, b: int) -> int:
    """SQL DIV / DuckDB ``//`` semantics: integer division truncating
    toward zero (Python ``//`` floors, which differs on negatives)."""
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def test_semantic_dedup_plant_recall_theorem(spark, sf_dir):
    """D39/D40: every planted exact copy (+100000) is removed — identical
    embeddings get identical centroid scores → the same deterministic cell,
    and their in-cell cosine is exactly 1.0 ≥ τ with the source at the
    lower id. Also: every removal's keeper sits at a lower id, and the
    removal's max_cosine is a valid rounded cosine in [-1, 1]."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    removed = similarity.semantic_dedup(emb)
    rows = removed.collect()
    assert all(r.keeper_id < r.vec_id for r in rows)
    assert all(-1.0 <= r.max_cosine <= 1.0 for r in rows)
    plant_ids = {
        r.vec_id + similarity.PLANT_OFFSET
        for r in emb.filter(F.col("vec_id") % 25 == 0).select("vec_id").collect()
    }
    removed_ids = {r.vec_id for r in rows}
    assert plant_ids <= removed_ids, plant_ids - removed_ids
    # plants pair with their bit-identical source: cosine exactly 1.0
    by_id = {r.vec_id: r for r in rows}
    assert all(by_id[p].max_cosine == 1.0 for p in plant_ids)

    ev = {r.vec_class: r for r in similarity.semantic_dedup_eval(emb).collect()}
    assert set(ev) == {"base", "plant"}
    assert ev["plant"].n_removed == ev["plant"].n_vecs  # recall 1.0 theorem
    assert ev["plant"].removed_frac == 1.0
    # base removals are genuine semantic near-dups — a small minority
    assert ev["base"].n_removed < 0.2 * ev["base"].n_vecs


def test_semantic_dedup_matches_unblocked_pairs(spark, sf_dir):
    """D39's hash sub-block split is LOSSLESS: the removal set equals the
    literal within-cell pair rule computed with n_splits=1 (no split)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    a = {
        tuple(r)
        for r in similarity.semantic_dedup(emb, n_splits=4).collect()
    }
    b = {
        tuple(r)
        for r in similarity.semantic_dedup(emb, n_splits=1).collect()
    }
    assert a == b


def test_semantic_dedup_trained_plant_recall_and_balance(spark, sf_dir):
    """D42: plant recall stays 1.0 under the TRAINED assignment (identical
    embeddings → identical centroid distances → the same deterministic
    argmin cell, in-cell cosine exactly 1.0), the removal-algebra
    invariants hold (lower-id keeper, max_cosine ≥ τ — the shared
    semantic_removals), and the Lloyd cells satisfy D17's balance bound
    (max ≤ 2× mean) where D39's fixed first-8 assignment offers no such
    guarantee."""
    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (
        SEMANTIC_TAU,
        _kmeans_assignments,
        _model_key,
        _quantized,
        augmented_embeddings,
        semantic_dedup_trained,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    rows = semantic_dedup_trained(emb).collect()
    assert all(r.keeper_id < r.vec_id for r in rows)
    assert all(r.max_cosine >= SEMANTIC_TAU for r in rows)
    assert all(r.n_dup_neighbors >= 1 for r in rows)
    plant_ids = {
        r.vec_id + similarity.PLANT_OFFSET
        for r in emb.filter(F.col("vec_id") % 25 == 0).select("vec_id").collect()
    }
    by_id = {r.vec_id: r for r in rows}
    assert plant_ids <= set(by_id), plant_ids - set(by_id)
    assert all(by_id[p].max_cosine == 1.0 for p in plant_ids)
    # D17's balance bound on the very assignment D42 consumed (the cache
    # key replays the identical converged centroids, at the r14 DERIVED
    # cell count — k = max(8, ⌊√n⌋)).
    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (
        _resolve_centroids,
    )

    k = _resolve_centroids(emb, None)
    aug = augmented_embeddings(emb)
    assert k == max(8, int(aug.count() ** 0.5))
    q = _quantized(aug, barrier_key="vec_id").select("vec_id", "qv", "nrm")
    assigned = _kmeans_assignments(
        None, k=k, max_iter=5, q=q, cache_key=_model_key("kmeans-raw", aug, k, 5)
    )
    sizes = [
        r.n for r in assigned.groupBy("cluster_id").agg(F.count("*").alias("n")).collect()
    ]
    assert max(sizes) <= 2 * (sum(sizes) / len(sizes)), f"unbalanced: {sizes}"


def test_assign_pass_forms_identical(spark, sf_dir, monkeypatch):
    """The two physical forms of the Lloyd assignment pass (literal-array
    for small k, broadcast-frame + min-struct for large k) must produce
    IDENTICAL rows — same zip_with left-fold float arithmetic, same
    (d, cid) argmin tie-break — on the same centroids."""
    from guidance_for_analytics_observability_on_aws_spark.operators import (
        similarity as sim,
    )

    emb = load_tables(spark, sf_dir)["embeddings"]
    q = sim._quantized(sim.augmented_embeddings(emb), barrier_key="vec_id").select(
        "vec_id", "qv", "nrm"
    )
    cents = {
        r.vec_id: [float(x) for x in r.qv]
        for r in q.filter(F.col("vec_id") < 24).collect()
    }
    assert len(cents) == 24 > sim._ASSIGN_LITERAL_MAX_K
    key = lambda r: (r.vec_id, tuple(r.qv), r.nrm, r.cluster_id, r.d2)  # noqa: E731
    frame_form = {key(r) for r in sim._assign_pass(q, cents).collect()}
    monkeypatch.setattr(sim, "_ASSIGN_LITERAL_MAX_K", 1000)
    literal_form = {key(r) for r in sim._assign_pass(q, cents).collect()}
    assert frame_form == literal_form and len(frame_form) > 0


def test_semantic_dedup_shared_frame_replay(spark, sf_dir):
    """D39/D40 session sharing: two semantic_dedup calls at the same
    (corpus, settings) serve the SAME materialized checkpoint (the second
    is a replay, not a recompute — its plan scans the checkpoint RDD), a
    different setting misses, the served handle is a DEFENSIVE ALIAS (a
    caller's unpersist cannot poison later hits), and eviction/clear
    releases the checkpoint blocks instead of leaking them."""
    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (
        _SHARED_FRAMES,
        trained_cache_clear,
    )

    trained_cache_clear(loaded_too=False)
    emb = load_tables(spark, sf_dir)["embeddings"]
    d1 = similarity.semantic_dedup(emb)
    n_keys = len(_SHARED_FRAMES)
    d2 = similarity.semantic_dedup(emb)
    assert len(_SHARED_FRAMES) == n_keys  # hit, not a second materialization
    assert d2 is not d1  # defensive alias, not the shared handle itself
    # the replay's plan is a scan of the checkpoint RDD, not a recompute
    assert "LogicalRDD" in d2._jdf.queryExecution().optimizedPlan().toString()
    d3 = similarity.semantic_dedup(emb, n_centroids=4)
    assert d3 is not d1
    got = {tuple(r) for r in d1.collect()}
    # an aggressive caller unpersisting ITS handle must not break later hits
    d2.unpersist()
    d4 = similarity.semantic_dedup(emb)
    assert {tuple(r) for r in d4.collect()} == got
    ev = {r.vec_class: r for r in similarity.semantic_dedup_eval(emb).collect()}
    assert ev["plant"].n_removed + ev["base"].n_removed == len(got)
    # clear releases every tracked checkpoint block (no session-lifetime leak)
    tracked = [rid for _, _, ids in _SHARED_FRAMES.values() for rid in ids]
    assert tracked, "checkpoint RDD ids were not tracked"
    trained_cache_clear(loaded_too=False)
    live = {
        int(i)
        for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
    assert not (set(tracked) & live), f"leaked checkpoint RDDs: {set(tracked) & live}"


def test_dsir_weights_literal_model(spark, sf_dir):
    """P25: the Spark weights equal a literal Python reimplementation of
    the DSIR hashed-bag LLR on the same corpus (bucket hashing, add-one
    smoothing, first-order milli LLR — checked doc-for-doc)."""
    import hashlib
    from collections import Counter

    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        DSIR_BUCKETS,
        DSIR_TARGET_LANG,
        dsir_importance_weights,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    rows = docs.select("doc_id", "text", "lang").collect()

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % DSIR_BUCKETS

    t_cnt, r_cnt = Counter(), Counter()
    per_doc: dict[int, Counter] = {}
    for r in rows:
        c = Counter(bucket(t) for t in r.text.split())
        per_doc[r.doc_id] = c
        r_cnt.update(c)
        if r.lang == DSIR_TARGET_LANG:
            t_cnt.update(c)
    T, R = sum(t_cnt.values()), sum(r_cnt.values())

    def tdiv(a: int, b: int) -> int:  # truncate-toward-zero, like SQL DIV
        q = abs(a) // b
        return -q if a < 0 else q

    def llr_milli(b: int) -> int:
        num = (t_cnt[b] + 1) * (R + DSIR_BUCKETS)
        den = (r_cnt[b] + 1) * (T + DSIR_BUCKETS)
        return tdiv((num - den) * 1000, den)

    llr = {b: llr_milli(b) for b in range(DSIR_BUCKETS)}
    want = {
        d: sum(n * llr[b] for b, n in c.items()) for d, c in per_doc.items()
    }
    got = {
        r.doc_id: r.dsir_milli
        for r in dsir_importance_weights(docs).collect()
    }
    assert got == want


def test_dsir_weights_separate_target_slice(spark, sf_dir):
    """P25's signal check: the target-language slice must score higher on
    its own model — mean weight over 'en' docs > mean over the rest, and
    the target_like flag is exactly the dsir_milli>0 verdict."""
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        dsir_importance_weights,
    )

    w = dsir_importance_weights(load_tables(spark, sf_dir)["documents"])
    rows = w.collect()
    assert all(r.target_like == int(r.dsir_milli > 0) for r in rows)
    assert all(r.mean_milli == _sql_div(r.dsir_milli, r.n_tokens) for r in rows)
    en = [r.dsir_milli / r.n_tokens for r in rows if r.lang == "en"]
    rest = [r.dsir_milli / r.n_tokens for r in rows if r.lang != "en"]
    assert sum(en) / len(en) > sum(rest) / len(rest)


def test_dsir_topk_sample_rank_contract(spark, sf_dir):
    """P26: exactly k rows, ranks 1..k, ordered by (dsir_milli desc, doc_id),
    and the selected set is the true top-k of the P25 weights."""
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        DSIR_TOPK,
        dsir_importance_weights,
        dsir_topk_sample,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    got = sorted(dsir_topk_sample(docs).collect(), key=lambda r: r.rank)
    assert [r.rank for r in got] == list(range(1, DSIR_TOPK + 1))
    keys = [(-r.dsir_milli, r.doc_id) for r in got]
    assert keys == sorted(keys)
    all_w = dsir_importance_weights(docs).collect()
    want_ids = [
        r.doc_id
        for r in sorted(all_w, key=lambda r: (-r.dsir_milli, r.doc_id))[:DSIR_TOPK]
    ]
    assert [r.doc_id for r in got] == want_ids


def test_dsir_gumbel_sample_deterministic_per_seed(spark, sf_dir):
    """P29: same-seed rerun is row-identical (hashed-uniform Gumbel keys,
    no RNG state); a different seed redraws the noise; the key column is
    exactly weight + noise and ranks obey the (key desc, doc_id) order."""
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        DSIR_TOPK,
        dsir_gumbel_sample,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    a1 = sorted(tuple(r) for r in dsir_gumbel_sample(docs, seed=1).collect())
    a2 = sorted(tuple(r) for r in dsir_gumbel_sample(docs, seed=1).collect())
    assert a1 == a2 and len(a1) == DSIR_TOPK
    rows = sorted(dsir_gumbel_sample(docs, seed=1).collect(), key=lambda r: r.rank)
    assert [r.rank for r in rows] == list(range(1, DSIR_TOPK + 1))
    assert all(r.key_milli == r.dsir_milli + r.gumbel_milli for r in rows)
    keys = [(-r.key_milli, r.doc_id) for r in rows]
    assert keys == sorted(keys)
    b = {r.doc_id: r.gumbel_milli for r in dsir_gumbel_sample(docs, seed=2).collect()}
    a_noise = {r.doc_id: r.gumbel_milli for r in rows}
    shared = set(a_noise) & set(b)
    assert shared and any(a_noise[i] != b[i] for i in shared)


def test_gumbel_topk_inclusion_tracks_weight(spark):
    """P29's sampling property on a planted two-class weight frame: with
    log-weight gap ln(9) (milli 2197), heavy-class docs must dominate the
    selected manifests across seeds — expected per-draw inclusion odds are
    9:1 before without-replacement saturation, so a 3× total-count margin
    over 12 seeds is far outside noise. Also pins that the manifest is
    exactly k rows regardless of seed."""
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        gumbel_topk,
    )

    rows = [(i, 2197) for i in range(40)] + [(i, 0) for i in range(40, 80)]
    w = spark.createDataFrame(rows, "doc_id long, dsir_milli long")
    heavy = light = 0
    for seed in range(12):
        got = gumbel_topk(w, 20, seed=seed).collect()
        assert len(got) == 20
        heavy += sum(1 for r in got if r.doc_id < 40)
        light += sum(1 for r in got if r.doc_id >= 40)
    assert heavy > 3 * max(light, 1), (heavy, light)


def test_gopher_quality_rules_flip_independently(spark):
    """X21: a hand corpus where each Gopher rule rejects exactly one doc —
    the rules-as-columns report must localize WHICH rule fired, and the
    conjunction must equal the AND of the flags. Docs: (1) passes all;
    (2) too short (words_ok); (3) symbol-heavy (symbol_ok); (4) numeric
    words only (alpha_ok + stop_ok); (5) long-word run (mwl_ok)."""
    from guidance_for_analytics_observability_on_aws_spark.operators.textops import (
        gopher_quality,
    )

    good = ("the quick fox of it and " + " ".join(f"word{i}" for i in range(50)))
    short = "the small tokens of them here"
    symbols = ("the start of it and " + "### ... ### ... " * 4
               + " ".join(f"word{i}" for i in range(48)))
    numeric = " ".join(str(1000 + i) for i in range(60))
    longwords = "the of " + " ".join("x" * 30 for _ in range(58))
    hand = spark.createDataFrame(
        [(1, good, "en", "s"), (2, short, "en", "s"), (3, symbols, "en", "s"),
         (4, numeric, "en", "s"), (5, longwords, "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    got = {r.doc_id: r for r in gopher_quality(hand).collect()}
    assert got[1].gopher_pass
    assert not got[2].words_ok and got[2].mwl_ok and got[2].stop_ok
    assert not got[3].symbol_ok and got[3].words_ok
    assert not got[4].alpha_ok and not got[4].stop_ok
    assert not got[5].mwl_ok and got[5].words_ok
    for r in got.values():
        assert r.gopher_pass == (
            r.words_ok and r.mwl_ok and r.symbol_ok and r.alpha_ok and r.stop_ok
        )
        assert r.n_words > 0 and 0.0 <= r.alpha_frac <= 1.0


def test_gopher_line_shape_rules_flip_independently(spark):
    """X22: a hand corpus with REAL newlines where each line-shape rule
    rejects exactly one doc. Docs: (1) prose, passes both; (2) all lines
    bullet-started (bullet_ok fires); (3) half the lines ellipsis-ended
    (ellipsis_ok fires); (4) a single LONG line that only becomes
    multi-line through the 32-token wrap (the driver-corpus posture);
    (5) 10 bullets among 12 lines — ≤90%, must PASS (threshold is
    strictly 'more than 90%')."""
    from guidance_for_analytics_observability_on_aws_spark.operators.textops import (
        gopher_line_shape,
    )

    prose = "the quick fox\nran over it\nand then stopped"
    bullets = "- first item\n- second item\n- third item\n• fourth"
    dots = "this trails off...\na normal line\nagain it trails…\nanother line"
    longline = " ".join(f"w{i}" for i in range(80))  # 80 tokens, no newline
    mixed = "\n".join(["- b"] * 10 + ["plain one", "plain two"])
    hand = spark.createDataFrame(
        [(1, prose, "en", "s"), (2, bullets, "en", "s"), (3, dots, "en", "s"),
         (4, longline, "en", "s"), (5, mixed, "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    got = {r.doc_id: r for r in gopher_line_shape(hand).collect()}
    assert got[1].line_shape_pass and got[1].n_lines == 3
    assert not got[2].bullet_ok and got[2].ellipsis_ok
    assert got[2].bullet_frac == 1.0
    assert not got[3].ellipsis_ok and got[3].bullet_ok
    assert got[3].ellipsis_frac == 0.5
    # the 32-token wrap: 80 tokens -> 3 lines from ONE physical line
    assert got[4].n_lines == 3 and got[4].line_shape_pass
    # boundary: 10/12 bullets ≈ 0.833 ≤ 0.9 -> passes
    assert got[5].bullet_ok and got[5].line_shape_pass
    for r in got.values():
        assert r.line_shape_pass == (r.bullet_ok and r.ellipsis_ok)
        assert r.n_lines >= 1


def test_nb_langid_literal_model(spark):
    """X23: the Spark NB scores equal a literal Python reimplementation
    (add-one smoothing over the train vocab, integer bitlen log2, prior
    bits, argmin with lang tie-break) on a hand corpus — checked
    doc-for-doc including the margin; and the disjoint-vocabulary case
    classifies perfectly."""
    from guidance_for_analytics_observability_on_aws_spark.operators.textops import (
        text_nb_langid,
    )

    rows = [
        # train (even ids)
        (0, "der hund lief zum haus", "de", "s"),
        (2, "der alte mann und der hund", "de", "s"),
        (4, "the dog ran to the house", "en", "s"),
        (6, "the old man and the dog sat", "en", "s"),
        (8, "the cat sat on the mat", "en", "s"),
        # score (odd ids)
        (1, "der hund und der mann", "de", "s"),
        (3, "the dog and the man", "en", "s"),
        (5, "der hund", "de", "s"),
        (7, "completely novel tokens here", "en", "s"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    got = {r.doc_id: r for r in text_nb_langid(docs).collect()}

    # literal model
    train = [(l, t.split()) for i, t, l, _ in rows if i % 2 == 0]
    counts: dict = {}
    totals: dict = {}
    ndocs: dict = {}
    vocab = set()
    for l, toks in train:
        ndocs[l] = ndocs.get(l, 0) + 1
        for t in toks:
            counts[(l, t)] = counts.get((l, t), 0) + 1
            totals[l] = totals.get(l, 0) + 1
            vocab.add(t)
    bitlen = lambda x: x.bit_length()  # noqa: E731  == len(bin(x)) - 2
    n_train = sum(ndocs.values())
    for i, t, actual, _ in rows:
        if i % 2 == 0:
            continue
        scores = {}
        for l in ndocs:
            s = bitlen(n_train) - bitlen(ndocs[l])
            for tok in t.split():
                s += bitlen(totals[l] + len(vocab)) - bitlen(
                    counts.get((l, tok), 0) + 1
                )
            scores[l] = s
        best, runner = sorted(scores.items(), key=lambda kv: (kv[1], kv[0]))[:2]
        r = got[i]
        assert (r.predicted_lang, r.nb_bits) == best, (i, r, scores)
        assert r.margin_bits == runner[1] - best[1]
        assert r.correct == (best[0] == actual)
    # disjoint vocabularies → everything classified right
    assert all(got[i].correct for i in (1, 3, 5))


def test_decontaminate_eval_report_theorems(spark, sf_dir):
    """P31: plant recall is EXACTLY 1.0 for every gate — an exact copy's
    shingle set equals its source's (P6 pooled contamination 1.0, P22
    containment 100%), a bit-identical embedding's cosine is exactly 1.0
    (P28) — and the expected-plant denominators match the corpus's own
    planted classes."""
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        decontaminate_eval_report,
    )

    t = load_tables(spark, sf_dir)
    got = {
        r.gate: r
        for r in decontaminate_eval_report(t["documents"], t["embeddings"]).collect()
    }
    assert set(got) == {"ngram", "neardup", "paragraph", "semantic"}
    n_bench = t["documents"].filter(F.col("doc_id") % 25 == 0).count()
    n_sem = t["embeddings"].filter(
        (F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 32)
    ).count()
    assert got["ngram"].n_plants_expected == n_bench
    assert got["neardup"].n_plants_expected == n_bench
    assert got["paragraph"].n_plants_expected == n_bench
    assert got["semantic"].n_plants_expected == n_sem > 0
    for r in got.values():
        assert r.plant_recall == 1.0, r
        assert r.n_plants_caught == r.n_plants_expected
        assert r.n_other_flagged == r.n_flagged - r.n_plants_caught >= 0


def test_mixture_temperature_plan_semantics(spark):
    """P30: sqrt-temperature math pinned on a hand corpus — milli-sqrt
    weights exact, targets = budget·w DIV Σw, sub-mean sources BOOST and
    super-mean sources DAMP, shares still sum ≤ budget, and the epoch
    columns obey target = full·avail + remainder."""
    import math

    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        mixture_temperature_plan,
    )

    # three sources: 1 doc x 4 tokens, 4 docs x 4 tokens, 16 docs x 4 tokens
    rows = []
    did = 0
    for src, n in (("srcA", 1), ("srcB", 4), ("srcC", 16)):
        for _ in range(n):
            rows.append((did, "a b c d", "en", src))
            did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    got = {r.source: r for r in mixture_temperature_plan(docs, budget=1000).collect()}
    avail = {"srcA": 4, "srcB": 16, "srcC": 64}
    w = {s: math.floor(1000.0 * math.sqrt(a)) for s, a in avail.items()}
    total_w = sum(w.values())
    for s, r in got.items():
        assert r.available_tokens == avail[s]
        assert r.w_msqrt == w[s]
        assert r.target_tokens == 1000 * w[s] // total_w
        assert r.full_epochs == r.target_tokens // avail[s]
        assert r.remainder_tokens == r.target_tokens % avail[s]
    # sqrt boosts the tail, damps the head
    assert got["srcA"].boosted and not got["srcC"].boosted
    assert got["srcA"].oversample_ratio > got["srcC"].oversample_ratio
    assert sum(r.target_tokens for r in got.values()) <= 1000


def test_curation_v3_span_scrub_stage_semantics(spark):
    """P27 stage 4 on a planted corpus: a doc holding the CANONICAL copy
    of a repeated 16-token passage keeps its mass, a later doc loses
    exactly the passage, and a doc consisting ONLY of repeated passages
    (each span's canonical lives elsewhere) is scrubbed to zero and
    drops out — the driver corpus exercises stages 0-3 and 5 (the sf0.01
    oracle pins all six rows hash-exact) but happens to have no
    repeated-span mass among its quality survivors, so stage 4's
    subtraction semantics are pinned here."""
    from guidance_for_analytics_observability_on_aws_spark.operators.pipeline import (
        curation_pipeline_v3,
    )

    # Two 16-token passages, stopword-rich so every doc passes the
    # quality gate (stop_ratio ≥ 0.25 → quality ≥ 0.7); ids avoid the
    # corpus() plant residues (0/5/10 mod 25).
    P = "the quick brown fox of the old forest and it ran to the deep cold river"
    R = "a tall ship on the wide sea and the wind is cold for every old sailor"
    fillerA = "zeta kappa the omega sigma of delta gamma and rho tau the psi phi chi nu"
    fillerB = "apple pear the plum fig of grape melon and kiwi date the lime peach mango cherry"
    assert len(P.split()) == len(R.split()) == 16
    assert len(fillerA.split()) == len(fillerB.split()) == 16
    docs = spark.createDataFrame(
        [
            (1, f"{P} {fillerA}", "en", "s1"),
            (2, f"{R} {fillerB}", "de", "s2"),
            (3, f"{fillerB} {P}".replace("the lime", "the limes"), "en", "s3"),
            (4, f"{P} {R}", "de", "s4"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    rows = {r.stage: r for r in curation_pipeline_v3(docs).collect()}
    assert rows["0_raw"].n_docs == 4 and rows["0_raw"].n_tokens == 128
    assert rows["3_quality"].n_docs == 4  # all pass the quality bar
    # stage 4: doc 1 keeps its canonical P (32), doc 3 loses its P copy
    # (16 left), doc 4 (= P + R, both spans canonical elsewhere) is
    # fully scrubbed and DROPS; doc 2 keeps its canonical R (32).
    s4 = rows["4_span_scrub"]
    assert s4.n_docs == 3 and s4.n_tokens == 32 + 32 + 16
    # stage 5 is a subset of stage 4's docs and mass (an empty gate
    # aggregates to n_tokens NULL — identical in both engines)
    s5 = rows["5_dsir_target"]
    assert s5.n_docs <= s4.n_docs
    assert s5.n_tokens is None or 0 <= s5.n_tokens <= s4.n_tokens


def test_decontaminate_semantic_guaranteed_catches(spark, sf_dir):
    """P28: every planted copy of a BENCHMARK-slice vector (source ≡ 0
    mod 25 below the bench boundary) is flagged at cosine exactly 1.0
    with its own source as the lowest qualifying bench id; flagged rows
    all clear the threshold; plants of NON-bench sources are judged by
    the same bar, not swept in by construction."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    rows = {r.vec_id: r for r in similarity.decontaminate_semantic(emb).collect()}
    bench_srcs = {
        r.vec_id
        for r in emb.filter(
            (F.col("vec_id") % 25 == 0)
            & (F.col("vec_id") < similarity.DECON_BENCH_HI)
        ).select("vec_id").collect()
    }
    assert bench_srcs  # the corpus must exercise the guaranteed path
    for src in bench_srcs:
        plant = src + similarity.PLANT_OFFSET
        assert plant in rows, f"plant of bench vec {src} not flagged"
        assert rows[plant].max_cosine == 1.0
        assert rows[plant].min_bench_id == src
    for r in rows.values():
        assert r.max_cosine >= similarity.DECON_TAU
        assert 0 <= r.min_bench_id < similarity.DECON_BENCH_HI
        assert r.vec_id >= similarity.DECON_BENCH_HI


def test_dashboard_parity_every_panel_has_a_twin(spark):
    """O85: the vendored bundle inventory must cover every saved object
    in the reference's data-skew.ndjson (34), every QUERY panel
    (metric/pie/table/line/histogram visualizations + the saved search)
    must twin to a LIVE registry entry, every index pattern to an
    existing typed schema, and in this repo (CORRECTNESS artifacts
    committed) every registry twin must carry driver evidence."""
    from guidance_for_analytics_observability_on_aws_spark.operators.observability import (
        DASHBOARD_PANELS,
        dashboard_parity_report,
    )

    rows = dashboard_parity_report(spark).collect()
    assert len(rows) == len(DASHBOARD_PANELS) == 34
    query_vis = {"metric", "pie", "table", "line", "histogram"}
    for r in rows:
        if r.object_type == "search" or (
            r.object_type == "visualization" and r.vis_type in query_vis
        ):
            assert r.twin_kind == "registry", r
        if r.twin_kind == "registry":
            assert r.twin_registered, r
            assert r.twin_oracle in ("sql", "rows-only"), r
            assert r.evidence_round is not None and r.evidence_round >= 1, r
            assert r.evidence_status in ("hash-exact", "ran"), r
        elif r.twin_kind == "schema":
            assert r.twin_registered, r
        else:
            assert r.twin_kind == "layout" and r.twin is None, r


@pytest.mark.fast
def test_dedup_family_shared_frames(spark, sf_dir):
    """r16 session sharing for the dedup/CC family: D3's candidate graph,
    the MinHash signatures and D15's verified pairs are served through
    the session shared-frame registry — a second call is a replay (its
    plan scans the checkpoint RDD), a salted (``n_splits``) call keys its
    own entry, the served output equals a registry-cleared recompute
    row-for-row, and in-memory corpora (footprint 0) get a materialized
    frame that is never registered, so two different local frames can
    never share a candidate graph."""
    from guidance_for_analytics_observability_on_aws_spark.operators import (
        dedup as D,
    )
    from guidance_for_analytics_observability_on_aws_spark.operators.similarity import (
        _SHARED_FRAMES,
        trained_cache_clear,
    )

    trained_cache_clear(loaded_too=False)
    docs = load_tables(spark, sf_dir)["documents"]
    direct = {
        tuple(r)
        for r in D._lsh_candidate_pairs(D.minhash_signatures(docs)).collect()
    }
    got1 = D.dedup_minhash_lsh(docs)
    assert {tuple(r) for r in got1.collect()} == direct
    assert "lsh-cand" in {k[0] for k in _SHARED_FRAMES}
    n_keys = len(_SHARED_FRAMES)
    got2 = D.dedup_minhash_lsh(docs)
    assert len(_SHARED_FRAMES) == n_keys  # hit, not a second entry
    assert got2 is not got1  # defensive alias
    assert "LogicalRDD" in got2._jdf.queryExecution().optimizedPlan().toString()
    # the salted graph is its own entry, never the unsalted frame
    D.dedup_minhash_lsh(docs, n_splits=8)
    lsh_keys = [k for k in _SHARED_FRAMES if k[0] == "lsh-cand"]
    assert len(_SHARED_FRAMES) == n_keys + 1 and len(lsh_keys) == 2
    assert {k[-1] for k in lsh_keys} == {1, 8}
    # shared banded output ≡ a from-scratch recompute (cleared registry)
    rows1 = {tuple(r) for r in D.dedup_containment_banded(docs).collect()}
    trained_cache_clear(loaded_too=False)
    rows2 = {tuple(r) for r in D.dedup_containment_banded(docs).collect()}
    assert rows1 == rows2
    # in-memory corpus: no registry participation, but still materialized
    local = spark.createDataFrame(
        [(1, "a b c d e f g", "en", "s1"), (2, "a b c d e f g", "en", "s1")],
        "doc_id long, text string, lang string, source string",
    )
    n_keys = len(_SHARED_FRAMES)
    out = D.dedup_minhash_lsh(local)
    assert len(_SHARED_FRAMES) == n_keys
    # a checkpoint scan, not the lazy pipeline (tokenization gone)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan and "split(" not in plan
    assert [tuple(r) for r in out.collect()] == [(1, 2, 4)]
    trained_cache_clear(loaded_too=False)
