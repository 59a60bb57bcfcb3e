from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from guidance_for_analytics_observability_on_aws_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


#: One oracle-parity spot per SURVEY §2 family for the `-m fast` tier —
#: the driver's pytest capture truncated on the ~30-min full suite two
#: rounds running (VERIFY tests_ok unconfirmable); this tier is the
#: quick driver-confirmable gate (plan pins + one Spark-vs-DuckDB spot
#: per family), NOT a replacement for the full suite.
FAST_ORACLE_SPOTS = {
    "obs_error_budget",            # O: window cascade + rollup
    "obs_task_metrics",            # O: the telemetry projection itself
    "tpch_q1_pricing_summary",     # T: scan-agg
    "tpch_q3_shipping_priority",   # T: join strategy
    "dedup_minhash_lsh",           # D: signature + banding join
    "dedup_containment_banded",    # D: per-candidate-pair exact scoring
    "similarity_eval_report",      # D: concurrent-materialization report
    "dup_groups",                  # P: CC over the candidate graph
    "dedup_eval_report",           # P: the composed grading report
    "corpus_curation_pipeline",    # P: the funnel
    "text_token_count",            # X
    "mm_shard_manifest",           # M
}


#: test_plans.py members that sweep the ENTIRE 247-entry registry (the
#: plans are built once, ~3 min, by the module fixture they share) —
#: valuable, but they belong to the full gate, not the quick tier.
_SLOW_PLAN_SWEEPS = {"test_no_row_python_udfs_anywhere", "test_no_cartesian_products"}


def pytest_collection_modifyitems(config, items):
    fast_parity = {f"test_parity[{n}]" for n in FAST_ORACLE_SPOTS}
    for item in items:
        is_plan_pin = (
            item.fspath.basename == "test_plans.py"
            and item.originalname not in _SLOW_PLAN_SWEEPS
        )
        if is_plan_pin or item.name in fast_parity:
            item.add_marker(pytest.mark.fast)


def ntile_from_rank(k: int):
    """Spark's ``ntile(k)`` recomputed from the ``_ranked_with_n``
    contract columns ``rn``/``n`` in pure integer arithmetic — the
    two-phase counterpart of one global NTILE window sort (T40's scores),
    bit-identical: with ``q = n DIV k`` and ``r = n % k``, the first
    ``r`` tiles hold ``q+1`` rows and the rest ``q`` (exactly Spark's
    split), hence tile = ``ceil(rn/(q+1))`` up to the boundary
    ``r·(q+1)`` and ``r + ceil((rn-boundary)/q)`` past it
    (``greatest(q,1)`` guards the n < k case, where the boundary covers
    every row and the ELSE branch is unreachable).
    """
    from pyspark.sql import functions as F

    k = int(k)
    return F.expr(
        f"CASE WHEN rn <= (n % {k}) * (n DIV {k} + 1) "
        f"THEN (rn + n DIV {k}) DIV (n DIV {k} + 1) "
        f"ELSE n % {k} + (rn - (n % {k}) * (n DIV {k} + 1) + n DIV {k} - 1) "
        f"DIV greatest(n DIV {k}, 1) END"
    ).cast("long")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("gfaooa-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def two_phase_equal(monkeypatch):
    """``check(win, dist)`` asserts that a window and an O44 two-phase
    rank formulation give the same rows and that only the two-phase plan
    carries the ``_pid`` slice column. ``check.swap(build, two_phase)``
    builds an operator with its own formulation (``two_phase`` says
    which one that is) and again with ``_ranked_with_n`` forced to the
    other, then checks the pair. Both return the rows."""
    from guidance_for_analytics_observability_on_aws_spark.operators import (
        observability,
    )

    original = observability._ranked_with_n

    def check(win, dist):
        rows_w = sorted((tuple(r) for r in win.collect()), key=str)
        rows_d = sorted((tuple(r) for r in dist.collect()), key=str)
        assert rows_w == rows_d, "two-phase formulation diverged from the window"
        assert rows_w, "empty result"
        plan_w, plan_d = (
            df._jdf.queryExecution().executedPlan().toString() for df in (win, dist)
        )
        assert "_pid" in plan_d, "two-phase plan lacks slice ranks"
        assert "_pid" not in plan_w, "window plan unexpectedly sliced"
        return rows_w

    def swap(build, two_phase=False):
        own = build()
        monkeypatch.setattr(
            observability,
            "_ranked_with_n",
            lambda df, part_col, order_cols, **_: original(
                df, part_col, order_cols, not two_phase
            ),
        )
        other = build()
        return check(other, own) if two_phase else check(own, other)

    check.swap = swap
    return check
