#!/usr/bin/env python3
"""Dump .explain("formatted") for registry queries to plans/<round>/ (GFAOOA_PLAN_ROUND, default r16).

Usage: python tools/dump_plan.py SUFFIX name [name ...]

Writes plans/<round>/<name>_<SUFFIX>.txt for each named query (built at
sf0.1 — plan shape, not execution). SUFFIX is normally "before" or
"after". Plans are written normalized (see :func:`normalize`), so a plain
``diff`` of two dumps of one commit is empty.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from guidance_for_analytics_observability_on_aws_spark.plans.registry import REGISTRY  # noqa: E402
from guidance_for_analytics_observability_on_aws_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", os.environ.get("GFAOOA_PLAN_ROUND", "r16"))


#: Per-run numbering: expression ids (``doc_a#414L``), RDD ids
#: (``MapPartitionsRDD[138]``) and exchange plan ids (``plan_id=7603``).
_RUN_IDS = re.compile(r"(#|RDD\[|plan_id=)(\d+)")
#: The RDD creation call site (``at localCheckpoint at <unknown>:0`` or
#: ``... at NativeMethodAccessorImpl.java:0``, by which thread ran first).
_CALL_SITE = re.compile(r"(RDD\[\d+\] at \w+) at \S+:\d+")


def normalize(plan: str) -> str:
    """``plan`` with per-run ids renumbered in order of first appearance
    (one counter per id kind, so which operators share an id is kept) and
    RDD call-site locations dropped."""
    plan = _CALL_SITE.sub(r"\1", plan)
    ids: dict[str, dict[str, int]] = {}

    def _renumber(m: re.Match) -> str:
        kind = ids.setdefault(m.group(1), {})
        return f"{m.group(1)}{kind.setdefault(m.group(2), len(kind) + 1)}"

    return _RUN_IDS.sub(_renumber, plan)


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("gfaooa-dump-plan")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = REGISTRY[name].builder(spark, SF_DIR)
        plan = normalize(
            df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        )
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    spark.stop()


if __name__ == "__main__":
    main()
