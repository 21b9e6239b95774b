"""Audit every catalog query's physical plan and record the structural
facts that decide 100 TB behavior into PLAN_AUDIT.json — the
machine-readable companion to tests/test_plans.py's pinned budgets.

Per query (built at sf0.01, plan-time — the static plan is the scale
contract; AQE can only improve on it at runtime):

- ``exchanges``: shuffle exchanges (hash/range; broadcast excluded) —
  what every groupBy/join/window pays on the wire.
- ``forced_broadcast_hints``: compile-time broadcast hints in the
  optimized logical plan. Must only ever sit on bounded relations
  (nation/region/one-row aggregates) — pinned separately by
  test_tpch_no_forced_broadcast_of_sf_scaled_relations.
- ``broadcast_joins`` / ``cartesian`` / ``take_ordered``: join and
  top-k strategy facts.
- ``python_stages``: Arrow-batched boundaries (pandas_udf /
  applyInPandas / mapInPandas / transformWithState) and — always a
  defect — row-at-a-time ``BatchEvalPython``.
- ``codegen_spans``: distinct WholeStageCodegen regions; JVM-side
  fused execution coverage.
- ``scans``: per parquet scan, the table, whether any filter reached
  the scan, and how many columns its ReadSchema actually reads
  (column pruning made visible).
- ``lint``: plans.inspect.scale_lint findings (empty = clean).

Usage: python tools/plan_audit.py [sf_dir] (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from tcga_query_project_spark.catalog import BENCH_ONLY, REGISTRY
    from tcga_query_project_spark.plans import inspect as plans
    from tcga_query_project_spark.session import get_spark

    spark = get_spark("plan-audit")
    # untruncated scan locations: at the default 100 characters a deep
    # checkout path cuts the table name out of "Location: ...[path]", so
    # the scans list would depend on where the repo is checked out
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    specs = {**BENCH_ONLY, **REGISTRY}
    out: dict[str, dict] = {}
    red: list[str] = []
    for name in sorted(specs):
        df = specs[name].build(spark, sf_dir)
        simple = plans.formatted_plan(df, "simple")
        formatted = plans.formatted_plan(df)
        logical = df._jdf.queryExecution().optimizedPlan().toString()
        scans = []
        for m in re.finditer(
            r"FileScan parquet \[(?P<cols>[^\]]*)\].*?"
            r"Location: [A-Za-z]+\(\d+ paths?\)\[[^\]]*?(?P<tbl>\w+)\.parquet\]"
            r".*?PushedFilters: \[(?P<pf>[^\]]*)\]",
            simple,
        ):
            cols = [c for c in m.group("cols").split(",") if c.strip()]
            scans.append(
                {
                    "table": m.group("tbl"),
                    "n_cols_read": len(cols),
                    "filters_pushed": bool(m.group("pf").strip()),
                }
            )
        python_stages = {
            op: simple.count(op)
            for op in (
                "ArrowEvalPython",
                "FlatMapGroupsInPandas",
                "MapInPandas",
                "TransformWithStateInPySpark",
                "BatchEvalPython",
            )
            if simple.count(op)
        }
        lint = plans.scale_lint(df)
        rec = {
            "exchanges": plans.count_exchanges(df),
            "forced_broadcast_hints": logical.count("strategy=broadcast"),
            "broadcast_joins": simple.count("BroadcastHashJoin"),
            "cartesian": "CartesianProduct" in simple,
            "take_ordered": "TakeOrderedAndProject" in simple,
            "python_stages": python_stages,
            "codegen_spans": len(
                set(re.findall(r"WholeStageCodegen \((\d+)\)", formatted))
            ),
            "scans": scans,
            "lint": lint,
        }
        out[name] = rec
        if rec["cartesian"] or python_stages.get("BatchEvalPython"):
            red.append(name)
        print(
            f"{name}: ex={rec['exchanges']} bc={rec['broadcast_joins']} "
            f"hints={rec['forced_broadcast_hints']} "
            f"py={sum(python_stages.values())} lint={len(lint)}"
        )
    summary = {
        # the only expected lint entries are the documented
        # dimension-sized global windows (tests/test_plans.py
        # GLOBAL_WINDOW_ALLOWED: per-cohort KM aggregates, distinct-p
        # BH cummin, post-limit vocab) — anything else is a defect
        "lint_note": "see tests/test_plans.py::GLOBAL_WINDOW_ALLOWED",
        "n_queries": len(out),
        "total_exchanges": sum(r["exchanges"] for r in out.values()),
        "queries_with_lint": sorted(n for n, r in out.items() if r["lint"]),
        "red_flags": sorted(red),
        "sf_dir": sf_dir,
    }
    with open(os.path.join(REPO, "PLAN_AUDIT.json"), "w") as fh:
        json.dump({"summary": summary, "queries": out}, fh, indent=1,
                  sort_keys=True)
    print(json.dumps(summary, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
