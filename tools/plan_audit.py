"""One-shot physical-plan audit over every registered query.

Writes PLANS.md: per query, the exchange/join/codegen counts and scan
pushdown summary from plans.audit — the reviewable evidence that plans
have the shapes SCALING.md claims. Queries that execute work at
plan-construction time (streaming replays, sink-writing pipelines) are
listed but skipped for plan capture.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_rsna_spark.plans.audit import plan_report  # noqa: E402
from data_pipeline_rsna_spark.queries import (  # noqa: E402
    EXECUTING_QUERIES as EXECUTING,
    REGISTRY,
)
from data_pipeline_rsna_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan_audit")
    lines = [
        "# PLANS — physical-plan audit of every registered query",
        "",
        f"Generated by `tools/plan_audit.py` at sf_dir={sf_dir}. Columns:",
        "shuffle / broadcast exchange counts, join strategies, whether any",
        "parquet scan carries pushed filters. Executing queries (streaming",
        "replays, sink writers) are marked `executes` — their behavior is",
        "covered by tests, not static plans. Counts are STATIC plan-node",
        "counts: branches that re-derive a shared subtree (e.g. a",
        "totals aggregate joined back to the rows it sums) each count their own",
        "exchange here; at runtime Spark reuses the map output of",
        "identical shuffles (the repeated stages show as skipped), so",
        "executed shuffle WORK is lower than these static counts.",
        "",
        "The `cart` column counts CartesianProduct plan nodes and MUST",
        "be 0 for every query; `BNLJ` counts BroadcastNestedLoopJoin",
        "nodes, which are legitimate ONLY as broadcast singletons (a",
        "1-row aggregate joined to every row — constant work per row,",
        "no quadratic blowup). Both are machine-asserted across the",
        "registry by tests/test_plans.py::test_registry_no_cartesians.",
        "",
        "| query | shuffles | bcast | BHJ | SMJ | cart | BNLJ | pushed filters |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name in sorted(REGISTRY):
        if name in EXECUTING:
            lines.append(f"| {name} | executes | — | — | — | — | — | — |")
            continue
        try:
            df = REGISTRY[name].spark_fn(spark, sf_dir)
            rep = plan_report(df)
            pushed = "yes" if any(
                pf.strip() and pf != "[]" for pf in rep.pushed_filters
            ) else "—"
            lines.append(
                f"| {name} | {rep.n_shuffle_exchanges} "
                f"| {rep.n_broadcast_exchanges} "
                f"| {rep.n_broadcast_hash_joins} "
                f"| {rep.n_sort_merge_joins} "
                f"| {rep.n_cartesian_products} "
                f"| {rep.n_bnl_joins} | {pushed} |"
            )
        except Exception as e:  # noqa: BLE001
            lines.append(
                f"| {name} | error: {type(e).__name__} | | | | | | |"
            )
    with open(
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"),
        "w", encoding="utf-8",
    ) as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(REGISTRY)} queries)")


if __name__ == "__main__":
    main()
