"""Show which aggregates survive in the optimized plan of a query's
``count()`` versus its collected result (the "what a user pays" note in
NOTES.md):

    python3 perfbench/count_plan.py [query]   # default g1_pricing_summary

Runs at the smoke size (sf0.001) on ``local[1]``.
"""

from __future__ import annotations

import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]


def _aggregates(plan: str) -> list[str]:
    return sorted(set(re.findall(r"\b(sum|avg|count|min|max)\(", plan)))


def main() -> int:
    import workloads
    from bow_hunter_pipeline_spark import registry
    from bow_hunter_pipeline_spark.session import get_spark

    name = sys.argv[1] if len(sys.argv) > 1 else "g1_pricing_summary"
    spark = get_spark(app_name="count-plan", master="local[1]",
                      extra_conf={"spark.ui.enabled": "false"})
    try:
        df = registry.queries()[name](spark, workloads.fixture_dir("smoke"))
        full = df._jdf.queryExecution().optimizedPlan().toString()
        # Dataset.count() is groupBy().count() over the same plan
        counted = df.groupBy().count()._jdf.queryExecution().optimizedPlan().toString()
        print(f"{name}: output columns {df.columns}")
        print(f"  collect optimized plan aggregates: {_aggregates(full)}")
        print(f"  count() optimized plan aggregates: {_aggregates(counted)}")
        print("--- count() optimized plan ---")
        print(counted)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
