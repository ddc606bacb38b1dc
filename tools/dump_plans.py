"""Regenerate PLANS.md: physical plans + scan pushdown facts for the
headline queries. Run after changing any headline query:

    python tools/dump_plans.py > PLANS.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = ["tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q9",
            "tpch_q13", "tpch_q18", "tpch_q21",
            "dedup_minhash_lsh", "simsearch_ivf", "pipeline_pack_sequences"]
SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    from materialize_spark.plans.audit import physical_plan, scans
    from materialize_spark.queries import load_all
    from materialize_spark.session import get_spark

    reg = load_all()
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")

    print("# PLANS — physical plans of the headline queries (sf0.1)")
    print()
    print("Generated by tools/dump_plans.py. What to look for (and what the")
    print("plan-regression tests in tests/test_plans.py pin):")
    print()
    print("- Tables under the arrangement budget (catalog.ARRANGE_BYTES)")
    print("  scan as `InMemoryTableScan` over a core-sharded cache — the")
    print("  reference's arranged-input model. Their one-time cache build")
    print("  reads the full table, so `pushed=[]` on those scans is")
    print("  expected; filters apply against the in-memory columnar batches")
    print("  (which keep min/max stats per batch).")
    print("- Tables OVER the budget (any real-scale fact table) scan")
    print("  parquet directly: there `PushedFilters` must carry the")
    print("  predicates and `ReadSchema` must list only referenced columns")
    print("  (tests/test_plans.py pins this on an un-arranged read).")
    print("- `BroadcastHashJoin` ONLY for dimension (or aggregated")
    print("  key-set) build sides; every fact x fact join is a")
    print("  `ShuffledHashJoin` pinned by SHUFFLE_HASH hints — a filtered")
    print("  fact under the broadcast threshold today is a driver-built")
    print("  single-threaded hash relation and a non-plan at 100 TB.")
    print("  plans/audit.fact_broadcasts + tests/test_plans.py enforce it.")
    print("- Two `HashAggregate`s around one `Exchange`: map-side partial")
    print("  aggregation before the shuffle.")
    print("- AQE is data-sized (catalog.apply_policy): off below")
    print("  8 GiB decoded where every plan decision is statically")
    print("  determined (its stage barriers cost ~30-50 ms/query), on at")
    print("  scale where skew splitting / coalescing are load-bearing, so")
    print("  these sf0.1 dumps show final plans, not AdaptiveSparkPlan")
    print("  wrappers.")
    print()
    for name in HEADLINE:
        df = reg[name].fn(spark, SF_DIR)
        print(f"## {name}")
        print()
        print("```")
        tree = physical_plan(df, "formatted").split("\n\n")[0]
        print(tree.strip())
        print("```")
        print()
        print("Scans:")
        print()
        for s in scans(df):
            loc = s.get("Location", "?").rsplit("/", 2)[-1].rstrip("]")
            print(f"- `{loc}` pushed={s.get('PushedFilters', '[]')} "
                  f"read={s.get('ReadSchema', '?')}")
        print()


if __name__ == "__main__":
    main()
