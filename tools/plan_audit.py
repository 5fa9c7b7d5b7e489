"""Scan every registry query's physical plan for 100-TB red flags.

Audits (plan-build only — nothing executes):
  - GLOBAL-WINDOW: a windowspecdefinition with no partition columns moves
    every row to one partition. Allowed only on provably tiny frames; each
    allowed site is whitelisted here with the reason.
  - CARTESIAN: CartesianProduct nodes (an unkeyed pairwise join).
  - ROW-UDF: BatchEvalPython = row-at-a-time Python; only ArrowEvalPython
    (vectorized) is acceptable.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
Exit 1 if any un-whitelisted hit is found.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Global windows allowed on frames that are bounded by construction (size
# documented at the implementation site).
GLOBAL_WINDOW_ALLOWED = {
    # rank over the 50-row TakeOrderedAndProject output of weighted_sample
    "weighted_sample_docs",
    # rank windows over the <= top_n rows a distributed limit kept
    "zipf_token_slope",
    "shipping_priority_topk",
    # cumulative count over the distinct-n_chars value histogram (length
    # domain, not corpus) for the exact median
    "dataset_card",
    # source_idx over the distinct-sources frame (a handful of rows)
    "round_robin_training_order",
    # rank windows over two <= top-100 TakeOrdered shortlists (RRF fusion)
    "rrf_fusion_topk",
}


def _specs_without_partition(plan: str) -> int:
    """Count windowspecdefinition(...) whose argument list starts with an
    ordering spec (i.e. no partition columns before the first sort key)."""
    n = 0
    for m in re.finditer(r"windowspecdefinition\(([^)]*)", plan):
        head = m.group(1).split(",")[0]
        if " ASC" in head or " DESC" in head:
            n += 1
    return n


def main() -> int:
    import importlib.util

    from blogparser_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spec = importlib.util.spec_from_file_location(
        "entry", "/root/repo/__spark_entry__.py"
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    qs = entry.queries()
    only = set(sys.argv[2:])
    # a typo'd query name must not silently audit nothing and print CLEAN
    unknown = only - set(qs)
    if unknown:
        print(f"ERROR: unknown queries: {sorted(unknown)}")
        return 2
    spark = get_spark(app_name="plan_audit")

    bad = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 - report, keep auditing
            print(f"ERROR {name}: {type(e).__name__}: {e}")
            bad += 1
            continue
        hits = []
        gw = _specs_without_partition(plan)
        if gw and name not in GLOBAL_WINDOW_ALLOWED:
            hits.append(f"GLOBAL-WINDOW x{gw}")
        if "CartesianProduct" in plan:
            hits.append("CARTESIAN")
        if "BatchEvalPython" in plan:
            hits.append("ROW-UDF")
        if hits:
            bad += 1
            print(f"FLAG {name}: {', '.join(hits)}")
    print("CLEAN" if bad == 0 else f"{bad} flagged")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
