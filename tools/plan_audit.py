"""Physical-plan audit over the whole query registry.

For every batch entry in ``__spark_entry__.queries()`` (streaming
entries are skipped — they run real streams), build the DataFrame at
*sf_dir* and summarize its executed plan:

* ``exch``  — total Exchange count (shuffles + broadcasts)
* ``bcast`` — BroadcastExchange count (cheap; subtracted from shuffles)
* ``shuf``  — data shuffles (exch − bcast): the number that matters at
  100 TB
* ``smj/bhj`` — SortMergeJoin / BroadcastHashJoin counts
* ``wsc``   — WholeStageCodegen span count (executed plans mark
  codegen'd operators with a ``*(n)`` prefix; distinct n = spans)
* ``cart``  — CartesianProduct / BroadcastNestedLoopJoin count.
  Expected 0 EXCEPT the scalar-broadcast pattern: a crossJoin of a
  one-row aggregate (corpus stats in bm25/tf-idf, min/max bounds in
  the histogram/range probes) plans as a BNLJ whose build side is one
  row — constant-cost at any scale, not a quadratic hazard.

Caveat: entries that iterate driver-side (k-means Lloyd rounds,
connected components, PageRank) localCheckpoint/collect between
rounds, so the audited plan is the FINAL round's lineage only — the
per-round shuffles are by design and asserted in tests/test_plans.py.

Usage:
    python tools/plan_audit.py [sf_dir] [entry ...]   # default sf0.01

Output is a markdown table on stdout (pipe into PLANS_r{N}.md).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

SKIP = {"st_windows", "st_stateful", "st_dedup"}  # real streams


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from cl_data_frame_spark.session import get_spark

    spark = get_spark("plan_audit")
    # AQE wraps un-executed plans in AdaptiveSparkPlan(isFinalPlan=false)
    # which hides codegen markers and runtime join rewrites; audit the
    # static plan instead — a consistent, conservative view (AQE only
    # improves on it at runtime: coalesced partitions, SMJ->BHJ, skew
    # splits).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    qs = entrymod.queries()
    print("| entry | shuf | bcast | smj | bhj | wsc | cart |")
    print("|---|---|---|---|---|---|---|")
    for name, fn in qs.items():
        if name in SKIP or (only and name not in only):
            continue
        from cl_data_frame_spark.plans import plan_summary
        try:
            df = fn(spark, sf_dir)
            c = plan_summary(df)
        except Exception as exc:
            print(f"| {name} | ERROR: {type(exc).__name__} | | | | | |")
            continue
        print(f"| {name} | {c['shuffles']} | {c['broadcasts']} "
              f"| {c['sort_merge_joins']} | {c['broadcast_hash_joins']} "
              f"| {c['codegen_spans']} | {c['cartesian']} |")
    spark.stop()


if __name__ == "__main__":
    main()
