#!/usr/bin/env python
"""Plan-stability sweep: replay tests/test_plan_quality.py's scale
antipattern assertions (no cartesian product, no un-allowlisted
BroadcastNestedLoopJoin, no row-at-a-time Python UDF, no un-allowlisted
window over Exchange SinglePartition on non-limit-bounded input, and —
since r11 — transcendental-triage totality over the FULL optimized plan
plus no un-allowlisted raw-double-ranked rank window) over EVERY
registered query built against a larger scale factor (default sf0.1,
100x the CI fixture) with AQE on.

AQE and the broadcast threshold can legally pick DIFFERENT physical
plans when the optimizer sees bigger statistics; this sweep proves no
query's plan degrades into a scale antipattern when they do. Was a
one-off snippet in round 8 (docs/SCALING.md "Plan stability across
scale factors"); now repeatable per round.

Usage: python tools/plan_sweep.py [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tests"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from arango_clickhouse_replica_spark.plans.capture import (
        captured_checkpoint_subtrees,
        whole_computation_plans,
    )
    from arango_clickhouse_replica_spark.queries import QUERIES
    from test_plan_quality import (
        BNLJ_ALLOWED,
        RAW_RANK_ALLOWED,
        SP_WINDOW_ALLOWED,
        TRANSCENDENTAL_TRIAGE,
        raw_double_ranked_windows,
        transcendentals_in_plan,
        unbounded_single_partition_windows,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    bad = []
    for name in sorted(QUERIES):
        try:
            # Eager localCheckpoints truncate the plan: lint the final plan
            # plus every checkpointed subtree, as tests/test_plan_quality.py
            # does.
            with captured_checkpoint_subtrees() as subtrees:
                df = QUERIES[name].build(spark, args.sf)
            plan, opt = whole_computation_plans(df, subtrees)
        except Exception as e:  # noqa: BLE001 — report, don't abort sweep
            bad.append((name, f"build failed: {e}"))
            continue
        if "CartesianProduct" in plan:
            bad.append((name, "cartesian product"))
        if name not in BNLJ_ALLOWED and "BroadcastNestedLoopJoin" in plan:
            bad.append((name, "nested-loop join"))
        if "BatchEvalPython" in plan:
            bad.append((name, "row-at-a-time Python UDF"))
        if name not in SP_WINDOW_ALLOWED:
            spw = unbounded_single_partition_windows(plan)
            if spw:
                bad.append((name, f"single-partition window: {spw[0]}"))
        # r12 seventh assertion: physical-partition identity never feeds
        # semantics (branch-unstable after exchanges); no allowlist.
        if "SPARK_PARTITION_ID" in opt.upper():
            bad.append((name, "spark_partition_id() in optimized plan"))
        # r11: transcendental triage totality (deep scan, both directions)
        deep = transcendentals_in_plan(opt)
        if deep and name not in TRANSCENDENTAL_TRIAGE:
            bad.append((name, f"untriaged transcendental {deep} in plan"))
        if not deep and name in TRANSCENDENTAL_TRIAGE:
            bad.append((name, "stale TRANSCENDENTAL_TRIAGE row"))
        # r11 fifth assertion: no raw-double-ranked hashed top-k
        if name not in RAW_RANK_ALLOWED:
            rr = raw_double_ranked_windows(opt)
            if rr:
                bad.append((name, f"raw-ranked window ({rr[0][1]}): {rr[0][2]}"))

    n = len(QUERIES)
    for name, why in bad:
        print(f"VIOLATION {name}: {why}")
    print(f"{n - len(bad)}/{n} clean at {args.sf}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
