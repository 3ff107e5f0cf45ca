"""Whole-computation plans: the final plan plus every checkpointed subtree.

An eager ``localCheckpoint`` truncates a DataFrame's plan at a
``LogicalRDD``, so the final plan alone hides everything computed
upstream of each checkpoint. ``captured_checkpoint_subtrees`` records
the query execution of every DataFrame checkpointed while it is
active; the final plan plus those subtrees is the whole computation.
The plan-quality lint (``tests/test_plan_quality.py``), the scale sweep
(``tools/plan_sweep.py``) and the bench's plan-shape ledger
(``bench.py``) all read plans through this module.
"""

from __future__ import annotations

import re
from collections import Counter
from contextlib import contextmanager

#: Node classes the plan-shape ledger counts: a regex each, matched in
#: full against the node name a physical plan line starts with (after
#: the tree markers and any ``*(N)`` codegen id).
SHAPE_NODES = {
    key: re.compile(pattern)
    for key, pattern in {
        "exchanges": "Exchange",
        "broadcast_exchanges": "BroadcastExchange",
        "scans": "FileScan|BatchScan",
        "sort_merge_joins": "SortMergeJoin",
        "nested_loop_joins": "BroadcastNestedLoopJoin|CartesianProduct",
        "python_udfs": r"\w*(Python|Pandas|InArrow)\w*",
    }.items()
}

_NODE = re.compile(r"^[\s:|+-]*(?:\*\(\d+\)\s+)?(\w+)")


@contextmanager
def captured_checkpoint_subtrees():
    """Collect the query execution of every DataFrame at the moment it is
    ``localCheckpoint()``ed inside the block."""
    # Spark 4: pyspark.sql.DataFrame is a facade; live sessions hand out
    # pyspark.sql.classic.dataframe.DataFrame, whose own localCheckpoint
    # shadows the base, so patch the concrete class.
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pre-4.0 layout
        from pyspark.sql import DataFrame

    captured: list = []
    orig = DataFrame.localCheckpoint

    def _capture(self, *a, **kw):
        captured.append(self._jdf.queryExecution())
        return orig(self, *a, **kw)

    DataFrame.localCheckpoint = _capture
    try:
        yield captured
    finally:
        DataFrame.localCheckpoint = orig


def whole_computation_plans(df, subtrees) -> tuple[str, str]:
    """(physical, optimized) plan text of the final DataFrame plus every
    checkpointed subtree."""
    qe = df._jdf.queryExecution()
    plan = "\n".join(
        [qe.executedPlan().toString()]
        + [c.executedPlan().toString() for c in subtrees]
    )
    opt = "\n".join(
        [qe.optimizedPlan().toString()]
        + [c.optimizedPlan().toString() for c in subtrees]
    )
    return plan, opt


def plan_shape(plan: str) -> dict[str, int]:
    """Count the ``SHAPE_NODES`` classes in physical plan text.

    A subtree that already ran under AQE prints its runtime-adapted
    ``== Final Plan ==`` above the ``== Initial Plan ==`` it started
    from. Only the initial plan is counted: it is what the optimizer
    compiled from the code, while the final plan also depends on
    runtime sizes (a broadcast demoted to a sort-merge join, coalesced
    or reused exchanges)."""
    names: Counter[str] = Counter()
    final_at = None
    for line in plan.splitlines():
        if final_at is not None:
            if line.find("== Initial Plan ==") == final_at:
                final_at = None
            continue
        if "== Final Plan ==" in line:
            final_at = line.find("== Final Plan ==")
            continue
        m = _NODE.match(line)
        if m:
            names[m.group(1)] += 1
    return {
        key: sum(c for n, c in names.items() if pattern.fullmatch(n))
        for key, pattern in SHAPE_NODES.items()
    }
