"""bench.py's plan-shape gate: the ledger in BENCH_SELF.json.

All but the last test run without Spark, on hand-written ledger entries
and plan text. The last builds one query at sf0.001 to show that
undoing its localCheckpoints raises a gated count.
"""

from __future__ import annotations

import contextlib
import json

import pytest

import bench
from arango_clickhouse_replica_spark.plans.capture import plan_shape


def _entry(**counts):
    entry = {key: 1 for key in bench.GATED}
    entry.update(counts, wall_s=1.0, jobs=3, stages=4)
    return entry


def _ledger(path, sf, queries):
    path.write_text(json.dumps({"sf": sf, "queries": queries}))


def test_clean_run_persists_self_recording(tmp_path):
    """Equal counts pass and the run rewrites the ledger (wall time, jobs
    and stages are recorded whatever they are)."""
    path = tmp_path / bench.SELF_RECORDING
    _ledger(path, 0.1, {"q1": _entry(), "q2": _entry()})
    run = {"q1": dict(_entry(), wall_s=9.0, jobs=30)}
    bench.check_plan_shape(run, 0.1, path)
    data = json.loads(path.read_text())
    assert data["sf"] == 0.1
    assert data["queries"]["q1"] == run["q1"]
    assert data["queries"]["q2"] == _entry()  # not run this time: kept


@pytest.mark.parametrize("key", bench.GATED)
def test_gated_count_rise_fails_naming_query_and_counter(tmp_path, capsys, key):
    path = tmp_path / bench.SELF_RECORDING
    _ledger(path, 0.1, {"q1": _entry(), "q2": _entry()})
    before = path.read_text()
    run = {"q1": _entry(), "q2": _entry(**{key: 2})}
    with pytest.raises(SystemExit) as exc:
        bench.check_plan_shape(run, 0.1, path)
    assert exc.value.code == 2
    assert f"q2: {key} 1 -> 2" in capsys.readouterr().err
    assert path.read_text() == before  # a failing run does not rebase


def test_gated_count_fall_is_recorded(tmp_path):
    path = tmp_path / bench.SELF_RECORDING
    _ledger(path, 0.1, {"q1": _entry(exchanges=5)})
    bench.check_plan_shape({"q1": _entry(exchanges=3)}, 0.1, path)
    assert json.loads(path.read_text())["queries"]["q1"]["exchanges"] == 3


def test_query_missing_from_ledger_is_recorded_not_compared(tmp_path):
    path = tmp_path / bench.SELF_RECORDING
    _ledger(path, 0.1, {"q1": _entry()})
    bench.check_plan_shape({"new": _entry(exchanges=99)}, 0.1, path)
    assert json.loads(path.read_text())["queries"]["new"]["exchanges"] == 99


def test_sf_mismatch_is_recorded_not_compared(tmp_path):
    path = tmp_path / bench.SELF_RECORDING
    _ledger(path, 0.1, {"q1": _entry()})
    run = {"q1": _entry(exchanges=99)}
    bench.check_plan_shape(run, 0.001, path)
    assert json.loads(path.read_text()) == {"sf": 0.001, "queries": run}


def test_missing_ledger_is_created(tmp_path):
    path = tmp_path / bench.SELF_RECORDING
    bench.check_plan_shape({"q1": _entry()}, 0.1, path)
    assert json.loads(path.read_text())["queries"] == {"q1": _entry()}


def test_plan_shape_counts_only_the_initial_plan_of_an_adapted_subtree():
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[k#1], functions=[count(1)])
   +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=7]
      +- FileScan parquet [k#1] Batched: true
AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 1
   +- *(2) SortMergeJoin [s#9], [s#29], LeftAnti
      :- *(1) Sort [s#9 ASC NULLS FIRST], false, 0
      :  +- ShuffleQueryStage 0
      :     +- Exchange hashpartitioning(s#9, 4), ENSURE_REQUIREMENTS
      :        +- *(1) Scan ExistingRDD[s#9]
      +- ReusedExchange [s#29], Exchange hashpartitioning(s#9, 4)
+- == Initial Plan ==
   BroadcastHashJoin [s#9], [s#29], LeftAnti, BuildRight, false
   :- Scan ExistingRDD[s#9]
   +- BroadcastExchange HashedRelationBroadcastMode(List(input[0]),false)
      +- *(3) MapInPandas udf(s#29), [s#29]
         +- FileScan parquet [s#29] Batched: true
"""
    assert plan_shape(plan) == {
        "exchanges": 1, "broadcast_exchanges": 1, "scans": 2,
        "sort_merge_joins": 0, "nested_loop_joins": 0, "python_udfs": 1,
    }


def test_noop_local_checkpoint_trips_the_gate(spark, sf_dir, tmp_path, monkeypatch):
    """Undoing every localCheckpoint of a composed report inlines each
    shared relation once per consumer: more exchanges and scans. That is
    the regression the ledger exists to catch."""
    name = "dedup_lsh_precision_report"
    path = tmp_path / bench.SELF_RECORDING
    _, counts = bench.shape_of(spark, name, sf_dir)
    bench.check_plan_shape({name: counts}, 0.001, path)

    from pyspark.sql.classic.dataframe import DataFrame

    # As if the localCheckpoint calls were deleted from the code: nothing
    # is checkpointed, so nothing is captured either.
    monkeypatch.setattr(DataFrame, "localCheckpoint", lambda self, *a, **k: self)
    monkeypatch.setattr(
        bench, "captured_checkpoint_subtrees", lambda: contextlib.nullcontext([])
    )
    _, inlined = bench.shape_of(spark, name, sf_dir)
    assert inlined["exchanges"] > counts["exchanges"]
    assert inlined["scans"] > counts["scans"]
    with pytest.raises(SystemExit) as exc:
        bench.check_plan_shape({name: inlined}, 0.001, path)
    assert exc.value.code == 2
