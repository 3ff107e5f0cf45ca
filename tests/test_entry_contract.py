"""The driver contract surface (__spark_entry__.py): rotation ordering,
registry completeness, and resilience to malformed driver write-backs."""

import importlib.util
import json


def _load(tmp_repo=None):
    spec = importlib.util.spec_from_file_location(
        "entry_under_test", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    if tmp_repo is not None:
        mod._REPO = tmp_repo
    return mod


def test_queries_respect_rotation_budget():
    """r5 verdict item #7: emitted names stay within the 150-name budget
    (3 driver rounds x 50 slots) once queries have driver history; only
    rotation-exempt, already-verified names may be withheld; every
    emitted entry resolves in the registry; never-verified names are
    always emitted."""
    mod = _load()
    from arango_clickhouse_replica_spark.queries import QUERIES

    names = list(mod.queries())
    assert len(names) <= max(mod.ROTATION_BUDGET, len(QUERIES) - 0)
    withheld = set(QUERIES) - set(names)
    assert withheld <= set(mod.ROTATION_EXEMPT)
    assert set(names) <= set(QUERIES)
    assert set(mod.oracle_sql()) == {
        n for n in names if QUERIES[n].oracle is not None
    }
    # exempt names stay registered (plan-quality + user surface)
    assert set(mod.ROTATION_EXEMPT) <= set(QUERIES)


def test_rotation_budget_binds_with_full_history(tmp_path):
    """With every name verified, the emitted list is exactly the budget
    and the drop set is drawn from ROTATION_EXEMPT only."""
    mod = _load(tmp_path)
    from arango_clickhouse_replica_spark.queries import QUERIES

    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({n: {"hash_match": True, "spark_rows": 1, "err": None}
                    for n in QUERIES})
    )
    names = list(mod.queries())
    assert len(names) == min(mod.ROTATION_BUDGET, len(QUERIES))
    assert set(QUERIES) - set(names) <= set(mod.ROTATION_EXEMPT)


def test_never_verified_queries_order_first(tmp_path):
    mod = _load(tmp_path)
    all_names = list(mod.queries())
    # exempt names would be DROPPED (not reordered) once verified — pick
    # non-exempt ones so this asserts pure rotation order
    some_green = [n for n in all_names if n not in mod.ROTATION_EXEMPT][:3]
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({n: {"hash_match": True, "spark_rows": 1, "err": None}
                    for n in some_green})
    )
    ordered = list(mod.queries())
    # the three verified names moved to the back
    assert ordered[-3:] == some_green
    assert set(ordered[:-3]) == set(all_names) - set(some_green)


def test_least_recently_verified_cycle(tmp_path):
    mod = _load(tmp_path)
    # exempt names join the exempt-sample head once verified — pick
    # non-exempt ones so this asserts pure rotation order
    names = [n for n in mod.queries() if n not in mod.ROTATION_EXEMPT]
    a, b = names[0], names[1]
    row = {"hash_match": True, "spark_rows": 1, "err": None}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({a: row, b: row}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({a: row}))
    ordered = list(mod.queries())
    # b (last verified r1) cycles in before a (last verified r2)
    assert ordered.index(b) < ordered.index(a)
    assert ordered[-1] == a


def test_failed_and_erred_rows_reenter_first(tmp_path):
    mod = _load(tmp_path)
    names = [n for n in mod.queries() if n not in mod.ROTATION_EXEMPT]
    ok, bad_hash, erred = names[0], names[1], names[2]
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        ok: {"hash_match": True, "spark_rows": 1, "err": None},
        bad_hash: {"hash_match": False, "spark_rows": 1, "err": None},
        erred: {"hash_match": None, "spark_rows": None, "err": "boom"},
    }))
    ordered = list(mod.queries())
    assert ordered[-1] == ok
    assert ordered.index(bad_hash) < ordered.index(ok)
    assert ordered.index(erred) < ordered.index(ok)


def test_malformed_writebacks_are_ignored(tmp_path):
    mod = _load(tmp_path)
    (tmp_path / "CORRECTNESS_r01.json").write_text("{not json")
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"stale_query_name": {"hash_match": True, "spark_rows": 1},
                    "weird": "not-a-dict"})
    )
    from arango_clickhouse_replica_spark.queries import QUERIES

    assert sorted(mod.queries()) == sorted(QUERIES)


def test_steady_state_registry_fits_budget():
    """The all-verified steady state must never hit the overflow warning:
    the exempt pool has to cover (registry size - budget). When you
    register a new query, grow ROTATION_EXEMPT in the SAME commit."""
    import __spark_entry__ as mod
    from arango_clickhouse_replica_spark.queries import QUERIES

    # the r12 exempt-sampling slots consume emission budget too
    assert (
        len(QUERIES) - len(mod.ROTATION_EXEMPT) + mod.EXEMPT_SAMPLE_SLOTS
        <= mod.ROTATION_BUDGET
    ), (
        f"registry {len(QUERIES)} - exempt {len(mod.ROTATION_EXEMPT)} + "
        f"sample {mod.EXEMPT_SAMPLE_SLOTS} > budget {mod.ROTATION_BUDGET}: "
        "add a subsumed variant to ROTATION_EXEMPT"
    )


def test_design_doc_counts_match_registry():
    """docs/DESIGN.md states the registered/headline counts in prose;
    they drifted in r7 (173/105 vs actual 178/110). Sync by
    construction: this test fails any registration that forgets to
    update the doc (VERDICT r7 item 6)."""
    import re
    from pathlib import Path

    import bench
    from arango_clickhouse_replica_spark.queries import QUERIES

    text = Path(__file__).resolve().parent.parent.joinpath(
        "docs", "DESIGN.md"
    ).read_text()
    m = re.search(r"(\d+) registered queries", text)
    assert m and int(m.group(1)) == len(QUERIES), (
        f"DESIGN.md says '{m and m.group(0)}' but registry has "
        f"{len(QUERIES)} — update docs/DESIGN.md"
    )
    m = re.search(r"`bench.py` \((\d+) headline queries", text)
    assert m and int(m.group(1)) == len(bench.HEADLINE), (
        f"DESIGN.md says '{m and m.group(0)}' but bench.HEADLINE has "
        f"{len(bench.HEADLINE)} — update docs/DESIGN.md"
    )


def test_bench_ledger_names_are_registered():
    """Every bench.HEADLINE name and every query in BENCH_SELF.json must
    be registered. A subset bench run keeps the ledger entries it did
    not run, so a deleted query's entry would otherwise stay forever."""
    from pathlib import Path

    import bench
    from arango_clickhouse_replica_spark.queries import QUERIES

    ledger = json.loads(
        Path(bench.__file__).with_name(bench.SELF_RECORDING).read_text()
    )
    assert not set(bench.HEADLINE) - set(QUERIES), (
        f"bench.HEADLINE names unregistered queries: "
        f"{sorted(set(bench.HEADLINE) - set(QUERIES))}"
    )
    assert not set(ledger["queries"]) - set(QUERIES), (
        f"{bench.SELF_RECORDING} holds unregistered queries: "
        f"{sorted(set(ledger['queries']) - set(QUERIES))}"
    )


def test_registered_builder_names_match_registry_keys():
    """The @query decorator binds to the first def BELOW it — inserting
    a helper or a new query between an existing decorator and its def
    silently registers the wrong builder under the old name (bit us
    twice in round 9: a query inserted mid-file, then a helper
    extraction). The plan-quality suite can't catch it (the wrong
    relation still plans clean); this one-liner does, instantly."""
    from arango_clickhouse_replica_spark.queries.registry import QUERIES

    bad = {
        name: q.build.__name__
        for name, q in QUERIES.items()
        if q.build.__name__ != name
    }
    assert not bad, f"registry name != builder __name__: {bad}"


def test_emitted_names_green_age_within_rotation_bound():
    """r11 (VERDICT r10 item 6): rotation staleness as data — every
    emitted name with driver history must have a green row at most 3
    rounds old (the 150-name budget = 3 driver rounds x 50-slot window).
    Never-verified names (registered this round) are exempt: they are
    emitted first and get their row next round. driver_check --json
    records the same ages into VERIFY_FULL_r{N}.json."""
    import re
    from pathlib import Path

    mod = _load()
    repo = Path(mod.__file__).resolve().parent
    rounds = [int(m.group(1)) for p in repo.glob("CORRECTNESS_r*.json")
              if (m := re.search(r"CORRECTNESS_r(\d+)\.json", p.name))]
    if not rounds:
        return  # no driver history yet (fresh clone)
    latest = max(rounds)
    seen = mod._previously_verified()
    over = {
        n: latest - seen[n]
        for n in mod.queries()
        # exempt names in the emission are the r12 driver-sampling cycle:
        # they are emitted BECAUSE their driver row is old (the sample
        # picks the oldest five) — stale by design, fresh next round
        if n in seen and latest - seen[n] > 3 and n not in mod.ROTATION_EXEMPT
    }
    assert not over, (
        f"emitted names with driver-green rows older than 3 rounds "
        f"(rotation failed to cycle them): {over}"
    )


def test_exempt_sample_leads_emission(tmp_path):
    """r12 (VERDICT r11 item 4): with full history, the first
    EXEMPT_SAMPLE_SLOTS emitted names are the exempt entries whose
    driver rows are OLDEST, and the cycle self-advances once the driver
    re-verifies them."""
    mod = _load(tmp_path)
    from arango_clickhouse_replica_spark.queries import QUERIES

    row = {"hash_match": True, "spark_rows": 1, "err": None}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({n: row for n in QUERIES})
    )
    names = list(mod.queries())
    exempt_in_registry = [n for n in QUERIES if n in mod.ROTATION_EXEMPT]
    assert names[: mod.EXEMPT_SAMPLE_SLOTS] == exempt_in_registry[
        : mod.EXEMPT_SAMPLE_SLOTS
    ]
    assert len(names) == min(mod.ROTATION_BUDGET, len(QUERIES))

    # the driver verifies the sampled five in r2 -> the NEXT five lead
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({n: row for n in names[: mod.EXEMPT_SAMPLE_SLOTS]})
    )
    names2 = list(mod.queries())
    assert names2[: mod.EXEMPT_SAMPLE_SLOTS] == exempt_in_registry[
        mod.EXEMPT_SAMPLE_SLOTS : 2 * mod.EXEMPT_SAMPLE_SLOTS
    ]
    # nothing re-sampled from the just-verified batch
    assert not set(names2[: mod.EXEMPT_SAMPLE_SLOTS]) & set(
        names[: mod.EXEMPT_SAMPLE_SLOTS]
    )


def test_budget_drop_keeps_stalest_exempt_evidence(tmp_path):
    """r13 (VERDICT r12 item 4): when the budget binds, the drop set is
    the FRESHEST-evidence exempt names — window slots left over after
    the sample and the never-verified names cycle the oldest driver
    evidence regardless of exempt status, tightening the exempt-pool
    re-verification cycle from ~31 rounds to the window pace."""
    mod = _load(tmp_path)
    from arango_clickhouse_replica_spark.queries import QUERIES

    row = {"hash_match": True, "spark_rows": 1, "err": None}
    exempt_in_registry = [n for n in QUERIES if n in mod.ROTATION_EXEMPT]
    # stagger evidence: half the exempt pool verified r1 (stale), the
    # other half + everything else r5 (fresh)
    half = len(exempt_in_registry) // 2
    stale = set(exempt_in_registry[:half])
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({n: row for n in stale})
    )
    (tmp_path / "CORRECTNESS_r05.json").write_text(
        json.dumps({n: row for n in QUERIES if n not in stale})
    )
    names = list(mod.queries())
    assert len(names) == min(mod.ROTATION_BUDGET, len(QUERIES))
    dropped = set(QUERIES) - set(names)
    assert dropped <= set(mod.ROTATION_EXEMPT)
    n_excess = len(QUERIES) - mod.ROTATION_BUDGET
    if n_excess > 0 and len(stale) >= mod.EXEMPT_SAMPLE_SLOTS + n_excess:
        # enough stale names exist to fill sample + window: every
        # dropped name must come from the FRESH half
        assert not dropped & stale, (
            "budget drop evicted stale-evidence exempt names: "
            f"{sorted(dropped & stale)[:5]}"
        )
