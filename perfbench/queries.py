"""The ``cdc_queries`` workload: one closed-loop client running registered
queries over the generated tables.

The queries are the replica's read-side semantics: latest-state dedup,
snapshot overlap, SCD2 history, time travel and the mapping DSL with its
dead letters; transaction-atomic apply runs in ``replicate``. They are
scan- and shuffle-bound and bypass ``streaming/``. Each is built with
``QUERIES[name].build`` and run to the noop sink, in a seed-permuted
order.

Set-up runs two warm-up passes; the first collects every result, which
is compared with the query's DuckDB oracle after timing. Timed passes
follow, one per 3 s of the given seconds, at least three: the work is
sized from the seconds, not cut by the clock, so a slow run does the
same work instead of fewer samples.

The traced run also runs composed reports, after the timed passes and
under their own job groups: driver- and scheduler-bound reports (many
small jobs with idle gaps between them) over ``queries/embed_ops``,
``queries/llm_ops``, ``operators/ann_index``, ``operators/minhash``,
``operators/blocking`` and ``operators/components``. They give per-layer
figures only; no untraced workload runs them (see ``README.md``).
"""

from __future__ import annotations

import time

import numpy as np

from arango_clickhouse_replica_spark.queries import QUERIES

from compare import pandas_rows
from tracing import median

# One query per read-side semantic; a pass over all 31 cdc_*/dsl_*
# queries takes ~22 s warm on 4 CPUs, too long for the run budget.
CDC_QUERIES = (
    "cdc_latest_state",
    "cdc_snapshot_overlap",
    "cdc_scd2_history",
    "cdc_time_travel_read",
    "dsl_mapping_events",
    "dsl_deadletter_split",
)
COMPOSED_REPORTS = (
    "ann_incremental_graph_search_read",
    "dedup_lsh_precision_report",
    "dedup_method_agreement",
    "q_pagerank_handoff_graph",
)
TABLE_SIZES = {"events": 4000, "documents": 500, "embeddings": 500}
WARMUP_PASSES = 2
MIN_PASSES = 3
PASS_S = 3


class QueryWorkload:
    name = "cdc_queries"

    def __init__(self, spark, tracer, sf_dir: str, seed: int, seconds: int) -> None:
        self.spark, self.tr = spark, tracer
        self.sf_dir, self.seconds = sf_dir, seconds
        rng = np.random.default_rng([seed, 11])
        self.order = [CDC_QUERIES[i] for i in rng.permutation(len(CDC_QUERIES))]
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.layer: dict[str, float] = {}
        self.results: dict = {}

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.notes.append(what)

    def _collect(self, name: str) -> None:
        """Build ``name`` and keep its result for the oracle check."""
        self.attempted += 1
        try:
            with self.tr.span(f"queries.{name}", f"{self.name}/check/{name}"):
                self.results[name] = QUERIES[name].build(self.spark, self.sf_dir).toPandas()
        except Exception as e:  # a failed query counts, the run goes on
            self._fail(f"{name}: {type(e).__name__}: {e}"[:300])

    def _time(self, name: str, group: str) -> tuple[float, float]:
        """Build ``name`` and run it to the noop sink: (total, build) ms."""
        self.attempted += 1
        t = time.time()
        build_ms = 0.0
        try:
            with self.tr.span(f"queries.{name}", group):
                with self.tr.span(f"queries.{name}.build"):
                    df = QUERIES[name].build(self.spark, self.sf_dir)
                build_ms = (time.time() - t) * 1e3
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # a failed query counts, the run goes on
            self._fail(f"{name} ({group}): {type(e).__name__}: {e}"[:300])
        return (time.time() - t) * 1e3, build_ms

    def prepare(self) -> None:
        for name in self.order:
            self._collect(name)
        for p in range(1, WARMUP_PASSES):
            for name in self.order:
                self._time(name, f"{self.name}/warm{p}/{name}")

    def run(self) -> dict:
        """One timed pass per ``PASS_S`` of ``seconds``, at least
        ``MIN_PASSES``. ``pass_s`` is the sum over the queries of each
        one's median latency: one pass, robust to a stray slow query."""
        per_query: dict[str, list[float]] = {n: [] for n in self.order}
        for p in range(max(MIN_PASSES, self.seconds // PASS_S)):
            for name in self.order:
                per_query[name].append(self._time(name, f"{self.name}/p{p}/{name}")[0])
        for name, ms in per_query.items():
            self.layer[f"queries.{name}.ms"] = median(ms)
        if self.tr.enabled:
            self._composed()
        return {"pass_s": sum(median(ms) for ms in per_query.values()) / 1e3,
                "op_ms": per_query}

    def _composed(self) -> None:
        """Traced only: each composed report once to warm up (its result
        is checked) and once timed."""
        for name in COMPOSED_REPORTS:
            self._collect(name)
            ms, build_ms = self._time(name, f"composed/{name}")
            self.layer[f"queries.{name}.ms"] = ms
            self.layer[f"queries.{name}.build_ms"] = build_ms

    def check(self) -> None:
        """Compare each collected result with its DuckDB oracle."""
        import duckdb

        con = duckdb.connect()
        try:
            for table in TABLE_SIZES:
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                            f"read_parquet('{self.sf_dir}/{table}.parquet')")
            for name, got in self.results.items():
                self.attempted += 1
                oracle = QUERIES[name].oracle
                if oracle is None:
                    if got.empty:
                        self._fail(f"{name}: no rows")
                    continue
                want_cols, want = pandas_rows(con.sql(oracle).df())
                got_cols, got_rows = pandas_rows(got)
                if got_cols != want_cols or got_rows != want:
                    self._fail(f"{name}: result differs from its DuckDB oracle "
                               f"({sum(got_rows.values())} vs {sum(want.values())} rows)")
        finally:
            con.close()

    def spark_layers(self, stats) -> dict:
        """Jobs per query in the first timed pass and in the timed composed
        reports, from the event log; ``spark.composed.*`` sums the
        reports' own counters. Returns the summary over the first pass."""
        composed: dict[str, float] = {}
        for name, group in [(n, f"{self.name}/p0/{n}") for n in self.order] + [
                (n, f"composed/{n}") for n in COMPOSED_REPORTS]:
            one = stats.summary(lambda r, group=group: r["group"] == group)
            self.layer[f"queries.{name}.jobs"] = one["jobs"]
            if name in COMPOSED_REPORTS:
                for k, v in one.items():
                    composed[k] = composed.get(k, 0) + v
        self.layer.update({f"spark.composed.{k}": v for k, v in composed.items()})
        return stats.summary(lambda r: (r["group"] or "").startswith(f"{self.name}/p0/"))
