"""Relational query surface over the replicated tables (SURVEY.md §2.7).

The reference delegates all relational querying to ClickHouse SQL over its
replicated latest-state tables (pass-through executor
``clickhouse/connect.py:25-26``). Our engine exposes the same surface as
Spark DataFrame/SQL over the fixture tables: filters, equi joins
(inner/left/semi/anti), broadcast joins, aggregations, window functions,
sort/limit top-k, and set operations (grouping sets live in
``relational_ext``).

Scale notes (100 TB):

- ``nation``/``region`` are bounded dimensions -> explicit ``F.broadcast``
  (no shuffle of the fact side's join key).
- ``supplier``/``part``/``customer`` grow with SF -> left to AQE's
  runtime broadcast-threshold decision rather than hard-coded hints.
- Fact-fact joins (lineitem x orders) shuffle on the join key; at scale
  these benefit from bucketing both tables on orderkey (see
  ``plans/layout.py``); AQE handles skew splits.
- All aggregates are expressed declaratively so Catalyst produces
  partial (map-side) aggregation before the shuffle.

Determinism: money math is done in DECIMAL(18,2)/(18,4) then cast back to
double — exact and order-independent, so results hash-match the DuckDB
oracle bit-for-bit (see registry.py docstring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query

# --- determinism helpers (Spark side) ---------------------------------------


def dec2(c: Column | str) -> Column:
    """Recover the exact 2-decimal value stored in a double column."""
    return F.col(c).cast("decimal(18,2)") if isinstance(c, str) else c.cast("decimal(18,2)")


def money_sum(c: Column | str, alias: str) -> Column:
    return F.sum(dec2(c)).cast("double").alias(alias)


def money_avg(c: Column | str, alias: str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return (F.sum(dec2(col)).cast("double") / F.count(col)).alias(alias)


def revenue_expr() -> Column:
    """l_extendedprice * (1 - l_discount), exact in decimal."""
    one = F.lit(1).cast("decimal(18,2)")
    return dec2("l_extendedprice") * (one - dec2("l_discount"))


# SQL fragment mirrors of the helpers (DuckDB side).
SQL_REV = ("CAST(l_extendedprice AS DECIMAL(18,2))"
           " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))")


# --- TPC-H-style aggregation (filter + group + multi-agg) -------------------


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM({SQL_REV}) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST({SQL_REV} AS DECIMAL(18,4))
                    * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE)
               AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice)
               AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount)
               AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "filter"),
    doc="TPC-H Q1-style pricing summary: pushed filter + grouped multi-aggregate.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    one = F.lit(1).cast("decimal(18,2)")
    charge = revenue_expr().cast("decimal(18,4)") * (one + dec2("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum("l_quantity", "sum_qty"),
            money_sum("l_extendedprice", "sum_base_price"),
            F.sum(revenue_expr()).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            money_avg("l_quantity", "avg_qty"),
            money_avg("l_extendedprice", "avg_price"),
            money_avg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --- flagship: multi-way join + aggregate (broadcast dims) ------------------


@query(
    "q3_revenue_by_nation",
    oracle=f"""
    SELECT r_name AS region_name, n_name AS nation_name,
           CAST(SUM({SQL_REV}) AS DOUBLE) AS revenue,
           COUNT(*) AS line_count
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    tags=("join", "agg", "broadcast", "flagship"),
    doc="Flagship: fact-fact shuffle join (lineitem x orders x customer) "
        "with broadcast dimension joins (nation, region), grouped revenue.",
)
def q3_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.sum(revenue_expr()).cast("double").alias("revenue"),
            F.count("*").alias("line_count"),
        )
    )


# --- top-k with deterministic tiebreak --------------------------------------


@query(
    "q_top_customers",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
           COUNT(*) AS order_cnt
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    ORDER BY total_spend DESC, c_custkey
    LIMIT 10
    """,
    tags=("join", "agg", "topk"),
    doc="Top-10 customers by spend; exact decimal ordering + key tiebreak "
        "makes the LIMIT deterministic.",
)
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(money_sum("o_totalprice", "total_spend"), F.count("*").alias("order_cnt"))
        .orderBy(F.desc("total_spend"), F.asc("c_custkey"))
        .limit(10)
    )


# --- left join with empty-side counting -------------------------------------


@query(
    "q_orders_per_customer",
    oracle="""
    SELECT c_custkey, c_mktsegment, COUNT(o_orderkey) AS order_cnt,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
    tags=("join", "left", "agg"),
    doc="Left outer join preserving customers with zero orders.",
)
def q_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("order_cnt"),
            F.coalesce(F.sum(dec2("o_totalprice")), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spend"),
        )
    )


# --- semi / anti joins ------------------------------------------------------


@query(
    "q_customers_with_open_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    """,
    tags=("join", "semi"),
    doc="Left-semi join: customers having at least one open order.",
)
def q_customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir).filter(F.col("o_orderstatus") == "O")
    customer = load_table(spark, "customer", sf_dir)
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "q_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    tags=("join", "anti"),
    doc="Left-anti join: customers with no orders at all.",
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


# --- window functions -------------------------------------------------------


@query(
    "q_window_top_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    tags=("window", "rank"),
    doc="Ranking window: top-3 orders per customer by price (deterministic "
        "tiebreak on orderkey).",
)
def q_window_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "q_window_running_spend",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running_spend
    FROM orders
    """,
    tags=("window", "frame"),
    doc="Analytic window with explicit ROWS frame: per-customer running "
        "spend in order-date order.",
)
def q_window_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, "orders", sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(dec2("o_totalprice")).over(w).cast("double").alias("running_spend"),
    )


@query(
    "q_window_lag_lead_gap",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day',
                 LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey),
                 o_orderdate) AS BIGINT) AS days_since_prev
    FROM orders
    """,
    tags=("window", "lag"),
    doc="LAG window: days between a customer's consecutive orders.",
)
def q_window_lag_lead_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
        .cast("long")
        .alias("days_since_prev"),
    )


# --- set operations ---------------------------------------------------------


@query(
    "q_set_ops_nation_segments",
    oracle="""
    WITH auto AS (SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
         bld  AS (SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING')
    SELECT 'both' AS tag, c_nationkey FROM (SELECT * FROM auto INTERSECT SELECT * FROM bld)
    UNION ALL
    SELECT 'auto_only' AS tag, c_nationkey FROM (SELECT * FROM auto EXCEPT SELECT * FROM bld)
    UNION ALL
    SELECT 'bld_only' AS tag, c_nationkey FROM (SELECT * FROM bld EXCEPT SELECT * FROM auto)
    """,
    tags=("setop",),
    doc="INTERSECT / EXCEPT / UNION ALL over nation sets of two market segments.",
)
def q_set_ops_nation_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, "customer", sf_dir)
    auto = customer.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_nationkey").distinct()
    bld = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey").distinct()
    both = auto.intersect(bld).select(F.lit("both").alias("tag"), "c_nationkey")
    auto_only = auto.exceptAll(bld).select(F.lit("auto_only").alias("tag"), "c_nationkey")
    bld_only = bld.exceptAll(auto).select(F.lit("bld_only").alias("tag"), "c_nationkey")
    return both.unionAll(auto_only).unionAll(bld_only)


# --- distinct aggregation ---------------------------------------------------


@query(
    "q_distinct_customers_per_status",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS distinct_customers,
           COUNT(*) AS order_cnt
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg", "distinct"),
    doc="COUNT DISTINCT per group (expanded to partial aggregation by Catalyst).",
)
def q_distinct_customers_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    return orders.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("distinct_customers"),
        F.count("*").alias("order_cnt"),
    )


@query(
    "q_approx_distinct_customers",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           TRUE AS approx_within_5pct
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg", "approx"),
    doc="approx_count_distinct (HyperLogLog++) — the scale path for distinct "
        "counting. The checkable property is exact: the exact distinct count "
        "plus a boolean asserting the HLL estimate (rsd=1%) lands within 5% "
        "of it (the oracle emits literal TRUE), so the sketch is exercised "
        "AND the row hash-matches DuckDB.",
)
def q_approx_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count_distinct("o_custkey").alias("exact_customers"),
            F.approx_count_distinct("o_custkey", rsd=0.01).alias("_approx"),
        )
        .select(
            "o_orderstatus",
            "exact_customers",
            (
                F.abs(F.col("_approx") - F.col("exact_customers"))
                <= F.greatest(F.lit(2.0), F.col("exact_customers") * 0.05)
            ).alias("approx_within_5pct"),
        )
    )


_KMV_M = 1024  # stochastic-averaging buckets
_KMV_TWO52 = 1 << 52  # hash domain: 13 md5 hex chars = 52 bits
# m * m * 2^52 — exactly representable as a double (power-of-two mantissa)
_KMV_NUM = float(_KMV_M * _KMV_M * _KMV_TWO52)


@query(
    "q_distinct_minvalue_sketch",
    oracle=f"""
    WITH h AS (
      SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)
                  AS BIGINT) AS h
      FROM events
    ),
    mins AS (SELECT h % {_KMV_M} AS b, MIN(h) AS u FROM h GROUP BY b),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets_hit,
             CAST(SUM(u) AS BIGINT) AS sum_hit
      FROM mins
    ),
    ex AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events
    ),
    est AS (
      SELECT n_buckets_hit,
             sum_hit + ({_KMV_M} - n_buckets_hit) * {_KMV_TWO52} AS sum_u,
             CAST(FLOOR({_KMV_NUM!r} / CAST(
               sum_hit + ({_KMV_M} - n_buckets_hit) * {_KMV_TWO52} AS DOUBLE))
               AS BIGINT) - {_KMV_M} AS est_distinct
      FROM agg
    )
    SELECT CAST({_KMV_M} AS BIGINT) AS m, n_buckets_hit, sum_u, est_distinct,
           exact_distinct,
           ABS(est_distinct - exact_distinct) * 1000 // exact_distinct
             AS err_per_mille
    FROM est, ex
    """,
    tags=("agg", "sketch", "distinct"),
    doc="Deterministic minimum-value distinct sketch (KMV with stochastic "
        "averaging: one minimum per md5 % m bucket, Bar-Yossef et al. 2002 "
        "/ Flajolet-Martin shape) beside the exact count and the per-mille "
        "error — unlike HLL++ the sketch itself hash-matches the DuckDB "
        "oracle because every lane is exact: 52-bit integer hash minima, "
        "empty buckets folded in as the domain max, and the single "
        "estimator division is IEEE-exact on both engines (power-of-two "
        "numerator, floor to BIGINT). Scale: the per-bucket MIN is fully "
        "map-side combinable, so the exchange carries at most partitions "
        f"x {_KMV_M} rows at ANY cardinality — this is the distinct-count "
        "shape that still works when COUNT(DISTINCT) needs a terabyte "
        "shuffle; the estimator state is mergeable across shards/streams.",
)
def q_distinct_minvalue_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10
    ).cast("long")
    mins = (
        ev.select((h % _KMV_M).alias("b"), h.alias("h"))
        .groupBy("b")
        .agg(F.min("h").alias("u"))
    )
    agg = mins.agg(
        F.count("*").cast("long").alias("n_buckets_hit"),
        F.sum("u").cast("long").alias("sum_hit"),
    )
    exact = ev.agg(
        F.count_distinct("user_id").cast("long").alias("exact_distinct")
    )
    sum_u = (
        F.col("sum_hit")
        + (F.lit(_KMV_M).cast("long") - F.col("n_buckets_hit"))
        * F.lit(_KMV_TWO52)
    )
    est = (
        F.floor(F.lit(_KMV_NUM) / sum_u.cast("double")).cast("long")
        - F.lit(_KMV_M).cast("long")
    )
    # 1-row x 1-row attach (allowlisted single-row BNLJ shape)
    return (
        agg.crossJoin(exact)
        .select(
            F.lit(_KMV_M).cast("long").alias("m"),
            "n_buckets_hit",
            sum_u.alias("sum_u"),
            est.alias("est_distinct"),
            "exact_distinct",
        )
        # integer div on BOTH engines (DuckDB // == Spark `div` on
        # positive longs) — a double division could round up across an
        # integer boundary and diverge from the oracle
        .withColumn(
            "err_per_mille",
            F.expr(
                "(abs(est_distinct - exact_distinct) * 1000)"
                " div exact_distinct"
            ),
        )
    )


# --- multi-way join with mixed dimensions -----------------------------------


@query(
    "q_supplier_part_volume",
    oracle="""
    SELECT s_name, p_brand,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
           COUNT(*) AS shipments
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN part     ON l_partkey = p_partkey
    GROUP BY s_name, p_brand
    """,
    tags=("join", "agg"),
    doc="Fact joined to two scaling dimensions (supplier, part) — broadcast "
        "decision left to AQE since both grow with SF.",
)
def q_supplier_part_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    part = load_table(spark, "part", sf_dir)
    return (
        li.join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("s_name", "p_brand")
        .agg(money_sum("l_quantity", "total_qty"), F.count("*").alias("shipments"))
    )


@query(
    "q_distinct_sketch_merge",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)
                  AS BIGINT) AS h
      FROM events
    ),
    shard_mins AS (
      SELECT event_type, h % {_KMV_M} AS b, MIN(h) AS u
      FROM h GROUP BY event_type, h % {_KMV_M}
    ),
    shard_est AS (
      SELECT event_type AS scope,
             CAST(FLOOR({_KMV_NUM!r} / CAST(
               SUM(u) + ({_KMV_M} - COUNT(*)) * {_KMV_TWO52} AS DOUBLE))
               AS BIGINT) - {_KMV_M} AS est_distinct
      FROM shard_mins GROUP BY event_type
    ),
    merged_mins AS (
      SELECT b, MIN(u) AS u FROM shard_mins GROUP BY b
    ),
    merged_est AS (
      SELECT '__merged__' AS scope,
             CAST(FLOOR({_KMV_NUM!r} / CAST(
               SUM(u) + ({_KMV_M} - COUNT(*)) * {_KMV_TWO52} AS DOUBLE))
               AS BIGINT) - {_KMV_M} AS est_distinct
      FROM merged_mins
    ),
    ex AS (
      SELECT event_type AS scope,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events GROUP BY event_type
      UNION ALL
      SELECT '__merged__', CAST(COUNT(DISTINCT user_id) AS BIGINT)
      FROM events
    )
    SELECT s.scope, s.est_distinct, ex.exact_distinct
    FROM (SELECT * FROM shard_est UNION ALL SELECT * FROM merged_est) s
    JOIN ex USING (scope)
    ORDER BY s.scope
    """,
    tags=("agg", "sketch", "distinct", "merge"),
    doc="Sketch MERGEABILITY as data — the property that makes "
        "q_distinct_minvalue_sketch deployable at 100 TB: one KMV "
        "bucket-min sketch per event-type shard (the per-shard/"
        "per-day sketch table you would actually materialize), then "
        "the global estimate computed by FOLDING the shard sketches "
        "(MIN of mins per bucket) — never re-touching the raw data. "
        "Emits each shard's estimate and the merged estimate beside "
        "exact distinct counts; the merged row hash-matching the "
        "oracle proves merge(sketch(A), sketch(B)) == sketch(A u B) "
        "bit-for-bit. Scale: the shard sketch table is |shards| x "
        f"{_KMV_M} rows (map-side combinable MIN), the merge is an "
        "aggregate over THAT table only — distinct counting over any "
        "shard combination becomes a metadata query.",
)
def q_distinct_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10
    ).cast("long")
    shard_mins = (
        ev.select("event_type", (h % _KMV_M).alias("b"), h.alias("h"))
        .groupBy("event_type", "b")
        .agg(F.min("h").alias("u"))
    )

    def _est(df: DataFrame, keys: list) -> DataFrame:
        agg = df.groupBy(*keys).agg(
            F.count("*").alias("n_hit"), F.sum("u").alias("sum_hit")
        ) if keys else df.agg(
            F.count("*").alias("n_hit"), F.sum("u").alias("sum_hit")
        )
        sum_u = (
            F.col("sum_hit")
            + (F.lit(_KMV_M).cast("long") - F.col("n_hit"))
            * F.lit(_KMV_TWO52)
        )
        return agg.withColumn(
            "est_distinct",
            (
                F.floor(F.lit(_KMV_NUM) / sum_u.cast("double")).cast("long")
                - F.lit(_KMV_M).cast("long")
            ),
        )

    shard_est = _est(shard_mins, ["event_type"]).select(
        F.col("event_type").alias("scope"), "est_distinct"
    )
    merged_mins = shard_mins.groupBy("b").agg(F.min("u").alias("u"))
    merged_est = _est(merged_mins, []).select(
        F.lit("__merged__").alias("scope"), "est_distinct"
    )
    exact = (
        ev.groupBy(F.col("event_type").alias("scope"))
        .agg(F.count_distinct("user_id").cast("long").alias("exact_distinct"))
        .unionByName(
            ev.agg(
                F.count_distinct("user_id").cast("long")
                .alias("exact_distinct")
            ).select(F.lit("__merged__").alias("scope"), "exact_distinct")
        )
    )
    return (
        shard_est.unionByName(merged_est)
        .join(exact, "scope")
        .orderBy("scope")
    )


@query(
    "q_sketch_intersection_estimate",
    oracle=f"""
    WITH t AS (
      SELECT DISTINCT source,
             unnest(string_split_regex(text, '\\s+')) AS tok
      FROM documents
    ),
    h AS (
      SELECT source,
             CAST('0x' || substr(md5(tok), 1, 13) AS BIGINT) AS h,
             tok
      FROM t
    ),
    mins AS (
      SELECT source, h % {_KMV_M} AS b, MIN(h) AS u
      FROM h GROUP BY source, h % {_KMV_M}
    ),
    est_src AS (
      SELECT source,
             CAST(FLOOR({_KMV_NUM!r} / CAST(
               SUM(u) + ({_KMV_M} - COUNT(*)) * {_KMV_TWO52} AS DOUBLE))
               AS BIGINT) - {_KMV_M} AS est
      FROM mins GROUP BY source
    ),
    pr AS (
      SELECT a.source AS source_a, b.source AS source_b
      FROM (SELECT DISTINCT source FROM documents) a
      JOIN (SELECT DISTINCT source FROM documents) b
        ON a.source < b.source
    ),
    umins AS (
      SELECT p.source_a, p.source_b, m.b, MIN(m.u) AS u
      FROM pr p JOIN mins m
        ON m.source = p.source_a OR m.source = p.source_b
      GROUP BY 1, 2, 3
    ),
    est_union AS (
      SELECT source_a, source_b,
             CAST(FLOOR({_KMV_NUM!r} / CAST(
               SUM(u) + ({_KMV_M} - COUNT(*)) * {_KMV_TWO52} AS DOUBLE))
               AS BIGINT) - {_KMV_M} AS est_u
      FROM umins GROUP BY 1, 2
    ),
    ex AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS exact_intersection
      FROM t a JOIN t b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT u.source_a, u.source_b,
           ea.est AS est_a, eb.est AS est_b, u.est_u AS est_union,
           GREATEST(ea.est + eb.est - u.est_u, 0) AS est_intersection,
           COALESCE(ex.exact_intersection, 0) AS exact_intersection,
           ABS(GREATEST(ea.est + eb.est - u.est_u, 0)
               - COALESCE(ex.exact_intersection, 0)) * 1000
             // GREATEST(COALESCE(ex.exact_intersection, 0), 1)
             AS err_per_mille
    FROM est_union u
    JOIN est_src ea ON ea.source = u.source_a
    JOIN est_src eb ON eb.source = u.source_b
    LEFT JOIN ex ON ex.source_a = u.source_a AND ex.source_b = u.source_b
    ORDER BY u.source_a, u.source_b
    """,
    tags=("agg", "sketch", "distinct", "setop"),
    doc="Sketch SET ALGEBRA — vocabulary overlap between every source "
        "pair by KMV inclusion-exclusion (|A n B| ~ est(A) + est(B) - "
        "est(A u B), the union estimated by folding the two bucket-min "
        "sketches — the ClickHouse uniqCombined-intersection idiom and "
        "the standard way cross-corpus contamination/overlap matrices "
        "are sized when exact distinct joins are too big): per-source "
        "KMV sketches on the md5 token hash, pairwise merged, estimates "
        "beside the exact intersection and per-mille error. Every lane "
        "is exact (52-bit integer minima, power-of-two estimator "
        "numerator, floor to BIGINT, trunc-div error), so the "
        "ESTIMATES themselves hash-match the oracle. Scale: sketches "
        f"are |sources| x {_KMV_M} rows built map-side-combinably in "
        "one corpus pass; the pair algebra touches only that sketch "
        "table (a metadata query for any pair set) — the exact lane is "
        "the test-SF truth, the sketch is the 100 TB path.",
)
def q_sketch_intersection_estimate(spark: SparkSession, sf_dir: str
                                   ) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    t = (
        docs.select(
            "source", F.explode(F.split("text", r"\s+")).alias("tok")
        )
        .distinct()
    )
    h = F.conv(F.substring(F.md5("tok"), 1, 13), 16, 10).cast("long")
    mins = (
        t.select("source", (h % _KMV_M).alias("b"), h.alias("h"))
        .groupBy("source", "b")
        .agg(F.min("h").alias("u"))
    )

    def _est_cols(df: DataFrame, keys: list[str], out: str) -> DataFrame:
        agg = df.groupBy(*keys).agg(
            F.count("*").alias("n_hit"), F.sum("u").alias("sum_hit")
        )
        sum_u = (
            F.col("sum_hit")
            + (F.lit(_KMV_M).cast("long") - F.col("n_hit"))
            * F.lit(_KMV_TWO52)
        )
        return agg.select(
            *keys,
            (
                F.floor(F.lit(_KMV_NUM) / sum_u.cast("double")).cast("long")
                - F.lit(_KMV_M).cast("long")
            ).alias(out),
        )

    est_src = _est_cols(mins, ["source"], "est")
    srcs = docs.select("source").distinct()
    pr = (
        srcs.select(F.col("source").alias("source_a"))
        .join(
            F.broadcast(srcs.select(F.col("source").alias("source_b"))),
            F.col("source_a") < F.col("source_b"),
        )
    )
    side_a = pr.join(
        mins.withColumnRenamed("source", "source_a"), "source_a"
    ).select("source_a", "source_b", "b", "u")
    side_b = pr.join(
        mins.withColumnRenamed("source", "source_b"), "source_b"
    ).select("source_a", "source_b", "b", "u")
    umins = (
        side_a.unionByName(side_b)
        .groupBy("source_a", "source_b", "b")
        .agg(F.min("u").alias("u"))
    )
    est_union = _est_cols(umins, ["source_a", "source_b"], "est_u")
    ex = (
        t.select(F.col("source").alias("source_a"), "tok")
        .join(t.select(F.col("source").alias("source_b"), "tok"), "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("exact_intersection"))
    )
    ea = est_src.select(
        F.col("source").alias("source_a"), F.col("est").alias("est_a")
    )
    eb = est_src.select(
        F.col("source").alias("source_b"), F.col("est").alias("est_b")
    )
    est_i = F.greatest(
        F.col("est_a") + F.col("est_b") - F.col("est_union"), F.lit(0)
    )
    return (
        est_union.withColumnRenamed("est_u", "est_union")
        .join(F.broadcast(ea), "source_a")
        .join(F.broadcast(eb), "source_b")
        .join(ex, ["source_a", "source_b"], "left")
        .select(
            "source_a", "source_b", "est_a", "est_b", "est_union",
            est_i.alias("est_intersection"),
            F.coalesce("exact_intersection", F.lit(0)).cast("long")
            .alias("exact_intersection"),
            F.expr(
                "(abs(greatest(est_a + est_b - est_union, 0)"
                " - coalesce(exact_intersection, 0)) * 1000)"
                " div greatest(coalesce(exact_intersection, 0), 1)"
            ).alias("err_per_mille"),
        )
        .orderBy("source_a", "source_b")
    )
