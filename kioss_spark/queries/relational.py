"""Relational queries: TPC-H-style joins/aggregations/windows (the
categories the reference lacks and Catalyst supplies free, SURVEY.md §2.5)
plus facade-operator demonstrations wired to DuckDB oracles.

Scale design notes, applied throughout:
- **broadcast policy**: ``F.broadcast`` hints are reserved for relations
  whose size is CONSTANT in the scale factor — nation (25 rows), region
  (5), and tiny derived relations (1-row scalar aggregates, per-partition
  stats). Tables that scale linearly (orders, customer, supplier, part)
  carry NO hint: AQE sizes them at runtime, broadcasting at bench SF and
  shuffle-joining at 100 TB, where a hard hint on a 2 TB side would OOM
  every executor. A hint is a promise about all future data sizes; only
  make promises the schema can keep;
- aggregations go through map-side partial aggregation (Spark default for
  ``groupBy().agg``);
- windows partition by a key wherever semantics allow (global-order windows
  appear only in the facade-order demos, documented there);
- every filter is a plain column predicate → parquet pushdown.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kioss_spark.functions.timeutil import epoch_us
from kioss_spark.queries import register
from kioss_spark.sources import load_table
from kioss_spark.stream import Stream


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Aggregations (SURVEY.md §2.5 "Aggregations")
# --------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                           AS sum_qty,
           round(sum(l_extendedprice), 2)                                      AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                   AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)     AS sum_charge,
           round(avg(l_quantity), 2)                                           AS avg_qty,
           round(avg(l_extendedprice), 2)                                      AS avg_price,
           round(avg(l_discount), 4)                                           AS avg_disc,
           count(*)                                                            AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: one scan, pushed-down date filter, 8 partial-aggregated
    metrics — the flagship. At 100 TB this is a pure map-side-combine job."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "rollup_order_counts",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets family (absent in the reference; free via Catalyst)."""
    return (
        t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@register(
    "pivot_status_revenue",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_extendedprice END), 2) AS rev_o,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_extendedprice END), 2) AS rev_f
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_extendedprice"), 2))
        .withColumnRenamed("O", "rev_o")
        .withColumnRenamed("F", "rev_f")
    )


@register(
    "agg_distinct_stats",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
           CAST(count(*) AS BIGINT)                  AS n_orders,
           round(avg(o_totalprice), 2)               AS avg_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (expand + two-phase agg in Spark)."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_custs"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
    )


# --------------------------------------------------------------------------
# Joins (SURVEY.md §2.5 "Joins")
# --------------------------------------------------------------------------


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(o_orderdate AS DATE) AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters on both join sides, then a top-k.
    Join strategy is AQE-sized (customer/orders scale with the data — see
    module broadcast policy): at bench SF both sides broadcast at runtime;
    at 100 TB they shuffle on their keys. The top-10 is a TakeOrdered,
    never a global sort."""
    cust = t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz")
    )
    li = t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp_ntz")
    )
    return (
        li.join(orders.join(cust, orders.o_custkey == cust.c_custkey),
                li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("orderdate"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .select("l_orderkey", "revenue", "orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_nation_revenue",
    oracle="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer JOIN orders   ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                  JOIN nation   ON s_nationkey = n_nationkey
                  JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: five joins. nation/region (constant size) are
    hinted broadcast; supplier/orders/customer are AQE-sized (broadcast at
    bench SF, keyed shuffle at 100 TB — module broadcast policy). The
    final groupBy is 25 rows."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    dims = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dims, li.l_suppkey == dims.s_suppkey)
        .join(cust,
              (F.col("o_custkey") == cust.c_custkey)
              & (cust.c_nationkey == F.col("s_nationkey")))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
    )


@register(
    "semi_parts_ordered",
    oracle="""
    SELECT p_partkey, p_brand FROM part
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 45)
    """,
)
def semi_parts_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS)."""
    part = t(spark, sf_dir, "part")
    li = t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    return part.join(li, part.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_brand"
    )


@register(
    "anti_customers_no_pending",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    """,
)
def anti_customers_no_pending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS)."""
    cust = t(spark, sf_dir, "customer")
    pend = t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return cust.join(pend, cust.c_custkey == pend.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "asof_last_signup",
    oracle="""
    SELECT e.event_id, CAST(s.ts AS TIMESTAMP) AS last_signup_ts
    FROM events e
    ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') s
      ON e.user_id = s.user_id AND e.ts >= s.ts
    """,
)
def asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — Spark lacks a native one (SURVEY.md §2.5): composed as a
    per-key running ``last(..., ignorenulls)`` window over the unioned
    stream, which shuffles each key once and never materializes pairs.
    DuckDB's native ASOF JOIN is the oracle."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sig_ts = F.last(
        F.when(F.col("event_type") == "signup", F.col("ts")), ignorenulls=True
    ).over(w)
    return ev.select("event_id", sig_ts.alias("last_signup_ts"))


@register(
    "asof_last_purchase",
    oracle="""
    SELECT c.event_id, p.ts AS purchase_ts,
           CAST(floor(p.value * 100) AS BIGINT) AS purchase_cents
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                    WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table as-of via the generic operators.asof.asof_join (clicks ←
    most recent prior purchase per user). One keyed shuffle, no pair blowup;
    DuckDB's native ASOF JOIN is the oracle."""
    from kioss_spark.operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = asof_join(clicks, purchases, on="ts", by="user_id", values=["ts", "value"])
    return joined.select(
        "event_id",
        F.col("ts_right").alias("purchase_ts"),
        F.floor(F.col("value_right") * 100).cast("long").alias("purchase_cents"),
    )


@register(
    "zip_customers_suppliers",
    oracle="""
    WITH c AS (SELECT c_name, row_number() OVER (ORDER BY c_custkey) AS idx FROM customer),
         s AS (SELECT s_name, row_number() OVER (ORDER BY s_suppkey) AS idx FROM supplier)
    SELECT c.c_name AS left, s.s_name AS right FROM c JOIN s USING (idx)
    """,
)
def zip_customers_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's zip pattern (README.md:481-497) via the facade:
    index-join, truncated at the shorter side."""
    cust = Stream.from_df(t(spark, sf_dir, "customer"), seq="c_custkey").map(F.col("c_name"))
    supp = Stream.from_df(t(spark, sf_dir, "supplier"), seq="s_suppkey").map(F.col("s_name"))
    return cust.zip(supp).to_df(ordered=False)


# --------------------------------------------------------------------------
# Windows / sorts (SURVEY.md §2.5 "Window functions", "Sorts / top-k")
# --------------------------------------------------------------------------


@register(
    "top3_customers_per_segment",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer) WHERE rn <= 3
    """,
)
def top3_customers_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        t(spark, sf_dir, "customer")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal")
    )


@register(
    "running_total_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS UNBOUNDED PRECEDING), 2) AS running
    FROM orders
    """,
)
def running_total_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.round(F.sum("o_totalprice").over(w), 2).alias("running")
    )


@register(
    "sessionize_events",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                       (PARTITION BY user_id ORDER BY ts) > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events)
    SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions
    FROM gaps GROUP BY user_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag + gap>30min flag + count — per-key windows only
    (shuffles once on user_id; no global order anywhere). Gap arithmetic via
    timeutil.epoch_us: ``ts`` is canonical TIMESTAMP_NTZ (F.unix_micros
    hard-fails on NTZ, and any NTZ→TIMESTAMP coercion would be
    session-timezone-dependent)."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    ts_us = epoch_us("ts")
    prev_us = F.lag(ts_us).over(w)
    new_sess = (prev_us.isNull() | (ts_us - prev_us > 1800 * 1_000_000)).cast("long")
    return (
        ev.select("user_id", new_sess.alias("new_session"))
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"))
    )


# --------------------------------------------------------------------------
# Facade operator demos (SURVEY.md §2.1) — each runs through kioss_spark.Stream
# --------------------------------------------------------------------------


@register(
    "op_map_revenue",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(round(l_extendedprice * 100) AS BIGINT)
           * CAST(round((1 - l_discount) * 100) AS BIGINT)
           * CAST(round((1 + l_tax) * 100) AS BIGINT) AS charge_u
    FROM lineitem
    """,
)
def op_map_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream.map — column-expression fast path (JVM-side, codegen).

    The per-row charge is computed in exact integer units (price-cents ×
    discount-hundredths × tax-hundredths): per-row rounding of double
    products is engine-dependent (Spark rounds via BigDecimal HALF_UP,
    DuckDB on the raw binary double), so row-level derived decimals use
    integer arithmetic — aggregate-level rounding stays safe because sums
    land far from rounding boundaries."""
    cents = lambda c, scale: F.round(c * scale).cast("long")  # noqa: E731
    s = Stream.from_df(t(spark, sf_dir, "lineitem"), seq="l_orderkey").map(
        l_orderkey=F.col("l_orderkey"),
        l_linenumber=F.col("l_linenumber"),
        charge_u=cents(F.col("l_extendedprice"), 100)
        * cents(1 - F.col("l_discount"), 100)
        * cents(1 + F.col("l_tax"), 100),
    )
    return s.to_df(ordered=False)


@register(
    "op_filter_highvalue",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice > 300000 AND o_orderstatus = 'O'
    """,
)
def op_filter_highvalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream.filter — Column predicate fast path (parquet pushdown)."""
    s = Stream.from_df(t(spark, sf_dir, "orders"), seq="o_orderkey").filter(
        (F.col("o_totalprice") > 300000) & (F.col("o_orderstatus") == "O")
    )
    return s.to_df(ordered=False).select("o_orderkey", "o_totalprice")


@register(
    "op_flatten_tokens",
    oracle="""
    SELECT token, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest(str_split(text, ' ')) AS token FROM documents)
    WHERE token <> '' GROUP BY token
    """,
)
def op_flatten_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream.flatten — posexplode of array values (narrow, pipelined)."""
    docs = t(spark, sf_dir, "documents")
    s = (
        Stream.from_df(docs, seq="doc_id")
        .map(F.split("text", " "))
        .flatten()
        .filter(F.col("value") != "")
    )
    return (
        s.to_df(ordered=False)
        .groupBy(F.col("value").alias("token"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "op_groupby_key",
    oracle="""
    SELECT event_type AS key, CAST(count(*) AS INT) AS n FROM events GROUP BY event_type
    """,
)
def op_groupby_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream.groupby — co-group per key (shuffle + collect_list), then the
    group size; array contents order-pinned by seq."""
    ev = t(spark, sf_dir, "events")
    s = Stream.from_df(ev, seq="event_id").map(F.col("event_type")).groupby(F.col("value"))
    return s.to_df(ordered=False).select(F.col("key"), F.size("value").alias("n"))


@register(
    "op_group_batches",
    oracle="""
    SELECT min(o_orderkey) AS first_key, CAST(count(*) AS INT) AS n
    FROM (SELECT o_orderkey, (row_number() OVER (ORDER BY o_orderkey) - 1) // 1000 AS bid
          FROM orders)
    GROUP BY bid
    """,
)
def op_group_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream.group(size) — batching by stream order (global-order window:
    meaningful as consumer-side batching, not a 100 TB shuffle pattern)."""
    orders = t(spark, sf_dir, "orders")
    s = Stream.from_df(orders, seq="o_orderkey").map(F.col("o_orderkey")).group(size=1000)
    df = s.to_df(ordered=False)
    return df.select(
        F.element_at("value", 1).alias("first_key"),
        F.size("value").alias("n"),
    )


@register(
    "op_distinct_first",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM (
      SELECT c_custkey, c_mktsegment,
             row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) AS rn
      FROM customer) WHERE rn = 1
    """,
)
def op_distinct_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream.distinct — dedup keeping the FIRST occurrence in stream order
    (the reference's contract; plain dropDuplicates keeps an arbitrary one)."""
    cust = t(spark, sf_dir, "customer")
    s = Stream.from_df(cust, seq="c_custkey").map(
        F.struct("c_custkey", "c_mktsegment")
    ).distinct(key=F.col("value.c_mktsegment"))
    return s.to_df(ordered=False).select(
        F.col("value.c_custkey").alias("c_custkey"),
        F.col("value.c_mktsegment").alias("c_mktsegment"),
    )


@register(
    "op_skip_truncate",
    oracle="""
    SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 50 OFFSET 100
    """,
)
def op_skip_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream.skip + Stream.truncate — offset/limit in stream order."""
    orders = t(spark, sf_dir, "orders")
    s = (
        Stream.from_df(orders, seq="o_orderkey")
        .map(F.col("o_orderkey"))
        .skip(count=100)
        .truncate(count=50)
    )
    return s.to_df(ordered=False).select(F.col("value").alias("o_orderkey"))


@register(
    "op_concat_streams",
    oracle="""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n FROM (
      SELECT o_orderstatus FROM orders WHERE o_totalprice > 250000
      UNION ALL
      SELECT o_orderstatus FROM orders WHERE o_orderstatus = 'P'
    ) GROUP BY o_orderstatus
    """,
)
def op_concat_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream + Stream — concatenation as union with order-preserving seq."""
    orders = t(spark, sf_dir, "orders")
    a = Stream.from_df(
        orders.where(F.col("o_totalprice") > 250000), seq="o_orderkey"
    ).map(F.col("o_orderstatus"))
    b = Stream.from_df(
        orders.where(F.col("o_orderstatus") == "P"), seq="o_orderkey"
    ).map(F.col("o_orderstatus"))
    both = a + b
    return (
        both.to_df(ordered=False)
        .groupBy(F.col("value").alias("o_orderstatus"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _make_parse_k_strict():
    """json-parse props.k; rejects odd k — the deterministic error injector
    (the reference's odd-elements-throw oracle, tests/test_stream.py:98-106).

    Returned as a closure so cloudpickle ships it BY VALUE: executors never
    need kioss_spark importable (the driver's harness controls neither the
    worker PYTHONPATH nor the cwd)."""

    def parse_k_strict(element: dict) -> int:
        import json

        k = json.loads(element["props"])["k"]
        if k % 2 == 1:
            raise ValueError(f"odd k: {k}")
        return k

    return parse_k_strict


_CATCH_ORACLE = """
    SELECT event_id,
           CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 1
                THEN -1
                ELSE CAST(json_extract_string(props, '$.k') AS BIGINT) END AS value
    FROM events
    """


@register("op_catch_replacement", oracle=_CATCH_ORACLE)
def op_catch_replacement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Errors-as-data, JVM fast path: get_json_object parse +
    Stream.validate (column-predicate error injection — zero Python) +
    Stream.catch(ValueError, replacement=-1). At 100 TB validation belongs
    in codegen; see op_catch_pyfn for the Arrow-batched raising-callable
    form of the same pipeline."""
    ev = t(spark, sf_dir, "events")
    s = (
        Stream.from_df(ev.select("event_id", "props"), seq="event_id")
        .map(F.get_json_object(F.col("props"), "$.k").cast("long"))
        .validate(
            F.col("value") % 2 == 0,
            ValueError,
            message=F.concat(F.lit("odd k: "), F.col("value").cast("string")),
        )
        .catch(ValueError, replacement=-1)
    )
    df = s.to_df(ordered=False, keep_seq=True)
    return df.select(
        F.element_at(F.col("__seq__"), 1).alias("event_id"), F.col("value")
    )


@register("op_catch_pyfn", oracle=_CATCH_ORACLE)
def op_catch_pyfn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Errors-as-data, Python path: an opaque raising callable through the
    Arrow-batched map (the reference's odd-elements-throw oracle,
    tests/test_stream.py:98-106), then catch(ValueError, replacement=-1).
    Same oracle as op_catch_replacement — the two paths must agree."""
    ev = t(spark, sf_dir, "events")
    s = (
        Stream.from_df(ev.select("event_id", "props"), seq="event_id")
        .map(_make_parse_k_strict(), returnType=T.LongType())
        .catch(ValueError, replacement=-1)
    )
    df = s.to_df(ordered=False, keep_seq=True)
    return df.select(
        F.element_at(F.col("__seq__"), 1).alias("event_id"), F.col("value")
    )


def _make_async_enrich():
    """Async enrichment stand-in (the reference's amap drives async I/O,
    streamable/stream.py:394-411): awaitable, deterministic arithmetic.
    Closure-wrapped so cloudpickle ships it by value (no worker-side
    kioss_spark import required)."""

    async def async_enrich(element: dict) -> int:
        import asyncio

        await asyncio.sleep(0)
        return element["o_orderkey"] * 3 + len(element["o_orderstatus"])

    return async_enrich


@register(
    "op_amap_enrich",
    oracle="""
    SELECT CAST(o_orderkey * 3 + length(o_orderstatus) AS BIGINT) AS value
    FROM orders WHERE o_orderkey <= 2000
    """,
)
def op_amap_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream.amap — per-batch asyncio loop with bounded in-flight
    coroutines (semaphore = concurrency, the reference's buffersize
    contract). Deterministic math stands in for async I/O."""
    orders = t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 2000)
    s = Stream.from_df(
        orders.select("o_orderkey", "o_orderstatus"), seq="o_orderkey"
    ).amap(_make_async_enrich(), returnType=T.LongType(), concurrency=16)
    return s.to_df(ordered=False).select(F.col("value"))


@register(
    "op_foreach_passthrough",
    oracle="""
    SELECT n_name FROM nation
    """,
)
def op_foreach_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream.foreach — side effect rewritten to map(sidify(effect)), the
    element passes through unchanged (reference:
    streamable/visitors/iterator.py:57-66)."""
    nation = t(spark, sf_dir, "nation")
    s = Stream.from_df(nation.select("n_nationkey", "n_name"), seq="n_nationkey").map(
        F.col("n_name")
    ).foreach(lambda name: None)
    return s.to_df(ordered=False).select(F.col("value").alias("n_name"))


@register(
    "op_observe_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS observed_count,
           CAST(0 AS BIGINT) AS observed_errors
    FROM region
    """,
)
def op_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream.observe — DataFrame.observe accumulators ride the action
    (reference: streamable/iterators.py:351-394); the query RUNS the action
    and returns the observed metrics as data, so the driver verifies the
    counters themselves."""
    region = t(spark, sf_dir, "region")
    s = Stream.from_df(region.select("r_regionkey", "r_name"), seq="r_regionkey").map(
        F.col("r_name")
    ).observe("elements")
    s.count()  # the action that populates the observation
    (_, obs) = s._observations[-1]
    m = obs.get
    return spark.createDataFrame(
        [(int(m.get("count", 0)), int(m.get("errors", 0) or 0))],
        "observed_count long, observed_errors long",
    )


# --------------------------------------------------------------------------
# TPC-H breadth: plan shapes not covered above (exists-semi with inequality,
# pure-pushdown scan agg, outer-join distribution, having + top-k join)
# --------------------------------------------------------------------------


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with an inequality correlate -> LEFT SEMI join
    (never a count-distinct subquery or a join+dedup — the semi join stops
    probing an order at its first qualifying lineitem). The date filter
    prunes orders before the shuffle; the agg output is 5 rows."""
    o = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
    )
    li = t(spark, sf_dir, "lineitem")
    sem = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"]) & (li["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return sem.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT count(*) AS n_items,
           round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: single scan, every predicate pushed to parquet
    (range + between + less-than all reach PushedFilters), global agg via
    partial aggregation — zero shuffles of data, one row out. The purest
    test that filters actually reach the scan."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        ).agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        )
    )


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey)
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join keeps order-less customers (count
    of a nullable key counts only matches), then a second, much smaller
    aggregation over the per-customer counts. First agg shuffles by
    custkey; second input is one row per customer."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q18_large_orders",
    oracle="""
    WITH big AS (
        SELECT l_orderkey, sum(l_quantity) AS sum_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    )
    SELECT c_name, o.o_orderkey, o.o_totalprice,
           CAST(floor(b.sum_qty * 100) AS BIGINT) AS sum_qty_e2
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING on a fact aggregation, join back to orders
    (keyed shuffle on orderkey), AQE-sized customer join, TakeOrdered
    top-100 (never a global sort). Deterministic tie-break on o_orderkey so
    the LIMIT boundary is stable across engines."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 300)
    )
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "o_orderkey",
            "o_totalprice",
            F.floor(F.col("sum_qty") * 100).cast("long").alias("sum_qty_e2"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@register(
    "set_ops_half_year",
    oracle="""
    WITH h1 AS (SELECT DISTINCT o_custkey FROM orders
                WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                  AND o_orderdate <  TIMESTAMP '1996-07-01'),
    h2 AS (SELECT DISTINCT o_custkey FROM orders
                WHERE o_orderdate >= TIMESTAMP '1996-07-01'
                  AND o_orderdate <  TIMESTAMP '1997-01-01')
    SELECT (SELECT count(*) FROM (SELECT * FROM h1 INTERSECT SELECT * FROM h2)) AS n_both,
           (SELECT count(*) FROM (SELECT * FROM h1 EXCEPT    SELECT * FROM h2)) AS n_only_h1,
           (SELECT count(*) FROM (SELECT * FROM h2 EXCEPT    SELECT * FROM h1)) AS n_only_h2
    """,
)
def set_ops_half_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators (SURVEY.md §2.5 "Set ops" — the reference only has
    concat): customers active in both/only-one half of 1996 via
    ``intersect`` / ``exceptAll`` over distinct key sets. Each set op plans
    as a keyed shuffle on o_custkey (hash-partitioned aggregate / left-anti
    shape) — no global sort, no collect."""
    o = t(spark, sf_dir, "orders")
    h1 = (
        o.where((F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz")))
        .select("o_custkey").distinct()
    )
    h2 = (
        o.where((F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz")))
        .select("o_custkey").distinct()
    )
    # one declarative plan (single action), not three driver-side counts
    both = h1.intersect(h2).agg(F.count(F.lit(1)).alias("n_both"))
    only_h1 = h1.exceptAll(h2).agg(F.count(F.lit(1)).alias("n_only_h1"))
    only_h2 = h2.exceptAll(h1).agg(F.count(F.lit(1)).alias("n_only_h2"))
    return both.crossJoin(only_h1).crossJoin(only_h2)


@register(
    "range_join_error_windows",
    oracle="""
    WITH err AS (SELECT user_id, event_id AS error_id, ts AS w_start,
                        ts + INTERVAL 10 MINUTE AS w_end
                 FROM events WHERE event_type = 'error'),
    clk AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
    SELECT e.user_id, e.error_id, count(*) AS n_clicks
    FROM err e JOIN clk c
      ON c.user_id = e.user_id AND c.ts >= e.w_start AND c.ts <= e.w_end
    GROUP BY 1, 2
    """,
)
def range_join_error_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (operators.rangejoin): clicks inside each user's
    10-minute post-error window. A naive BETWEEN join without the chunking
    would plan BroadcastNestedLoop; the chunked interval_join shuffles on
    (user_id, chunk) with bounded interval fan-out (2 copies at
    chunk = window length) — the 100 TB-safe shape."""
    from kioss_spark.operators.rangejoin import interval_join

    ev = t(spark, sf_dir, "events")
    err = ev.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("w_end"),
    )
    clk = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    joined = interval_join(clk, err, "ts", "w_start", "w_end",
                           keys=("user_id",), chunk_seconds=600)
    return joined.groupBy("user_id", "error_id").agg(
        F.count(F.lit(1)).alias("n_clicks")
    )


@register(
    "rollup_hourly_events",
    oracle="""
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_e2,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def rollup_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time rollup: events downsampled to hourly buckets
    per type (count / sum / distinct users). One keyed shuffle on
    (bucket, event_type) with map-side partial agg; at 100 TB this is the
    continuous-aggregate shape — write the result partitioned by bucket and
    it becomes the serving layer a time-series store materializes.

    The bucket is emitted as epoch SECONDS (bigint), not a raw timestamp:
    ``F.date_trunc`` on an NTZ column silently coerces to session-zoned
    TIMESTAMP (the round-2 hash-mismatch), and integer buckets hash
    identically across engines by construction. (The oracle's
    ``sum(BIGINT)`` also needs an outer CAST — DuckDB widens it to HUGEINT,
    which drivers render as float.)"""
    ev = t(spark, sf_dir, "events")
    hour_s = (F.floor(epoch_us("ts") / F.lit(3_600_000_000)) * 3600).cast("long")
    return (
        ev.groupBy(
            hour_s.alias("bucket"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_e2"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H breadth, wave 2 (round 2): the remaining classic plan shapes that
# this testdata's schema supports (no partsupp table -> LITERAL
# q2/q9/q11/q16/q20 are out of reach; no l_shipmode/l_commitdate ->
# q12/q21 — wave 3 below adds ADAPTED analogs preserving each blocked
# literal's plan shape with available columns). Each query here
# exists because its PHYSICAL shape is distinct — role-playing dim joins,
# conditional-aggregate ratios, scalar-subquery thresholds, disjunctive
# pushdown, correlated per-key averages, anti-join + global scalar.
# --------------------------------------------------------------------------


@register(
    "q7_volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
                  JOIN orders   ON o_orderkey = l_orderkey
                  JOIN customer ON c_custkey = o_custkey
                  JOIN nation n1 ON s_nationkey = n1.n_nationkey
                  JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the same dimension table (nation) plays two roles —
    supplier nation and customer nation — with a disjunctive pair filter.
    Scale plan: the nation lookups (constant 25 rows) are hinted
    broadcast; the supplier/customer sides are 2/25 selections but scale
    linearly, so they are AQE-sized (broadcast at bench SF, keyed shuffle
    at 100 TB). The supplier join runs first either way, cutting lineitem
    to ~8% before the lineitem⋈orders fact-fact shuffle."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    pair = ("NATION_1", "NATION_2")
    n1 = t(spark, sf_dir, "nation").where(F.col("n_name").isin(*pair))
    n2 = (
        t(spark, sf_dir, "nation")
        .where(F.col("n_name").isin(*pair))
        .select(
            F.col("n_nationkey").alias("n2_nationkey"),
            F.col("n_name").alias("cust_nation"),
        )
    )
    supp = t(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == n1.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust = t(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("n2_nationkey")
    ).select("c_custkey", "cust_nation")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "q8_market_share",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           round(sum(CASE WHEN n1.n_name = 'NATION_3'
                          THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2)
               AS nation_volume,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_volume
    FROM lineitem JOIN part     ON p_partkey = l_partkey
                  JOIN supplier ON s_suppkey = l_suppkey
                  JOIN orders   ON o_orderkey = l_orderkey
                  JOIN customer ON c_custkey = o_custkey
                  JOIN nation n1 ON s_nationkey = n1.n_nationkey
                  JOIN nation n2 ON c_nationkey = n2.n_nationkey
                  JOIN region   ON n2.n_regionkey = r_regionkey
    WHERE p_type = 'ECONOMY' AND r_name = 'EUROPE'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (market share): conditional aggregation — one pass
    computes both the interesting-nation volume and the total. Numerator
    and denominator are emitted as separate rounded sums instead of a
    double division (cross-engine float discipline, see module docstring).
    Scale plan: nation/region lookups are hinted broadcast; the
    type-filtered part, supplier, and region-filtered customer sides scale
    linearly and are AQE-sized; orders⋈lineitem is the only unavoidable
    fact-fact shuffle."""
    part = t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY").select("p_partkey")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    supp = t(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key")
    ).select("s_suppkey", "supp_nation")
    region = t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    n2 = t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("n2_key"))
    cust = t(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key")
    ).select("c_custkey")
    orders = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = t(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0))),
                2,
            ).alias("nation_volume"),
            F.round(F.sum(vol), 2).alias("total_volume"),
        )
    )


@register(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                AS BIGINT) AS revenue_e2,
           c_acctbal, n_name
    FROM customer JOIN orders   ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue_e2 DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    quarter. Revenue is integerized PER ROW to cents (round(vol*100) as
    bigint) before summing — integer sums are accumulation-order-independent,
    so the rank key is bit-exact across engines and the top-20 cut (custkey
    tiebreak) is deterministic; round(sum(double),2) at this key count hits
    representation boundaries. Scale plan: the quarter-filtered orders and
    customer sides are AQE-sized (still ~1 TB at SF100k — no hint); the
    final top-k is a TakeOrdered over the small aggregate, never a global
    sort."""
    orders = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    li = t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = t(spark, sf_dir, "nation")
    cust = t(spark, sf_dir, "customer").join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("revenue_e2")
        )
        .select("c_custkey", "c_name", "revenue_e2", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue_e2"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q14_promo_effect",
    oracle="""
    SELECT round(sum(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2)
               AS promo_revenue,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: one AQE-sized part join + conditional aggregate over
    one month of shipments. Promo/total are separate rounded sums (no
    cross-engine double division). The month filter is a pushed-down scan
    predicate — at 100 TB with date-partitioned parquet this prunes to
    ~1/36 of files before any compute."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp_ntz"))
    )
    part = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0))), 2
            ).alias("promo_revenue"),
            F.round(F.sum(vol), 2).alias("total_revenue"),
        )
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey AS supplier_no,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: scalar subquery — supplier(s) whose quarterly
    revenue equals the global max. The equality key is the ROUNDED revenue
    (exact across engines). Scale plan: revenue agg is one keyed shuffle;
    the 1-row max is hinted broadcast (a size that IS constant); the
    supplier join is AQE-sized. No second scan of lineitem: the agg result
    is reused for both sides."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx__"))
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("__mx__"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q17_small_quantity",
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (SELECT l_partkey AS pk, count(*) AS cnt,
                 sum(CAST(l_quantity AS BIGINT)) AS tot
          FROM lineitem GROUP BY l_partkey) stats ON stats.pk = l_partkey
    WHERE p_brand = 'Brand#5' AND p_size < 15
      AND 5 * CAST(l_quantity AS BIGINT) * cnt < tot
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-key average — lineitems whose
    quantity is below 20% of their part's average quantity. The threshold
    is evaluated in EXACT integer arithmetic (quantities are integral:
    q < 0.2*tot/cnt  <=>  5*q*cnt < tot), so no float boundary can flip a
    row between engines. Scale plan: the brand-filtered part join runs
    FIRST (AQE-sized) so the per-part stats aggregate only the surviving
    ~1/25 of lineitem — a window over one keyed shuffle, not a self-join
    re-scan of the fact table."""
    part = t(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#5") & (F.col("p_size") < 15)
    ).select("p_partkey")
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    w = Window.partitionBy("l_partkey")
    q = F.col("l_quantity").cast("long")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .withColumn("cnt", F.count(F.lit(1)).over(w))
        .withColumn("tot", F.sum(q).over(w))
        .where(F.lit(5) * q * F.col("cnt") < F.col("tot"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "q19_disjunctive_pushdown",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_matches
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1 AND 5
           AND l_quantity >= 1  AND l_quantity <= 11)
       OR (p_brand = 'Brand#10' AND p_size BETWEEN 1 AND 10
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def q19_disjunctive_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    ranges across the join. Scale plan: the part side is pre-filtered to
    the UNION of the brand/size arms (~3/25 of part, AQE-sized join), the
    quantity envelope (1..30) is pushed into the
    lineitem scan, and the exact per-arm predicate is evaluated post-join
    in codegen — Catalyst cannot push the cross-table disjunction itself,
    so we hoist each side's weakest envelope by hand."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30)
    )
    arm = [
        ("Brand#1", 5, 1, 11),
        ("Brand#10", 10, 10, 20),
        ("Brand#20", 15, 20, 30),
    ]
    part_pred = None
    for brand, mxsize, _, _ in arm:
        p = (F.col("p_brand") == brand) & F.col("p_size").between(1, mxsize)
        part_pred = p if part_pred is None else (part_pred | p)
    part = t(spark, sf_dir, "part").where(part_pred).select(
        "p_partkey", "p_brand", "p_size"
    )
    full_pred = None
    for brand, mxsize, qlo, qhi in arm:
        p = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, mxsize)
            & F.col("l_quantity").between(qlo, qhi)
        )
        full_pred = p if full_pred is None else (full_pred | p)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .where(full_pred)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_matches"),
        )
    )


@register(
    "q22_dormant_customers",
    oracle="""
    SELECT c_nationkey, count(*) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_nationkey
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: global scalar threshold (avg positive balance) +
    anti join (high-balance customers with no RECENT orders — every
    customer has *some* order at these ratios, so the classic no-orders
    form is vacuously empty), grouped by nation. Scale plan: the 1-row
    average broadcasts; orders is date-filtered then pre-aggregated to
    distinct custkeys BEFORE the anti join so the anti side shuffles
    keys, not rows — at 100 TB that is |customers| keys instead of
    |orders| rows."""
    cust = t(spark, sf_dir, "customer")
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__avg__")
    )
    order_keys = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("__avg__"))
        .join(order_keys, cust.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@register(
    "q21_sole_late_supplier",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    JOIN lineitem l1 ON l1.l_suppkey = s_suppkey
    JOIN orders   ON o_orderkey = l1.l_orderkey
    WHERE n_name IN ('NATION_3', 'NATION_7')
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 25
    """,
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: correlated EXISTS + NOT EXISTS as semi/anti
    SELF-joins on the fact table — suppliers (from two target nations) who
    were the ONLY late supplier on a multi-supplier order. The schema has
    no l_commitdate/l_receiptdate, so "late" is adapted to
    l_shipdate > o_orderdate + 90 days (documented divergence; the plan
    shape — double self-join correlate — is the point).

    Scale plan: the late-lines relation is derived ONCE (lineitem |><|
    orders on the order key, AQE-sized) and reused for both the outer rows
    and the NOT-EXISTS side, so the exchange is shared rather than
    recomputed; both the semi and the anti join shuffle on l_orderkey with
    a residual suppkey-inequality predicate (equi-keyed SMJ/SHJ — never a
    nested loop). The nation filter broadcasts (constant 25-row dim) and
    restricts the outer side BEFORE the self-joins; the final count per
    supplier is a tiny keyed aggregate, ordered with a deterministic
    (numwait DESC, s_name) tie-break for the LIMIT."""
    nat = (
        t(spark, sf_dir, "nation")
        .where(F.col("n_name").isin("NATION_3", "NATION_7"))
        .select("n_nationkey")
    )
    supp = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    outer = late.join(supp, late.l_suppkey == supp.s_suppkey)
    others = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    return (
        outer.join(
            others,
            (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("l_orderkey") == F.col("k3")) & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(25)
    )


@register(
    "q11_important_parts",
    oracle="""
    WITH pp AS (SELECT l_partkey,
                       round(sum(l_extendedprice * (1 - l_discount)), 2)
                           AS part_value
                FROM lineitem GROUP BY 1),
    tot AS (SELECT sum(part_value) AS total FROM pp)
    SELECT l_partkey, part_value
    FROM pp, tot
    WHERE part_value > total * 0.00058
    ORDER BY part_value DESC, l_partkey
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: HAVING against a share of the GLOBAL total — parts
    whose revenue exceeds 0.058% of all revenue (the schema has no
    partsupp, so part value is lineitem revenue; the plan shape — grouped
    aggregate filtered by a scalar-subquery fraction of its own total — is
    the point).

    Scale plan: ONE aggregation of the fact table produces the per-part
    values; the grand total re-aggregates that result (2k rows at sf0.01,
    |parts| rows in general — never a second fact-table scan) into a 1-row
    relation that is hint-broadcast (constant size) for the threshold
    filter. The threshold compares values derived from the SAME rounded
    aggregate on both engines, so no float boundary can disagree."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    pp = li.groupBy("l_partkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("part_value")
    )
    tot = pp.agg(F.sum("part_value").alias("__total__"))
    return (
        pp.join(F.broadcast(tot))
        .where(F.col("part_value") > F.col("__total__") * 0.00058)
        .select("l_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


@register(
    "skew_salted_event_totals",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def skew_salted_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe aggregation via explicit two-stage salting
    (operators.skew.salted_agg): events carry only a handful of
    event_type values, so a plain groupBy funnels the whole table through
    ~5 reducers; stage 1 groups on (key, salt=16) spreading each hot key
    over 16 reducers, stage 2 merges 16 partial rows per key. The result
    is algebraically identical to the plain groupBy (the oracle), which
    is the point — salting changes the shuffle shape, never the answer.
    Values are integerized to cents pre-shuffle so partial sums are
    order-independent across engines."""
    from kioss_spark.operators.skew import salted_agg

    ev = t(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("v_e2")
    )
    return salted_agg(ev, key="event_type", value="v_e2", salt_buckets=16)


@register(
    "sql_balance_quartiles",
    oracle="""
    WITH q AS (SELECT n_name, c_name, c_acctbal,
                      ntile(4) OVER (PARTITION BY n_name
                                     ORDER BY c_acctbal DESC, c_custkey) AS quartile
               FROM customer JOIN nation ON c_nationkey = n_nationkey)
    SELECT n_name, quartile,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(floor(sum(CAST(round(c_acctbal * 100) AS BIGINT)) / count(*))
                AS BIGINT) AS avg_balance_e2
    FROM q GROUP BY n_name, quartile
    """,
)
def sql_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-SQL entry path (kioss_spark.sql): NTILE quartiles of customer
    balance within each nation, aggregated per (nation, quartile) — the
    text-declared twin of the DataFrame queries; Catalyst compiles both to
    the same logical algebra, so SQL users get the identical physical plan
    (keyed window + keyed agg; the nation join broadcasts by size). The
    custkey tiebreak makes NTILE assignment total-order deterministic
    across engines."""
    from kioss_spark.sql import sql

    return sql(
        spark,
        sf_dir,
        """
        WITH q AS (SELECT n_name, c_name, c_acctbal,
                          ntile(4) OVER (PARTITION BY n_name
                                         ORDER BY c_acctbal DESC, c_custkey) AS quartile
                   FROM customer JOIN nation ON c_nationkey = n_nationkey)
        SELECT n_name, quartile,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(floor(sum(CAST(round(c_acctbal * 100) AS BIGINT)) / count(*))
                    AS BIGINT) AS avg_balance_e2
        FROM q GROUP BY n_name, quartile
        """,
    )


@register(
    "funnel_click_purchase",
    oracle="""
    WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    m AS (SELECT c.user_id, c.ts,
                 (SELECT min(p.ts) FROM p
                  WHERE p.user_id = c.user_id AND p.ts >= c.ts
                    AND p.ts <= c.ts + INTERVAL 1 HOUR) AS conv_ts
          FROM c)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_clicks,
           CAST(count(conv_ts) AS BIGINT) AS n_converted,
           CAST(floor(count(conv_ts) / count(*) * 1000000) AS BIGINT) AS conv_rate_e6
    FROM m GROUP BY user_id
    """,
)
def funnel_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion: for every click, the user's next purchase within
    one hour (forward as-of join with tolerance — the event-analytics twin
    of the backward trade/quote match), rolled up to per-user conversion
    rates. The oracle's correlated min-subquery is the quadratic form this
    operator exists to avoid: the as-of composition is a union + one keyed
    running-last window — one shuffle on user_id, no pair materialization
    (operators/asof.py)."""
    from kioss_spark.operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    j = asof_join(
        clicks, purchases, on="ts", by="user_id", values=["ts"],
        direction="forward", tolerance=F.expr("INTERVAL 1 HOUR"),
    )
    conv = F.col("ts_right")
    return j.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_clicks"),
        F.count(conv).cast("long").alias("n_converted"),
        F.floor(F.count(conv) / F.count(F.lit(1)) * 1000000).cast("long").alias("conv_rate_e6"),
    )


@register(
    "salted_join_event_weights",
    oracle="""
    WITH dim AS (SELECT DISTINCT event_type,
                        CAST(length(event_type) AS BIGINT) AS type_len
                 FROM events)
    SELECT e.event_type, d.type_len,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS total_e2
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type, d.type_len
    """,
)
def salted_join_event_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replicate-and-salt join (operators.skew.salted_join) gated by the
    plain-join oracle: events carry ~5 hot event_type values, so a shuffle
    join funnels each key through one reducer; salting spreads every hot
    key over 8 buckets (fact rows get a deterministic salt, the dim row
    set is exploded 8x) and the join runs on (key, salt). Salting changes
    the shuffle shape, never the answer — the oracle is the unsalted join.
    Values are integerized to cents pre-agg so sums are order-independent
    across engines."""
    from kioss_spark.operators.skew import salted_join

    ev = t(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("v_e2")
    )
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn("type_len", F.length("event_type").cast("long"))
    )
    joined = salted_join(ev, dim, key="event_type", salt_buckets=8)
    return joined.groupBy("event_type", "type_len").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v_e2").cast("long").alias("total_e2"),
    )


@register(
    "bucketed_user_event_totals",
    oracle="""
    WITH per_type AS (SELECT user_id, event_type,
                             CAST(count(*) AS BIGINT) AS n,
                             CAST(sum(CAST(round(value * 100) AS BIGINT))
                                  AS BIGINT) AS t_e2
                      FROM events GROUP BY user_id, event_type),
    per_user AS (SELECT user_id,
                        CAST(sum(CAST(round(value * 100) AS BIGINT))
                             AS BIGINT) AS user_total_e2
                 FROM events GROUP BY user_id)
    SELECT p.user_id, p.event_type, p.n, p.t_e2, u.user_total_e2
    FROM per_type p JOIN per_user u ON p.user_id = u.user_id
    """,
)
def bucketed_user_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-layout co-location (operators.skew.write_bucketed /
    read_bucketed): events are persisted bucketed by user_id, then BOTH
    aggregations (per-(user,type) and per-user) and the join between them
    consume the bucketed scan's hash distribution — zero exchanges at
    query time (HashPartitioning(user_id) satisfies clustering on
    (user_id, event_type) by the subset rule, and the join keys match the
    bucket key). This is the durable form of the per-query repartition the
    dedup operators do; at 100 TB the write cost amortizes over every
    downstream join/agg on the key. The oracle is the same algebra over
    the unbucketed table — layout changes the plan, never the answer."""
    from kioss_spark.operators.skew import read_bucketed, write_bucketed

    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.round(F.col("value") * 100).cast("long").alias("v_e2")
    )
    write_bucketed(ev, "kioss_ev_bucketed", bucket_by="user_id", n_buckets=8)
    b = read_bucketed(spark, "kioss_ev_bucketed")
    per_type = b.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v_e2").cast("long").alias("t_e2"),
    )
    per_user = b.groupBy("user_id").agg(
        F.sum("v_e2").cast("long").alias("user_total_e2")
    )
    return per_type.join(per_user, "user_id")


@register(
    "gapfill_hourly_locf",
    oracle="""
    WITH ev AS (SELECT user_id, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket,
                       CAST(round(value * 100) AS BIGINT) AS v_e2 FROM events),
    per AS (SELECT user_id, bucket, CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(v_e2) AS BIGINT) AS sum_value_e2 FROM ev GROUP BY 1, 2),
    span AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM per GROUP BY 1),
    grid AS (SELECT user_id, CAST(unnest(range(b0, b1 + 1, 3600)) AS BIGINT) AS bucket
             FROM span),
    j AS (SELECT g.user_id, g.bucket, p.n_events, p.sum_value_e2
          FROM grid g LEFT JOIN per p USING (user_id, bucket))
    SELECT user_id, bucket,
           coalesce(n_events, 0) AS n_events,
           last_value(sum_value_e2 IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_value_e2,
           n_events IS NULL AS is_gap
    FROM j
    """,
)
def gapfill_hourly_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill + LOCF (operators.timeseries.gapfill_locf):
    each user's hourly activity series densified onto every hour between
    their first and last event — counts zero-filled, the hourly value
    total carried forward (TimescaleDB ``time_bucket_gapfill`` +
    ``locf``), gaps flagged. The serving-side regularization every
    downstream anomaly/forecast consumer wants after the
    rollup_hourly_events continuous aggregate.

    Scale plan: grid generation is a narrow per-user sequence/explode
    (fan-out = span/step); the observation join is keyed on
    (user, bucket); LOCF is a keyed running window. Bound the span at
    the scan (time-range predicate) before gap-filling at 100 TB."""
    from kioss_spark.operators.timeseries import gapfill_locf

    ev = t(spark, sf_dir, "events")
    hour_s = (F.floor(epoch_us("ts") / F.lit(3_600_000_000)) * 3600).cast("long")
    per = ev.groupBy(F.col("user_id"), hour_s.alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("sum_value_e2"),
    )
    return gapfill_locf(
        per,
        keys=["user_id"],
        bucket="bucket",
        step=3600,
        zero_cols=["n_events"],
        locf_cols=["sum_value_e2"],
    )


# ---------------------------------------------------------------------------
# Wave 3 — ADAPTED analogs of the five fixture-blocked TPC-H literals.
#
# The driver parquet lacks partsupp and the l_shipmode/l_commitdate columns,
# so literal q2/q9/q12/q16/q20 cannot be expressed (documented at the wave-2
# header). Each adaptation below preserves the PLAN SHAPE the literal
# exercises — the join graph, the correlation pattern, the aggregation
# structure — swapping only the unavailable column for an available analog,
# so the engine demonstrably runs every classic TPC-H shape:
#   q2  : correlated per-group max over a multi-dim dimension join
#   q9  : 5-table profit rollup by (nation, year) with a LIKE part filter
#   q12 : join + CASE-bucketed conditional aggregation
#   q16 : distinct-pair relationship count with an exclusion anti-join
#   q20 : nested semi-join with a correlated share-of-total threshold
# ---------------------------------------------------------------------------


@register(
    "q9_profit_adapted",
    oracle="""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT))
                    - 80 * CAST(round(p_retailprice * 100) AS BIGINT)
                         * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_profit_e4
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def q9_profit_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation/year), ADAPTED:
    ps_supplycost does not exist in the fixtures, so unit cost is proxied
    as 80% of p_retailprice — the join graph (lineitem x part x supplier x
    nation x orders), the LIKE part filter, and the (nation, year) rollup
    are the literal's. nation is hinted broadcast (constant size);
    part/supplier/orders are AQE-sized; the LIKE filter reaches the part
    scan as a pushed predicate."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").where(F.col("p_name").contains("widget"))
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    orders = t(spark, sf_dir, "orders")
    # exact integer profit in e4 units (cents x percent): the fixtures are
    # 2-decimal prices / 2-decimal discounts / integral quantities, so the
    # aggregate is order-independent — a round(sum(double), 2) here was
    # observed to straddle a rounding boundary between engines
    amount_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
        - 80 * F.round(F.col("p_retailprice") * 100).cast("long")
        * F.col("l_quantity").cast("long")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(amount_e4).cast("long").alias("sum_profit_e4"))
    )


@register(
    "q12_shipclass_adapted",
    oracle="""
    SELECT CASE WHEN l_shipdate >= o_orderdate + INTERVAL 60 DAY
                THEN 'SLOW' ELSE 'FAST' END AS ship_class,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
)
def q12_shipclass_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority audit), ADAPTED: the
    fixtures have no l_shipmode/l_commitdate, so lines are bucketed by
    actual shipping delay (shipdate >= orderdate + 60 days = SLOW) — the
    literal's join + CASE-bucketed conditional aggregation is intact.
    The date range is pushed to the lineitem scan; the per-class rollup
    is 2 rows out of one keyed agg with map-side combine."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    orders = t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.when(
                F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
                F.lit("SLOW"),
            ).otherwise(F.lit("FAST")).alias("ship_class")
        )
        .agg(
            F.sum(high.cast("long")).cast("long").alias("high_line_count"),
            F.sum((~high).cast("long")).cast("long").alias("low_line_count"),
        )
    )


@register(
    "q16_supplier_variety_adapted",
    oracle="""
    WITH rel AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    ok AS (SELECT rel.* FROM rel
           WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM ok JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 11, 17, 23, 29, 37, 41)
    GROUP BY 1, 2, 3
    """,
)
def q16_supplier_variety_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier variety per part segment), ADAPTED: the
    partsupp relationship table is role-played by the DISTINCT
    (l_partkey, l_suppkey) pairs actually traded, and the literal's
    complaint-supplier exclusion becomes a negative-balance exclusion
    (same anti-join structure). Distinct-pair extraction is one keyed
    shuffle; the exclusion is a broadcast anti-join (supplier is the
    small side); the final distinct count is the two-phase expansion
    keyed on the (brand, type, size) segment."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 11, 17, 23, 29, 37, 41)
    )
    bad = t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    rel = li.select("l_partkey", "l_suppkey").distinct()
    ok = rel.join(bad, rel.l_suppkey == bad.s_suppkey, "left_anti")
    return (
        ok.join(part, ok.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@register(
    "q20_dominant_supplier_adapted",
    oracle="""
    WITH q96 AS (
        SELECT l_partkey, l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty96
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY 1, 2),
    tot AS (
        SELECT l_partkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_all
        FROM lineitem GROUP BY 1),
    dominant AS (
        SELECT DISTINCT l_suppkey
        FROM q96
        JOIN tot USING (l_partkey)
        JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'small%' AND 10 * qty96 > qty_all)
    SELECT s_name, n_name
    FROM supplier JOIN nation ON n_nationkey = s_nationkey
    WHERE s_suppkey IN (SELECT l_suppkey FROM dominant)
    """,
)
def q20_dominant_supplier_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers holding excess stock of filtered
    parts), ADAPTED: ps_availqty's share-of-demand correlate becomes a
    share-of-shipments correlate — a supplier is 'dominant' for a
    'small%' part if its 1996 shipments alone exceed 10% of the part's
    all-time shipped quantity (1996 is ~15% of the fixture's span, so a
    >10% single-year share marks a genuinely outsized supplier). The literal's nested structure is intact: inner
    per-(part, supplier) agg, correlated threshold against a per-part
    agg, part-name semi-filter, outer semi-join into supplier x nation.
    Quantities are summed as BIGINT (fixtures are integral) so the
    threshold compare is integer-exact on both engines; the final
    membership is a left_semi join, never IN-collect."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").where(F.col("p_name").startswith("small"))
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    q96 = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty96"))
    )
    tot = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty_all")
    )
    dominant = (
        q96.join(tot, "l_partkey")
        .join(part, q96.l_partkey == part.p_partkey)
        .where(10 * F.col("qty96") > F.col("qty_all"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(dominant, supp.s_suppkey == dominant.l_suppkey, "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("s_name", "n_name")
    )


@register(
    "q2_best_supplier_adapted",
    oracle="""
    WITH rel AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    sup AS (
        SELECT rel.l_partkey AS partkey, s_suppkey, s_name, s_acctbal, n_name
        FROM rel
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        JOIN region ON r_regionkey = n_regionkey AND r_name = 'EUROPE'),
    best AS (SELECT partkey, max(s_acctbal) AS best_bal FROM sup GROUP BY 1)
    SELECT p_partkey, p_brand, s_name, n_name, round(s_acctbal, 2) AS s_acctbal
    FROM part
    JOIN sup ON sup.partkey = p_partkey
    JOIN best ON best.partkey = p_partkey AND s_acctbal = best_bal
    WHERE p_type = 'ECONOMY' AND p_size <= 15
    """,
)
def q2_best_supplier_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier per part in a region),
    ADAPTED: ps_supplycost's correlated MIN becomes a correlated MAX over
    s_acctbal among the suppliers that actually traded the part (the
    DISTINCT lineitem relationship again role-playing partsupp) — the
    literal's structure is intact: multi-dim supplier x nation x region
    join, per-part correlated extremum, equality join back on the
    extremum (ties keep all rows, as in the literal). region/nation are
    broadcast (constant size); the correlated agg and the join back are
    both keyed on partkey. s_acctbal passes through round(2) untouched
    (fixtures are 2-decimal) purely to pin the float contract."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").where(
        (F.col("p_type") == "ECONOMY") & (F.col("p_size") <= 15)
    )
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    rel = li.select("l_partkey", "l_suppkey").distinct()
    sup = (
        rel.join(supp, rel.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("l_partkey").alias("partkey"),
            "s_suppkey", "s_name", "s_acctbal", "n_name",
        )
    )
    best = (
        sup.groupBy("partkey")
        .agg(F.max("s_acctbal").alias("best_bal"))
        .withColumnRenamed("partkey", "best_partkey")  # break self-lineage ambiguity
    )
    return (
        part.join(sup, part.p_partkey == sup.partkey)
        .join(
            best,
            (F.col("partkey") == F.col("best_partkey"))
            & (F.col("s_acctbal") == F.col("best_bal")),
        )
        .select(
            "p_partkey", "p_brand", "s_name", "n_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
        )
    )


@register(
    "fuzzy_part_names",
    oracle="""
    WITH v AS (SELECT DISTINCT p_name AS name FROM part)
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
    FROM v a JOIN v b ON a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 1
    """,
)
def fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance<=1 fuzzy join over the part-name vocabulary
    (operators.fuzzy.ed1_pairs, FastSS deletion neighborhoods): candidate
    pairs come from a variant-keyed equi-join — never a quadratic name
    product — and exact levenshtein verifies candidates only. The oracle
    is deliberately the brute-force quadratic form: the deletion-1 scheme
    is COMPLETE for ed<=1, so matching the brute-force output verifies
    completeness, not just precision (same values, different plan — the
    mix_weighted_order discipline)."""
    from kioss_spark.operators.fuzzy import ed1_pairs

    part = t(spark, sf_dir, "part")
    return ed1_pairs(part, col="p_name", verify_max=1)


@register(
    "rolling_7d_user_value",
    oracle="""
    WITH ev AS (SELECT event_id, user_id,
                       CAST(floor(epoch(ts)) AS BIGINT) AS t_s,
                       CAST(round(value * 100) AS BIGINT) AS v_e2
                FROM events)
    SELECT event_id, user_id, t_s,
           CAST(sum(v_e2) OVER (
               PARTITION BY user_id ORDER BY t_s
               RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS sum_7d_e2,
           CAST(count(*) OVER (
               PARTITION BY user_id ORDER BY t_s
               RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_7d
    FROM ev
    """,
)
def rolling_7d_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling aggregate per user at event grain — the
    time-RANGE window frame (rangeBetween over epoch seconds) none of the
    other window queries exercise: running_total is cumulative rows,
    rollup buckets are tumbling; this is the sliding time frame a
    monitoring/feature pipeline computes (trailing spend, trailing event
    count). Keyed by user — never a global window; ties in t_s share the
    frame on both engines because RANGE (not ROWS) semantics include all
    peer rows. Values are integerized (epoch seconds, cents) so the
    windowed sums are order-independent and engine-exact."""
    from kioss_spark.functions.timeutil import epoch_us

    ev = t(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        F.floor(epoch_us("ts") / F.lit(1_000_000)).cast("long").alias("t_s"),
        F.round(F.col("value") * 100).cast("long").alias("v_e2"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_s")
        .rangeBetween(-604800, Window.currentRow)
    )
    return base.select(
        "event_id", "user_id", "t_s",
        F.sum("v_e2").over(w).cast("long").alias("sum_7d_e2"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_7d"),
    )


@register(
    "cube_status_segment",
    oracle="""
    SELECT o_orderstatus, c_mktsegment,
           CAST(GROUPING(o_orderstatus, c_mktsegment) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_price_e2
    FROM orders JOIN customer ON c_custkey = o_custkey
    GROUP BY CUBE (o_orderstatus, c_mktsegment)
    """,
)
def cube_status_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation with grouping_id — the full grouping-sets lattice
    (status x segment, status-only, segment-only, grand total in one
    pass), completing the multi-level-aggregate family next to
    rollup_order_counts' hierarchy form. Spark expands the cube map-side
    and partially aggregates before the single keyed shuffle; gid is the
    standard bitmask (1 bit per aggregated-away column) and identical
    across engines. Price totals are integerized cents so every lattice
    cell is order-independent and engine-exact."""
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .cube("o_orderstatus", "c_mktsegment")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("sum_price_e2"),
        )
        .select("o_orderstatus", "c_mktsegment", "gid", "n_orders", "sum_price_e2")
    )


@register(
    "json_props_stats",
    oracle="""
    WITH p AS (SELECT event_type,
                      CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
               FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(k) AS BIGINT) AS n_with_k,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k
    FROM p GROUP BY 1
    """,
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: the JSON ``props`` payload parsed with a
    DECLARED schema (``from_json`` — single parse per row, typed columns,
    malformed/missing keys become NULLs that aggregate correctly) and
    rolled up per event type. The schema-declared form is the 100 TB
    discipline: ``get_json_object`` per key re-parses the document per
    extraction, and schema inference would need an extra pass; from_json
    parses once into a struct the optimizer can prune. One keyed agg with
    map-side combine."""
    ev = t(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k long")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count("k").cast("long").alias("n_with_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
    )


@register(
    "retention_cohorts",
    oracle="""
    WITH u AS (SELECT user_id,
                      CAST(floor(epoch_us(ts) / 604800000000.0) AS BIGINT) AS wk
               FROM events),
    first AS (SELECT user_id, min(wk) AS cohort_wk FROM u GROUP BY 1),
    act AS (SELECT DISTINCT user_id, wk FROM u),
    sz AS (SELECT cohort_wk, CAST(count(*) AS BIGINT) AS cohort_n
           FROM first GROUP BY 1),
    ret AS (SELECT f.cohort_wk, a.wk - f.cohort_wk AS wk_offset,
                   CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
            FROM act a JOIN first f USING (user_id) GROUP BY 1, 2)
    SELECT ret.cohort_wk, ret.wk_offset, ret.n_users, sz.cohort_n,
           CAST(floor(1000000.0 * ret.n_users / sz.cohort_n) AS BIGINT)
               AS retention_e6
    FROM ret JOIN sz USING (cohort_wk)
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention-cohort matrix: users grouped by first-activity
    week (the cohort), tracked as the distinct-active share per weeks-
    since-cohort offset — THE product/engagement health view, and for a
    training-data pipeline the user-activity decay profile that sizes
    time-range sampling windows. Week ids are integer epoch-week numbers
    (floor(epoch_us/week)): no calendar/timezone semantics anywhere, so
    every engine agrees in any session timezone.

    Scale plan: one user-keyed agg for first-activity, one distinct over
    (user, week) — both map-side combining; the cohort matrix itself is
    weeks x offsets, constant-sized relative to the event stream. The
    distinct-user recount per cell shuffles (cohort, offset, user) rows
    once; cohort sizes are a broadcast-sized join back."""
    ev = t(spark, sf_dir, "events")
    wk = F.floor(epoch_us("ts") / F.lit(604_800_000_000.0)).cast("long")
    u = ev.select("user_id", wk.alias("wk"))
    first = u.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    act = u.distinct()
    sz = first.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_n")
    )
    ret = (
        act.join(first, "user_id")
        .groupBy("cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("wk_offset"))
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
    )
    return ret.join(sz, "cohort_wk").select(
        "cohort_wk",
        "wk_offset",
        "n_users",
        "cohort_n",
        F.floor(F.lit(1000000.0) * F.col("n_users") / F.col("cohort_n"))
        .cast("long")
        .alias("retention_e6"),
    )


@register(
    "funnel_delay_quantiles",
    oracle="""
    WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    m AS (SELECT c.user_id, c.ts,
                 (SELECT min(p.ts) FROM p
                  WHERE p.user_id = c.user_id AND p.ts >= c.ts
                    AND p.ts <= c.ts + INTERVAL 1 HOUR) AS conv_ts
          FROM c),
    d AS (SELECT CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) % 24
                     AS hour_of_day,
                 CAST(floor((epoch_us(conv_ts) - epoch_us(ts)) / 1000000.0)
                      AS BIGINT) AS delay_s
          FROM m WHERE conv_ts IS NOT NULL)
    SELECT hour_of_day, CAST(count(*) AS BIGINT) AS n,
           CAST(quantile_disc(delay_s, 0.5) AS BIGINT) AS q_50,
           CAST(quantile_disc(delay_s, 0.9) AS BIGINT) AS q_90
    FROM d GROUP BY 1
    """,
)
def funnel_delay_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: median/p90 click-to-purchase delay
    (forward as-of join, 1-hour tolerance) per wall-clock hour of day —
    the latency profile behind funnel SLAs and attribution-window sizing.
    Hour-of-day is pure integer epoch arithmetic (no calendar/tz
    semantics), so every engine agrees in any session timezone.

    Scale plan: the as-of composition is a union + one keyed running-last
    window (one user_id shuffle; the oracle's correlated min-subquery is
    the quadratic form it avoids), then delays flow into a KLL quantile
    sketch (operators.sketch.kll_quantiles) — one map-side-combining
    keyed agg, O(k) state per group. Fixture groups sit inside KLL's
    exact-retention regime so the quantiles ARE the order statistics
    (== quantile_disc); at 100 TB the same plan degrades to bounded
    ~0.4% rank error instead of a full sort."""
    from kioss_spark.operators.asof import asof_join
    from kioss_spark.operators.sketch import kll_quantiles

    ev = t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    j = asof_join(
        clicks, purchases, on="ts", by="user_id", values=["ts"],
        direction="forward", tolerance=F.expr("INTERVAL 1 HOUR"),
    )
    d = j.where(F.col("ts_right").isNotNull()).select(
        F.pmod(
            F.floor(epoch_us("ts") / F.lit(3_600_000_000.0)).cast("long"),
            F.lit(24),
        ).alias("hour_of_day"),
        F.floor((epoch_us("ts_right") - epoch_us("ts")) / F.lit(1_000_000.0))
        .cast("long")
        .alias("delay_s"),
    )
    return kll_quantiles(
        d, F.col("delay_s"), by=["hour_of_day"], quantiles=(0.5, 0.9), k=1024
    )


@register(
    "sequence_view_click_purchase",
    oracle="""
    WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    m AS (SELECT v.user_id, v.ts,
                 CASE WHEN c.ts <= v.ts + INTERVAL 30 MINUTE THEN c.ts END
                     AS c_ts
          FROM v ASOF LEFT JOIN c
            ON v.user_id = c.user_id AND c.ts >= v.ts),
    m2 AS (SELECT m.user_id, m.ts, m.c_ts,
                  CASE WHEN p.ts <= m.c_ts + INTERVAL 30 MINUTE THEN p.ts END
                      AS p_ts
           FROM m ASOF LEFT JOIN p
             ON m.user_id = p.user_id AND p.ts >= m.c_ts)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_views,
           CAST(count(p_ts) AS BIGINT) AS n_completed,
           CAST(floor(count(p_ts) / count(*) * 1000000) AS BIGINT)
               AS completion_e6
    FROM m2 GROUP BY 1
    """,
)
def sequence_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step ordered event-sequence detection (MATCH_RECOGNIZE
    analog): per user, how many `view` events complete the full
    view -> first click within 30 min -> first purchase within 30 min of
    that click chain — multi-step funnel / CEP pattern matching, the
    generalization of the two-step funnel to arbitrary step chains (each
    additional step is one more as-of composition).

    Scale plan: each step is a forward as-of join with tolerance — a
    union + one keyed running-last window per step (operators/asof.py),
    so an s-step pattern costs s user-keyed shuffles and zero pair
    materialization. The oracle's NESTED correlated min-subqueries are
    exactly the quadratic form this shape avoids."""
    from kioss_spark.operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    tol = F.expr("INTERVAL 30 MINUTES")
    v = ev.where(F.col("event_type") == "view").select("user_id", "ts")
    c = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    p = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    s1 = asof_join(
        v, c, on="ts", by="user_id", values=["ts"], direction="forward",
        tolerance=tol,
    )
    s1c = s1.where(F.col("ts_right").isNotNull()).select(
        "user_id", F.col("ts_right").alias("ts")
    )
    s2 = asof_join(
        s1c, p, on="ts", by="user_id", values=["ts"], direction="forward",
        tolerance=tol,
    )
    completed = (
        s2.where(F.col("ts_right").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_completed"))
    )
    base = v.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_views")
    )
    return base.join(completed, "user_id", "left").select(
        "user_id",
        "n_views",
        F.coalesce("n_completed", F.lit(0)).cast("long").alias("n_completed"),
        F.floor(
            F.coalesce("n_completed", F.lit(0)) / F.col("n_views") * 1000000
        )
        .cast("long")
        .alias("completion_e6"),
    )


def _zexpr_sql(a: str, b: str, bits: int = 16) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) * {1 << (2 * i)})")
        terms.append(f"((({b} >> {i}) & 1) * {1 << (2 * i + 1)})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@register(
    "zorder_event_layout",
    oracle=f"""
    WITH e AS (SELECT CAST(user_id % 256 AS BIGINT) AS u,
                      CAST(CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT)
                           % 256 AS BIGINT) AS h
               FROM events),
    z AS (SELECT u, h, {_zexpr_sql('u', 'h', bits=8)} AS zv FROM e),
    b AS (SELECT zv // 256 AS z_bucket, u, h FROM z)
    SELECT z_bucket, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT u) AS BIGINT) AS n_users,
           CAST(count(DISTINCT h) AS BIGINT) AS n_hours,
           CAST(min(u) AS BIGINT) AS u_min, CAST(max(u) AS BIGINT) AS u_max,
           CAST(min(h) AS BIGINT) AS h_min, CAST(max(h) AS BIGINT) AS h_max
    FROM b GROUP BY 1
    """,
)
def zorder_event_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout audit for the event stream: interleave
    user_id and epoch-hour into a z-value (operators.skew.zvalue) and
    profile each z-bucket's min/max span in BOTH dimensions — the
    data-skipping effectiveness check behind OPTIMIZE ZORDER: tight
    u/h ranges per bucket mean file-level min/max statistics prune scans
    for predicates on EITHER column. In production the z-value feeds
    repartitionByRange + sortWithinPartitions before the write; here the
    bucket profile (z div 256 = one 16x16 tile of (u, h) space per
    bucket, so every bucket's span is provably <= 15 in BOTH dimensions)
    IS the audit, deterministic and engine-exact — bit interleaving is
    pure integer codegen, the only shuffle is the bucket agg."""
    from kioss_spark.operators.skew import zvalue

    ev = t(spark, sf_dir, "events")
    e = ev.select(
        F.pmod(F.col("user_id"), F.lit(256)).cast("long").alias("u"),
        F.pmod(
            F.floor(epoch_us("ts") / F.lit(3_600_000_000.0)).cast("long"),
            F.lit(256),
        ).alias("h"),
    )
    z = e.withColumn("zv", zvalue("u", "h", bits=8))
    b = z.select(F.expr("zv div 256").alias("z_bucket"), "u", "h")
    return b.groupBy("z_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_distinct("u").cast("long").alias("n_users"),
        F.count_distinct("h").cast("long").alias("n_hours"),
        F.min("u").cast("long").alias("u_min"),
        F.max("u").cast("long").alias("u_max"),
        F.min("h").cast("long").alias("h_min"),
        F.max("h").cast("long").alias("h_max"),
    )


# No oracle by design: file boundaries are physical layout, which DuckDB
# cannot see, so a rows-only (``no_oracle``) result here is expected.
@register("layout_small_files_audit", oracle=None)
def layout_small_files_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Written-layout health audit of the documents table: file count,
    rows/bytes per file extrema, and max/avg skew ratios — the companion
    query to the ``write_parquet(target_mb= / max_records_per_file=)``
    output-sizing levers (operators/skew.py:file_layout_audit has the
    full scale argument; roundtrip file-count pins live in
    tests/test_round10_ops.py).

    Rows-only oracle BY DESIGN: file boundaries are physical layout, not
    relational content — DuckDB's registered views cannot see them (the
    documented non-SQL-expressible class). Determinism still holds: the
    fixture layout is static, so the single output row is stable across
    runs; the unit tests verify the VALUES against layouts they write
    themselves."""
    from kioss_spark.operators.skew import file_layout_audit

    return file_layout_audit(spark, f"{sf_dir}/documents.parquet")


@register("layout_zorder_pruning", oracle=None)
def layout_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER, measured end-to-end: rewrite the event stream's
    (u, h) projection (the zorder_event_layout dimensions) from a
    fragmented layout two ways — plain compaction (round-robin) and
    clustered compaction (``compact_parquet(cluster_by=["u", "h"])`` =
    range-partition + sort on the interleaved z-value) — and report the
    ``pruning_effectiveness_audit`` of BOTH layouts for BOTH dimensions:
    the e4 fraction of files a point predicate must open.  Round-robin
    files span ~the whole domain of every column (avg -> 10000); z-order
    tiles collapse both dimensions at once — the number OPTIMIZE ZORDER
    exists to improve, measured on the actual written files rather than
    asserted from the curve. Output: one row per (layout, col), 4 rows.

    Rows-only oracle BY DESIGN: file boundaries and min/max footer stats
    are physical layout, invisible to the relational oracle (the
    layout_small_files_audit class); the VALUES are pinned by the
    round-11 unit tests against layouts the tests write themselves
    (size target held by both rewrites, pruning collapse >= 2x on both
    dimensions under z-order).

    Scale shape: both rewrites are ONE shuffle each (round-robin /
    range-on-z); the audits are file-grain aggs plus a 32-row broadcast
    probe join — never row-grain, never file-pairs."""
    import tempfile

    from kioss_spark.operators.skew import (
        compact_parquet,
        pruning_effectiveness_audit,
    )

    ev = t(spark, sf_dir, "events")
    e = ev.select(
        F.pmod(F.col("user_id"), F.lit(256)).cast("long").alias("u"),
        F.pmod(
            F.floor(epoch_us("ts") / F.lit(3_600_000_000.0)).cast("long"),
            F.lit(256),
        ).alias("h"),
        F.col("event_id").alias("payload"),
    )
    base = tempfile.mkdtemp(prefix="kioss_zorder_")
    src = f"{base}/frag"
    e.repartition(16).write.parquet(src)  # the fragmented starting layout
    out = None
    for tag, cluster in (("roundrobin", None), ("zorder", ["u", "h"])):
        dst = f"{base}/{tag}"
        compact_parquet(
            spark, src, dst, target_mb=0.008, cluster_by=cluster, zbits=8
        )
        audit = pruning_effectiveness_audit(spark, dst, ["u", "h"]).select(
            F.lit(tag).alias("layout"),
            "col",
            "n_files",
            "avg_files_hit_e4",
            "max_files_hit_e4",
        )
        out = audit if out is None else out.unionByName(audit)
    return out.orderBy("layout", "col")


@register(
    "manifest_ingest_scan",
    oracle="""
    WITH e AS (SELECT CAST(user_id % 64 AS BIGINT) AS u,
                      CAST(event_id AS BIGINT) AS payload,
                      CAST(event_id % 3 AS BIGINT) AS b
               FROM events)
    SELECT u, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT b) AS BIGINT) AS n_batches,
           CAST(min(payload) AS BIGINT) AS payload_min,
           CAST(max(payload) AS BIGINT) AS payload_max
    FROM e WHERE u BETWEEN 2 AND 9 GROUP BY u
    """,
)
def manifest_ingest_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-as-truth ingest, oracle-verified end-to-end: the event
    stream arrives in three batches (event_id % 3 — the micro-batch
    stand-in), each committed through ``manifest_sink`` (data directory
    first, THEN its ``stats_index`` rows as a manifest version — the
    plain-parquet Delta-log commit), and the query is answered by
    ``skipping_scan`` over the LIVE manifest: candidate files from the
    committed stats only, ``u BETWEEN 2 AND 9`` applied after.

    The DuckDB oracle aggregates the FULL logical table, so hash
    equality proves the composed contract: no ingested row is lost by
    the manifest handoff, and no candidate the pruning drops was needed
    (min/max skipping stays conservative across independently-committed
    batches whose files all overlap in u — pruning here collapses only
    within batches, which is exactly what an unclustered ingest gives;
    clustering is compact_incremental/compact_parquet's job afterward).
    The exactly-once-visibility half (crash window, idempotent replay,
    kill-and-resume) is pinned in tests/test_streaming.py.

    Scale shape: each commit is batch-grain (write + one file-grain
    stats agg); the manifest read is n_files x n_cols rows; the
    candidate collect is n_files-bounded; the served scan reads only
    listed files."""
    import tempfile

    from kioss_spark.operators.skew import (
        manifest_sink,
        read_manifest,
        skipping_scan,
    )

    ev = t(spark, sf_dir, "events")
    e = ev.select(
        F.pmod(F.col("user_id"), F.lit(64)).cast("long").alias("u"),
        F.col("event_id").cast("long").alias("payload"),
        F.pmod(F.col("event_id"), F.lit(3)).cast("long").alias("b"),
    )
    base = tempfile.mkdtemp(prefix="kioss_manifest_")
    data, manifest = f"{base}/data", f"{base}/manifest"
    sink = manifest_sink(data, manifest, ["u"])
    for batch_id in range(3):
        sink(e.where(F.col("b") == batch_id), batch_id)
    hits = skipping_scan(
        spark, data, ranges={"u": (2, 9)},
        index=read_manifest(spark, manifest),
    )
    return hits.groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_distinct("b").cast("long").alias("n_batches"),
        F.min("payload").cast("long").alias("payload_min"),
        F.max("payload").cast("long").alias("payload_max"),
    )


@register(
    "skipping_scan_events",
    oracle="""
    WITH e AS (SELECT CAST(user_id % 256 AS BIGINT) AS u,
                      CAST(CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT)
                           % 256 AS BIGINT) AS h,
                      CAST(event_id AS BIGINT) AS payload
               FROM events)
    SELECT u, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT h) AS BIGINT) AS n_hours,
           CAST(min(payload) AS BIGINT) AS payload_min,
           CAST(max(payload) AS BIGINT) AS payload_max
    FROM e WHERE u BETWEEN 4 AND 11 GROUP BY u
    """,
)
def skipping_scan_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping scan, end-to-end with an EXACTNESS oracle: write the
    event stream's (u, h, payload) projection z-clustered
    (``compact_parquet(cluster_by=["u", "h"])``), build the per-file
    min/max ``stats_index`` (the Delta/Iceberg manifest for plain
    parquet), and answer a range query ``u BETWEEN 4 AND 11`` through
    ``skipping_scan`` — which reads ONLY the files whose [min, max]
    overlaps the range (driver-side candidate-list pruning, exactly what
    Delta's planner does against the transaction log, bounded by n_files
    never rows) — then aggregates the survivors.

    The DuckDB oracle computes the same aggregate over the FULL logical
    table: a hash match proves the pruned scan is exact-answer-preserving
    (min/max skipping is conservative — a skipped file provably contains
    no qualifying row).  The companion unit tests pin the PHYSICAL half
    (files actually opened collapses to the overlap fraction on a
    clustered layout; stays exact on round-robin and all-null files).

    Scale shape: the rewrite is one range shuffle; the stats index is one
    file-grain agg; the candidate collect is n_files-bounded; the pruned
    scan reads ~the range's share of the files (8 of the 256-value
    u-domain; non-degenerate even at sf0.001, whose user_ids span 0..14)
    and Spark's
    row-group pushdown prunes within them."""
    import tempfile

    from kioss_spark.operators.skew import (
        compact_parquet,
        skipping_scan,
        stats_index,
    )

    ev = t(spark, sf_dir, "events")
    e = ev.select(
        F.pmod(F.col("user_id"), F.lit(256)).cast("long").alias("u"),
        F.pmod(
            F.floor(epoch_us("ts") / F.lit(3_600_000_000.0)).cast("long"),
            F.lit(256),
        ).alias("h"),
        F.col("event_id").cast("long").alias("payload"),
    )
    base = tempfile.mkdtemp(prefix="kioss_skip_")
    src = f"{base}/frag"
    e.repartition(8).write.parquet(src)
    dst = f"{base}/zorder"
    compact_parquet(spark, src, dst, target_mb=0.02, cluster_by=["u", "h"], zbits=8)
    idx = stats_index(spark, dst, ["u", "h"])
    hits = skipping_scan(spark, dst, "u", lo=4, hi=11, index=idx)
    return hits.groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_distinct("h").cast("long").alias("n_hours"),
        F.min("payload").cast("long").alias("payload_min"),
        F.max("payload").cast("long").alias("payload_max"),
    )


@register(
    "event_value_histogram",
    oracle="""
    WITH e AS (SELECT event_type,
                      greatest(CAST(round(value * 100) AS BIGINT), 0) AS v_e2
               FROM events),
    b AS (SELECT event_type, CAST(length(bin(v_e2)) AS BIGINT) AS log2_bucket,
                 v_e2
          FROM e)
    SELECT event_type, log2_bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(v_e2) AS BIGINT) AS sum_e2,
           CAST(min(v_e2) AS BIGINT) AS min_e2,
           CAST(max(v_e2) AS BIGINT) AS max_e2
    FROM b GROUP BY 1, 2
    """,
)
def event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed (HdrHistogram-style) value histogram per event type:
    exponentially-sized buckets capture a long-tailed measure in ~40 rows
    per key regardless of range — the monitoring/latency-histogram shape.
    The bucket id is the BINARY-STRING LENGTH of the integerized value
    (length(bin(v)) == floor(log2 v)+1 for v>0), not floor(log2(v)):
    pure integer/string codegen with no libm call, so there is no
    float-boundary disagreement between engines for values near powers
    of two.

    One map-side-combining keyed agg; output bounded by
    |event types| x 64 buckets forever."""
    ev = t(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.greatest(F.round(F.col("value") * 100).cast("long"), F.lit(0)).alias(
            "v_e2"
        ),
    )
    b = e.select(
        "event_type",
        F.length(F.bin("v_e2")).cast("long").alias("log2_bucket"),
        "v_e2",
    )
    return b.groupBy("event_type", "log2_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v_e2").cast("long").alias("sum_e2"),
        F.min("v_e2").cast("long").alias("min_e2"),
        F.max("v_e2").cast("long").alias("max_e2"),
    )


@register(
    "entity_resolution_parts",
    oracle="""
    WITH RECURSIVE
    v AS (SELECT DISTINCT p_name AS name FROM part),
    prs AS (SELECT a.name AS na, b.name AS nb
            FROM v a JOIN v b ON a.name < b.name
            WHERE levenshtein(a.name, b.name) <= 1),
    edges AS (SELECT na AS s, nb AS d FROM prs
              UNION ALL SELECT nb, na FROM prs),
    reach(src, dst) AS (
        SELECT name, name FROM v
        UNION
        SELECT r.src, e.d FROM reach r JOIN edges e ON r.dst = e.s
    ),
    canon AS (SELECT src AS name, min(dst) AS canonical FROM reach GROUP BY 1),
    sz AS (SELECT canonical, CAST(count(*) AS BIGINT) AS n_variants
           FROM canon GROUP BY 1)
    SELECT c.name, c.canonical, s.n_variants
    FROM canon c JOIN sz s ON c.canonical = s.canonical
    """,
)
def entity_resolution_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end to end over the part-name vocabulary:
    FastSS deletion-neighborhood blocking generates ed<=1 candidate
    pairs (never a quadratic name product), exact levenshtein verifies,
    min-label connected components collapse transitive variant chains
    (A~B, B~C => one entity even when A!~C), and every name maps to its
    canonical spelling with the variant-cluster size — the
    catalog-normalization / record-linkage composite, and the
    string-keyed proof that the CC operator is id-type-generic
    (min-label propagation is an ordering argument, not an integer one).

    Scale plan: inherits ed1_pairs' variant-keyed join (fan-out = name
    length) and connected_components' pair-set-confined loop (persisted
    symmetric edges, O(diameter) keyed rounds, singletons stitched back
    with one left join); the rollup is one canonical-keyed agg. The
    oracle is the brute-force quadratic pair scan plus a recursive-CTE
    closure — completeness of blocking AND transitivity of clustering
    verified in one gate."""
    from kioss_spark.operators import dedup
    from kioss_spark.operators.fuzzy import ed1_pairs

    part = t(spark, sf_dir, "part")
    names = part.select(F.col("p_name").alias("doc_id")).distinct()
    pairs = ed1_pairs(part, col="p_name", verify_max=1).select(
        F.col("name_a").alias("doc_a"), F.col("name_b").alias("doc_b")
    )
    labels = dedup.connected_components(pairs, names)
    sz = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_variants")
    )
    return labels.join(sz, "cluster_id").select(
        F.col("doc_id").alias("name"),
        F.col("cluster_id").alias("canonical"),
        "n_variants",
    )


@register(
    "skipping_scan_strings",
    oracle="""
    SELECT source, CAST(count(*) AS BIGINT) AS n,
           CAST(min(doc_id) AS BIGINT) AS doc_min,
           CAST(max(doc_id) AS BIGINT) AS doc_max,
           CAST(sum(n_chars) AS BIGINT) AS chars_total
    FROM documents
    WHERE source BETWEEN 'src1' AND 'src14'
    GROUP BY source
    """,
)
def skipping_scan_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String data skipping, end-to-end with an EXACTNESS oracle (the
    round-12 verdict ask): write the documents (source, doc_id, n_chars)
    projection range-clustered by ``source``, build the per-file
    ``stats_index`` — whose string bounds are Delta's 32-char truncated
    min/max with round-up-exclusive hi (operators/skew.py stats_index) —
    and answer ``source BETWEEN 'src1' AND 'src14'`` (a LEXICOGRAPHIC
    range: src1, src10..src14 — deliberately not the numeric reading)
    through ``skipping_scan``'s string probe path, then aggregate the
    survivors.

    The DuckDB oracle computes the same aggregate over the FULL table
    under the same binary collation: a hash match proves string-bounded
    pruning is exact-answer-preserving.  The truncation corner cases
    (round-up keeps a file whose 32-prefix sits below the probe lo,
    hi_inexact never skips) are pinned in tests/test_round12_ops.py.

    Scale shape: one range shuffle for the rewrite, one file-grain stats
    agg, an n_files-bounded driver candidate list, and a scan of ~the
    matching third of the files."""
    import tempfile

    from kioss_spark.operators.skew import skipping_scan, stats_index

    d = t(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    base = tempfile.mkdtemp(prefix="kioss_strskip_")
    path = f"{base}/by_source"
    d.repartitionByRange(8, "source").write.parquet(path)
    idx = stats_index(spark, path, ["source"])
    hits = skipping_scan(
        spark, path, "source", lo="src1", hi="src14", index=idx
    )
    return hits.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("doc_id").cast("long").alias("doc_min"),
        F.max("doc_id").cast("long").alias("doc_max"),
        F.sum("n_chars").cast("long").alias("chars_total"),
    )


@register(
    "skipping_scan_double",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(min(event_id) AS BIGINT) AS id_min,
           CAST(max(event_id) AS BIGINT) AS id_max,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2))
               AS value_total
    FROM events WHERE value BETWEEN 123.45 AND 307.89
    """,
)
def skipping_scan_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-bound data skipping, end-to-end with an EXACTNESS
    oracle — the gated proof of the round-11 ADVICE fix: ``stats_index``
    stores floor(min)/ceil(max) for fractional columns (conservative
    widening), so a probe with NON-INTEGER bounds (123.45 / 307.89 on
    the events ``value`` double column) keeps every file that holds a
    qualifying row — the old truncation-toward-zero cast dropped files
    whose fractional values sat between the truncated hi and the probe
    lo.  The layout is range-clustered by ``value`` so the pruning is
    real, and the DuckDB oracle aggregates the FULL table (sum carried
    in DECIMAL on both engines — float summation order is not
    reproducible, decimal addition is exact).

    Scale shape: one range shuffle, one file-grain stats agg, an
    n_files-bounded candidate list, a ~37%-of-files scan."""
    import tempfile

    from kioss_spark.operators.skew import skipping_scan, stats_index

    e = t(spark, sf_dir, "events").select("value", "event_id")
    base = tempfile.mkdtemp(prefix="kioss_dblskip_")
    path = f"{base}/by_value"
    e.repartitionByRange(8, "value").write.parquet(path)
    idx = stats_index(spark, path, ["value"])
    hits = skipping_scan(
        spark, path, "value", lo=123.45, hi=307.89, index=idx
    )
    return hits.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("event_id").cast("long").alias("id_min"),
        F.max("event_id").cast("long").alias("id_max"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("value_total"),
    )


@register(
    "manifest_compact_scan",
    oracle="""
    WITH e AS (SELECT CAST(user_id % 64 AS BIGINT) AS u,
                      CAST(event_id AS BIGINT) AS payload,
                      CAST(event_id % 3 AS BIGINT) AS b
               FROM events)
    SELECT u, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT b) AS BIGINT) AS n_batches,
           CAST(min(payload) AS BIGINT) AS payload_min,
           CAST(max(payload) AS BIGINT) AS payload_max
    FROM e WHERE u BETWEEN 2 AND 9 GROUP BY u
    """,
)
def manifest_compact_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL manifest lifecycle under the exactness gate (the
    round-12 verdict ask): three batches commit through ``manifest_sink``
    (snapshot protocol: fresh data dir → full-file-list snapshot →
    commit marker), ``compact_manifest`` bin-packs the small batch files
    into one directory and commits the rewrite as a NEW snapshot in the
    same data-first order, ``vacuum`` collects the superseded inputs and
    snapshots, and the query is answered by ``skipping_scan`` over the
    LIVE (post-compaction, post-vacuum) manifest.

    The DuckDB oracle aggregates the FULL logical table, so a hash match
    proves the composed contract: no ingested row is lost or duplicated
    across commit → compact → vacuum, and the rewritten files' stats
    still prune exactly.  Reader isolation (a snapshot pinned BEFORE the
    compaction still materializes afterward) and crash-orphan collection
    are pinned in tests/test_round12_ops.py.

    Scale shape: commits are batch-grain; compaction touches only the
    small-file bytes (bin-pack, one shuffle); vacuum is an
    n_files-bounded driver listing; the served scan reads only
    manifest-listed files."""
    import tempfile

    from kioss_spark.operators.skew import (
        compact_manifest,
        manifest_sink,
        read_manifest,
        skipping_scan,
        vacuum,
    )

    ev = t(spark, sf_dir, "events")
    e = ev.select(
        F.pmod(F.col("user_id"), F.lit(64)).cast("long").alias("u"),
        F.col("event_id").cast("long").alias("payload"),
        F.pmod(F.col("event_id"), F.lit(3)).cast("long").alias("b"),
    )
    base = tempfile.mkdtemp(prefix="kioss_mf_compact_")
    data, manifest = f"{base}/data", f"{base}/manifest"
    sink = manifest_sink(data, manifest, ["u"])
    for batch_id in range(3):
        sink(e.where(F.col("b") == batch_id), batch_id)
    compact_manifest(spark, data, manifest, target_mb=64.0)
    vacuum(spark, data, manifest, retain_last=1)
    hits = skipping_scan(
        spark, data, ranges={"u": (2, 9)},
        index=read_manifest(spark, manifest),
    )
    return hits.groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_distinct("b").cast("long").alias("n_batches"),
        F.min("payload").cast("long").alias("payload_min"),
        F.max("payload").cast("long").alias("payload_max"),
    )


@register(
    "member_scan_events",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(min(event_id) AS BIGINT) AS id_min,
           CAST(max(event_id) AS BIGINT) AS id_max
    FROM events WHERE user_id IN (3, 7, 11)
    GROUP BY user_id
    """,
)
def member_scan_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-set lookup through the per-file MEMBERSHIP index — the
    needle-in-a-haystack shape min/max skipping cannot serve (a range on
    an unclustered id covers every file; Delta/Iceberg answer it with
    per-file Bloom filters): write the event stream hash-clustered by
    ``user_id``, build ``member_index`` (exact block-Bloom: sorted
    distinct ``xxhash64 mod 4096`` bucket ids per file — no false
    negatives, collisions cost only a file open), and fetch three users
    through ``member_scan``, aggregating the survivors.

    The DuckDB oracle computes the same aggregate over the FULL table
    with a plain IN-filter: hash equality proves membership skipping is
    exact-answer-preserving.  Merge law (file immutability => plain
    union) and the collision-conservatism pins are
    tests/test_round12_ops.py.

    Scale shape: one hash shuffle for the rewrite, one file-grain
    collect_set agg (bounded 4096 ints per file/col), an
    n_files-bounded driver candidate list, and a scan of ~the probed
    keys' share of the files."""
    import tempfile

    from kioss_spark.operators.skew import member_index, member_scan

    e = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type"
    )
    base = tempfile.mkdtemp(prefix="kioss_member_")
    path = f"{base}/by_user"
    e.repartition(8, "user_id").write.parquet(path)
    idx = member_index(spark, path, ["user_id"], buckets=4096)
    hits = member_scan(spark, path, "user_id", [3, 7, 11], index=idx)
    return hits.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_distinct("event_type").cast("long").alias("n_types"),
        F.min("event_id").cast("long").alias("id_min"),
        F.max("event_id").cast("long").alias("id_max"),
    )


@register(
    "manifest_changes_scan",
    oracle="""
    WITH e AS (SELECT CAST(user_id % 64 AS BIGINT) AS u,
                      CAST(event_id AS BIGINT) AS payload,
                      CAST(event_id % 3 AS BIGINT) AS b
               FROM events)
    SELECT u, CAST(count(*) AS BIGINT) AS n,
           CAST(min(payload) AS BIGINT) AS payload_min,
           CAST(max(payload) AS BIGINT) AS payload_max
    FROM e WHERE b IN (1, 2) GROUP BY u
    """,
)
def manifest_changes_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental catch-up through the manifest change feed: three
    batches commit through ``manifest_sink``; a consumer that last saw
    snapshot v0 (batch 0 only) catches up via
    ``read_manifest_changes(from_snapshot=0)`` — reading EXACTLY the
    batch files later snapshots added (``manifest_diff``'s 'add' rows
    with batch_id set), never the table — and aggregates what it
    ingested.

    The DuckDB oracle aggregates the batches-1-and-2 slice of the FULL
    logical table: hash equality proves the feed delivers exactly the
    post-snapshot rows (none lost, none duplicated, batch 0 never
    re-served).  The soundness guard — file-grain catch-up REFUSES to
    run across a compaction that folded post-snapshot batches (silently
    dropping their rows otherwise) — and the compaction-neutral diff
    semantics are pinned in tests/test_round12_ops.py.

    Scale shape: commits are batch-grain; the diff is two n_files-grain
    manifest reads + anti-joins; the catch-up scan reads only the added
    batch files — O(new data), the property an incremental consumer
    exists for."""
    import tempfile

    from kioss_spark.operators.skew import (
        manifest_sink,
        read_manifest_changes,
    )

    ev = t(spark, sf_dir, "events")
    e = ev.select(
        F.pmod(F.col("user_id"), F.lit(64)).cast("long").alias("u"),
        F.col("event_id").cast("long").alias("payload"),
        F.pmod(F.col("event_id"), F.lit(3)).cast("long").alias("b"),
    )
    base = tempfile.mkdtemp(prefix="kioss_mf_changes_")
    data, manifest = f"{base}/data", f"{base}/manifest"
    sink = manifest_sink(data, manifest, ["u"])
    for batch_id in range(3):
        sink(e.where(F.col("b") == batch_id), batch_id)
    new_rows = read_manifest_changes(spark, manifest, from_snapshot=0)
    return new_rows.groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("payload").cast("long").alias("payload_min"),
        F.max("payload").cast("long").alias("payload_max"),
    )


@register(
    "skipping_scan_time",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(min(event_id) AS BIGINT) AS id_min,
           CAST(max(event_id) AS BIGINT) AS id_max
    FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-08 06:30:00'
                 AND TIMESTAMP '2024-01-12 18:45:30'
    GROUP BY event_type
    """,
)
def skipping_scan_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time data skipping over the TIMESTAMP_NTZ column —
    session-timezone-proof end to end (the round-12 self-audit find):
    the event stream's (ts, event_id, event_type) projection is written
    range-clustered by ``ts``, ``stats_index`` stores WALL-CLOCK epoch
    seconds for the NTZ column (timestampdiff against the NTZ epoch —
    no session timezone on the stats side), and the query answers a
    naive-datetime range through ``skipping_scan``'s ts_ntz probe path
    (calendar-arithmetic bound conversion; the residual literal built
    from a string cast to timestamp_ntz, the timeutil.ntz_lit rule).

    The DuckDB oracle filters the FULL table on the same naive
    timestamps: a hash match on the DRIVER'S OWN session — whatever its
    timezone — proves no pruning bound or literal leaked through a
    session-zoned conversion (the driver-parity harness re-proves it
    under America/New_York).  The time-range scan is THE canonical
    data-skipping query on an event table: at 100 TB, "yesterday's
    events" must open yesterday's files, not the table.

    Scale shape: one range shuffle for the rewrite, one file-grain
    stats agg, an n_files-bounded candidate list, and a scan of ~the
    range's share of the files (4.5 days of a 30-day domain)."""
    import datetime as dt
    import tempfile

    from kioss_spark.operators.skew import skipping_scan, stats_index

    e = t(spark, sf_dir, "events").select("ts", "event_id", "event_type")
    base = tempfile.mkdtemp(prefix="kioss_timeskip_")
    path = f"{base}/by_ts"
    e.repartitionByRange(8, "ts").write.parquet(path)
    idx = stats_index(spark, path, ["ts"])
    hits = skipping_scan(
        spark,
        path,
        "ts",
        lo=dt.datetime(2024, 1, 8, 6, 30, 0),
        hi=dt.datetime(2024, 1, 12, 18, 45, 30),
        index=idx,
    )
    return hits.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("event_id").cast("long").alias("id_min"),
        F.max("event_id").cast("long").alias("id_max"),
    )


@register(
    "manifest_stats_only",
    oracle="""
    WITH e AS (SELECT CAST(user_id % 64 AS BIGINT) AS u,
                      CAST(event_id AS BIGINT) AS payload
               FROM events)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(u) AS BIGINT) AS u_min,
           CAST(max(u) AS BIGINT) AS u_max,
           CAST(0 AS BIGINT) AS u_nulls,
           CAST(min(payload) AS BIGINT) AS payload_min,
           CAST(max(payload) AS BIGINT) AS payload_max,
           CAST(0 AS BIGINT) AS payload_nulls
    FROM e
    """,
)
def manifest_stats_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-only aggregation — Delta's COUNT(*)/MIN/MAX-from-the-log
    optimization: the event stream commits through ``manifest_sink`` in
    three batches, and the query is answered ENTIRELY from the manifest
    (``manifest_stats_agg``: n_rows = sum of per-file row counts,
    min/max from the integral-kind per-file bounds, null counts summed)
    — zero data-file reads in the served plan; at 100 TB this is the
    difference between a metadata lookup and a table scan.

    The DuckDB oracle computes the same aggregates over the FULL
    logical table: hash equality proves the manifest's file-grain stats
    reproduce the scan exactly.  The exactness GUARD — widened
    (fractional/timestamp/string) kinds refuse stats-only serving
    rather than silently answering from conservative bounds — is pinned
    in tests/test_round12_ops.py.

    Scale shape: three batch-grain commits at plan build; the served
    plan reads the (n_files x n_cols)-row snapshot parquet and nothing
    else."""
    import tempfile

    from kioss_spark.operators.skew import manifest_sink, manifest_stats_agg

    ev = t(spark, sf_dir, "events")
    e = ev.select(
        F.pmod(F.col("user_id"), F.lit(64)).cast("long").alias("u"),
        F.col("event_id").cast("long").alias("payload"),
        F.pmod(F.col("event_id"), F.lit(3)).cast("long").alias("b"),
    )
    base = tempfile.mkdtemp(prefix="kioss_statsonly_")
    data, manifest = f"{base}/data", f"{base}/manifest"
    sink = manifest_sink(data, manifest, ["u", "payload"])
    for batch_id in range(3):
        sink(e.where(F.col("b") == batch_id).drop("b"), batch_id)
    return manifest_stats_agg(spark, manifest, ["u", "payload"])


@register(
    "facade_pruned_scan",
    oracle="""
    WITH e AS (SELECT CAST(user_id % 256 AS BIGINT) AS u,
                      CAST(event_id AS BIGINT) AS payload,
                      CAST(event_id % 3 AS BIGINT) AS b
               FROM events)
    SELECT u, CAST(count(*) AS BIGINT) AS n,
           CAST(min(payload) AS BIGINT) AS payload_min,
           CAST(max(payload) AS BIGINT) AS payload_max
    FROM e WHERE u BETWEEN 4 AND 11 GROUP BY u
    """,
)
def facade_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse layer reached from the FLUENT FACADE (round-13
    verdict ask 4): events commit through ``manifest_sink`` in three
    batches, ``compact_manifest(cluster_by="u")`` gives the layout a
    reason to prune, and the query is ``Stream.read_manifest(...)
    .filter((u >= 4) & (u <= 11))`` — the filter's probe bounds are
    extracted from the Column expression automatically
    (plans/prune.py) and shrink the candidate file list through
    ``manifest_candidates`` before the scan; the ORIGINAL predicate
    still applies row-grain, so the answer is exact whether or not
    pruning engaged.

    The DuckDB oracle aggregates the full logical table: hash equality
    proves the facade's automatic pruning is answer-preserving.  The
    PHYSICAL half — the facade's plan reads strictly fewer files than
    the snapshot lists, and matches the explicit ``skipping_scan``
    shape — is pinned in tests/test_round13_ops.py.

    Scale shape: identical to manifest_ingest_scan (batch-grain commits,
    n_files-bounded candidate selection) plus one clustered-compaction
    rewrite; the served scan opens only candidate files."""
    import tempfile

    from kioss_spark.operators.skew import compact_manifest, manifest_sink
    from kioss_spark.stream import Stream

    ev = t(spark, sf_dir, "events")
    e = ev.select(
        F.pmod(F.col("user_id"), F.lit(256)).cast("long").alias("u"),
        F.col("event_id").cast("long").alias("payload"),
        F.pmod(F.col("event_id"), F.lit(3)).cast("long").alias("b"),
    )
    base = tempfile.mkdtemp(prefix="kioss_facade_")
    data, manifest = f"{base}/data", f"{base}/manifest"
    sink = manifest_sink(data, manifest, ["u"])
    for batch_id in range(3):
        sink(e.where(F.col("b") == batch_id).drop("b"), batch_id)
    compact_manifest(
        spark, data, manifest, target_mb=0.02, small_file_mb=10.0,
        cluster_by="u",
    )
    st = Stream.read_manifest(spark, manifest).filter(
        (F.col("u") >= 4) & (F.col("u") <= 11)
    )
    return st.to_df().groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("payload").cast("long").alias("payload_min"),
        F.max("payload").cast("long").alias("payload_max"),
    )


@register(
    "facade_pruned_scan_time",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(min(event_id) AS BIGINT) AS id_min,
           CAST(max(event_id) AS BIGINT) AS id_max
    FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-08 06:30:00'
                 AND TIMESTAMP '2024-01-12 18:45:30'
    GROUP BY event_type
    """,
)
def facade_pruned_scan_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TIME pruning from the FLUENT FACADE (round-14 verdict ask
    4 — the gap where a fluent user filtering on the NTZ ``ts`` column
    previously got zero pruning): events commit through
    ``manifest_sink`` with per-batch range clustering on ``ts``, and
    the query is ``Stream.read_manifest(...).filter(ts BETWEEN two
    string-cast NTZ literals)``.  plans/prune.py extracts the
    ``Cast(Literal(str) -> TimestampNTZType)`` shape — a STRING-sourced
    NTZ cast is pure calendar parsing, identical in every session
    timezone — to naive-datetime bounds that convert against the
    ``kind='ts_ntz'`` stats rows (wall-clock epoch seconds) by plain
    arithmetic; no session timezone touches either side.

    The DuckDB oracle filters the full table on the same naive
    timestamps: hash equality on plain AND hostile-timezone sessions
    proves neither the pruning bound nor the residual literal leaked
    through a session-zoned conversion.  The physical half (the facade
    opens exactly the explicit ``skipping_scan`` candidate set) is
    pinned in tests/test_round14_ops.py.

    Scale shape: per-batch range shuffles for the layout, file-grain
    stats aggs at commit, ONE Spark-side candidate aggregation per
    filter, and a served scan of ~the range's share of the files —
    "yesterday's events" opens yesterday's files at any table size."""
    import tempfile

    from kioss_spark.operators.skew import manifest_sink
    from kioss_spark.stream import Stream

    e = t(spark, sf_dir, "events").select(
        "ts", "event_id", "event_type",
        F.pmod(F.col("event_id"), F.lit(3)).cast("long").alias("b"),
    )
    base = tempfile.mkdtemp(prefix="kioss_facade_time_")
    data, manifest = f"{base}/data", f"{base}/manifest"
    sink = manifest_sink(data, manifest, ["ts"])
    for batch_id in range(3):
        sink(
            e.where(F.col("b") == batch_id)
            .drop("b")
            .repartitionByRange(4, "ts"),
            batch_id,
        )
    st = Stream.read_manifest(spark, manifest).filter(
        (F.col("ts") >= F.lit("2024-01-08 06:30:00").cast("timestamp_ntz"))
        & (F.col("ts") <= F.lit("2024-01-12 18:45:30").cast("timestamp_ntz"))
    )
    return st.to_df().groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("event_id").cast("long").alias("id_min"),
        F.max("event_id").cast("long").alias("id_max"),
    )


@register(
    "manifest_row_changes_scan",
    oracle="""
    WITH e AS (SELECT CAST(user_id % 64 AS BIGINT) AS u,
                      CAST(event_id AS BIGINT) AS payload,
                      CAST(event_id % 3 AS BIGINT) AS b
               FROM events)
    SELECT u, CAST(count(*) AS BIGINT) AS n,
           CAST(min(payload) AS BIGINT) AS payload_min,
           CAST(max(payload) AS BIGINT) AS payload_max
    FROM e WHERE b IN (1, 2) GROUP BY u
    """,
)
def manifest_row_changes_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-grain catch-up across a FOLDING compaction (round-13 verdict
    ask 2 — the case the file-grain feed refuses): batches 0 and 1
    commit, a compaction folds their files into batch_id-NULL rewrites,
    batch 2 commits, and a consumer pinned at snapshot v0 (batch 0
    only) catches up via ``manifest_row_diff`` — a content-addressed
    multiset diff over ONLY the files changed between the snapshots,
    where the compaction's rewrites cancel exactly against the inputs
    they replaced.

    The DuckDB oracle aggregates the batches-1-and-2 slice of the full
    logical table: hash equality proves the row-grain feed delivers
    exactly the post-snapshot rows across the fold — none lost (the
    file-grain feed's failure mode), none duplicated (batch 0's rows
    cancel), no deletes fabricated.  The refusal-and-fallback wiring
    (``read_manifest_changes(on_compaction='row_diff')``) is pinned in
    tests/test_round13_ops.py.

    Scale shape: commits are batch-grain; the diff reads only changed
    files and shuffles their rows once (O(churn), never the table);
    pure-append windows skip the diff shuffle entirely (pinned)."""
    import tempfile

    from kioss_spark.operators.skew import (
        compact_manifest,
        manifest_row_diff,
        manifest_sink,
    )

    ev = t(spark, sf_dir, "events")
    e = ev.select(
        F.pmod(F.col("user_id"), F.lit(64)).cast("long").alias("u"),
        F.col("event_id").cast("long").alias("payload"),
        F.pmod(F.col("event_id"), F.lit(3)).cast("long").alias("b"),
    )
    base = tempfile.mkdtemp(prefix="kioss_rowdiff_")
    data, manifest = f"{base}/data", f"{base}/manifest"
    sink = manifest_sink(data, manifest, ["u"])
    sink(e.where(F.col("b") == 0).drop("b"), 0)
    sink(e.where(F.col("b") == 1).drop("b"), 1)
    compact_manifest(spark, data, manifest, target_mb=64.0)
    sink(e.where(F.col("b") == 2).drop("b"), 2)
    new_rows = manifest_row_diff(spark, manifest, from_snapshot=0).where(
        F.col("change") == "insert"
    )
    return new_rows.groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("payload").cast("long").alias("payload_min"),
        F.max("payload").cast("long").alias("payload_max"),
    )


@register(
    "manifest_evolution_scan",
    oracle="""
    WITH e AS (SELECT CAST(user_id % 64 AS BIGINT) AS u,
                      CAST(event_id AS BIGINT) AS payload,
                      CAST(event_id % 3 AS BIGINT) AS b,
                      CAST(event_id % 7 AS BIGINT) AS v
               FROM events),
    evolved AS (SELECT u, payload,
                       CASE WHEN b = 2 THEN v ELSE NULL END AS v
                FROM e)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(v) AS BIGINT) AS n_v,
           CAST(sum(CASE WHEN v BETWEEN 2 AND 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_v_hit,
           CAST(min(payload) AS BIGINT) AS payload_min,
           CAST(max(payload) AS BIGINT) AS payload_max
    FROM evolved
    """,
)
def manifest_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution through the manifest (round-13 verdict ask 6):
    batches 0 and 1 commit WITHOUT column ``v``; batch 2 introduces it
    (the sink's stats set grows to ["u", "v"], and pre-evolution files
    get explicit ``kind='absent'`` presence rows after the one-time
    soundness probe).  The query reads the evolved table through
    ``read_via_manifest`` (merged schemas: old rows carry NULL v) and
    combines a full-table aggregate with a PRUNED count on the new
    column (``skipping_scan`` on v opens only post-evolution files —
    'absent' presence rows skip exactly).

    The DuckDB oracle rebuilds the same logical table (v defined only
    for batch-2 rows): hash equality proves the merged read, the
    presence semantics, and the late-column pruning all preserve the
    answer.  Time travel to the pre-evolution schema and the
    unsound-evolution refusal are pinned in tests/test_round13_ops.py.

    Scale shape: the evolution probe is a one-time column-pruned scan
    of pre-evolution files; everything else is the standard manifest
    cost model (batch-grain commits, n_files-bounded pruning)."""
    import tempfile

    from kioss_spark.operators.skew import (
        manifest_sink,
        read_manifest,
        read_via_manifest,
        skipping_scan,
    )

    ev = t(spark, sf_dir, "events")
    e = ev.select(
        F.pmod(F.col("user_id"), F.lit(64)).cast("long").alias("u"),
        F.col("event_id").cast("long").alias("payload"),
        F.pmod(F.col("event_id"), F.lit(3)).cast("long").alias("b"),
        F.pmod(F.col("event_id"), F.lit(7)).cast("long").alias("v"),
    )
    base = tempfile.mkdtemp(prefix="kioss_evolve_")
    data, manifest = f"{base}/data", f"{base}/manifest"
    sink = manifest_sink(data, manifest, ["u"])
    sink(e.where(F.col("b") == 0).drop("b", "v"), 0)
    sink(e.where(F.col("b") == 1).drop("b", "v"), 1)
    sink2 = manifest_sink(data, manifest, ["u", "v"])
    sink2(e.where(F.col("b") == 2).drop("b"), 2)
    head = read_via_manifest(spark, manifest)
    full = head.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("v").cast("long").alias("n_v"),
        F.min("payload").cast("long").alias("payload_min"),
        F.max("payload").cast("long").alias("payload_max"),
    )
    pruned = skipping_scan(
        spark, data, "v", lo=2, hi=3, index=read_manifest(spark, manifest)
    ).agg(F.count(F.lit(1)).cast("long").alias("n_v_hit"))
    return full.crossJoin(pruned).select(
        "n_rows", "n_v", "n_v_hit", "payload_min", "payload_max"
    )


@register(
    "manifest_restore_scan",
    oracle="""
    WITH e AS (SELECT CAST(user_id % 64 AS BIGINT) AS u,
                      CAST(event_id AS BIGINT) AS payload
               FROM events)
    SELECT u, CAST(count(*) AS BIGINT) AS n,
           CAST(min(payload) AS BIGINT) AS payload_min,
           CAST(max(payload) AS BIGINT) AS payload_max
    FROM e GROUP BY u
    """,
)
def manifest_restore_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TO VERSION (round-14 — Delta RESTORE, the oops-recovery
    complement of RTBF): three batches commit, a ``manifest_delete``
    forgets ``u IN (5, 17)``, and ``manifest_restore`` commits a NEW
    version whose content is the pre-delete snapshot — history stays
    linear (the delete remains time-travelable until vacuum), readers
    flip atomically, and the restore refuses up front if vacuum
    already collected anything the target lists.

    The DuckDB oracle aggregates the FULL logical table: hash equality
    proves the restore resurrected exactly the deleted rows — the
    delete's vector no longer applies, and nothing else changed.
    History-shape and refusal pins live in tests/test_round14_ops.py.

    Scale shape: the restore writes one checkpoint (a restore's change
    is unbounded by construction); the existence probe is
    version-file-grain driver work."""
    import tempfile

    from kioss_spark.operators.skew import (
        manifest_delete,
        manifest_restore,
        manifest_sink,
        read_via_manifest,
    )

    ev = t(spark, sf_dir, "events")
    e = ev.select(
        F.pmod(F.col("user_id"), F.lit(64)).cast("long").alias("u"),
        F.col("event_id").cast("long").alias("payload"),
        F.pmod(F.col("event_id"), F.lit(3)).cast("long").alias("b"),
    )
    base = tempfile.mkdtemp(prefix="kioss_restore_")
    data, manifest = f"{base}/data", f"{base}/manifest"
    sink = manifest_sink(data, manifest, ["u"])
    for batch_id in range(3):
        sink(e.where(F.col("b") == batch_id).drop("b"), batch_id)
    manifest_delete(spark, data, manifest, "u", values=[5, 17])
    manifest_restore(spark, manifest, snapshot=2)
    return (
        read_via_manifest(spark, manifest)
        .groupBy("u")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("payload").cast("long").alias("payload_min"),
            F.max("payload").cast("long").alias("payload_max"),
        )
    )


@register(
    "manifest_clone_scan",
    oracle="""
    WITH e AS (SELECT CAST(user_id % 64 AS BIGINT) AS u,
                      CAST(event_id AS BIGINT) AS payload
               FROM events)
    SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_src,
           CAST((SELECT count(*) FROM e WHERE u NOT IN (5, 17))
                AS BIGINT) AS n_clone,
           CAST((SELECT min(payload) FROM e WHERE u NOT IN (5, 17))
                AS BIGINT) AS clone_payload_min,
           CAST((SELECT max(payload) FROM e WHERE u NOT IN (5, 17))
                AS BIGINT) AS clone_payload_max
    """,
)
def manifest_clone_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE isolation (round-14 — Delta CLONE): the source
    table commits three batches, ``manifest_clone`` creates a
    zero-copy clone, and a ``manifest_delete`` forgets ``u IN (5,17)``
    ON THE CLONE — the deletion vector lands in the clone's own data
    dir, so the clone serves the post-delete table while the SOURCE
    still serves every row from the very same immutable files.

    The DuckDB oracle computes both sides from the logical table: hash
    equality proves zero-copy isolation end to end — the clone's
    delete never leaked into the source, and the clone still resolves
    every source file.  Refusals (vacuum-through-clone, clone into a
    non-fresh dir) are pinned in tests/test_round14_ops.py.

    Scale shape: the clone commit writes one manifest checkpoint
    (file-grain) and copies batch markers — zero data IO at any table
    size; the delete stays O(affected files + deleted rows)."""
    import tempfile

    from kioss_spark.operators.skew import (
        manifest_clone,
        manifest_delete,
        manifest_sink,
        read_via_manifest,
    )

    ev = t(spark, sf_dir, "events")
    e = ev.select(
        F.pmod(F.col("user_id"), F.lit(64)).cast("long").alias("u"),
        F.col("event_id").cast("long").alias("payload"),
        F.pmod(F.col("event_id"), F.lit(3)).cast("long").alias("b"),
    )
    base = tempfile.mkdtemp(prefix="kioss_clone_")
    data, src = f"{base}/data", f"{base}/src_manifest"
    clone_data, dst = f"{base}/clone_data", f"{base}/clone_manifest"
    sink = manifest_sink(data, src, ["u"])
    for batch_id in range(3):
        sink(e.where(F.col("b") == batch_id).drop("b"), batch_id)
    manifest_clone(spark, src, dst)
    manifest_delete(spark, clone_data, dst, "u", values=[5, 17])
    src_n = read_via_manifest(spark, src).agg(
        F.count(F.lit(1)).cast("long").alias("n_src")
    )
    clone_agg = read_via_manifest(spark, dst).agg(
        F.count(F.lit(1)).cast("long").alias("n_clone"),
        F.min("payload").cast("long").alias("clone_payload_min"),
        F.max("payload").cast("long").alias("clone_payload_max"),
    )
    return src_n.crossJoin(clone_agg)


@register(
    "manifest_history_scan",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(0 AS BIGINT), false),
        (CAST(1 AS BIGINT), true),
        (CAST(2 AS BIGINT), true),
        (CAST(3 AS BIGINT), true),
        (CAST(4 AS BIGINT), false)
    ) AS t(snapshot, is_delta)
    """,
)
def manifest_history_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY (round-14): a known five-commit lifecycle —
    ingest checkpoint, two ingest deltas, a delete delta, a restore
    checkpoint — read back from the version dirs' markers alone
    (no file-content IO).  The literal-VALUES oracle pins the v3 log's
    COMMIT-KIND sequence exactly: the first commit and the restore are
    checkpoints, steady-state commits are deltas — the economics the
    checkpointed log exists for (commit wall clocks are
    session-dependent and projected out; their resolution rule is
    gated by manifest_as_of_scan)."""
    import tempfile

    from kioss_spark.operators.skew import (
        manifest_delete,
        manifest_history,
        manifest_restore,
        manifest_sink,
    )

    ev = t(spark, sf_dir, "events")
    e = ev.select(
        F.pmod(F.col("user_id"), F.lit(64)).cast("long").alias("u"),
        F.col("event_id").cast("long").alias("payload"),
        F.pmod(F.col("event_id"), F.lit(3)).cast("long").alias("b"),
    )
    base = tempfile.mkdtemp(prefix="kioss_history_")
    data, manifest = f"{base}/data", f"{base}/manifest"
    sink = manifest_sink(data, manifest, ["u"])
    for batch_id in range(3):
        sink(e.where(F.col("b") == batch_id).drop("b"), batch_id)
    manifest_delete(spark, data, manifest, "u", values=[5, 17])
    manifest_restore(spark, manifest, snapshot=2)
    return manifest_history(spark, manifest).select("snapshot", "is_delta")


@register(
    "manifest_as_of_scan",
    oracle="""
    WITH e AS (SELECT CAST(user_id % 64 AS BIGINT) AS u,
                      CAST(event_id AS BIGINT) AS payload,
                      CAST(event_id % 3 AS BIGINT) AS b
               FROM events)
    SELECT u, CAST(count(*) AS BIGINT) AS n,
           CAST(min(payload) AS BIGINT) AS payload_min,
           CAST(max(payload) AS BIGINT) AS payload_max
    FROM e WHERE b < 2 GROUP BY u
    """,
)
def manifest_as_of_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP time travel (round-14 verdict ask 5 — Delta's
    ``AS OF``): three batches commit; a wall clock captured BETWEEN the
    second and third commits resolves — by ``resolve_as_of``'s
    latest-at-or-before rule over the atomic ``_ts_`` commit stamps —
    to the second snapshot, and the as-of read serves exactly batches
    0-1, with batch 2 invisible.

    The DuckDB oracle aggregates the first two batches of the full
    logical table: hash equality proves as-of resolution picks the
    right snapshot boundary (an off-by-one in either direction includes
    batch 2 or drops batch 1).  Resolution edges (exact instant,
    before-first-commit refusal, snapshot=+as_of= exclusion) are pinned
    in tests/test_round14_ops.py.

    Scale shape: resolution is a version-dir listing (no file-content
    IO — the stamp rides the marker NAME); the read is the ordinary
    manifest-resolved scan of the chosen snapshot."""
    import tempfile
    import time

    from kioss_spark.operators.skew import manifest_sink, read_via_manifest

    ev = t(spark, sf_dir, "events")
    e = ev.select(
        F.pmod(F.col("user_id"), F.lit(64)).cast("long").alias("u"),
        F.col("event_id").cast("long").alias("payload"),
        F.pmod(F.col("event_id"), F.lit(3)).cast("long").alias("b"),
    )
    base = tempfile.mkdtemp(prefix="kioss_asof_")
    data, manifest = f"{base}/data", f"{base}/manifest"
    sink = manifest_sink(data, manifest, ["u"])
    sink(e.where(F.col("b") == 0).drop("b"), 0)
    sink(e.where(F.col("b") == 1).drop("b"), 1)
    pivot = time.time()
    time.sleep(0.01)  # the third commit stamps strictly later
    sink(e.where(F.col("b") == 2).drop("b"), 2)
    return (
        read_via_manifest(spark, manifest, as_of=pivot)
        .groupBy("u")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("payload").cast("long").alias("payload_min"),
            F.max("payload").cast("long").alias("payload_max"),
        )
    )


@register(
    "manifest_rename_scan",
    oracle="""
    WITH e AS (SELECT CAST(user_id % 256 AS BIGINT) AS uid,
                      CAST(event_id AS BIGINT) AS payload,
                      CAST(event_id % 3 AS BIGINT) AS b
               FROM events)
    SELECT uid, CAST(count(*) AS BIGINT) AS n,
           CAST(min(payload) AS BIGINT) AS payload_min,
           CAST(max(payload) AS BIGINT) AS payload_max
    FROM e WHERE uid BETWEEN 4 AND 11 GROUP BY uid
    """,
)
def manifest_rename_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN MAPPING end to end (round-14 verdict ask 6 — Delta's
    column-mapping rename): two batches commit under the original
    column name ``u``, ``manifest_rename_column`` re-keys the stats
    rows to ``uid`` METADATA-ONLY (``phys`` keeps each file's stored
    spelling; zero data files touched), a third batch lands writing
    ``uid`` physically, and the query filters + aggregates on the NEW
    name through the fluent facade — candidate pruning uses the
    renamed stats rows (bounds ride the rename), and the read projects
    physical -> logical with a per-row coalesce across the spellings
    (each file stores exactly one).

    The DuckDB oracle aggregates the full logical table under the new
    name: hash equality proves the rename is invisible to answers —
    old-spelling files, new-spelling files, and the pruned scan all
    serve one logical schema.  Refusals (unknown source, occupied
    target, re-adding a dropped name), drop tombstones, and
    compaction's mapping retirement are pinned in
    tests/test_round14_ops.py.

    Scale shape: the rename commit rewrites the column's stats rows
    (file-grain, O(files x 1 col) — Delta's metadata-action cost);
    reads add one column-grain mapping collect and a per-row coalesce
    only while old spellings remain (compaction physicalizes them
    away)."""
    import tempfile

    from kioss_spark.operators.skew import (
        manifest_rename_column,
        manifest_sink,
    )
    from kioss_spark.stream import Stream

    ev = t(spark, sf_dir, "events")
    e = ev.select(
        F.pmod(F.col("user_id"), F.lit(256)).cast("long").alias("u"),
        F.col("event_id").cast("long").alias("payload"),
        F.pmod(F.col("event_id"), F.lit(3)).cast("long").alias("b"),
    )
    base = tempfile.mkdtemp(prefix="kioss_rename_")
    data, manifest = f"{base}/data", f"{base}/manifest"
    sink = manifest_sink(data, manifest, ["u"])
    for batch_id in range(2):
        sink(e.where(F.col("b") == batch_id).drop("b"), batch_id)
    manifest_rename_column(spark, manifest, "u", "uid")
    manifest_sink(data, manifest, ["uid"])(
        e.where(F.col("b") == 2).drop("b").withColumnRenamed("u", "uid"), 2
    )
    st = Stream.read_manifest(spark, manifest).filter(
        (F.col("uid") >= 4) & (F.col("uid") <= 11)
    )
    return st.to_df().groupBy("uid").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("payload").cast("long").alias("payload_min"),
        F.max("payload").cast("long").alias("payload_max"),
    )


@register(
    "facade_member_scan",
    oracle="""
    WITH e AS (SELECT CAST(user_id % 64 AS BIGINT) AS u,
                      CAST(event_id AS BIGINT) AS payload,
                      CAST(event_id % 4 AS BIGINT) AS b
               FROM events)
    SELECT u, payload FROM e
    WHERE payload IN (7, 11, 500, 501, 1203)
    ORDER BY payload
    """,
)
def facade_member_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-set lookup through the FLUENT FACADE's member-index route
    (round-13): events commit through ``manifest_sink`` in four batches
    (payload is unique and the layout is NOT clustered by it — min/max
    ranges are useless for this shape), a block-Bloom ``member_index``
    is built over the data files, and the query is
    ``Stream.read_manifest(..., member_index=idx).filter(
    payload.isin(...))`` — the IN conjunct's value set is extracted
    from the Column automatically and pruned by exact bucket
    membership (an absent bucket proves the value absent from a file;
    collisions only cost an extra file open).

    The DuckDB oracle filters the full logical table: hash equality
    proves membership routing is answer-preserving.  The physical pin
    (facade file set bounded by the explicit member_scan set) is in
    tests/test_round13_ops.py.

    Scale shape: the member index is file-grain (bounded bucket arrays,
    union-mergeable); probe hashing is one |values|-row Spark job; the
    served scan opens only bucket-hit files — the needle-in-a-haystack
    read a 100 TB table needs."""
    import tempfile

    from kioss_spark.operators.skew import manifest_sink, member_index
    from kioss_spark.stream import Stream

    ev = t(spark, sf_dir, "events")
    e = ev.select(
        F.pmod(F.col("user_id"), F.lit(64)).cast("long").alias("u"),
        F.col("event_id").cast("long").alias("payload"),
        F.pmod(F.col("event_id"), F.lit(4)).cast("long").alias("b"),
    )
    base = tempfile.mkdtemp(prefix="kioss_fmember_")
    data, manifest = f"{base}/data", f"{base}/manifest"
    sink = manifest_sink(data, manifest, ["u"])
    for batch_id in range(4):
        sink(e.where(F.col("b") == batch_id).drop("b"), batch_id)
    idx = member_index(spark, f"{data}/batch_*", ["payload"])
    st = Stream.read_manifest(spark, manifest, member_index=idx).filter(
        F.col("payload").isin(7, 11, 500, 501, 1203)
    )
    return st.to_df().select("u", "payload").orderBy("payload")


@register(
    "manifest_delete_scan",
    oracle="""
    WITH e AS (SELECT CAST(user_id % 64 AS BIGINT) AS u,
                      CAST(event_id AS BIGINT) AS payload,
                      CAST(event_id % 3 AS BIGINT) AS b
               FROM events)
    SELECT u, CAST(count(*) AS BIGINT) AS n,
           CAST(min(payload) AS BIGINT) AS payload_min,
           CAST(max(payload) AS BIGINT) AS payload_max
    FROM e WHERE u NOT IN (5, 17) AND payload NOT BETWEEN 100 AND 110
    GROUP BY u
    """,
)
def manifest_delete_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-LEVEL DELETE without rewriting data (round-13: merge-on-read
    deletion vectors — Delta DVs / Iceberg position deletes, the
    right-to-be-forgotten primitive): three batches commit through
    ``manifest_sink``; ``manifest_delete`` removes users {5, 17} (the
    RTBF point-set shape, candidate files pruned through the stats)
    and then a payload range on a column with NO stats (pruning
    impossible — the delete scans every file rather than silently
    retaining a row); the query aggregates the LIVE table through
    ``read_via_manifest``, whose scan anti-joins each file's deletion
    vector on (file, row position).

    The DuckDB oracle aggregates the full logical table minus both
    deleted slices: hash equality proves the vectors delete exactly the
    requested rows — none missed, none extra, across composed deletes.
    Idempotent re-delete, pre-delete time travel, the count fast path,
    the stats-agg exactness guard, compaction purge, and vacuum
    retention are pinned in tests/test_round13_ops.py.

    Scale shape: delete cost is O(candidate files + deleted rows) —
    never a table rewrite; the read-side anti-join moves only the
    vectors (broadcast, position-keyed)."""
    import tempfile

    from kioss_spark.operators.skew import (
        manifest_delete,
        manifest_sink,
        read_via_manifest,
    )

    ev = t(spark, sf_dir, "events")
    e = ev.select(
        F.pmod(F.col("user_id"), F.lit(64)).cast("long").alias("u"),
        F.col("event_id").cast("long").alias("payload"),
        F.pmod(F.col("event_id"), F.lit(3)).cast("long").alias("b"),
    )
    base = tempfile.mkdtemp(prefix="kioss_dv_")
    data, manifest = f"{base}/data", f"{base}/manifest"
    sink = manifest_sink(data, manifest, ["u"])
    for batch_id in range(3):
        sink(e.where(F.col("b") == batch_id).drop("b"), batch_id)
    manifest_delete(spark, data, manifest, "u", values=[5, 17])
    manifest_delete(spark, data, manifest, "payload", lo=100, hi=110)
    live = read_via_manifest(spark, manifest)
    return live.groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("payload").cast("long").alias("payload_min"),
        F.max("payload").cast("long").alias("payload_max"),
    )


@register(
    "manifest_delete_feed",
    oracle="""
    WITH e AS (SELECT CAST(user_id % 64 AS BIGINT) AS u,
                      CAST(event_id AS BIGINT) AS payload
               FROM events)
    SELECT u, payload FROM e WHERE u IN (5, 17)
    ORDER BY payload
    """,
)
def manifest_delete_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletes RIDE THE ROW-GRAIN CHANGE FEED (round-13): after a
    ``manifest_delete``, a consumer pinned at the pre-delete snapshot
    catches up via ``manifest_row_diff`` — the diff unit is the (file,
    deletion-vector) pair, so a delete puts the file on both sides and
    the multiset difference yields exactly the newly-deleted rows as
    ``change='delete'`` (Delta CDF's delete rows), with zero fabricated
    inserts (pinned).

    The DuckDB oracle selects the deleted slice of the full logical
    table: hash equality proves the feed's delete rows are exactly the
    deleted rows.

    Scale shape: only files whose (file, vector) pair changed are read;
    the exceptAll shuffles churn, never the table."""
    import tempfile

    from kioss_spark.operators.skew import (
        manifest_delete,
        manifest_row_diff,
        manifest_sink,
    )

    ev = t(spark, sf_dir, "events")
    e = ev.select(
        F.pmod(F.col("user_id"), F.lit(64)).cast("long").alias("u"),
        F.col("event_id").cast("long").alias("payload"),
        F.pmod(F.col("event_id"), F.lit(3)).cast("long").alias("b"),
    )
    base = tempfile.mkdtemp(prefix="kioss_dvfeed_")
    data, manifest = f"{base}/data", f"{base}/manifest"
    sink = manifest_sink(data, manifest, ["u"])
    for batch_id in range(3):
        sink(e.where(F.col("b") == batch_id).drop("b"), batch_id)
    manifest_delete(spark, data, manifest, "u", values=[5, 17])
    rd = manifest_row_diff(spark, manifest, from_snapshot=2)
    return (
        rd.where(F.col("change") == "delete")
        .select("u", "payload")
        .orderBy("payload")
    )


@register(
    "manifest_stream_delete_feed",
    oracle="""
    WITH e AS (SELECT CAST(user_id % 64 AS BIGINT) AS u,
                      CAST(event_id AS BIGINT) AS payload
               FROM events)
    SELECT u, payload FROM e WHERE u IN (5, 17)
    ORDER BY payload
    """,
)
def manifest_stream_delete_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletes STREAM through the manifest source (round-14 verdict ask
    3 — the Delta CDF ``readChangeFeed`` analog, closing the
    RTBF-propagation loop): a consumer drains the table in CDC mode
    (``emit_deletes``: every row carries a ``change`` column), the
    table forgets ``u IN (5, 17)`` via ``manifest_delete`` while the
    consumer is down, and on resume the checkpointed source streams the
    deleted ROWS THEMSELVES as ``change='delete'`` — positions = the
    window's vector growth, read from the original immutable files by
    the per-transition dv walk (streaming/manifest_source.py; exact
    even when a compaction folds the vector away inside the same
    window).

    The DuckDB oracle selects the deleted slice of the full logical
    table: hash equality proves the streamed delete rows are exactly
    the forgotten rows — a downstream index can retract precisely
    these.  Kill-and-resume and batch parity vs ``manifest_row_diff``
    are pinned in tests/test_round14_ops.py.

    Scale shape: delete partitions read only the affected files'
    deleted positions (O(affected files + deleted rows)); inserts are
    file-grain exactly-once as before."""
    import tempfile

    from kioss_spark.operators.skew import manifest_delete, manifest_sink
    from kioss_spark.streaming.dialect import SStream

    ev = t(spark, sf_dir, "events")
    e = ev.select(
        F.pmod(F.col("user_id"), F.lit(64)).cast("long").alias("u"),
        F.col("event_id").cast("long").alias("payload"),
        F.pmod(F.col("event_id"), F.lit(3)).cast("long").alias("b"),
    )
    base = tempfile.mkdtemp(prefix="kioss_streamdel_")
    data, manifest = f"{base}/data", f"{base}/manifest"
    out, ckpt = f"{base}/out", f"{base}/ckpt"
    sink = manifest_sink(data, manifest, ["u"])
    for batch_id in range(3):
        sink(e.where(F.col("b") == batch_id).drop("b"), batch_id)

    def drain():
        q = (
            SStream.from_manifest(spark, manifest, emit_deletes=True)
            ._df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()  # consume the three batches (all 'insert'), then "die"
    manifest_delete(spark, data, manifest, "u", values=[5, 17])
    drain()  # resume: the retraction streams
    return (
        spark.read.parquet(out)
        .where(F.col("change") == "delete")
        .select("u", "payload")
        .orderBy("payload")
    )


@register(
    "manifest_merge_scan",
    oracle="""
    WITH e AS (SELECT CAST(user_id % 64 AS BIGINT) AS u,
                      CAST(event_id AS BIGINT) AS payload,
                      CAST(event_id % 2 AS BIGINT) AS b
               FROM events),
    base AS (SELECT u, payload FROM e
             WHERE payload NOT BETWEEN 10 AND 19
               AND payload NOT BETWEEN 50 AND 54),
    ups AS (SELECT CAST(payload % 64 + 1000 AS BIGINT) AS u, payload
            FROM e WHERE payload BETWEEN 10 AND 19),
    ins AS (SELECT CAST(i % 64 AS BIGINT) AS u, CAST(i AS BIGINT) AS payload
            FROM range(1000000, 1000005) t(i)),
    merged AS (SELECT * FROM base UNION ALL SELECT * FROM ups
               UNION ALL SELECT * FROM ins)
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT payload) AS BIGINT) AS n_keys,
           CAST(sum(u) AS BIGINT) AS u_sum,
           CAST(min(payload) AS BIGINT) AS payload_min,
           CAST(max(payload) AS BIGINT) AS payload_max
    FROM merged
    """,
)
def manifest_merge_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO the manifest table (round-13 — the Delta
    MERGE/CDC-apply analog, composed from deletion vectors + the
    exactly-once append): two batches commit; one ``manifest_merge``
    applies a changeset of UPDATES (payloads 10-19 get u+1000),
    TOMBSTONES (payloads 50-54 removed), and INSERTS (five brand-new
    keys); the query aggregates the LIVE table.

    The DuckDB oracle rebuilds the merged table relationally: hash
    equality proves upsert-by-key replaces exactly (no duplicate keys,
    no lost updates), tombstones remove exactly, inserts land exactly.
    The exactly-once replay windows (full replay no-op; crash-window
    replay with the marker lost never deletes the merge's own appended
    rows) are pinned in tests/test_round13_ops.py.

    Scale shape: the delete half is stats-pruned on the key's min/max
    with the key frame broadcast-semi-joined (never collected); the
    append is one batch-grain commit; no data rewrite anywhere."""
    import tempfile

    from kioss_spark.operators.skew import (
        manifest_merge,
        manifest_sink,
        read_via_manifest,
    )

    ev = t(spark, sf_dir, "events")
    e = ev.select(
        F.pmod(F.col("user_id"), F.lit(64)).cast("long").alias("u"),
        F.col("event_id").cast("long").alias("payload"),
        F.pmod(F.col("event_id"), F.lit(2)).cast("long").alias("b"),
    )
    base = tempfile.mkdtemp(prefix="kioss_merge_")
    data, manifest = f"{base}/data", f"{base}/manifest"
    sink = manifest_sink(data, manifest, ["payload"])
    for batch_id in range(2):
        sink(e.where(F.col("b") == batch_id).drop("b"), batch_id)
    updates = e.where(F.col("payload").between(10, 19)).select(
        (F.pmod(F.col("payload"), F.lit(64)) + 1000).cast("long").alias("u"),
        "payload",
        F.lit(False).alias("dead"),
    )
    tombs = e.where(F.col("payload").between(50, 54)).select(
        F.lit(None).cast("long").alias("u"),
        "payload",
        F.lit(True).alias("dead"),
    )
    inserts = spark.range(1_000_000, 1_000_005).select(
        F.pmod(F.col("id"), F.lit(64)).cast("long").alias("u"),
        F.col("id").cast("long").alias("payload"),
        F.lit(False).alias("dead"),
    )
    changes = updates.unionByName(tombs).unionByName(inserts)
    manifest_merge(
        spark, data, manifest, changes, key="payload", batch_id=2,
        cols=["payload"], tombstone="dead",
    )
    live = read_via_manifest(spark, manifest)
    return live.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_distinct("payload").cast("long").alias("n_keys"),
        F.sum("u").cast("long").alias("u_sum"),
        F.min("payload").cast("long").alias("payload_min"),
        F.max("payload").cast("long").alias("payload_max"),
    )
