"""Driver-contract analytics queries over the TPC-H-ish testdata.

Every operator family from SURVEY.md §2 is exercised here on the driver's
tables (the weather-fixture pipeline itself is covered by pytest e2e tests in
``tests/``; this module is the oracle-checked surface). Each ``q_*`` builder
takes ``(spark, sf_dir)`` and returns a DataFrame; ``ORACLE[name]`` is the
equivalent DuckDB SQL over the pre-registered views.

Conventions for oracle parity:
- every computed column is aliased identically on both sides;
- floating aggregates are ``round()``-ed on both sides (sum-order across
  partitions is otherwise nondeterministic at the last ulp);
- window orderings always carry a unique tiebreaker column so both engines
  produce identical results;
- integer-typed derivations are cast explicitly (DuckDB ``year()`` returns
  BIGINT, Spark returns INT, etc.).

Scale notes are inline per query — the plans are written for a 1000-executor
cluster: dimension joins are broadcast, aggregations are partial-aggregatable
(map-side combine), filters sit directly on the scan so they push into
parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..artifacts import materialize
from ..functions.dates import date_key, is_weekend, week_number, weekday_name
from ..functions.keys import surrogate_key, surrogate_key_sql
from ..functions.strings import slugify, split_part_compat
from ..operators import quantiles
from ..operators.dedupe import latest_record_wins
from .. import artifacts
from ..sources.tables import load_table, table_path

# --------------------------------------------------------------------------
# Aggregation family (SURVEY §2.5 — GROUP BY extensions the star schema
# implies) — flagship: TPC-H-Q1-shaped pricing summary.
# --------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupBy + 6 aggregates behind a pushed-down date filter.

    Plan shape at scale: parquet scan with PushedFilters on l_shipdate →
    partial hash agg (map-side combine) → single shuffle on the 2 low-
    cardinality keys → final agg. No window, no join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price.cast("decimal(18,4)")), 2)
            .cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge.cast("decimal(18,6)")), 2)
            .cast("double").alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag,
       l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)), 2)::DOUBLE AS sum_disc_price,
       round(sum((l_extendedprice * (1 - l_discount) * (1 + l_tax))::DECIMAL(18,6)), 2)::DOUBLE AS sum_charge,
       round(avg(l_quantity), 6)                                        AS avg_qty,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# Window family (W1 latest-record-wins; O1 top-1-per-group)
# --------------------------------------------------------------------------


def q_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 analog of fact_weather_params_history.sql:17-24,32 — the
    'latest issuance wins' dedupe, here as latest order per customer.
    o_orderkey is the deterministic tiebreaker (documented deviation: the
    reference leaves dateGenerated ties unspecified)."""
    orders = load_table(spark, sf_dir, "orders")
    return latest_record_wins(
        orders, keys=["o_custkey"], order_desc=["o_orderdate", "o_orderkey"],
    ).select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")


ORACLE_LATEST_ORDER = """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
FROM (
  SELECT *, row_number() OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1
"""


def q_latest_order_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AGGREGATE top-1-per-group strategy (round 7): the same
    latest-order result as the window form above, computed as
    ``max(struct(order_cols..., payload))`` + unpack — a plain hash
    aggregate that partial-aggs MAP-SIDE (each task keeps ONE struct
    per group) and is therefore immune to the hot-key window skew a
    rank over a celebrity customer would hit: the hot key collapses to
    one row per map task before the shuffle. Lexicographic struct max
    over (orderdate, orderkey) equals the (DESC, DESC) window pick
    because the tiebreaker makes the ordering total; the oracle keeps
    the window form as the semantic spec. This is the strategy of
    choice when only the top-1 is needed and keys can be skewed; the
    window form generalizes to top-k."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.max(F.struct("o_orderdate", "o_orderkey",
                            "o_totalprice")).alias("__top"))
        .select("o_custkey",
                F.col("__top.o_orderkey").alias("o_orderkey"),
                F.col("__top.o_orderdate").alias("o_orderdate"),
                F.col("__top.o_totalprice").alias("o_totalprice"))
    )


def q_supplier_running_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-over-frame window (running sum per supplier). Quantity, not
    revenue, so the cumulative double stays in a range where round(2) is
    robust to summation-order ulp differences across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        F.round(F.sum("l_quantity").over(w), 2).alias("running_qty"),
    )


ORACLE_RUNNING_QTY = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       round(sum(l_quantity) OVER (
         PARTITION BY l_suppkey
         ORDER BY l_shipdate, l_orderkey, l_linenumber
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
FROM lineitem
"""


def q_customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() window — days since the customer's previous order (int-typed,
    no float risk)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag(F.to_date("o_orderdate")).over(w)
    return orders.select(
        "o_custkey", "o_orderkey",
        F.datediff(F.to_date("o_orderdate"), prev).alias("gap_days"),
    )


ORACLE_ORDER_GAPS = """
SELECT o_custkey, o_orderkey,
       datediff('day',
                lag(CAST(o_orderdate AS DATE)) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                CAST(o_orderdate AS DATE))::INT AS gap_days
FROM orders
"""


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag(ts) + cumulative sum over gap>30min flags — the
    batch equivalent of a session window (SURVEY §2.10 is ABSENT in the
    reference; this is the Spark-native capability the driver contract
    expects). Single shuffle on user_id; both window passes share it."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Fractional-second gap semantics, matching DuckDB's epoch(ts) DOUBLE:
    # unix_timestamp() truncates to whole seconds and would disagree with the
    # oracle whenever a gap lands within ~1s of the 1800s boundary.
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.withColumn("__new", new_sess)
        .withColumn("session_id",
                    F.sum("__new").over(
                        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("user_id", "event_id",
                F.col("session_id").cast("int").alias("session_id"))
    )


ORACLE_SESSIONIZE = """
SELECT user_id, event_id,
       (sum(CASE WHEN prev_ts IS NULL
                 OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END)
        OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::INT AS session_id
FROM (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
)
"""


# --------------------------------------------------------------------------
# Join family (J1 anti, J3 star/broadcast, semi)
# --------------------------------------------------------------------------


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/J1: NOT-IN-subquery → left_anti join (the incremental new-files
    pattern from stg_weather_raw.sql:21-25, applied to customers)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders.select("o_custkey").distinct(),
                     cust.c_custkey == F.col("o_custkey"),
                     "left_anti").select("c_custkey", "c_name")


ORACLE_NO_ORDERS = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 star join. Only the fixed-cardinality dims (nation=25, region=5)
    are force-broadcast; customer grows with scale factor, so it joins as an
    ordinary shuffle join — AQE converts it to broadcast at runtime when the
    pruned build side is genuinely small, and never OOMs at 100 TB the way a
    hard `broadcast(customer)` hint would. The only unavoidable big shuffle
    is the final 5-group aggregation, which partial-aggs map-side first."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dim = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "r_name")
    )
    return (
        li.join(orders.select("o_orderkey", "o_custkey"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(dim, F.col("o_custkey") == dim.c_custkey)
        .groupBy("r_name")
        .agg(F.round(F.sum((F.col("l_extendedprice")
                            * (1 - F.col("l_discount")))
                           .cast("decimal(18,4)")), 2).cast("double")
             .alias("revenue"),
             F.count(F.lit(1)).alias("n_lineitems"))
    )


ORACLE_REGION_REVENUE = """
SELECT r_name,
       round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)), 2)::DOUBLE AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_returned_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (EXISTS): order-priority counts for orders with at least one
    returned lineitem. left_semi avoids materializing the join fanout."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    returned = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


ORACLE_RETURNED_PRIORITY = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Sort / limit / top-k (O-family)
# --------------------------------------------------------------------------


def q_top_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT — Spark plans TakeOrderedAndProject (no full
    sort; each partition keeps its local top-k, driver merges k·p rows).
    p_partkey tiebreaker makes the cut deterministic. No broadcast hint:
    `part` scales with the data, and post-agg `rev` (≤ distinct partkeys) is
    the smaller side anyway — AQE picks the physical join at runtime."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (
        li.groupBy("l_partkey")
        .agg(F.round(F.sum((F.col("l_extendedprice")
                            * (1 - F.col("l_discount")))
                           .cast("decimal(18,4)")), 2).cast("double")
             .alias("revenue"))
    )
    return (
        rev.join(part, rev.l_partkey == part.p_partkey)
        .select("p_partkey", "p_name", "revenue")
        .orderBy(F.col("revenue").desc(), F.col("p_partkey"))
        .limit(10)
    )


ORACLE_TOP_PARTS = """
SELECT p_partkey, p_name, revenue
FROM (
  SELECT l_partkey, round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)), 2)::DOUBLE AS revenue
  FROM lineitem GROUP BY l_partkey
) JOIN part ON l_partkey = p_partkey
ORDER BY revenue DESC, p_partkey
LIMIT 10
"""


# --------------------------------------------------------------------------
# Set operations (§2.8 — ABSENT in reference; Spark-native capability)
# --------------------------------------------------------------------------


def q_repeat_status_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers appearing with both a finished ('F') and an open
    ('O') order."""
    orders = load_table(spark, sf_dir, "orders")
    f_cust = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o_cust = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f_cust.intersect(o_cust).withColumnRenamed("o_custkey", "custkey")


ORACLE_REPEAT_STATUS = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
"""


def q_small_qty_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery, decorrelated (TPC-H Q17 shape): yearly
    revenue from lineitems whose quantity is below 20% of their part's
    average. The DataFrame form IS the decorrelation — per-part averages
    via one partial-agg groupBy, joined back; no per-row subquery
    execution. The per-part agg output (≤ distinct partkeys) is the small
    side, so AQE broadcast-converts the join at runtime."""
    li = load_table(spark, sf_dir, "lineitem")
    avg_qty = (li.groupBy("l_partkey")
               .agg(F.avg("l_quantity").alias("avg_qty")))
    return (
        li.join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
             F.count(F.lit(1)).alias("n_lineitems"))
    )


ORACLE_SMALL_QTY = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
       count(*) AS n_lineitems
FROM lineitem l
WHERE l_quantity < (SELECT 0.2 * avg(l_quantity)
                    FROM lineitem WHERE l_partkey = l.l_partkey)
"""


def q_order_status_exclusive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customers with a finished order but no open order —
    completes the set-op family (INTERSECT above, EXCEPT here)."""
    orders = load_table(spark, sf_dir, "orders")
    f_cust = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o_cust = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f_cust.subtract(o_cust).withColumnRenamed("o_custkey", "custkey")


ORACLE_STATUS_EXCLUSIVE = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
"""


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (SURVEY §2.5 grouping-sets family): per
    (event_type, day), per event_type, and grand total in one pass —
    Spark expands to a single Expand + hash aggregate, still map-side
    combined."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.to_date("ts"))
        .rollup("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
    )


ORACLE_EVENTS_ROLLUP = """
SELECT event_type, CAST(ts AS DATE) AS day,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events
GROUP BY ROLLUP (event_type, CAST(ts AS DATE))
"""


# --------------------------------------------------------------------------
# Dimension builders (A1/A2 distinct + C11 surrogate keys + date spine C2-C9)
# --------------------------------------------------------------------------


def q_dim_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_location analog (dim_location.sql:3-9): SELECT DISTINCT + md5
    surrogate key with exact dbt_utils sentinel/delimiter parity."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            surrogate_key("r_name", "n_name").alias("geo_key"),
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
        )
        .distinct()
    )


ORACLE_DIM_GEO = f"""
SELECT DISTINCT
       {surrogate_key_sql('r_name', 'n_name')} AS geo_key,
       r_name AS region_name,
       n_name AS nation_name
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
"""


def q_dim_date_from_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_date analog (dim_date.sql:3-30) over the distinct order dates:
    integer yyyyMMdd key (C4), calendar parts (C5), weekday name (C6,
    normalized un-padded — documented deviation from Snowflake's 9-char
    blank padding), weekend flag (C7), week number since the Monday-of-week
    containing Jan 1 (C8/C9)."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("date_day")
    return (
        orders.select(F.to_date("o_orderdate").alias("date_day")).distinct()
        .select(
            d,
            date_key(d).alias("date_key"),
            F.year(d).alias("year"),
            F.month(d).alias("month"),
            F.dayofmonth(d).alias("day"),
            weekday_name(d).alias("weekday"),
            is_weekend(d).alias("is_weekend"),
            week_number(d).alias("week_number"),
        )
    )


ORACLE_DIM_DATE = """
SELECT date_day,
       strftime(date_day, '%Y%m%d')::INT AS date_key,
       year(date_day)::INT   AS year,
       month(date_day)::INT  AS month,
       day(date_day)::INT    AS day,
       dayname(date_day)     AS weekday,
       isodow(date_day) IN (6, 7) AS is_weekend,
       (datediff('day',
                 date_trunc('week', make_date(year(date_day)::INT, 1, 1)),
                 date_trunc('week', date_day)) // 7 + 1)::INT AS week_number
FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS date_day FROM orders)
"""


def q_dim_part_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_weather_condition analog (dim_weather_condition.sql:3-8): distinct
    code + split_part decomposition (C1) + slug normalization (C13)."""
    part = load_table(spark, sf_dir, "part")
    t = F.col("p_type")
    return (
        part.select("p_type").distinct()
        .select(
            surrogate_key("p_type").alias("type_key"),
            t.alias("type_code"),
            split_part_compat(t, " ", 1).alias("type_class"),
            split_part_compat(t, " ", 2).alias("type_sub"),
            split_part_compat(t, " ", 3).alias("type_finish"),
            slugify(t).alias("type_slug"),
        )
    )


ORACLE_DIM_PART_TYPE = f"""
SELECT {surrogate_key_sql('p_type')} AS type_key,
       p_type AS type_code,
       split_part(p_type, ' ', 1) AS type_class,
       split_part(p_type, ' ', 2) AS type_sub,
       split_part(p_type, ' ', 3) AS type_finish,
       replace(lower(trim(p_type)), ' ', '_') AS type_slug
FROM (SELECT DISTINCT p_type FROM part)
"""


EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def q_events_daily_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: one row per day, one count column per event type. The
    pivot value list is explicit — at scale an implicit pivot costs an
    extra distinct pass AND makes the output schema data-dependent."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.to_date("ts"))
        .groupBy("day")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
    )


ORACLE_EVENTS_PIVOT = """
SELECT CAST(ts AS DATE) AS day,
       count(*) FILTER (WHERE event_type = 'click')    AS click,
       count(*) FILTER (WHERE event_type = 'view')     AS view,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup')   AS signup,
       count(*) FILTER (WHERE event_type = 'error')    AS error
FROM events
GROUP BY 1
"""


def q_events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: the daily pivot folded back to long form — wide
    metric columns become (metric, n) rows. Row-local Expand, no
    shuffle beyond the pivot's own aggregation."""
    wide = q_events_daily_pivot(spark, sf_dir)
    return wide.unpivot(
        ids=["day"], values=list(EVENT_TYPES),
        variableColumnName="metric", valueColumnName="n",
    )


ORACLE_EVENTS_UNPIVOT = f"""
WITH wide AS ({ORACLE_EVENTS_PIVOT})
SELECT day, metric, n
FROM wide
UNPIVOT (n FOR metric IN (click, view, purchase, signup, error))
"""


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^2 grouping sets over (event_type, weekday) in one
    Expand + hash aggregate."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("weekday", F.date_format("ts", "EEEE"))
        .cube("event_type", "weekday")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


ORACLE_EVENTS_CUBE = """
SELECT event_type, dayname(ts) AS weekday, count(*) AS n_events
FROM events
GROUP BY CUBE (event_type, dayname(ts))
"""


def q_customer_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers bucketed into exact spend quartiles (custkey
    tiebreak) — ntile SEMANTICS without ntile's single-partition sort.

    Scale note: ntile's global ORDER BY is inherently single-partition —
    the same cost the oracle's engine pays. Where an approximate split is
    acceptable at very large SF, compute the three quartile cut points
    (percentile/approx) and assign buckets by broadcast comparison
    instead; this query keeps exact ntile semantics deliberately, as the
    oracle-checkable form.

    Scale path (round 7): ``operators/quantiles.global_ntile``
    range-buckets the rollup on approx-percentile boundaries, ranks
    each range in parallel, and adds broadcast per-range offsets; the
    integer rank arithmetic reproduces SQL ntile bit-for-bit, so the
    single-window oracle stays the semantic spec while no data-sized
    partition ever sorts alone. ``customer_spend_quartiles_cut`` is
    the even cheaper broadcast cut-point variant."""
    orders = load_table(spark, sf_dir, "orders")
    spend = (orders.groupBy("o_custkey")
             .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spend")))
    return quantiles.global_ntile(
        spend, "total_spend", 4, "o_custkey", descending=True,
        out_col="spend_quartile",
    ).select("o_custkey", "total_spend", "spend_quartile")


ORACLE_SPEND_QUARTILES = """
SELECT o_custkey, total_spend,
       ntile(4) OVER (ORDER BY total_spend DESC, o_custkey)::INT
         AS spend_quartile
FROM (SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spend
      FROM orders GROUP BY o_custkey)
"""


def q_customer_spend_quartiles_cut(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Broadcast-comparison quartiles: three EXACT interpolated
    percentile cut points in ONE aggregate, buckets assigned by
    comparison (operators/quantiles.py:quantile_cut) — zero windows of
    any kind, the preferred form when equal-height bucket sizes are not
    required (ties on a cut point share the better bucket). Spark
    ``percentile`` == DuckDB ``quantile_cont`` (both interpolate at
    p*(n-1) over the sorted exact values — see
    ``q_order_value_percentiles``), so the cut points are
    oracle-expressible; spend is the exact-decimal sum per the
    engine-wide midpoint policy."""
    orders = load_table(spark, sf_dir, "orders")
    spend = (orders.groupBy("o_custkey")
             .agg(F.round(F.sum(F.col("o_totalprice")
                                .cast("decimal(18,2)")), 2)
                  .cast("double").alias("total_spend")))
    return quantiles.quantile_cut(
        spend, "total_spend", [0.75, 0.5, 0.25], descending=True,
        out_col="spend_quartile",
    ).select("o_custkey", "total_spend", "spend_quartile")


ORACLE_SPEND_QUARTILES_CUT = """
WITH spend AS (
  SELECT o_custkey,
         round(sum(o_totalprice::DECIMAL(18,2)), 2)::DOUBLE AS total_spend
  FROM orders GROUP BY o_custkey
),
cuts AS (
  SELECT quantile_cont(total_spend, 0.75) AS c0,
         quantile_cont(total_spend, 0.50) AS c1,
         quantile_cont(total_spend, 0.25) AS c2
  FROM spend
)
SELECT o_custkey, total_spend,
       (1 + (total_spend < c0)::INT + (total_spend < c1)::INT
          + (total_spend < c2)::INT) AS spend_quartile
FROM spend, cuts
"""


def q_order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == SQL
    percentile_cont == DuckDB quantile_cont) of order value per
    priority."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50"),
             F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90"),
             F.round(F.expr("percentile(o_totalprice, 0.99)"), 2).alias("p99"))
    )


# float note: interpolated percentiles are order-safe — both engines sort
# the exact values and evaluate one (1-f)*lo + f*hi interpolation, so the
# double entering round() matches bit-for-bit. Residual exposure is only a
# shortest-repr 2-dp midpoint (Spark rounds the decimal repr, DuckDB the
# binary value) — accepted and documented.
ORACLE_ORDER_PERCENTILES = """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 2)  AS p50,
       round(quantile_cont(o_totalprice, 0.9), 2)  AS p90,
       round(quantile_cont(o_totalprice, 0.99), 2) AS p99
FROM orders
GROUP BY o_orderpriority
"""


def q_event_user_reach_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) per event_type — rows-only checked
    by the driver (HLL sketches differ across engines by construction);
    pytest asserts the estimate lands within 5% of exact."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id").alias("approx_users"),
             F.count(F.lit(1)).alias("n_events"))
    )


def q_event_user_reach_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct twin of ``event_user_reach_approx`` — gives
    the reach metric a hash-checkable driver row; pytest bounds the HLL
    estimate against this (|approx−exact|/exact ≤ 5%)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n_users"),
             F.count(F.lit(1)).alias("n_events"))
    )


ORACLE_REACH_EXACT = """
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       count(*) AS n_events
FROM events
GROUP BY event_type
"""


def q_event_reach_sketch_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup under the driver's eye (rows-only: HLL
    binaries are engine-specific): one HLL sketch per (event_type, day)
    at "ingest" grain, UNIONED up to (event_type, week) — the
    pre-aggregation pattern where range queries merge kilobyte sketches
    instead of re-scanning raw events (operators/sketches.py). Its exact
    twin ``event_reach_weekly_exact`` is hash-checked over the same
    windows, and pytest bounds the estimates within 5% of exact."""
    from ..operators.sketches import sketch_rollup, sketch_union

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts"))
    daily = sketch_rollup(ev, "user_id", ("event_type", "day"))
    weekly = daily.withColumn(
        "week", F.date_trunc("week", F.col("day")).cast("date"))
    return sketch_union(weekly, ("event_type", "week"))


def q_event_reach_weekly_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct twin of ``event_reach_sketch_weekly`` over
    the same (event_type, Monday-week) windows — the hash-checkable
    driver row bounding the sketch rollup."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type",
                   F.date_trunc("week", F.col("ts")).cast("date")
                   .alias("week"))
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


ORACLE_REACH_WEEKLY_EXACT = """
SELECT event_type,
       date_trunc('week', ts)::DATE AS week,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the maximum quarterly
    revenue, ties included. The scalar max is an aggregate broadcast back
    against the per-supplier revenue — no global sort, no window over a
    single partition (the usual Q15 scale trap)."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1996-03-31").cast("timestamp")))
        .groupBy("l_suppkey")
        .agg(F.round(F.sum((F.col("l_extendedprice")
                            * (1 - F.col("l_discount")))
                           .cast("decimal(18,4)")), 2).cast("double")
             .alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("mx"))
        .join(supplier, rev.l_suppkey == supplier.s_suppkey)
        .select(F.col("s_suppkey").alias("suppkey"),
                F.col("s_name").alias("supplier_name"),
                "total_revenue")
    )


ORACLE_TOP_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey,
         round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)), 2)::DOUBLE AS total_revenue
  FROM lineitem
  WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-03-31'
  GROUP BY l_suppkey
)
SELECT s_suppkey AS suppkey, s_name AS supplier_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
"""


def q_sql_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-API surface: the same engine consumed as ANSI SQL text over
    registered views (same pushdowns, same broadcast of the
    fixed-cardinality dims as the DataFrame form).

    Round 11 rewrite — the naive form a dbt user writes (kept verbatim
    as the ORACLE, so green parity proves the rewrite safe) computes
    ``count(DISTINCT o_orderkey)`` over the joined fact: Catalyst plans
    that as a second distinct-aggregate pass over (nation, orderkey)
    pairs shuffled at LINEITEM grain. But each order maps to exactly one
    customer → one nation, so pre-aggregating lineitem per order FIRST
    (one map-side-combinable agg) makes the distinct a plain count and
    shrinks the join input ~4× (orders, not lineitems) — the decorrelate-
    then-join discipline of the r10 Q21 rewrite. Exact-decimal per-order
    sums re-sum exactly (associative), so the final round(2) is
    bit-identical. Measured 1.6-1.9 → 0.97-1.0 s steady at sf0.1; at
    100 TB the saving is a lineitem-grain distinct shuffle."""
    from ..sources.tables import register_tables
    register_tables(spark, sf_dir)
    return spark.sql("""
        WITH per_order AS (
          SELECT l_orderkey,
                 sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)) AS rev
          FROM lineitem GROUP BY l_orderkey)
        SELECT n_name AS nation,
               round(sum(rev), 2)::DOUBLE AS revenue,
               count(*) AS n_orders
        FROM per_order
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """)


ORACLE_SQL_NATION_REVENUE = """
SELECT n_name AS nation,
       round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)), 2)::DOUBLE AS revenue,
       count(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_events_last_error_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every event picks up the timestamp of the same user's
    most recent *prior* 'error' event (strict backward match) — the
    trade-joins-prevailing-quote pattern via operators/asof.py's
    union-window formulation (one shuffle, no range self-join). Oracle is
    DuckDB's native ASOF LEFT JOIN."""
    from ..operators.asof import asof_join
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts")
    return asof_join(ev, errors, keys=["user_id"], left_ts="ts",
                     right_ts="ts", payload_cols=["ts"], prefix="prev_") \
        .select("event_id", "user_id",
                F.col("prev_ts").alias("prev_error_ts"))


ORACLE_LAST_ERROR_ASOF = """
SELECT e.event_id, e.user_id, r.ts AS prev_error_ts
FROM events e ASOF LEFT JOIN
     (SELECT user_id, ts FROM events WHERE event_type = 'error') r
  ON e.user_id = r.user_id AND e.ts > r.ts
"""


# --------------------------------------------------------------------------
# Events: time-bucket rollup + JSON projection (P1/P2 analog)
# --------------------------------------------------------------------------


def q_events_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial grid aggregation + 3×3 stencil smoothing (round 8): each
    user gets a deterministic (lat, lon) from the md5 48-bit hash (the
    cross-engine synthesized-column idiom), events bin into integer
    grid cells, and every cell's smoothed density = the sum of its own
    and its 8 neighbors' counts — the standard heat-map/hot-spot shape.

    Scale shape: binning is row-local (two hash + floor expressions);
    the per-cell count is one partial-agged groupBy; the NEIGHBORHOOD
    sum is the stencil trick — each cell row fans out to the 9 cells
    it contributes to (explode over the fixed 3×3 offsets, work = 9 ×
    |cells|, never |cells|²) and re-aggregates — a bounded fan-out of
    the CELL frame, not the event frame, so a trillion events over a
    360×180 grid smooth in milliseconds. No distance joins, no cross
    join; the same pattern scales to geohash prefixes at finer zoom."""
    from ..operators.textops import base_hash48

    ev = load_table(spark, sf_dir, "events")
    lat_cell = (base_hash48(F.concat_ws(
        "|", F.col("user_id"), F.lit("lat"))) % 18).cast("bigint")
    lon_cell = (base_hash48(F.concat_ws(
        "|", F.col("user_id"), F.lit("lon"))) % 36).cast("bigint")
    cells = (ev.select(lat_cell.alias("cy"), lon_cell.alias("cx"))
             .groupBy("cy", "cx")
             .agg(F.count(F.lit(1)).alias("n_events")))
    offsets = [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    contrib = (cells.select(
        F.explode(F.array(*[
            F.struct((F.col("cy") + dy).alias("ty"),
                     (F.col("cx") + dx).alias("tx"))
            for dy, dx in offsets])).alias("t"),
        "n_events")
        .select(F.col("t.ty").alias("cy"), F.col("t.tx").alias("cx"),
                "n_events")
        .filter(F.col("cy").between(0, 17) & F.col("cx").between(0, 35))
        .groupBy("cy", "cx")
        .agg(F.sum("n_events").alias("smoothed")))
    return (cells.join(contrib, ["cy", "cx"])
            .select("cy", "cx", "n_events", "smoothed"))


ORACLE_SPATIAL_GRID = """
WITH cells AS (
  SELECT ('0x' || substr(md5(user_id || '|lat'), 1, 12))::BIGINT % 18 AS cy,
         ('0x' || substr(md5(user_id || '|lon'), 1, 12))::BIGINT % 36 AS cx,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
),
contrib AS (
  SELECT c.cy + d.dy AS cy, c.cx + d.dx AS cx,
         sum(c.n_events)::BIGINT AS smoothed
  FROM cells c
  CROSS JOIN (SELECT dy.x AS dy, dx.x AS dx
              FROM range(-1, 2) dy(x), range(-1, 2) dx(x)) d
  WHERE c.cy + d.dy BETWEEN 0 AND 17
    AND c.cx + d.dx BETWEEN 0 AND 35
  GROUP BY 1, 2
)
SELECT c.cy, c.cx, c.n_events, t.smoothed
FROM cells c JOIN contrib t USING (cy, cx)
"""


# Z-order layout knobs: dims must stay < 2**Z_BITS (user_id <= 1499,
# day 0..29 in the testdata; 12 bits leaves 2.7x headroom on user_id),
# and each bucket of 2**(2*Z_SQUARE_BITS) consecutive z-values is an
# aligned 4x4 (user, day) square.
Z_BITS = 12
Z_SQUARE_BITS = 2
Z_EPOCH = "2024-01-01"


def q_events_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering layout stats (the OPTIMIZE ZORDER data-
    skipping technique): Morton-interleave (user_id, event day), bucket
    the curve into 2^(2m)-value runs, and emit each bucket's min/max
    footer per dimension. Because every bucket is an ALIGNED 2^m x 2^m
    square (sq_x/sq_y witness columns), a min/max footer prunes
    rectangle predicates on EITHER dimension — the property a
    single-column sort only gives its leading column; pytest asserts
    the alignment invariant and the rectangle pruning bound.

    Scale shape: the z-value is a row-local shift/mask expression
    (whole-stage codegen, operators/zorder.py), stats are one
    map-side-combinable aggregate; the write path at scale is
    repartitionByRange(z) + sortWithinPartitions(z)."""
    from ..operators import zorder

    ev = load_table(spark, sf_dir, "events")
    day = F.datediff(F.col("ts").cast("date"),
                     F.to_date(F.lit(Z_EPOCH))).cast("long")
    z = zorder.zvalue(F.col("user_id"), day, bits=Z_BITS)
    return (ev.select(
        F.shiftright(z, 2 * Z_SQUARE_BITS).alias("zbucket"),
        F.col("user_id"), day.alias("day"))
        .groupBy("zbucket")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("user_id").alias("min_uid"),
             F.max("user_id").alias("max_uid"),
             F.min("day").alias("min_day"),
             F.max("day").alias("max_day"))
        .withColumn("sq_x", F.shiftright(F.col("min_uid"), Z_SQUARE_BITS))
        .withColumn("sq_y", F.shiftright(F.col("min_day"), Z_SQUARE_BITS)))


def _oracle_zorder_stats() -> str:
    from ..operators.zorder import zvalue_sql
    return rf"""
WITH e AS (SELECT user_id, (ts::DATE - DATE '{Z_EPOCH}') AS day FROM events),
z AS (SELECT user_id, day,
             {zvalue_sql('user_id', 'day', Z_BITS)}
               >> {2 * Z_SQUARE_BITS} AS zbucket
      FROM e)
SELECT zbucket, count(*)::BIGINT AS n_events,
       min(user_id) AS min_uid, max(user_id) AS max_uid,
       min(day) AS min_day, max(day) AS max_day,
       (min(user_id) >> {Z_SQUARE_BITS}) AS sq_x,
       (min(day) >> {Z_SQUARE_BITS}) AS sq_y
FROM z GROUP BY zbucket
"""


def q_events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation (the batch twin of a tumbling window)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
    )


ORACLE_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_events_json_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2 analog: semi-structured path projection + cast out of a JSON
    string column (the VARIANT pattern of stg_weather_raw.sql:15-18).
    regexp-free of extension dependencies on the oracle side."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_value"),
    )


ORACLE_EVENTS_JSON = r"""
SELECT event_id,
       regexp_extract(props, '"k": (-?\d+)', 1)::INT AS k_value
FROM events
"""


def q_events_variant_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT twin of ``events_json_project``: ``parse_json``
    turns the string column into a VariantType value once, and
    ``variant_get`` does typed path extraction from the binary-encoded
    form — the open-lakehouse semi-structured type that replaces
    re-parsing the JSON string on every path access (one parse, many
    typed reads; at 100 TB the parse is the cost). Same output as the
    string-path twin, so the same oracle pins both plans to identical
    values."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.variant_get(F.parse_json("props"), "$.k", "int")
        .alias("k_value"),
    )


def q_order_value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles via ``approx_percentile`` (Greenwald-
    Khanna sketch, accuracy 1/1000) — the MERGEABLE, bounded-memory form
    that actually runs at 100 TB: exact `percentile` materializes every
    group's values, the GK sketch is fixed-size per group and merges
    across partitions map-side. Rows-only by design (sketch contents
    are engine-specific); ``order_value_percentiles`` is the exact
    hash-green twin and pytest bounds each approximate quantile inside
    the sketch's rank-error envelope against it."""
    orders = load_table(spark, sf_dir, "orders")
    acc = 1000
    return (
        orders.groupBy("o_orderpriority")
        .agg(F.round(F.expr(f"approx_percentile(o_totalprice, 0.5, {acc})"),
                     2).alias("p50"),
             F.round(F.expr(f"approx_percentile(o_totalprice, 0.9, {acc})"),
                     2).alias("p90"),
             F.round(F.expr(f"approx_percentile(o_totalprice, 0.99, {acc})"),
                     2).alias("p99"))
    )


def q_event_audience_overlap_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event-type pairs: distinct users doing
    BOTH, plus the Jaccard of the two audiences — the segment-overlap
    question every analytics warehouse answers (and the exact twin
    bounding the sketch variant below).

    Scale shape: dedupe to (event_type, user_id) ONCE (map-side
    combinable), then self-join on user_id — per-user fan-out is bounded
    by the event-type cardinality (a fixed catalog, not data-sized), so
    the pair frame is ≤ |users|·|types|² rows and the final aggregate is
    tiny. The raw event grain never self-joins."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select("event_type", "user_id").distinct()
    sizes = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"))
    a = d.select(F.col("event_type").alias("type_a"), "user_id")
    b = d.select(F.col("event_type").alias("type_b"), "user_id")
    both = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"),
                      F.col("n_users").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"),
                      F.col("n_users").alias("n_b"))
    return (
        both.join(F.broadcast(sa), "type_a").join(F.broadcast(sb), "type_b")
        .select("type_a", "type_b", "n_a", "n_b", "n_both",
                F.round(F.col("n_both")
                        / (F.col("n_a") + F.col("n_b") - F.col("n_both")), 6)
                .alias("jaccard"))
    )


ORACLE_AUDIENCE_OVERLAP = """
WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
s AS (SELECT event_type, count(*) AS n_users FROM d GROUP BY 1),
pair AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS n_both
  FROM d a JOIN d b USING (user_id)
  WHERE a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, sa.n_users AS n_a, sb.n_users AS n_b, n_both,
       round(n_both * 1.0 / (sa.n_users + sb.n_users - n_both), 6) AS jaccard
FROM pair
JOIN s sa ON sa.event_type = type_a
JOIN s sb ON sb.event_type = type_b
"""


def q_event_audience_overlap_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-side audience overlap via HLL inclusion–exclusion:
    |A∩B| ≈ est(A) + est(B) − est(A ∪ B), where the union estimate
    comes from MERGING the two per-type sketches (``hll_union``) — raw
    events are scanned exactly once to build one kilobyte sketch per
    type, and every pairwise overlap after that touches only sketches.
    That's the 100 TB play: the exact twin's self-join re-scans the
    distinct frame for every question asked, the sketch table answers
    all of them from KBs. Rows-only by design (HLL binaries and
    estimates are engine-specific); ``event_audience_overlap_exact`` is
    the hash-checked twin and pytest bounds the estimate. The pair join
    is a deliberate non-equi join over the per-TYPE sketch frame —
    catalog-sized, never data-sized."""
    ev = load_table(spark, sf_dir, "events")
    sk = (ev.groupBy("event_type")
          .agg(F.hll_sketch_agg("user_id").alias("sk"),
               F.approx_count_distinct("user_id").alias("est")))
    a = sk.select(F.col("event_type").alias("type_a"),
                  F.col("sk").alias("sk_a"))
    b = sk.select(F.col("event_type").alias("type_b"),
                  F.col("sk").alias("sk_b"))
    return (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .select("type_a", "type_b",
                F.hll_sketch_estimate("sk_a").alias("est_a"),
                F.hll_sketch_estimate("sk_b").alias("est_b"),
                F.hll_sketch_estimate(
                    F.hll_union("sk_a", "sk_b")).alias("est_union"))
        .withColumn("est_both",
                    F.col("est_a") + F.col("est_b") - F.col("est_union"))
    )


HH_K = 20


def q_events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostic: the top-``HH_K`` user_ids by event count with
    their share of ALL events — the table you read before deciding
    whether a key needs salting (operators/skew.py) or an AQE skew-join
    hint. One map-side-combinable count per user + TakeOrdered; the
    total is a separate scalar aggregate (computed driver-side, one
    number — the same bounded-scalar pattern as tf-idf's corpus N)."""
    ev = load_table(spark, sf_dir, "events")
    total = float(ev.count())
    return (
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.col("n_events").desc(), F.col("user_id"))
        .limit(HH_K)
        .select("user_id", "n_events",
                F.round(F.col("n_events") / F.lit(total), 6).alias("share"))
    )


ORACLE_HEAVY_HITTERS = f"""
SELECT user_id, count(*) AS n_events,
       round(count(*) / (SELECT count(*) FROM events)::DOUBLE, 6) AS share
FROM events
GROUP BY user_id
ORDER BY n_events DESC, user_id
LIMIT {HH_K}
"""


def q_event_user_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point queries vs exact truth: the per-user
    event-count estimate from a 3×256 mergeable integer grid
    (operators/sketches.py:cms_cells/cms_point_estimate) joined against
    the exact count for the heavy-hitter user set. Unlike the HLL
    forms, the grid is deterministic md5-derived integers, so the whole
    sketch path is hash-checkable — and the overestimate-only guarantee
    (estimate ≥ exact, the CMS invariant) is visible in the emitted
    ``overshoot`` column. The grid build is one row-local ×3 fan-out +
    one map-side-combinable aggregate to ≤768 rows; point queries read
    the grid, never the raw events."""
    from ..operators.sketches import cms_cells, cms_point_estimate

    ev = load_table(spark, sf_dir, "events")
    exact = (ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
             .orderBy(F.col("exact_n").desc(), F.col("user_id"))
             .limit(HH_K))
    cells = cms_cells(ev, "user_id")
    est = cms_point_estimate(cells, exact, "user_id")
    return (
        exact.join(est.withColumn("user_id",
                                  F.col("user_id").cast("bigint")),
                   "user_id")
        .select("user_id", "exact_n", "cms_estimate",
                (F.col("cms_estimate") - F.col("exact_n"))
                .alias("overshoot"))
    )


def _oracle_cms_estimate() -> str:
    from ..operators.sketches import CMS_DEPTH, CMS_SALT, CMS_WIDTH

    h = (f"('0x' || substr(md5(user_id::VARCHAR || '|{CMS_SALT}|' "
         f"|| d::VARCHAR), 1, 12))::BIGINT % {CMS_WIDTH}")
    return f"""
WITH cells AS (
  SELECT d, ({h})::INT AS idx, count(*)::BIGINT AS cell_n
  FROM events, range(0, {CMS_DEPTH}) t(d)
  GROUP BY 1, 2
),
heavy AS (
  SELECT user_id, count(*)::BIGINT AS exact_n
  FROM events GROUP BY 1
  ORDER BY exact_n DESC, user_id LIMIT {HH_K}
),
probes AS (
  SELECT user_id, exact_n, d, ({h})::INT AS idx
  FROM heavy, range(0, {CMS_DEPTH}) t(d)
),
est AS (
  SELECT user_id, min(exact_n) AS exact_n, min(cell_n) AS cms_estimate
  FROM probes JOIN cells USING (d, idx)
  GROUP BY user_id
)
SELECT user_id, exact_n, cms_estimate,
       cms_estimate - exact_n AS overshoot
FROM est
"""


# Z-order layout key: 16 bits per dimension (user, day-index), 32-bit
# z-value, top 8 bits = the write bucket (≤256 files/tiles). Epoch is
# before the events table's data start so the day index is non-negative
# (arithmetic-shift semantics on negatives differ across engines).
ZORDER_BITS = 16
ZORDER_EPOCH = "2024-01-01"
ZORDER_BUCKET_SHIFT = 24


def q_events_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional clustering key (Morton/Z-order) over
    (user_id, day) — the layout step behind warehouse ZORDER BY: sort or
    range-partition the write on ``zval`` and parquet min/max stats
    prune selective scans on EITHER dimension, where single-key range
    clustering (operators/bucketing.py:write_range_clustered) only
    prunes its one sort column. The key is one codegen'd integer
    expression (operators/bucketing.py:zorder_key — all shift amounts
    compile-time literals), so computing it is row-local and free at any
    scale; ``zbucket`` (top 8 bits) is the file/tile assignment a writer
    would repartition on. Reference analog: S10's clustered layout
    lifted from one dimension to two."""
    from ..operators.bucketing import zorder_key

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id", F.col("user_id").cast("long").alias("u"),
        F.datediff(F.to_date("ts"), F.lit(ZORDER_EPOCH).cast("date"))
        .cast("long").alias("day_idx"))
    z = zorder_key([F.col("u"), F.col("day_idx")], ZORDER_BITS)
    return (
        base.withColumn("zval", z)
        .select("event_id", F.col("u").alias("user_id"), "day_idx", "zval",
                F.shiftright(F.col("zval"), ZORDER_BUCKET_SHIFT)
                .alias("zbucket"))
    )


def _oracle_zorder_layout() -> str:
    from ..operators.bucketing import zorder_key_sql
    z = zorder_key_sql(["u", "d"], ZORDER_BITS)
    return f"""
WITH base AS (
  SELECT event_id, user_id::BIGINT AS u,
         datediff('day', DATE '{ZORDER_EPOCH}',
                  CAST(ts AS DATE))::BIGINT AS d
  FROM events
)
SELECT event_id, u AS user_id, d AS day_idx, {z} AS zval,
       ({z} >> {ZORDER_BUCKET_SHIFT}) AS zbucket
FROM base
"""


# --------------------------------------------------------------------------
# Correlated-subquery family (TPC-H Q11 / Q18 / Q21 topologies) — the three
# classic shapes a warehouse user expects: scalar-aggregate threshold,
# semi-join on a grouped HAVING, and EXISTS + NOT-EXISTS against the same
# fact. Spark has no correlated-subquery DataFrame syntax; each is
# re-expressed as the join the optimizer would decorrelate it into.
# --------------------------------------------------------------------------

# Q11-shape threshold: parts whose revenue exceeds this multiple of the
# average part revenue (scale-invariant, unlike Q11's literal fraction —
# 167 parts at sf0.01, 252 at sf0.1).
IMPORTANT_PART_FACTOR = 1.3


def q_important_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose total revenue exceeds
    ``IMPORTANT_PART_FACTOR`` × the average part revenue — the
    scalar-aggregate-subquery topology. The threshold is a 1-row
    aggregate OVER the per-part rollup (not the raw fact), broadcast
    back against it: at 100 TB the rollup is |parts|-sized and the
    scalar costs one extra reduce, never a second fact scan. Revenue is
    2-dp-rounded BEFORE the average so both engines threshold identical
    doubles (sum-order ulps otherwise make the cut nondeterministic);
    the comparison margin between neighboring parts is ~1e3 while
    cross-engine avg drift on identical inputs is ≤ ulps — no boundary
    exposure."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (
        li.groupBy("l_partkey")
        .agg(F.round(F.sum((F.col("l_extendedprice")
                            * (1 - F.col("l_discount")))
                           .cast("decimal(18,4)")), 2).cast("double")
             .alias("part_revenue"))
    )
    thr = rev.agg(
        (F.avg("part_revenue") * F.lit(IMPORTANT_PART_FACTOR)).alias("thr"))
    return (
        rev.join(F.broadcast(thr), F.col("part_revenue") > F.col("thr"))
        .join(part, rev.l_partkey == part.p_partkey)
        .select(F.col("p_partkey").alias("partkey"),
                F.col("p_name").alias("part_name"),
                "part_revenue")
    )


ORACLE_IMPORTANT_PARTS = f"""
WITH rev AS (
  SELECT l_partkey,
         round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)), 2)::DOUBLE AS part_revenue
  FROM lineitem GROUP BY l_partkey
)
SELECT p_partkey AS partkey, p_name AS part_name, part_revenue
FROM rev JOIN part ON l_partkey = p_partkey
WHERE part_revenue > {IMPORTANT_PART_FACTOR} * (SELECT avg(part_revenue) FROM rev)
"""


# Q18-shape threshold: orders whose total line quantity exceeds this
# (874 orders at sf0.01, ~9.2k at sf0.1 — the "large volume" tail).
LARGE_ORDER_QTY = 200


def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers behind orders whose summed line
    quantity exceeds ``LARGE_ORDER_QTY`` — the IN-(grouped-HAVING)
    topology, decorrelated into a join against the qualifying rollup.
    The quantity rollup is map-side-combinable on l_orderkey and the
    HAVING filter shrinks it to the tail BEFORE it touches orders, so
    the expensive fact never joins unfiltered; customer then joins the
    surviving orders hash-on-key (AQE broadcasts it when the tail is
    small). Quantities are integral doubles — sum order cannot change
    the value, so the HAVING cut is exact on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > LARGE_ORDER_QTY)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(F.col("c_custkey").alias("custkey"),
                F.col("c_name").alias("customer_name"),
                F.col("o_orderkey").alias("orderkey"),
                F.col("o_orderdate").cast("date").alias("order_date"),
                F.col("o_totalprice").alias("total_price"),
                "total_qty")
    )


ORACLE_LARGE_VOLUME = f"""
SELECT c_custkey AS custkey, c_name AS customer_name,
       o_orderkey AS orderkey, o_orderdate::DATE AS order_date,
       o_totalprice AS total_price, total_qty
FROM orders
JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > {LARGE_ORDER_QTY}) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_sole_return_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 topology (EXISTS + NOT EXISTS against the same fact),
    keyed on l_returnflag since this schema carries no receipt dates:
    suppliers who were the ONLY supplier with a returned ('R') line in a
    multi-supplier order, counted per supplier.

    Plan (rewritten round 10 after the r9 driver bench flagged this entry
    +54%): the EXISTS / NOT-EXISTS pair is equivalent to a per-order
    predicate on the distinct-supplier profile — "the set of suppliers
    with an R line is exactly {s} and the order has another supplier" —
    so instead of decorrelating into a left-semi + left-anti against two
    distinct projections of the fact (four shuffles: two wide distincts,
    then both joins re-keyed on l_orderkey), fold the whole condition
    into TWO map-side-combinable aggregations over ONE projected scan:
    distinct (orderkey, suppkey, max(has_r)) pairs, then per-order
    counts (n_supp, n_r) with max-when picking the sole R supplier.
    Orders qualify iff n_r = 1 AND n_supp > 1; the final per-supplier
    count is a third, supplier-cardinality-sized shuffle. Same answer,
    two shuffles instead of four-plus (the old distincts re-shuffled
    onto l_orderkey again for each join), and no join until the
    broadcast dim at the end — measured 1.37 s → 1.06-1.12 s steady
    isolated at sf0.1 (the residual is the scan plus the two
    600k-row aggs; PLANS.md r10). Per-key state is O(suppliers per
    order) ≤ 7 at any corpus size."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    pairs = (li.select(
        "l_orderkey", "l_suppkey",
        (F.col("l_returnflag") == "R").cast("int").alias("r"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("r").alias("has_r")))
    per_order = pairs.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("has_r").alias("n_r"),
        F.max(F.when(F.col("has_r") == 1, F.col("l_suppkey")))
        .alias("l_suppkey"))
    waiting = per_order.filter((F.col("n_r") == 1) & (F.col("n_supp") > 1))
    return (
        waiting.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
        .select(F.col("s_suppkey").alias("suppkey"),
                F.col("s_name").alias("supplier_name"), "numwait")
    )


ORACLE_SOLE_RETURN = """
WITH l1 AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'
)
SELECT s_suppkey AS suppkey, s_name AS supplier_name, count(*) AS numwait
FROM l1 JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY 1, 2
"""


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 topology: the per-group correlated scalar — for every
    PROMO part under size 15, the supplier(s) offering the minimum unit
    cost (min cost per part computed once on a rollup, joined back on
    the (part, cost) pair: the standard decorrelation of Q2's
    ``ps_supplycost = (SELECT min(ps_supplycost) ...)``). The testdata
    has no partsupp table, so the offer grain is derived from lineitem:
    unit cost = round(l_extendedprice / l_quantity, 4) (a quotient, so
    the 4-dp round has no grid-midpoint exposure; min/equality on the
    identical IEEE doubles is engine-stable). Scale shape: the filtered
    part dim prunes the fact BEFORE the offer rollup (cheapest filter
    first), ``best`` re-aggregates the rollup — the fact is scanned
    once — and the join back is equi on (partkey, cost); nation is
    broadcast, supplier joins hash-on-key."""
    part_f = (load_table(spark, sf_dir, "part")
              .filter((F.col("p_type") == "PROMO") & (F.col("p_size") < 15))
              .select("p_partkey", "p_name"))
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    unit = F.round(F.col("l_extendedprice") / F.col("l_quantity"), 4)
    offers = (
        li.join(part_f.select("p_partkey"),
                li.l_partkey == F.col("p_partkey")).drop("p_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(unit).alias("unit_cost"))
    )
    best = (offers.groupBy("l_partkey")
            .agg(F.min("unit_cost").alias("min_unit_cost")))
    winners = offers.join(
        best, (offers.l_partkey == best.l_partkey)
        & (offers.unit_cost == best.min_unit_cost)).drop(best.l_partkey)
    return (
        winners.join(part_f, winners.l_partkey == part_f.p_partkey)
        .join(supplier, winners.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation),
              supplier.s_nationkey == nation.n_nationkey)
        .select("p_partkey", "p_name", "min_unit_cost",
                "s_suppkey", "s_name", "n_name", "s_acctbal")
    )


ORACLE_MIN_COST_SUPPLIER = """
WITH pf AS (SELECT p_partkey, p_name FROM part
            WHERE p_type = 'PROMO' AND p_size < 15),
offers AS (
  SELECT l_partkey, l_suppkey,
         min(round(l_extendedprice / l_quantity, 4)) AS unit_cost
  FROM lineitem JOIN pf ON l_partkey = p_partkey
  GROUP BY l_partkey, l_suppkey
),
best AS (SELECT l_partkey, min(unit_cost) AS min_unit_cost
         FROM offers GROUP BY l_partkey)
SELECT p.p_partkey, p.p_name, b.min_unit_cost,
       s.s_suppkey, s.s_name, n.n_name, s.s_acctbal
FROM offers o
JOIN best b ON o.l_partkey = b.l_partkey
           AND o.unit_cost = b.min_unit_cost
JOIN pf p ON o.l_partkey = p.p_partkey
JOIN supplier s ON o.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
"""


def q_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 topology: the nested semi-join chain behind an
    aggregate threshold — suppliers who, for at least one large-named
    part, shipped MORE THAN HALF of that part's total 1997 quantity
    (Q20's ``ps_availqty > 0.5 * (SELECT sum(l_quantity) ...)`` with
    the availability side likewise derived from lineitem, partsupp
    being absent from the testdata). Decorrelation: one date+part
    pruned pass builds the (part, supplier) quantity rollup; the
    per-part total RE-AGGREGATES that rollup (the fact is scanned
    once); the share filter then semi-joins up into the supplier dim.
    Quantities are small integers in doubles, so the sums and the
    half-threshold comparison are exact on both engines; the count is
    per-supplier, making the output |suppliers|-bounded."""
    li = (load_table(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1997-01-01")
                   .cast("timestamp"))
                  & (F.col("l_shipdate") < F.lit("1998-01-01")
                     .cast("timestamp"))))
    part_f = (load_table(spark, sf_dir, "part")
              .filter(F.col("p_name").startswith("large"))
              .select("p_partkey"))
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    shipped = (
        li.join(part_f, li.l_partkey == F.col("p_partkey")).drop("p_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("supp_qty"))
    )
    totals = (shipped.groupBy("l_partkey")
              .agg(F.sum("supp_qty").alias("part_qty")))
    dominant = (
        shipped.join(totals, "l_partkey")
        .filter(F.col("supp_qty") > 0.5 * F.col("part_qty"))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dominated_parts"))
    )
    return (
        supplier.join(dominant, supplier.s_suppkey == dominant.l_suppkey)
        .join(F.broadcast(nation),
              supplier.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", "n_name", "n_dominated_parts")
    )


ORACLE_DOMINANT_SUPPLIERS = """
WITH li AS (
  SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
),
pf AS (SELECT p_partkey FROM part WHERE p_name LIKE 'large%'),
shipped AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
  FROM li JOIN pf ON l_partkey = p_partkey
  GROUP BY l_partkey, l_suppkey
),
totals AS (SELECT l_partkey, sum(supp_qty) AS part_qty
           FROM shipped GROUP BY l_partkey),
dominant AS (
  SELECT l_suppkey, count(*)::BIGINT AS n_dominated_parts
  FROM shipped JOIN totals USING (l_partkey)
  WHERE supp_qty > 0.5 * part_qty
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, n.n_name, d.n_dominated_parts
FROM supplier s
JOIN dominant d ON s.s_suppkey = d.l_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
"""


def q_parts_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE-style BOM walk: a synthetic assembly hierarchy over
    part (parent(k) = (k-1) div 3, root 0 — the testdata carries no
    explicit BOM edges, so the tree is a deterministic function of the
    key) resolved by POINTER DOUBLING (operators/hierarchy.py): each
    node's (root, depth, path cost) lands in ⌈log2 depth⌉ keyed-join
    rounds instead of depth sequential self-joins — the plan that
    explodes a 100 TB BOM in ~5 shuffles. Path cost sums
    p_retailprice in exact DECIMAL (2-dp by construction), so the
    doubling's reassociated addition matches DuckDB's sequential
    WITH RECURSIVE walk bit-for-bit; the final cast to double is
    identical on both engines."""
    from ..operators.hierarchy import ancestor_rollup
    part = load_table(spark, sf_dir, "part")
    nodes = part.select(
        F.col("p_partkey").cast("bigint").alias("id"),
        F.when(F.col("p_partkey") == 0, F.lit(0).cast("bigint"))
        .otherwise(F.expr("(p_partkey - 1) div 3").cast("bigint"))
        .alias("parent"),
        F.col("p_retailprice").cast("decimal(18,2)").alias("w"))
    out = ancestor_rollup(nodes)
    return out.select(
        F.col("id").alias("partkey"),
        F.col("root_key").cast("bigint").alias("root_key"),
        F.col("depth").cast("int").alias("depth"),
        F.col("path_sum").cast("double").alias("path_cost"))


def _disc_price():
    """disc-price expression; built lazily (Column construction needs an
    active SparkContext, so no module-level columns)."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def q_urgent_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 topology: unshipped-order revenue for one market
    segment — the classic 3-way fact chain with filters on ALL THREE
    tables (segment on customer, order date below / ship date above the
    cut), each pushed into its own scan before any join. Group by the
    order key + date, top 10 by revenue with the orderkey tiebreak that
    makes LIMIT deterministic. Exact-decimal revenue per the midpoint
    policy; the orders side is date-pruned BEFORE joining lineitem."""
    cutoff = F.lit("1998-01-01").cast("timestamp")
    cust = (load_table(spark, sf_dir, "customer")
            .filter(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey"))
    orders = (load_table(spark, sf_dir, "orders")
              .filter(F.col("o_orderdate") < cutoff)
              .select("o_orderkey", "o_custkey", "o_orderdate"))
    li = (load_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_shipdate") > cutoff)
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(_disc_price().cast("decimal(18,4)")), 2)
             .cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(F.col("l_orderkey").alias("orderkey"), "o_orderdate",
                "revenue")
    )


ORACLE_URGENT_SHIPPING = """
SELECT l_orderkey AS orderkey, o_orderdate,
       round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)),
             2)::DOUBLE AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 topology: revenue per nation where the CUSTOMER and the
    SUPPLIER share that nation (the equality between two different
    dimension paths of the same fact row is Q5's signature), for one
    region and a date year. Both nation paths resolve through ONE
    broadcast nation dim read under two aliases (same multi-role trick
    as `nation_trade_matrix`); the fact is date-pruned at the scan;
    region restricts via the broadcast dim chain."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = (load_table(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= F.lit("1997-01-01")
                       .cast("timestamp"))
                      & (F.col("o_orderdate") < F.lit("1998-01-01")
                         .cast("timestamp")))
              .select("o_orderkey", "o_custkey"))
    cust = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier") \
        .select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region") \
        .filter(F.col("r_name") == "ASIA")
    n_in_region = (nation.join(F.broadcast(region),
                               nation.n_regionkey == region.r_regionkey)
                   .select("n_nationkey", "n_name"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n_in_region),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(_disc_price().cast("decimal(18,4)")), 2)
             .cast("double").alias("revenue"))
    )


ORACLE_LOCAL_SUPPLIER_VOLUME = """
SELECT n_name,
       round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)),
             2)::DOUBLE AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def q_returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 topology: customers ranked by revenue lost to returns
    in one quarter — order-date window pushed into the orders scan,
    returnflag filter pushed into the lineitem scan, customer + nation
    dims joined after the fact has been doubly pruned; top 20 with the
    custkey tiebreak making LIMIT deterministic."""
    li = (load_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_returnflag") == "R")
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    orders = (load_table(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= F.lit("1997-10-01")
                       .cast("timestamp"))
                      & (F.col("o_orderdate") < F.lit("1998-01-01")
                         .cast("timestamp")))
              .select("o_orderkey", "o_custkey"))
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.round(F.sum(_disc_price().cast("decimal(18,4)")), 2)
             .cast("double").alias("lost_revenue"))
        .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select(F.col("c_custkey").alias("custkey"), "c_name", "n_name",
                "c_acctbal", "lost_revenue")
    )


ORACLE_RETURNED_LOSSES = """
SELECT c_custkey AS custkey, c_name, n_name, c_acctbal,
       round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)),
             2)::DOUBLE AS lost_revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-10-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY lost_revenue DESC, c_custkey
LIMIT 20
"""


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 topology generalized to a monthly series: the share of
    revenue from PROMO-type parts per order month — conditional
    aggregation (CASE inside SUM) over one fact pass, part type via a
    part join. Numerator and denominator both sum in exact DECIMAL and
    the percentage divides the resulting doubles, so both engines
    compute the identical ratio before the 4-dp display round."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc = _disc_price().cast("decimal(18,4)")
    promo = F.when(F.col("p_type") == "PROMO", disc) \
        .otherwise(F.lit(0).cast("decimal(18,4)"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.to_date(F.date_trunc("month", "l_shipdate"))
                 .alias("ship_month"))
        .agg(F.sum(promo).alias("__promo"), F.sum(disc).alias("__all"))
        .select("ship_month",
                F.round(F.lit(100.0) * F.col("__promo").cast("double")
                        / F.col("__all").cast("double"), 4)
                .alias("promo_share_pct"))
    )


ORACLE_PROMO_SHARE = """
SELECT date_trunc('month', l_shipdate)::DATE AS ship_month,
       round(100.0
             * sum(CASE WHEN p_type = 'PROMO'
                        THEN (l_extendedprice * (1 - l_discount))::DECIMAL(18,4)
                        ELSE 0::DECIMAL(18,4) END)::DOUBLE
             / sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4))::DOUBLE,
             4) AS promo_share_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY date_trunc('month', l_shipdate)::DATE
"""


def q_small_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 topology: weekly-order-size revenue loss — lineitems
    whose quantity sits below 20% of their part's average quantity,
    summed and divided by 7. The correlated scalar (per-part avg)
    decorrelates into a part-grain rollup joined back on partkey; the
    threshold 0.2·avg is exact cross-engine because quantities are
    small integers in doubles (exact sums, exact counts, identical
    IEEE division). One fact scan feeds both the rollup and the probe
    side — Spark reuses the scan; the final sum is exact-decimal."""
    li = load_table(spark, sf_dir, "lineitem")
    avg_qty = (li.groupBy("l_partkey")
               .agg((F.sum("l_quantity") / F.count(F.lit(1)))
                    .alias("avg_qty")))
    return (
        li.join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           .cast("decimal(18,2)")).cast("double") / 7.0, 2)
             .alias("avg_weekly_loss"))
    )


ORACLE_SMALL_ORDER = """
WITH a AS (
  SELECT l_partkey, sum(l_quantity) / count(*) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT round(sum(l_extendedprice::DECIMAL(18,2))::DOUBLE / 7.0, 2)
         AS avg_weekly_loss
FROM lineitem JOIN a USING (l_partkey)
WHERE l_quantity < 0.2 * avg_qty
"""


def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 topology: one nation's share of a region's yearly
    revenue — the deepest star chain in the surface (fact → orders →
    customer → nation → region on the demand side, fact → supplier →
    nation on the supply side, the same broadcast nation dim under two
    roles) with a CONDITIONAL numerator: sum(revenue where supplier
    nation = GERMANY) / sum(revenue). Both sums are exact DECIMAL per
    the midpoint policy, the ratio divides the resulting doubles, and
    the region filter prunes through the broadcast dim chain before
    the big join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_custkey", "o_orderdate")
    cust = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier") \
        .select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region") \
        .filter(F.col("r_name") == "EUROPE")
    cust_nations = (nation.join(F.broadcast(region),
                                nation.n_regionkey == region.r_regionkey)
                    .select(F.col("n_nationkey").alias("cn_key")))
    supp_nation = nation.select(F.col("n_nationkey").alias("sn_key"),
                                F.col("n_name").alias("supp_nation"))
    disc = _disc_price().cast("decimal(18,4)")
    germany = F.when(F.col("supp_nation") == "GERMANY", disc) \
        .otherwise(F.lit(0).cast("decimal(18,4)"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cust_nations),
              cust.c_nationkey == F.col("cn_key"), "left_semi")
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(supp_nation),
              supp.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(F.sum(germany).alias("__de"), F.sum(disc).alias("__all"))
        .select("order_year",
                F.round(F.col("__de").cast("double")
                        / F.col("__all").cast("double"), 6)
                .alias("mkt_share"))
    )


ORACLE_MARKET_SHARE = """
SELECT year(o_orderdate)::INT AS order_year,
       round(sum(CASE WHEN sn.n_name = 'GERMANY'
                      THEN (l_extendedprice * (1 - l_discount))::DECIMAL(18,4)
                      ELSE 0::DECIMAL(18,4) END)::DOUBLE
             / sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4))::DOUBLE,
             6) AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region   ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE r_name = 'EUROPE'
GROUP BY year(o_orderdate)
"""


def q_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 topology: supplier variety per part attribute group
    with a NOT-IN supplier exclusion — suppliers in bad standing
    (negative account balance, the testdata's analog of Q16's
    complaint filter) are removed by an ANTI join BEFORE the distinct
    count, the decorrelated form of ``ps_suppkey NOT IN (...)``. The
    blacklist is a filtered dim (broadcast-sized); the distinct count
    shuffles on the (brand, type, size) group key."""
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_partkey", "l_suppkey")
    part = (load_table(spark, sf_dir, "part")
            .filter(F.col("p_size").isin(1, 5, 9, 13))
            .select("p_partkey", "p_brand", "p_type", "p_size"))
    bad = (load_table(spark, sf_dir, "supplier")
           .filter(F.col("s_acctbal") < 0).select("s_suppkey"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


ORACLE_SUPPLIER_VARIETY = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_size IN (1, 5, 9, 13)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def q_late_shipment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 topology: correlated EXISTS with a cross-table theta
    predicate — orders placed in 1997H1 having AT LEAST ONE lineitem
    shipped more than 60 days after the order date, counted per
    priority. The decorrelation is a LEFT SEMI join keyed on the
    orderkey with the inequality as the join residual: per-key work is
    bounded by order width, the date filter pushes into the orders
    scan, and the semi join deduplicates multi-late orders for free
    (no DISTINCT pass)."""
    orders = (load_table(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= F.lit("1997-01-01")
                       .cast("timestamp"))
                      & (F.col("o_orderdate") < F.lit("1997-07-01")
                         .cast("timestamp"))))
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_shipdate")
    late = (orders.join(
        li, (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate")
           + F.expr("INTERVAL 60 DAYS")), "left_semi"))
    return (late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_late_orders")))


ORACLE_LATE_SHIPMENTS = """
SELECT o_orderpriority, count(*) AS n_late_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def q_discount_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 topology: the pure scan-filter-aggregate — revenue that
    would be gained by dropping discounts in a band, one year, small
    quantities. No join, no window: every predicate pushes into the
    parquet scan and the single SUM partial-aggs map-side; the simplest
    possible 100 TB plan and the canonical pushdown check. Discounts
    live on an exact 0.01 grid, so the band endpoints compare exactly;
    price·discount is a 4-dp grid value summed in exact DECIMAL."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_shipdate") >= F.lit("1997-01-01")
                   .cast("timestamp"))
                  & (F.col("l_shipdate") < F.lit("1998-01-01")
                     .cast("timestamp"))
                  & (F.col("l_discount") >= 0.05)
                  & (F.col("l_discount") <= 0.07)
                  & (F.col("l_quantity") < 24))
        .agg(F.round(F.sum((F.col("l_extendedprice") * F.col("l_discount"))
                           .cast("decimal(18,4)")), 2).cast("double")
             .alias("revenue_effect"))
    )


ORACLE_DISCOUNT_BAND = """
SELECT round(sum((l_extendedprice * l_discount)::DECIMAL(18,4)),
             2)::DOUBLE AS revenue_effect
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q_customer_order_distribution(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """TPC-H Q13 topology: the order-count distribution INCLUDING
    zero-order customers — Q13's signature is the filter living in the
    OUTER join's ON clause (here: urgent orders excluded), so customers
    whose every order is filtered out still appear with count 0, which
    a WHERE clause would silently drop. Two-level aggregation: count
    per customer (|customers|-bounded), then count-of-counts (tiny).
    All integers — exact on both engines."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_custkey", "o_orderpriority")
    per_cust = (
        cust.join(orders,
                  (cust.c_custkey == orders.o_custkey)
                  & (orders.o_orderpriority != "1-URGENT"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (per_cust.groupBy("n_orders")
            .agg(F.count(F.lit(1)).alias("n_customers")))


ORACLE_ORDER_DISTRIBUTION = """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS n_orders
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT n_orders, count(*) AS n_customers
FROM per_cust GROUP BY n_orders
"""


def q_disjunctive_band_revenue(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """TPC-H Q19 topology: the OR-of-ANDs join predicate — three
    (brand, size-band, quantity-band) alternatives over the part×
    lineitem join. Catalyst extracts the common conjuncts it can
    (partkey equi-join key stays a hash join; the disjunction becomes a
    residual filter), the classic disjunctive-pushdown stress test.
    Exact-decimal revenue; integer-grid bands compare exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part") \
        .select("p_partkey", "p_brand", "p_size")
    alt1 = ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 5)
            & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 11))
    alt2 = ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 10)
            & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 20))
    alt3 = ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 15)
            & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 30))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(alt1 | alt2 | alt3)
        .groupBy("p_brand")
        .agg(F.round(F.sum(_disc_price().cast("decimal(18,4)")), 2)
             .cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_lineitems"))
    )


ORACLE_DISJUNCTIVE_BAND = """
SELECT p_brand,
       round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)),
             2)::DOUBLE AS revenue,
       count(*) AS n_lineitems
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size <= 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size <= 15
       AND l_quantity BETWEEN 20 AND 30)
GROUP BY p_brand
"""


def q_supplier_revenue_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global rank + percent_rank over the supplier-grain revenue
    rollup WITHOUT a single-partition sort: ``global_row_number``
    (operators/quantiles.py) builds the exact row_number via
    range-bucketed parallel ranking + broadcast offsets, and
    percent_rank = (rank-1)/(n-1) is then row-local (n rides the same
    config-sized offsets frame). The ORDER BY carries the unique
    suppkey tiebreak, so window rank == row_number and DuckDB's native
    percent_rank matches the formula exactly; revenue is the
    exact-decimal sum per the engine-wide midpoint policy."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.round(F.sum((F.col("l_extendedprice")
                            * (1 - F.col("l_discount")))
                           .cast("decimal(18,4)")), 2).cast("double")
             .alias("revenue"))
    )
    ranked = quantiles.global_row_number(
        rev, "revenue", "l_suppkey", descending=True,
        out_col="revenue_rank", total_col="__n")
    return ranked.select(
        F.col("l_suppkey").alias("suppkey"), "revenue",
        "revenue_rank",
        F.round((F.col("revenue_rank") - 1)
                / (F.col("__n") - 1), 6).alias("pct_rank"))


ORACLE_SUPPLIER_RANKS = """
WITH rev AS (
  SELECT l_suppkey,
         round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)),
               2)::DOUBLE AS revenue
  FROM lineitem GROUP BY l_suppkey
)
SELECT l_suppkey AS suppkey, revenue,
       row_number() OVER w AS revenue_rank,
       round(percent_rank() OVER w, 6) AS pct_rank
FROM rev
WINDOW w AS (ORDER BY revenue DESC, l_suppkey)
"""


ORACLE_HIERARCHY_ROLLUP = """
WITH RECURSIVE nodes AS (
  SELECT p_partkey::BIGINT AS id,
         (CASE WHEN p_partkey = 0 THEN 0
               ELSE (p_partkey - 1) // 3 END)::BIGINT AS parent,
         p_retailprice::DECIMAL(18,2) AS w
  FROM part
),
walk AS (
  SELECT id, id AS cur, 0 AS depth, 0::DECIMAL(28,2) AS anc_sum
  FROM nodes
  UNION ALL
  SELECT w.id, n.parent, w.depth + 1,
         (w.anc_sum + pn.w)::DECIMAL(28,2)
  FROM walk w
  JOIN nodes n ON n.id = w.cur
  JOIN nodes pn ON pn.id = n.parent
  WHERE w.cur <> 0
)
SELECT w.id AS partkey, w.cur::BIGINT AS root_key,
       w.depth::INT AS depth,
       (n0.w + w.anc_sum)::DOUBLE AS path_cost
FROM walk w JOIN nodes n0 ON n0.id = w.id
WHERE w.cur = 0
"""


def q_events_sliding_reach_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day — the sliding-window
    COUNT(DISTINCT) Spark's window frames cannot express (no DISTINCT
    over a frame). Scale shape: dedupe to (user, day) pairs FIRST (one
    map-side-combinable pass over the fact), then each pair fans out
    row-locally to the ≤7 window-end days it covers via
    explode(sequence(...)) and a single count_distinct per day finishes
    — the shuffle is 7×|distinct pairs| at day grain, never 7× the raw
    events. Window-end days are restricted to days observed in the data
    (semi-join against the day spine) so both engines emit the same
    domain."""
    ev = load_table(spark, sf_dir, "events")
    pairs = (ev.select("user_id", F.to_date("ts").alias("day")).distinct())
    days = pairs.select("day").distinct()
    covered = pairs.select(
        "user_id",
        F.explode(F.expr(
            "sequence(day, date_add(day, 6))")).alias("window_end"))
    return (
        covered.join(days, covered.window_end == days.day, "left_semi")
        .groupBy("window_end")
        .agg(F.count_distinct("user_id").alias("users_7d"))
        .select(F.col("window_end").alias("day"), "users_7d")
    )


ORACLE_SLIDING_REACH = """
WITH pairs AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
     days AS (SELECT DISTINCT day FROM pairs)
SELECT d.day, count(DISTINCT p.user_id) AS users_7d
FROM days d
JOIN pairs p ON p.day BETWEEN d.day - 6 AND d.day
GROUP BY d.day
"""


def q_customer_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention on orders: customers grouped by first-order
    month, distinct actives counted at each month offset — the
    triangle every growth dashboard draws. Month arithmetic stays in
    integers (year·12+month) so offsets are exact on both engines; the
    cohort frame is |customers|-sized and joins the fact hash-on-key
    (the fact is never windowed), then one distinct-count per
    (cohort, offset) cell finishes map-side-combinable."""
    orders = load_table(spark, sf_dir, "orders")
    om = orders.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .alias("mkey"))
    cohort = om.groupBy("o_custkey").agg(F.min("mkey").alias("cohort_key"))
    return (
        om.join(cohort, "o_custkey")
        .groupBy("cohort_key", (F.col("mkey") - F.col("cohort_key"))
                 .alias("month_offset"))
        .agg(F.count_distinct("o_custkey").alias("n_customers"))
        .select(F.make_date(F.floor(F.col("cohort_key") / 12).cast("int"),
                            F.col("cohort_key") % 12 + 1, F.lit(1))
                .alias("cohort_month"),
                F.col("month_offset").cast("int").alias("month_offset"),
                "n_customers")
    )


ORACLE_COHORT_RETENTION = """
WITH om AS (SELECT o_custkey,
                   (year(o_orderdate) * 12 + month(o_orderdate) - 1)::BIGINT
                     AS mkey
            FROM orders),
cohort AS (SELECT o_custkey, min(mkey) AS cohort_key FROM om GROUP BY 1)
SELECT make_date((cohort_key // 12)::INT, (cohort_key % 12 + 1)::INT, 1)
         AS cohort_month,
       (mkey - cohort_key)::INT AS month_offset,
       count(DISTINCT om.o_custkey) AS n_customers
FROM om JOIN cohort USING (o_custkey)
GROUP BY cohort_key, mkey - cohort_key
"""


def q_sql_order_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text API: explicit GROUPING SETS over orders — the
    middle ground rollup/cube can't express (each single-dimension
    margin WITHOUT the cross cells), plus grouping() flags to
    disambiguate aggregation NULLs from data NULLs. Same partial-agg
    Expand strategy as the rollup/cube queries."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               grouping(o_orderstatus) AS g_status,
               grouping(o_orderpriority) AS g_priority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


ORACLE_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority,
       (CASE WHEN grouping(o_orderstatus) THEN 1 ELSE 0 END)::TINYINT
         AS g_status,
       (CASE WHEN grouping(o_orderpriority) THEN 1 ELSE 0 END)::TINYINT
         AS g_priority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def q_orders_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of the orders table — row count,
    null count/fraction, exact distinct count — the ANALYZE-statistics
    artifact a curation pipeline materializes per ingest
    (operators/maintenance.py:profile_table; single multi-distinct
    aggregation pass, unpivot on the 1-row result)."""
    from ..operators.maintenance import profile_table

    return profile_table(load_table(spark, sf_dir, "orders"))


def _oracle_orders_profile() -> str:
    cols = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority")
    parts = [f"""
SELECT '{c}' AS "column", count(*) AS n_rows,
       (count(*) - count({c}))::BIGINT AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       round((count(*) - count({c})) / count(*)::DOUBLE, 6) AS null_frac
FROM orders""" for c in cols]
    return "\nUNION ALL".join(parts)


def q_customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency (days since last order,
    vs the corpus' max order date), frequency (order count), monetary
    (2-dp spend), each cut into quartiles by ntile(4) with the custkey
    tiebreak that makes equal-height bucketing deterministic on both
    engines; the three digits concatenate into the marketing segment
    code. Scale shape: one |customers|-sized rollup (map-side
    combinable), three quartile assignments over that rollup — never
    the fact — and the as-of date rides the plan as a broadcast 1-row
    scalar (r15: the collected-``first()`` form plus a separate
    boundary-estimate action cost two driver-synchronous jobs per run;
    the per-axis boundary estimates are lazy broadcast branches inside
    ``global_ntile`` over the one eager rollup checkpoint). Each
    quartile runs through
    ``operators/quantiles.global_ntile`` (round 7): range-bucketed
    parallel ranking + broadcast offsets that reproduce SQL ntile
    bit-for-bit with NO single-partition sort, so the three-window
    oracle stays the semantic spec and the plan survives 100×."""
    orders = load_table(spark, sf_dir, "orders")
    asof = orders.agg(
        F.max(F.to_date("o_orderdate")).alias("__asof"))
    rollup = (
        orders.groupBy("o_custkey")
        .agg(F.max(F.to_date("o_orderdate")).alias("__last"),
             F.count(F.lit(1)).alias("frequency"),
             F.round(F.sum("o_totalprice"), 2).alias("monetary"))
        .join(F.broadcast(asof))
        .select("o_custkey",
                F.datediff(F.col("__asof"), F.col("__last"))
                .alias("recency_days"),
                "frequency", "monetary")
    )
    # ONE materialization feeds all three quartile passes
    # (checkpoint=False skips the per-call copy), and the three
    # (custkey, bucket) frames join back on the key — custkey-keyed
    # shuffles, no windowed chain. Eager, not shared, by measurement:
    # this frame feeds ~10 plan branches, and re-reading a flat row RDD
    # ten times beat ten columnar-cache scans (2.0–2.6 s vs 2.8–3.2 s
    # best-of-5); single-pass quantile consumers measured faster shared.
    snap = materialize(rollup, "eager")
    quart = snap
    for value, desc, out in (("recency_days", False, "r_quartile"),
                             ("frequency", True, "f_quartile"),
                             ("monetary", True, "m_quartile")):
        b = quantiles.global_ntile(
            snap.select("o_custkey", value), value, 4, "o_custkey",
            descending=desc, out_col=out, checkpoint=False,
        ).select("o_custkey", out)
        quart = quart.join(b, "o_custkey")
    return (
        quart.select(
            F.col("o_custkey").alias("custkey"),
            "recency_days", "frequency", "monetary",
            "r_quartile", "f_quartile", "m_quartile")
        .withColumn("segment", F.concat_ws(
            "-", F.col("r_quartile"), F.col("f_quartile"),
            F.col("m_quartile")))
    )


ORACLE_RFM_SEGMENTS = """
WITH rollup AS (
  SELECT o_custkey,
         datediff('day', max(CAST(o_orderdate AS DATE)),
                  (SELECT max(CAST(o_orderdate AS DATE)) FROM orders))::INT
           AS recency_days,
         count(*) AS frequency,
         round(sum(o_totalprice), 2) AS monetary
  FROM orders GROUP BY 1
)
SELECT o_custkey AS custkey, recency_days, frequency, monetary,
       ntile(4) OVER (ORDER BY recency_days, o_custkey)::INT AS r_quartile,
       ntile(4) OVER (ORDER BY frequency DESC, o_custkey)::INT AS f_quartile,
       ntile(4) OVER (ORDER BY monetary DESC, o_custkey)::INT AS m_quartile,
       concat_ws('-',
                 ntile(4) OVER (ORDER BY recency_days, o_custkey),
                 ntile(4) OVER (ORDER BY frequency DESC, o_custkey),
                 ntile(4) OVER (ORDER BY monetary DESC, o_custkey))
         AS segment
FROM rollup
"""


def q_events_type_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per user, collapse CONSECUTIVE same-type events
    into runs (island id = row_number − per-type row_number, the classic
    two-window difference) with start/end/count per run — the
    state-interval primitive behind SCD2 builds and behavioral streak
    analysis. Both windows partition by user_id (and the island
    aggregate by user too), so every shuffle is user-keyed and per-key
    work is bounded by a user's event count — the fact is never globally
    windowed. The (ts, event_id) ordering carries a unique tiebreaker,
    making island boundaries deterministic on both engines."""
    ev = load_table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type") \
        .orderBy("ts", "event_id")
    runs = ev.select(
        "user_id", "event_type", "ts", "event_id",
        (F.row_number().over(w_all)
         - F.row_number().over(w_type)).alias("island"))
    return (
        runs.groupBy("user_id", "event_type", "island")
        .agg(F.min("ts").alias("run_start"),
             F.max("ts").alias("run_end"),
             F.count(F.lit(1)).cast("bigint").alias("run_length"))
        .select("user_id", "event_type", "run_start", "run_end",
                "run_length")
    )


ORACLE_EVENTS_TYPE_RUNS = """
WITH runs AS (
  SELECT user_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id)
         - row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS island
  FROM events
)
SELECT user_id, event_type,
       min(ts) AS run_start, max(ts) AS run_end,
       count(*)::BIGINT AS run_length
FROM runs GROUP BY user_id, event_type, island
"""


def q_events_user_state_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension built from an event stream: each
    user's consecutive same-type runs become versioned state intervals
    with ``valid_from`` / ``valid_to`` (the next state's start — the
    standard SCD2 close-out) and an ``is_current`` flag on the open
    interval. Composes the gaps-and-islands collapse with one lead()
    window — both user-keyed, so the build is one shuffle beyond the
    runs and never touches the fact globally. This is the CDC→dimension
    pattern a warehouse runs nightly; MERGE-based incremental
    maintenance of the same table is exercised by the upsert operator
    tests (operators/incremental.py)."""
    runs = q_events_type_runs(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("run_start")
    return (
        runs.select(
            "user_id", F.col("event_type").alias("state"),
            F.col("run_start").alias("valid_from"),
            F.lead("run_start").over(w).alias("valid_to"),
            "run_length")
        .withColumn("is_current", F.col("valid_to").isNull())
    )


ORACLE_USER_STATE_SCD2 = f"""
WITH runs AS ({ORACLE_EVENTS_TYPE_RUNS.strip()})
SELECT user_id, event_type AS state, run_start AS valid_from,
       lead(run_start) OVER (PARTITION BY user_id ORDER BY run_start)
         AS valid_to,
       run_length,
       lead(run_start) OVER (PARTITION BY user_id ORDER BY run_start)
         IS NULL AS is_current
FROM runs
"""


# Q22-shape dormancy cutoff: customers with no order on/after this
# date count as dormant (the data spans 1995-2001; 646 qualifying
# high-balance customers at sf0.1).
DORMANT_CUTOFF = "2000-01-01"


def q_dormant_high_value_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 topology: positive-balance average as a scalar
    threshold, customers above it anti-joined against recent orders
    ("high-value but dormant"), aggregated per market segment. The
    threshold is 2-dp-rounded on both engines (the Q11 discipline — a
    raw double average differs by sum-order ulps across engines); the
    anti join keys on custkey with the date filter pushed INTO the
    orders scan, so the fact is pruned before the join. The scalar is
    collected once driver-side like the heavy-hitters total."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    thr = customer.filter(F.col("c_acctbal") > 0) \
        .agg(F.round(F.avg("c_acctbal"), 2)).first()[0]
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit(DORMANT_CUTOFF).cast("timestamp"))
    return (
        customer.filter(F.col("c_acctbal") > F.lit(float(thr)))
        .join(recent, customer.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"),
             F.round(F.sum("c_acctbal"), 2).alias("total_balance"))
    )


ORACLE_DORMANT_CUSTOMERS = f"""
WITH thr AS (SELECT round(avg(c_acctbal), 2) AS a
             FROM customer WHERE c_acctbal > 0)
SELECT c_mktsegment, count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS total_balance
FROM customer c, thr
WHERE c_acctbal > a
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '{DORMANT_CUTOFF}')
GROUP BY 1
"""


def q_nation_yoy_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth: per-nation yearly revenue with the lag
    window and growth ratio — the BI staple. Revenue is 2-dp-rounded
    BEFORE the lag so the growth division consumes identical doubles on
    both engines; the window runs over the tiny (nation × year) rollup,
    never the fact; nation is a fixed-cardinality broadcast dim."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").cast("int").alias("year"))
        .agg(F.round(F.sum((F.col("l_extendedprice")
                            * (1 - F.col("l_discount")))
                           .cast("decimal(18,4)")), 2).cast("double")
             .alias("revenue"))
    )
    w = Window.partitionBy("nation").orderBy("year")
    prev = F.lag("revenue").over(w)
    return rev.select(
        "nation", "year", "revenue",
        F.round((F.col("revenue") - prev) / prev, 6).alias("yoy_growth"))


ORACLE_NATION_YOY = """
WITH rev AS (
  SELECT n_name AS nation, year(o_orderdate)::INT AS year,
         round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)), 2)::DOUBLE AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
)
SELECT nation, year, revenue,
       round((revenue - lag(revenue) OVER w)
             / lag(revenue) OVER w, 6) AS yoy_growth
FROM rev
WINDOW w AS (PARTITION BY nation ORDER BY year)
"""


def q_parts_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification: parts ranked by revenue, classed A
    while the cumulative share is under 80%, B under 95%, C after — the
    80/20 inventory cut. The cumulative sum runs over the part-grain
    rollup (never the fact) ordered by (revenue desc, partkey); the
    class threshold compares the 6-dp-rounded cumulative share so the
    cut is identical on both engines. The running sum is the two-level
    distributed prefix sum (operators/quantiles.global_running_sum,
    round 7): per-range parallel cumsum + broadcast range offsets, the
    same shape as packing.pack_sequences but over VALUE order — no
    single-partition window anywhere; the grand total falls out of the
    config-sized offsets frame, replacing the old separate agg. Sums
    run in exact DECIMAL so the regrouped addition is associative and
    the single-window oracle stays the bit-exact spec."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.groupBy("l_partkey")
        .agg(F.round(F.sum((F.col("l_extendedprice")
                            * (1 - F.col("l_discount")))
                           .cast("decimal(18,4)")), 2).cast("double")
             .alias("part_revenue"))
        # 2-dp doubles are exactly representable as DECIMAL(18,2); the
        # decimal prefix sum is associative, so the two-level regrouped
        # addition cannot drift the way reassociated doubles can.
        .withColumn("__rev_dec",
                    F.col("part_revenue").cast("decimal(18,2)"))
    )
    cum = quantiles.global_running_sum(
        rev, "part_revenue", "__rev_dec", "l_partkey", descending=True,
        out_col="__cum", total_col="__t",
    ).withColumn(
        "cum_share",
        F.round(F.col("__cum").cast("double")
                / F.col("__t").cast("double"), 6))
    cls = (F.when(F.col("cum_share") <= 0.80, "A")
           .when(F.col("cum_share") <= 0.95, "B").otherwise("C"))
    return cum.select(F.col("l_partkey").alias("partkey"),
                      "part_revenue", "cum_share",
                      cls.alias("abc_class"))


ORACLE_PARTS_ABC = """
WITH rev AS (
  SELECT l_partkey,
         round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)),
               2)::DOUBLE AS part_revenue
  FROM lineitem GROUP BY 1
),
cum AS (
  SELECT l_partkey, part_revenue,
         round((sum(part_revenue::DECIMAL(18,2))
                  OVER (ORDER BY part_revenue DESC, l_partkey
                        ROWS UNBOUNDED PRECEDING))::DOUBLE
               / (SELECT sum(part_revenue::DECIMAL(18,2))
                  FROM rev)::DOUBLE, 6) AS cum_share
  FROM rev
)
SELECT l_partkey AS partkey, part_revenue, cum_share,
       CASE WHEN cum_share <= 0.80 THEN 'A'
            WHEN cum_share <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM cum
"""


def q_events_native_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE batch session windows (``F.session_window`` — the
    same operator the streaming twin uses), hash-validated against an
    independent lag+cumsum oracle formulation: a session extends while
    each gap is < 30 min (an event exactly 1800 s after the previous
    one starts a NEW session — session_window's half-open
    [start, last+gap) semantics, which is why the oracle's boundary is
    ``>= 1800`` where ``sessionize_events``'s classic form uses
    ``> 1800``). One shuffle on user_id; session_end is last event +
    gap, the native window's close-out timestamp."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id",
                   F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events")
    )


ORACLE_NATIVE_SESSIONS = """
WITH s AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
              THEN 1 ELSE 0 END AS nw
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
g AS (
  SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM g GROUP BY user_id, sid
"""


BASKET_MIN_COUNT = 3


def q_parts_bought_together(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: part pairs co-occurring in the same
    order, kept at support ≥ ``BASKET_MIN_COUNT`` — the co-occurrence
    core of frequent-itemset analysis. The self-join keys on
    l_orderkey, so pair fan-out is bounded by order width (≤ 7 lines ⇒
    ≤ 21 pairs per order at ANY corpus size — the same
    bounded-per-key-work argument as the Q21 topology); pairs are
    normalized (a < b) and counted map-side-combinable. A support
    threshold this shape cannot express cheaply is min-support PRUNING
    before the join (A-Priori) — unnecessary here because the per-order
    bound already caps the blowup."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= BASKET_MIN_COUNT)
    )


ORACLE_BOUGHT_TOGETHER = f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       count(*) AS n_orders
FROM items a JOIN items b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(*) >= {BASKET_MIN_COUNT}
"""


def q_nation_trade_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 topology: the same dimension in two ROLES — supplier
    nation × customer nation revenue matrix, requiring two aliased
    broadcast joins of the fixed-cardinality nation dim against one
    fact pipeline (the multi-role dimension pattern every star schema
    eventually needs). Revenue follows the exact-decimal discipline;
    both joins broadcast the 25-row dim, so the fact streams once."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    supp_nat = nation.select(F.col("n_nationkey").alias("sn_key"),
                             F.col("n_name").alias("supp_nation"))
    cust_nat = nation.select(F.col("n_nationkey").alias("cn_key"),
                             F.col("n_name").alias("cust_nation"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(supp_nat),
              supplier.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(cust_nat),
              customer.c_nationkey == F.col("cn_key"))
        .groupBy("supp_nation", "cust_nation")
        .agg(F.round(F.sum((F.col("l_extendedprice")
                            * (1 - F.col("l_discount")))
                           .cast("decimal(18,4)")), 2).cast("double")
             .alias("revenue"),
             F.count(F.lit(1)).alias("n_lineitems"))
    )


ORACLE_TRADE_MATRIX = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)),
             2)::DOUBLE AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
GROUP BY 1, 2
"""


def q_customer_trailing_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed event-time window (round 8): per order, the
    customer's trailing-30-DAY spend and order count — the frame the
    ROWS-framed trailing windows elsewhere cannot express (calendar
    gaps make 30 rows ≠ 30 days; RANGE bounds the frame by the VALUE
    of the ordering key). Spark's rangeBetween needs a numeric order
    key, so the date becomes an epoch-day integer — the standard
    idiom — and the frame is (-29, 0) inclusive. Scale shape: the
    window is PARTITIONED by customer (never a global sort); the frame
    sum uses exact DECIMAL(18,2) so the per-frame addition order
    cannot drift between engines; RANGE peers (same-day orders) are
    frame-complete on both sides, so no tiebreak is needed."""
    orders = load_table(spark, sf_dir, "orders")
    day_n = F.datediff(F.to_date("o_orderdate"),
                       F.lit("1970-01-01").cast("date"))
    w = (Window.partitionBy("o_custkey").orderBy("day_n")
         .rangeBetween(-29, 0))
    return (
        orders.withColumn("day_n", day_n)
        .select(
            "o_custkey", "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                    .over(w), 2).cast("double").alias("spend_30d"),
            F.count(F.lit(1)).over(w).alias("n_orders_30d"))
    )


ORACLE_TRAILING_SPEND = """
SELECT o_custkey, o_orderkey, o_orderdate::DATE AS order_date,
       round(sum(o_totalprice::DECIMAL(18,2)) OVER w, 2)::DOUBLE
         AS spend_30d,
       count(*) OVER w AS n_orders_30d
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY datediff('day', DATE '1970-01-01',
                               o_orderdate::DATE)
             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
"""


IVM_BATCH_MOD = 10  # the same scale-free 10%-by-id increment predicate
#                     the incremental-dedup family uses


def q_events_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a mergeable rollup (round 8):
    the (event_type, day) count/sum aggregate is maintained by MERGING
    the stored rollup of the prior corpus with the partial aggregate
    of the new batch — full outer join on the group key, coalesced
    partial sums — instead of re-aggregating history. This is THE
    reason additive aggregates (count/sum/min/max, and any algebraic
    agg via its partial state) win at 100 TB: maintenance work scales
    with the increment, the same contract as the incremental-dedup
    family. sum(value) merges in exact DECIMAL(18,4) partials (double
    addition is non-associative — merging rounded doubles would drift
    vs the recompute); the oracle is the FULL recompute over all
    events, hash-proving merge ≡ recompute."""
    ev = (load_table(spark, sf_dir, "events")
          .withColumn("day", F.to_date("ts")))

    def part(df):
        return (df.groupBy("event_type", "day")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.sum(F.col("value").cast("decimal(18,4)"))
                     .alias("sum_dec")))

    prior = part(ev.filter(F.col("event_id") % IVM_BATCH_MOD != 0))
    batch = part(ev.filter(F.col("event_id") % IVM_BATCH_MOD == 0))
    b = batch.select(F.col("event_type").alias("b_type"),
                     F.col("day").alias("b_day"),
                     F.col("n_events").alias("b_n"),
                     F.col("sum_dec").alias("b_sum"))
    merged = prior.join(
        b, (prior.event_type == b.b_type) & (prior.day == b.b_day),
        "full_outer")
    zero_n = F.lit(0).cast("bigint")
    zero_s = F.lit(0).cast("decimal(18,4)")
    return merged.select(
        F.coalesce("event_type", "b_type").alias("event_type"),
        F.coalesce("day", "b_day").alias("day"),
        (F.coalesce("n_events", zero_n)
         + F.coalesce("b_n", zero_n)).alias("n_events"),
        F.round((F.coalesce("sum_dec", zero_s)
                 + F.coalesce("b_sum", zero_s)), 2).cast("double")
        .alias("sum_value"))


ORACLE_ROLLUP_INCREMENTAL = """
SELECT event_type, CAST(ts AS DATE) AS day,
       count(*) AS n_events,
       round(sum((value)::DECIMAL(18,4)), 2)::DOUBLE AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_nation_profit_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 topology (product-type profit): a six-relation join —
    fact × part (pruning filter) × supplier × nation × orders — with
    profit aggregated by supplier nation × order year. The testdata
    has no partsupp, so supply cost is SYNTHESIZED deterministically
    from the (partkey, suppkey) pair via the repo-wide md5 48-bit hash
    (`operators/textops.base_hash48`, bit-identical in DuckDB): cost
    cents = hash % 90001 + 10000 → a [100.00, 1000.00] price band, the
    same cross-engine-reproducible column trick the LSH weights and
    A-ES sampling keys use. Profit per row =
    extprice·(1−disc) − cost·qty, computed in identical IEEE doubles
    on both engines, summed under the exact-decimal discipline.
    Scale shape: the name-filtered part dim (smallest input) prunes
    the fact FIRST via a key join; nation broadcasts; orders joins
    hash-on-key carrying only (orderkey, year); the final rollup is
    25 nations × ~7 years, partial-agged map-side."""
    from ..operators.textops import base_hash48

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part_f = (load_table(spark, sf_dir, "part")
              .filter(F.col("p_name").like("%bolt%"))
              .select("p_partkey"))
    sc_cents = (base_hash48(
        F.concat_ws("|", F.col("l_partkey"), F.col("l_suppkey"),
                    F.lit("sc"))) % 90001 + 10000)
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - (sc_cents / F.lit(100.0)) * F.col("l_quantity"))
    return (
        li.join(part_f, li.l_partkey == part_f.p_partkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation),
              supplier.s_nationkey == nation.n_nationkey)
        .join(orders.select("o_orderkey",
                            F.year("o_orderdate").alias("o_year")),
              li.l_orderkey == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(F.round(F.sum(profit.cast("decimal(18,4)")), 2)
             .cast("double").alias("profit"),
             F.count(F.lit(1)).alias("n_lineitems"))
    )


ORACLE_NATION_PROFIT = """
SELECT n_name AS nation, year(o_orderdate)::INT AS o_year,
       round(sum((l_extendedprice * (1 - l_discount)
                  - ((('0x' || substr(md5(l_partkey || '|' || l_suppkey
                                      || '|sc'), 1, 12))::BIGINT % 90001
                      + 10000) / 100.0) * l_quantity)::DECIMAL(18,4)),
             2)::DOUBLE AS profit,
       count(*) AS n_lineitems
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%bolt%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2
"""


def q_shipmode_priority_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 topology (shipping-mode priority matrix): lineitems
    whose synthesized receipt date fell in 1997, shipped before the
    commitment and committed before receipt, counted per ship mode
    split into high- (URGENT/HIGH) vs low-priority orders — the
    canonical conditional-count-over-join shape. shipmode and the
    commit/receipt offsets are SYNTHESIZED deterministically from the
    (orderkey, linenumber) line identity via the md5 48-bit hash,
    identically in both engines: mode = one of 7 carriers by hash;
    receipt = shipdate + 1..30 days; commit = shipdate + 1..45 days
    (independent salts). Scale shape: the date/mode/theta predicates
    are all row-local on the fact (evaluated in the scan stage before
    the only join), orders joins hash-on-key carrying two columns, and
    the final agg is 2 modes × 2 flags."""
    from ..operators.textops import base_hash48

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    def _h(salt: str):
        return base_hash48(F.concat_ws(
            "|", F.col("l_orderkey"), F.col("l_linenumber"), F.lit(salt)))

    modes = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
    mode = F.element_at(F.array(*[F.lit(m) for m in modes]),
                        (_h("mode") % 7 + 1).cast("int"))
    receipt = F.date_add(F.to_date("l_shipdate"),
                         (_h("rcpt") % 30 + 1).cast("int"))
    commit = F.date_add(F.to_date("l_shipdate"),
                        (_h("cmt") % 45 + 1).cast("int"))
    flagged = (
        li.select("l_orderkey", mode.alias("shipmode"),
                  commit.alias("commitdate"), receipt.alias("receiptdate"),
                  F.to_date("l_shipdate").alias("shipdate"))
        .filter(F.col("shipmode").isin("MAIL", "SHIP")
                & (F.col("commitdate") < F.col("receiptdate"))
                & (F.col("shipdate") < F.col("commitdate"))
                & (F.col("receiptdate") >= F.lit("1997-01-01").cast("date"))
                & (F.col("receiptdate") < F.lit("1998-01-01").cast("date")))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        flagged.join(orders.select("o_orderkey", "o_orderpriority"),
                     flagged.l_orderkey == F.col("o_orderkey"))
        .groupBy("shipmode")
        .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
             F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"))
    )


ORACLE_SHIPMODE_MATRIX = """
WITH flagged AS (
  SELECT l_orderkey,
         ['AIR','FOB','MAIL','RAIL','REG AIR','SHIP','TRUCK']
           [('0x' || substr(md5(l_orderkey || '|' || l_linenumber
                                || '|mode'), 1, 12))::BIGINT % 7 + 1]
           AS shipmode,
         (l_shipdate + INTERVAL 1 DAY *
            (('0x' || substr(md5(l_orderkey || '|' || l_linenumber
                                 || '|cmt'), 1, 12))::BIGINT % 45 + 1)
          )::DATE AS commitdate,
         (l_shipdate + INTERVAL 1 DAY *
            (('0x' || substr(md5(l_orderkey || '|' || l_linenumber
                                 || '|rcpt'), 1, 12))::BIGINT % 30 + 1)
          )::DATE AS receiptdate,
         l_shipdate::DATE AS shipdate
  FROM lineitem
)
SELECT shipmode,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM flagged
JOIN orders ON l_orderkey = o_orderkey
WHERE shipmode IN ('MAIL', 'SHIP')
  AND commitdate < receiptdate
  AND shipdate < commitdate
  AND receiptdate >= DATE '1997-01-01'
  AND receiptdate < DATE '1998-01-01'
GROUP BY shipmode
"""


def q_top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 topology (revenue view + scalar max): supplier revenue
    over one quarter, returning the supplier(s) whose revenue equals
    the global maximum — the view-plus-correlated-scalar shape, here
    decorrelated the scale-safe way: the quarter-filtered rollup is
    computed ONCE (revenue under the exact-decimal discipline, so the
    max-equality join key is deterministic on both engines), the 1-row
    max re-aggregates it, and winners come back via an EQUI join on
    the revenue value (hash join on a broadcast 1-row side — never a
    BroadcastNestedLoopJoin, and never a global window sort). Ties are
    kept, as in the spec. The fact is scanned once; the date filter is
    pushed to the scan."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter((F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
                  & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp")))
        .groupBy("l_suppkey")
        .agg(F.round(F.sum((F.col("l_extendedprice")
                            * (1 - F.col("l_discount")))
                           .cast("decimal(18,4)")), 2).cast("double")
             .alias("total_revenue"))
    )
    best = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(best),
                 rev.total_revenue == best.max_revenue)
        .join(supplier, rev.l_suppkey == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


ORACLE_TOP_REVENUE_SUPPLIERS = """
WITH rev AS (
  SELECT l_suppkey,
         round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)),
               2)::DOUBLE AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev
JOIN (SELECT max(total_revenue) AS max_revenue FROM rev) m
  ON total_revenue = max_revenue
JOIN supplier ON l_suppkey = s_suppkey
"""


def _orders_table(spark: SparkSession, sf_dir: str, name: str, build):
    """The txlog table ``build(out)`` derives from ``orders``, built once
    per machine (:func:`artifacts.built_dir`) and reopened."""
    from ..operators.txlog import TxTable

    return TxTable(spark, artifacts.built_dir(
        f"orders_{name}", [table_path(sf_dir, "orders")], build))


def _converted_orders(spark: SparkSession, sf_dir: str):
    """Build-or-reopen the ADOPTED orders table (see
    :func:`q_orders_converted_rollup` for the full story)."""
    from ..operators.txlog import TxTable

    def build(out: str) -> None:
        (load_table(spark, sf_dir, "orders")
         .repartitionByRange(4, "o_orderkey").write.parquet(out))
        TxTable.convert(spark, out, stat_cols=["o_orderkey"],
                        bloom_cols=["o_orderkey"])
    return _orders_table(spark, sf_dir, "converted", build)


def q_orders_converted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The table-format tier under the oracle gate: a plain-parquet
    copy of orders (4 range-partitioned files) is ADOPTED in place by
    ``TxTable.convert`` — zero data rewrite, one stats job, min/max
    stats + a per-file Bloom filter on o_orderkey — and this rollup
    reads the adopted txlog SNAPSHOT, so adopt → commit-0 → tear-check
    → snapshot-read is value-hash-checked against the SAME SQL the
    oracle runs on the original orders view. Built once per (machine,
    source, wire-format version). Scale shape: adoption costs one scan of
    the directory regardless of size; the rollup is a partial-agg
    groupBy on a 3-value status key — no skew, no wide shuffle."""
    t = _converted_orders(spark, sf_dir)
    return (t.read().groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("o_orderkey").alias("sum_keys"),
                 F.max("o_totalprice").alias("max_price")))


POINT_KEYS = [1, 2, 3, 4, 5, 6, 7, 4000, 999_999_999]


def q_orders_converted_pointget(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Point lookups on the ADOPTED table through the read-side probe
    (``TxTable.read_keys``): the fixed key list hits the stat-range
    prune AND the per-file Bloom filters the adoption recorded, so the
    gate value-checks the skipping machinery itself — a wrongly-pruned
    file would drop rows the oracle's ``WHERE IN`` keeps. Keys absent
    at a given scale factor drop out identically on both sides. Scale
    shape: cost ∝ files whose stats/bloom admit the probe, never table
    size."""
    t = _converted_orders(spark, sf_dir)
    # literal probe (r14 probe-chain floor): the lookup is ONE Spark
    # job — log fold, stat+bloom prune and the IN-predicate are all
    # driver-side; the predicate pushes into the pruned parquet scan
    return (t.read_keys([(k,) for k in POINT_KEYS], ["o_orderkey"])
            .select("o_orderkey", "o_orderstatus", "o_totalprice"))


ORACLE_ORDERS_POINTGET = f"""
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders WHERE o_orderkey IN ({", ".join(str(k) for k in POINT_KEYS)})
"""


_DV_KEYS = [2, 5, 4000]  # tombstoned at build (subset of POINT_KEYS)


def q_orders_dv_pointget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge-on-read delete tier under the oracle gate: a second
    adopted orders copy takes a ``mode='dv'`` keyed DELETE of
    ``_DV_KEYS`` at build time — ZERO data files rewritten, the commit
    is pure per-file key tombstones (the Iceberg equality-delete /
    Delta deletion-vector idea) — and the SAME ``read_keys`` probe as
    ``orders_converted_pointget`` then runs against it. A tombstone
    ignored anywhere in the stat+bloom+anti-join read path would
    resurrect a deleted row and break the hash against the oracle's
    ``IN (...) AND NOT IN (...)``. Scale shape: the point-delete costs
    one log line instead of a file rewrite; reads pay a broadcast
    anti-join per tombstoned file until OPTIMIZE materializes it."""
    from ..operators.txlog import TxTable

    def build(out: str) -> None:
        (load_table(spark, sf_dir, "orders")
         .repartitionByRange(4, "o_orderkey").write.parquet(out))
        t = TxTable.convert(spark, out, stat_cols=["o_orderkey"],
                            bloom_cols=["o_orderkey"])
        files0 = sorted(t.live_files())
        t.delete(spark.createDataFrame([(k,) for k in _DV_KEYS],
                                       "o_orderkey long"),
                 ["o_orderkey"], mode="dv")
        # the dv contract, asserted at build: no data file was touched
        assert sorted(t.live_files()) == files0, \
            "dv delete must rewrite zero files"
    t = _orders_table(spark, sf_dir, "dv", build)
    # literal probe + literal DV anti-predicate (r14): one Spark job
    return (t.read_keys([(k,) for k in POINT_KEYS], ["o_orderkey"])
            .select("o_orderkey", "o_orderstatus", "o_totalprice"))


ORACLE_ORDERS_DV_POINTGET = f"""
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders
WHERE o_orderkey IN ({", ".join(str(k) for k in POINT_KEYS)})
  AND o_orderkey NOT IN ({", ".join(str(k) for k in _DV_KEYS)})
"""


def q_orders_renamed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column mapping under the oracle gate (round-14): the adopted
    orders table takes TWO metadata-only schema changes at build —
    ``rename_column('o_orderkey', 'order_id')`` (the stat+bloom column:
    pruning must key by the stable PHYSICAL id, not the label) and
    ``drop_column('o_orderpriority')`` — with ZERO data files rewritten
    (asserted at build), then this rollup full-scans the renamed
    snapshot and aggregates under the NEW names. The oracle answers
    from the ORIGINAL orders view with ``AS`` aliases, so a read path
    that misapplied the mapping anywhere (scan schema, stats
    translation, fold) breaks the value hash. Scale shape: each schema
    change is one KB-sized log line at any table size; the
    logical↔physical projection is a free select under whole-stage
    codegen. Reference parity: the reference's own staging model
    renames API fields (stg_weather_raw.sql param.value:parameter →
    parameter); this is the lake-side rename."""
    from ..operators.txlog import TxTable

    def build(out: str) -> None:
        (load_table(spark, sf_dir, "orders")
         .repartitionByRange(4, "o_orderkey").write.parquet(out))
        t = TxTable.convert(spark, out, stat_cols=["o_orderkey"],
                            bloom_cols=["o_orderkey"])
        files0 = sorted(t.live_files())
        t.rename_column("o_orderkey", "order_id")
        t.drop_column("o_orderpriority")
        # the column-mapping contract, asserted at build: both schema
        # changes were pure metadata — no data file touched
        assert sorted(t.live_files()) == files0, \
            "rename/drop must rewrite zero files"
    t = _orders_table(spark, sf_dir, "renamed", build)
    return (t.read().groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("order_id").alias("sum_ids"),
                 F.max("o_totalprice").alias("max_price")))


ORACLE_ORDERS_RENAMED = """
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_ids,
       MAX(o_totalprice) AS max_price
FROM orders GROUP BY o_orderstatus
"""


_GEN_WHERE = ("o_orderdate >= DATE '1994-01-01' "
              "AND o_orderdate <= DATE '1996-12-31'")


def q_orders_generated_pruned(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """Generated columns under the oracle gate (round-14): the orders
    table is created with ``o_year GENERATED ALWAYS AS
    (year(o_orderdate))`` as its PARTITION column — the batch never
    carries the column, the engine computes it at write and the lake
    lands in ``o_year=.../`` directories. The query then reads through
    the plain-IO ``txlog`` DataSource filtering on the BASE column
    only: the reader derives the partition bound from the generation
    expression (``operators/genexpr.py`` — the public Delta "partition
    pruning using generated columns" design), asserted at build to
    plan a strict subset of the table's files. The oracle computes
    ``year(o_orderdate)`` itself from the original view, so a wrong
    generated value, a mis-derived bound, or a partition-column
    fill error all break the hash. Scale shape: the filter prunes
    whole year-partitions driver-side before any task launches —
    IO for pruned partitions is zero at any per-partition size."""
    import datetime

    from ..operators.txlog import TxTable
    from ..sources.txlog_batch import TxLogBatchReader, register

    def build(out: str) -> None:
        t = TxTable.create(
            spark,
            load_table(spark, sf_dir, "orders")
            .repartitionByRange(4, "o_orderkey"),
            out, stat_cols=["o_orderkey"],
            partition_cols=["o_year"],
            generated={"o_year": "year(o_orderdate)"})
        # the derivation contract, asserted at build: a base-column
        # range plans a strict subset of the live files
        from pyspark.sql.datasource import (GreaterThanOrEqual,
                                            LessThanOrEqual)
        r = TxLogBatchReader({"path": t.path})
        list(r.pushFilters([
            GreaterThanOrEqual(("o_orderdate",),
                               datetime.date(1994, 1, 1)),
            LessThanOrEqual(("o_orderdate",),
                            datetime.date(1996, 12, 31))]))
        planned = r.partitions()
        assert 0 < len(planned) < len(t.live_files()), \
            "generated-column derivation must prune partitions"
        assert all(
            1994 <= int(p.file_path.split("o_year=")[1][:4]) <= 1996
            for p in planned), "planned files outside the derived years"
    base = artifacts.built_dir(
        "orders_generated", [table_path(sf_dir, "orders")], build)
    register(spark)
    return (spark.read.format("txlog").option("path", base).load()
            .filter(_GEN_WHERE)
            .groupBy(F.col("o_year").cast("long").alias("o_year"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("o_orderkey").alias("sum_keys"),
                 F.max("o_totalprice").alias("max_price")))


ORACLE_ORDERS_GENERATED = f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       COUNT(*) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
       MAX(o_totalprice) AS max_price
FROM orders
WHERE {_GEN_WHERE}
GROUP BY 1
"""


def q_orders_identity_audit(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Identity columns under the oracle gate (round-14): the orders
    table is split in two batches (even/odd ``o_orderkey``) written as
    create + append into a table with ``row_id GENERATED ALWAYS AS
    IDENTITY (START 1000 STEP 2)`` — values engine-assigned in one
    distributed pass, high-water mark advanced in each commit off the
    staged stats. The audit aggregates what SQL can verify without
    knowing the assignment: every row got an id (count parity with the
    oracle), ids are globally UNIQUE across both commits, all respect
    the start bound and the step's parity, and the data columns are
    untouched (sum of keys). A double-allocation, a lost hwm bump, or
    a step violation each break a column. Scale shape: assignment is
    one ``mapInPandas`` pass (no count pre-job, no driver loop); the
    hwm rides stats the write computes anyway."""
    from ..operators.txlog import TxTable

    def build(out: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice")
        t = TxTable.create(
            spark, orders.filter("o_orderkey % 2 = 0").repartition(4),
            out, stat_cols=["o_orderkey"],
            identity={"row_id": {"start": 1000, "step": 2}})
        t.append(orders.filter("o_orderkey % 2 = 1").repartition(4))
    t = _orders_table(spark, sf_dir, "identity", build)
    return t.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("row_id").alias("n_distinct_ids"),
        (F.min("row_id") >= F.lit(1000)).alias("ids_from_start"),
        (F.sum(F.col("row_id") % 2) == F.lit(0)).alias("step_parity"),
        F.sum("o_orderkey").alias("sum_keys"))


ORACLE_ORDERS_IDENTITY = """
SELECT COUNT(*) AS n_rows,
       COUNT(*) AS n_distinct_ids,
       TRUE AS ids_from_start,
       TRUE AS step_parity,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys
FROM orders
"""


def q_orders_repartitioned_rollup(spark: SparkSession, sf_dir: str
                                  ) -> DataFrame:
    """Partition LAYOUT EVOLUTION under the oracle gate (round-14):
    the orders table is created FLAT, then ``repartition_table(
    ['o_orderpriority'])`` swaps the layout in one atomic layout-only
    commit — the build asserts the swap was CDC-SILENT (zero
    per-commit feed rows) and landed every file under its
    ``o_orderpriority=.../`` path. This rollup then reads the
    repartitioned snapshot and aggregates BY the evolved partition
    column, with a filter on it (pruned log-side by partitionValues);
    the oracle answers from the original view, so a row lost/duplicated
    by the rewrite, a mis-parsed partition value, or a wrong
    partition-column fill all break the hash. Scale shape: the
    evolution is one rewrite (the Delta-documented cost, made atomic +
    history-preserving); afterwards the filter is a driver-side dict
    pass with zero IO for pruned partitions."""
    from ..operators.txlog import TxTable

    def build(out: str) -> None:
        t = TxTable.create(spark,
                           load_table(spark, sf_dir, "orders")
                           .repartitionByRange(4, "o_orderkey"),
                           out, stat_cols=["o_orderkey"])
        v0 = t.version
        t.repartition_table(["o_orderpriority"], target_rows=200_000)
        # the layout-evolution contract, asserted at build: the swap is
        # invisible to CDC and every file lives in its partition
        assert t.read_changes_per_commit(v0).count() == 0, \
            "repartition_table must be CDC-silent"
        assert all(p.startswith("o_orderpriority=")
                   for p in t.live_files())
    t = _orders_table(spark, sf_dir, "repartitioned", build)
    return (t.read()
            .filter(F.col("o_orderpriority") != "3-MEDIUM")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("o_orderkey").alias("sum_keys"),
                 F.max("o_totalprice").alias("max_price")))


ORACLE_ORDERS_REPARTITIONED = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
       MAX(o_totalprice) AS max_price
FROM orders
WHERE o_orderpriority <> '3-MEDIUM'
GROUP BY o_orderpriority
"""


_CDF_UPD_KEYS = [1, 2, 3]          # totalprice rewritten at build
_CDF_NEW_KEYS = [900000007, 900000011]  # inserted by the same merge
_CDF_DEL_KEYS = [4, 5]             # cow-deleted in the next commit


def q_orders_cdf_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-commit change feed with UPDATE IMAGES under the oracle gate
    (round-14): the adopted orders table takes ONE keyed MERGE
    (update=True) that rewrites ``_CDF_UPD_KEYS``' totalprice to a
    constant and inserts ``_CDF_NEW_KEYS``, then ONE cow DELETE of
    ``_CDF_DEL_KEYS``. ``read_changes_per_commit(0,
    update_images_for=[o_orderkey])`` must then emit the public Delta
    CDF row shape — carried rows cancel in-commit (the merge rewrote
    whole files, but only the 3+2 changed rows may surface), a key
    deleted AND inserted by the same commit pairs into
    ``update_preimage``/``update_postimage`` under THAT commit's
    ``_commit_version``, and the delete commit's rows stay plain
    deletes. The oracle prices every branch from the original view
    with literal keys, so an uncancelled carried row, a mis-paired
    image, or a wrong version tag breaks the hash. Scale shape: per-
    commit frames cost ∝ that commit's changed files; in-commit
    cancel + image pairing shuffle ∝ the commit's changed rows."""
    from ..operators.txlog import TxTable

    def build(out: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        t = TxTable.create(spark,
                           orders.repartitionByRange(4, "o_orderkey"),
                           out, stat_cols=["o_orderkey"])
        upd = (orders.filter(F.col("o_orderkey")
                             .isin(_CDF_UPD_KEYS))
               .withColumn("o_totalprice", F.lit(1111.0)))
        # deterministic synthetic inserts: clone the first rows, swap
        # the key and price
        firsts = orders.orderBy("o_orderkey").limit(
            len(_CDF_NEW_KEYS)).collect()
        new = spark.createDataFrame(
            [tuple(int(k) if c == "o_orderkey"
                   else (2222.0 if c == "o_totalprice" else r[c])
                   for c in orders.columns)
             for k, r in zip(_CDF_NEW_KEYS, firsts)], orders.schema)
        t.merge_upsert(upd.unionByName(new), ["o_orderkey"],
                       update=True)
        t.delete(spark.createDataFrame(
            [(k,) for k in _CDF_DEL_KEYS], "o_orderkey long"),
            ["o_orderkey"])
    t = _orders_table(spark, sf_dir, "cdf", build)
    feed = t.read_changes_per_commit(
        0, update_images_for=["o_orderkey"])
    return (feed.groupBy("_change_type", "_commit_version")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("o_orderkey").alias("sum_keys"),
                 F.max("o_totalprice").alias("max_price")))


_CDF_UPD_IN = ", ".join(str(k) for k in _CDF_UPD_KEYS)
_CDF_DEL_IN = ", ".join(str(k) for k in _CDF_DEL_KEYS)

ORACLE_ORDERS_CDF = f"""
SELECT 'update_preimage' AS _change_type, CAST(1 AS BIGINT) AS _commit_version,
       COUNT(*) AS n_rows, CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
       MAX(o_totalprice) AS max_price
FROM orders WHERE o_orderkey IN ({_CDF_UPD_IN})
UNION ALL
SELECT 'update_postimage', 1, COUNT(*),
       CAST(SUM(o_orderkey) AS BIGINT), 1111.0
FROM orders WHERE o_orderkey IN ({_CDF_UPD_IN})
UNION ALL
SELECT 'insert', 1, {len(_CDF_NEW_KEYS)},
       {sum(_CDF_NEW_KEYS)}, 2222.0
UNION ALL
SELECT 'delete', 2, COUNT(*),
       CAST(SUM(o_orderkey) AS BIGINT), MAX(o_totalprice)
FROM orders WHERE o_orderkey IN ({_CDF_DEL_IN})
"""


_CLONE_DEL_KEYS = [1, 6, 4000]  # deleted on the CLONE only, at build


def q_orders_cloned_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow CLONE under the oracle gate: the adopted orders table is
    cloned (zero data copied — commit 0 references the source files by
    absolute path) and the CLONE takes a keyed DELETE the source never
    sees; this rollup reads the diverged clone, so the hash covers the
    absolute-path read route, clone-side copy-on-write, and source
    isolation (the sibling `orders_converted_rollup` keeps hashing the
    UNTOUCHED source in the same gate). Build-once per (machine,
    source, wire version), like every adopted-table gate."""
    def build(out: str) -> None:
        source = _converted_orders(spark, sf_dir)
        cl = source.clone(out)
        src_files = set(source.live_files())
        cl.delete(spark.createDataFrame(
            [(k,) for k in _CLONE_DEL_KEYS], "o_orderkey long"),
            ["o_orderkey"])
        # the isolation contract, asserted at build: the source's live
        # set is byte-identical after the clone's delete
        assert set(source.live_files()) == src_files, \
            "clone DML must never touch the source"
    t = _orders_table(spark, sf_dir, "cloned", build)
    return (t.read().groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("o_orderkey").alias("sum_keys"),
                 F.max("o_totalprice").alias("max_price")))


ORACLE_ORDERS_CLONED = f"""
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
       MAX(o_totalprice) AS max_price
FROM orders
WHERE o_orderkey NOT IN ({", ".join(str(k) for k in _CLONE_DEL_KEYS)})
GROUP BY o_orderstatus
"""


ORACLE_ORDERS_CONVERTED = """
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
       MAX(o_totalprice) AS max_price
FROM orders GROUP BY o_orderstatus
"""


_PART_ZERO_KEYS = [1, 2, 3, 4, 5, 6, 7]      # merge: price zeroed at build
_PART_DEL_KEYS = [32, 33]                    # delete: removed at build


def _partitioned_orders(spark: SparkSession, sf_dir: str):
    """Build-or-reopen the HIVE-PARTITIONED adopted orders table: the
    reference's own lake layout (``country/city/`` prefixes,
    ``meteomatics_get_data.py:116-133``) as a ``partitionBy`` write,
    adopted IN PLACE by ``TxTable.convert`` (partitionValues derived
    from paths in the one stats scan, reader protocol 2), then mutated
    through the PARTITIONED DML planners — a last-wins MERGE zeroing
    ``_PART_ZERO_KEYS``' prices and a keyed DELETE of
    ``_PART_DEL_KEYS`` — so the gate hashes cover adopt → partition
    pruning → partition-aware rewrite, not just the happy read path."""
    from ..operators.txlog import TxTable

    def build(out: str) -> None:
        (load_table(spark, sf_dir, "orders")
         .repartition(2, "o_orderstatus")
         .write.partitionBy("o_orderstatus").parquet(out))
        t = TxTable.convert(spark, out, stat_cols=["o_orderkey"])
        zero = (t.read()
                .filter(F.col("o_orderkey").isin(_PART_ZERO_KEYS))
                .withColumn("o_totalprice", F.lit(0.0)))
        t.merge_upsert(zero, ["o_orderkey"], update=True)
        t.delete(spark.createDataFrame([(k,) for k in _PART_DEL_KEYS],
                                       "o_orderkey long"), ["o_orderkey"])
        # replaceWhere under the gate: atomically replace ONE partition
        # ('P') with its own rows at doubled price — the daily-reload
        # shape; the oracle emulates it as a second CASE layer
        cur_p = t.read(partition_values={"o_orderstatus": "P"})
        t.overwrite_partitions(
            cur_p.withColumn("o_totalprice", F.col("o_totalprice") * 2),
            {"o_orderstatus": "P"})
    return _orders_table(spark, sf_dir, "hive", build)


def q_orders_partitioned_pruned(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Partition-pruned read of the hive-adopted orders table: the
    ``partition_values`` probe drops every non-'F' file LOG-SIDE before
    a task is planned (only ``o_orderstatus=F/`` paths are scanned —
    inputFiles-asserted in tests/test_txlog_partitioned.py), and the
    values hash against the oracle's ``WHERE o_orderstatus = 'F'`` over
    the ORIGINAL orders view, build-time DML included. Scale shape: a
    partition predicate costs a driver-side dict filter over the log —
    zero data IO for pruned partitions at any table size."""
    t = _partitioned_orders(spark, sf_dir)
    return (t.read(partition_values={"o_orderstatus": "F"})
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("o_orderkey").alias("sum_keys"),
                 F.max("o_totalprice").alias("max_price")))


def q_orders_partitioned_rollup(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Full rollup over the hive-adopted + partition-DML'd orders table:
    hash-checks that the partitioned MERGE rewrote exactly the colliding
    rows back into their partitions and the keyed DELETE dropped exactly
    its keys — against the oracle's CASE/NOT IN emulation on the
    original view."""
    t = _partitioned_orders(spark, sf_dir)
    return (t.read().groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("o_orderkey").alias("sum_keys"),
                 F.max("o_totalprice").alias("max_price")))


_PART_DML_WHERE = (
    f"o_orderkey NOT IN ({', '.join(str(k) for k in _PART_DEL_KEYS)})")
# DML layers in build order: the MERGE zeroes fixed keys, then the
# replaceWhere doubles the whole 'P' partition (zeroed rows stay 0.0)
_PART_DML_PRICE = (
    f"CASE WHEN o_orderstatus = 'P' THEN 2.0 ELSE 1.0 END * "
    f"CASE WHEN o_orderkey IN "
    f"({', '.join(str(k) for k in _PART_ZERO_KEYS)}) "
    f"THEN 0.0 ELSE o_totalprice END")

ORACLE_ORDERS_PARTITIONED_PRUNED = f"""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
       MAX({_PART_DML_PRICE}) AS max_price
FROM orders
WHERE o_orderstatus = 'F' AND {_PART_DML_WHERE}
GROUP BY o_orderpriority
"""

ORACLE_ORDERS_PARTITIONED_ROLLUP = f"""
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
       MAX({_PART_DML_PRICE}) AS max_price
FROM orders
WHERE {_PART_DML_WHERE}
GROUP BY o_orderstatus
"""


QUERIES = {
    "pricing_summary": q_pricing_summary,
    "orders_converted_rollup": q_orders_converted_rollup,
    "orders_converted_pointget": q_orders_converted_pointget,
    "orders_partitioned_pruned": q_orders_partitioned_pruned,
    "orders_partitioned_rollup": q_orders_partitioned_rollup,
    "orders_dv_pointget": q_orders_dv_pointget,
    "orders_cloned_rollup": q_orders_cloned_rollup,
    "orders_renamed_rollup": q_orders_renamed_rollup,
    "orders_generated_pruned": q_orders_generated_pruned,
    "orders_identity_audit": q_orders_identity_audit,
    "orders_cdf_images": q_orders_cdf_images,
    "orders_repartitioned_rollup": q_orders_repartitioned_rollup,
    "latest_order_per_customer": q_latest_order_per_customer,
    "latest_order_agg": q_latest_order_agg,
    "supplier_running_quantity": q_supplier_running_quantity,
    "customer_order_gaps": q_customer_order_gaps,
    "sessionize_events": q_sessionize_events,
    "customers_without_orders": q_customers_without_orders,
    "region_revenue": q_region_revenue,
    "returned_priority_counts": q_returned_priority_counts,
    "top_parts_by_revenue": q_top_parts_by_revenue,
    "repeat_status_customers": q_repeat_status_customers,
    "order_status_exclusive": q_order_status_exclusive,
    "small_qty_part_revenue": q_small_qty_part_revenue,
    "events_rollup": q_events_rollup,
    "dim_geo": q_dim_geo,
    "dim_date_from_orders": q_dim_date_from_orders,
    "dim_part_type": q_dim_part_type,
    "events_hourly_rollup": q_events_hourly_rollup,
    "events_json_project": q_events_json_project,
    "events_variant_project": q_events_variant_project,
    "events_last_error_asof": q_events_last_error_asof,
    "sql_nation_revenue": q_sql_nation_revenue,
    "top_supplier_revenue": q_top_supplier_revenue,
    "events_cube": q_events_cube,
    "events_daily_pivot": q_events_daily_pivot,
    "events_unpivot": q_events_unpivot,
    "customer_spend_quartiles": q_customer_spend_quartiles,
    "customer_spend_quartiles_cut": q_customer_spend_quartiles_cut,
    "order_value_percentiles": q_order_value_percentiles,
    "event_user_reach_approx": q_event_user_reach_approx,
    "event_user_reach_exact": q_event_user_reach_exact,
    "event_reach_sketch_weekly": q_event_reach_sketch_weekly,
    "event_reach_weekly_exact": q_event_reach_weekly_exact,
    "events_zorder_layout": q_events_zorder_layout,
    "order_value_percentiles_approx": q_order_value_percentiles_approx,
    "event_audience_overlap_exact": q_event_audience_overlap_exact,
    "event_audience_overlap_approx": q_event_audience_overlap_approx,
    "events_heavy_hitters": q_events_heavy_hitters,
    "important_parts_by_revenue": q_important_parts_by_revenue,
    "large_volume_customers": q_large_volume_customers,
    "sole_return_suppliers": q_sole_return_suppliers,
    "events_sliding_reach_7d": q_events_sliding_reach_7d,
    "min_cost_supplier": q_min_cost_supplier,
    "dominant_part_suppliers": q_dominant_part_suppliers,
    "parts_hierarchy_rollup": q_parts_hierarchy_rollup,
    "supplier_revenue_ranks": q_supplier_revenue_ranks,
    "urgent_shipping_priority": q_urgent_shipping_priority,
    "local_supplier_volume": q_local_supplier_volume,
    "returned_item_losses": q_returned_item_losses,
    "promo_revenue_share": q_promo_revenue_share,
    "small_order_revenue": q_small_order_revenue,
    "discount_band_revenue": q_discount_band_revenue,
    "late_shipment_orders": q_late_shipment_orders,
    "nation_market_share": q_nation_market_share,
    "part_supplier_variety": q_part_supplier_variety,
    "customer_order_distribution": q_customer_order_distribution,
    "disjunctive_band_revenue": q_disjunctive_band_revenue,
    "customer_cohort_retention": q_customer_cohort_retention,
    "sql_order_grouping_sets": q_sql_order_grouping_sets,
    "orders_data_profile": q_orders_data_profile,
    "customer_rfm_segments": q_customer_rfm_segments,
    "events_type_runs": q_events_type_runs,
    "events_user_state_scd2": q_events_user_state_scd2,
    "dormant_high_value_customers": q_dormant_high_value_customers,
    "nation_yoy_revenue": q_nation_yoy_revenue,
    "event_user_cms_estimate": q_event_user_cms_estimate,
    "parts_abc_classes": q_parts_abc_classes,
    "events_native_sessions": q_events_native_sessions,
    "parts_bought_together": q_parts_bought_together,
    "nation_trade_matrix": q_nation_trade_matrix,
    "nation_profit_by_year": q_nation_profit_by_year,
    "shipmode_priority_matrix": q_shipmode_priority_matrix,
    "top_revenue_suppliers": q_top_revenue_suppliers,
    "customer_trailing_spend": q_customer_trailing_spend,
    "events_rollup_incremental": q_events_rollup_incremental,
    "events_spatial_grid": q_events_spatial_grid,
    "events_zorder_stats": q_events_zorder_stats,
}

ORACLE = {
    "pricing_summary": ORACLE_PRICING_SUMMARY,
    "orders_converted_rollup": ORACLE_ORDERS_CONVERTED,
    "orders_converted_pointget": ORACLE_ORDERS_POINTGET,
    "orders_partitioned_pruned": ORACLE_ORDERS_PARTITIONED_PRUNED,
    "orders_partitioned_rollup": ORACLE_ORDERS_PARTITIONED_ROLLUP,
    "orders_dv_pointget": ORACLE_ORDERS_DV_POINTGET,
    "orders_cloned_rollup": ORACLE_ORDERS_CLONED,
    "orders_renamed_rollup": ORACLE_ORDERS_RENAMED,
    "orders_generated_pruned": ORACLE_ORDERS_GENERATED,
    "orders_identity_audit": ORACLE_ORDERS_IDENTITY,
    "orders_cdf_images": ORACLE_ORDERS_CDF,
    "orders_repartitioned_rollup": ORACLE_ORDERS_REPARTITIONED,
    "latest_order_per_customer": ORACLE_LATEST_ORDER,
    "latest_order_agg": ORACLE_LATEST_ORDER,
    "supplier_running_quantity": ORACLE_RUNNING_QTY,
    "customer_order_gaps": ORACLE_ORDER_GAPS,
    "sessionize_events": ORACLE_SESSIONIZE,
    "customers_without_orders": ORACLE_NO_ORDERS,
    "region_revenue": ORACLE_REGION_REVENUE,
    "returned_priority_counts": ORACLE_RETURNED_PRIORITY,
    "top_parts_by_revenue": ORACLE_TOP_PARTS,
    "repeat_status_customers": ORACLE_REPEAT_STATUS,
    "order_status_exclusive": ORACLE_STATUS_EXCLUSIVE,
    "small_qty_part_revenue": ORACLE_SMALL_QTY,
    "events_rollup": ORACLE_EVENTS_ROLLUP,
    "dim_geo": ORACLE_DIM_GEO,
    "dim_date_from_orders": ORACLE_DIM_DATE,
    "dim_part_type": ORACLE_DIM_PART_TYPE,
    "events_hourly_rollup": ORACLE_EVENTS_HOURLY,
    "events_json_project": ORACLE_EVENTS_JSON,
    "events_variant_project": ORACLE_EVENTS_JSON,
    "events_last_error_asof": ORACLE_LAST_ERROR_ASOF,
    "sql_nation_revenue": ORACLE_SQL_NATION_REVENUE,
    "top_supplier_revenue": ORACLE_TOP_SUPPLIER,
    "events_cube": ORACLE_EVENTS_CUBE,
    "events_daily_pivot": ORACLE_EVENTS_PIVOT,
    "events_unpivot": ORACLE_EVENTS_UNPIVOT,
    "customer_spend_quartiles": ORACLE_SPEND_QUARTILES,
    "customer_spend_quartiles_cut": ORACLE_SPEND_QUARTILES_CUT,
    "order_value_percentiles": ORACLE_ORDER_PERCENTILES,
    # event_user_reach_approx: intentionally no oracle — HLL sketches
    # are engine-specific; the driver records a rows-only check and the
    # exact twin below (plus a pytest 5% bound) pins the value.
    "event_user_reach_exact": ORACLE_REACH_EXACT,
    # event_reach_sketch_weekly intentionally absent: HLL binaries have
    # no DuckDB form — rows-only, bounded by the exact twin below.
    "event_reach_weekly_exact": ORACLE_REACH_WEEKLY_EXACT,
    "events_zorder_layout": _oracle_zorder_layout(),
    # order_value_percentiles_approx intentionally absent: GK-sketch
    # quantiles are engine-specific — rows-only, bounded by the exact
    # twin + a pytest rank-error envelope.
    "event_audience_overlap_exact": ORACLE_AUDIENCE_OVERLAP,
    # event_audience_overlap_approx intentionally absent: HLL estimates
    # are engine-specific — rows-only, bounded by the exact twin + pytest.
    "events_heavy_hitters": ORACLE_HEAVY_HITTERS,
    "important_parts_by_revenue": ORACLE_IMPORTANT_PARTS,
    "large_volume_customers": ORACLE_LARGE_VOLUME,
    "sole_return_suppliers": ORACLE_SOLE_RETURN,
    "events_sliding_reach_7d": ORACLE_SLIDING_REACH,
    "min_cost_supplier": ORACLE_MIN_COST_SUPPLIER,
    "dominant_part_suppliers": ORACLE_DOMINANT_SUPPLIERS,
    "parts_hierarchy_rollup": ORACLE_HIERARCHY_ROLLUP,
    "supplier_revenue_ranks": ORACLE_SUPPLIER_RANKS,
    "urgent_shipping_priority": ORACLE_URGENT_SHIPPING,
    "local_supplier_volume": ORACLE_LOCAL_SUPPLIER_VOLUME,
    "returned_item_losses": ORACLE_RETURNED_LOSSES,
    "promo_revenue_share": ORACLE_PROMO_SHARE,
    "small_order_revenue": ORACLE_SMALL_ORDER,
    "discount_band_revenue": ORACLE_DISCOUNT_BAND,
    "late_shipment_orders": ORACLE_LATE_SHIPMENTS,
    "nation_market_share": ORACLE_MARKET_SHARE,
    "part_supplier_variety": ORACLE_SUPPLIER_VARIETY,
    "customer_order_distribution": ORACLE_ORDER_DISTRIBUTION,
    "disjunctive_band_revenue": ORACLE_DISJUNCTIVE_BAND,
    "customer_cohort_retention": ORACLE_COHORT_RETENTION,
    "sql_order_grouping_sets": ORACLE_GROUPING_SETS,
    "orders_data_profile": _oracle_orders_profile(),
    "customer_rfm_segments": ORACLE_RFM_SEGMENTS,
    "events_type_runs": ORACLE_EVENTS_TYPE_RUNS,
    "events_user_state_scd2": ORACLE_USER_STATE_SCD2,
    "dormant_high_value_customers": ORACLE_DORMANT_CUSTOMERS,
    "nation_yoy_revenue": ORACLE_NATION_YOY,
    "event_user_cms_estimate": _oracle_cms_estimate(),
    "parts_abc_classes": ORACLE_PARTS_ABC,
    "events_native_sessions": ORACLE_NATIVE_SESSIONS,
    "parts_bought_together": ORACLE_BOUGHT_TOGETHER,
    "nation_trade_matrix": ORACLE_TRADE_MATRIX,
    "nation_profit_by_year": ORACLE_NATION_PROFIT,
    "shipmode_priority_matrix": ORACLE_SHIPMODE_MATRIX,
    "top_revenue_suppliers": ORACLE_TOP_REVENUE_SUPPLIERS,
    "customer_trailing_spend": ORACLE_TRAILING_SPEND,
    "events_rollup_incremental": ORACLE_ROLLUP_INCREMENTAL,
    "events_spatial_grid": ORACLE_SPATIAL_GRID,
    "events_zorder_stats": _oracle_zorder_stats(),
}
