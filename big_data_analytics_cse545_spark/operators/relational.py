"""L1 relational core — scans, filters, joins, aggregates, windows, set ops.

Maps SURVEY.md §2.2-2.3 / §2.5: every relational capability the reference
implements by hand (hash partitioning ``a1p1_ahuja.py:53-67``, partial+final
aggregation ``a1p1_ahuja.py:181-192``, anti-join-as-reduce
``a1p1_ahuja.py:233-239``, broadcast semi-join ``a1p2b_ahuja.py:70,99``)
re-expressed as declarative DataFrame plans so Catalyst supplies pushdown,
pruning, partial aggregation, and AQE join selection.

Every query here has a DuckDB oracle twin in ``ORACLE`` (same column
aliases — the driver hash-compares after sorting columns by name).

Float-parity policy (oracle hash must match bit-for-bit):
  * per-row arithmetic (+,*,/ on doubles) is IEEE-deterministic — safe;
  * SUM over doubles is order-dependent — never hash a raw double sum.
    Money sums are computed exactly via DECIMAL(18,2|4) then cast to
    double (identical in Spark and DuckDB);
  * AVG error is ~n·eps — rounded to 4-6 digits, far above the noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_analytics_cse545_spark.sources import load_table


def _dsum(col, scale: int = 2):
    """Order-insensitive money sum: exact decimal accumulation, double out.

    Safe only when ``col`` is exact at ``scale`` decimals (true for every
    synthetic money column — verified 2dp): the double→decimal cast is then
    unambiguous in both Spark and DuckDB. Never cast a computed double
    product directly — Spark rounds the shortest-string repr (HALF_UP)
    while DuckDB rounds the binary value, and 2dp×2dp products tie at the
    cast boundary. Use ``_disc_price``/``_charge`` which stay in decimal.
    """
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def _dec(col, prec: int = 12, scale: int = 2):
    return col.cast(f"decimal({prec},{scale})")


def _disc_price():
    """l_extendedprice*(1-l_discount) in exact decimal (scale 4)."""
    one = F.lit(1).cast("decimal(3,2)")
    return _dec(F.col("l_extendedprice")) * (one - _dec(F.col("l_discount"), 3, 2))


def _charge():
    """l_extendedprice*(1-l_discount)*(1+l_tax) in exact decimal (scale 6)."""
    one = F.lit(1).cast("decimal(3,2)")
    return _disc_price() * (one + _dec(F.col("l_tax"), 3, 2))


# ---------------------------------------------------------------------------
# q01 — flagship: pricing summary (scan → filter → hash agg → sort)
# ---------------------------------------------------------------------------

def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem.

    Exercises the reference's core dataflow (map-side partial agg + final
    agg, ``a1p1_ahuja.py:181-192``; ``a1p2a_ahuja.py:20``) as one
    declarative plan: parquet scan with predicate pushdown on l_shipdate →
    partial+final hash aggregation → sort. Catalyst does the in-mapper
    combining the reference hand-codes.
    """
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") < "2000-01-01")
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            F.sum(_disc_price()).cast("double").alias("sum_disc_price"),
            F.sum(_charge()).cast("double").alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q01_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM((CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE) AS sum_charge,
  ROUND(AVG(l_quantity), 4) AS avg_qty,
  ROUND(AVG(l_extendedprice), 4) AS avg_price,
  ROUND(AVG(l_discount), 4) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate < TIMESTAMP '2000-01-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# q02 — star join: revenue per nation (broadcast dims)
# ---------------------------------------------------------------------------

def q02_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join lineitem⋈orders⋈customer⋈nation⋈region.

    The reference only ever broadcasts tiny dims by hand
    (``a1p2b_ahuja.py:99``, ``a2_ahuja.py:255``); here small dims get an
    explicit ``F.broadcast`` hint (nation/region are O(10) rows at any
    scale) and the fact-fact joins shuffle on their keys with AQE free to
    convert/skew-split — the plan that survives 100 TB.
    """
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(_disc_price()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


_Q02_SQL = """
SELECT
  r_name,
  n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


# ---------------------------------------------------------------------------
# q03 — join + agg + global top-k (sort/limit)
# ---------------------------------------------------------------------------

def q03_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 orders by line revenue: join → agg → orderBy → limit.

    The reference sorts only on the driver (``a1p1_ahuja.py:136``,
    ``a2_ahuja.py:312-314``); Spark's TakeOrderedAndProject does the
    distributed top-k without a full sort.
    """
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.sum(_disc_price()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


_Q03_SQL = """
SELECT
  o_orderkey,
  o_orderpriority,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderkey, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


# ---------------------------------------------------------------------------
# q04 — left-semi join (EXISTS)
# ---------------------------------------------------------------------------

def q04_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having ≥1 high-value order — left-semi join.

    Semi-join is the reference's broadcast-dictionary membership test
    (``a1p2b_ahuja.py:70``) in relational form.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


_Q04_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_totalprice > 100000
)
ORDER BY c_custkey
"""


# ---------------------------------------------------------------------------
# q05 — left-anti join (the reference's SetDifference, R − S)
# ---------------------------------------------------------------------------

def q05_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no URGENT-priority order — left-anti join.

    Exact semantics of the reference's hand-rolled SetDifference reduce
    ('in R and not in S', ``a1p1_ahuja.py:233-239``; RDD pipeline
    ``a1p2a_ahuja.py:34``): R = customer keys, S = urgent-order custkeys.
    The reference shuffles every membership record; the anti join lets
    AQE broadcast the smaller side instead.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


_Q05_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
)
ORDER BY c_custkey
"""


# ---------------------------------------------------------------------------
# q06 — per-group top-k via window ranking
# ---------------------------------------------------------------------------

def q06_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by total price — Window + row_number.

    The distributed form of the reference's driver-side per-query
    candidate sort (``a2_ahuja.py:312-314``). Tie-broken on o_orderkey so
    the ranking is deterministic.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
        .orderBy("o_custkey", "rk")
    )


_Q06_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
)
WHERE rk <= 3
ORDER BY o_custkey, rk
"""


# ---------------------------------------------------------------------------
# q07 — analytic window functions (lag/lead/running sum, frame spec)
# ---------------------------------------------------------------------------

def q07_order_running_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order timeline: lag/lead/cumulative sum/rank.

    No counterpart in the reference (SURVEY §2.5 'window functions:
    absent') — provided as first-class engine capability.
    """
    o = load_table(spark, sf_dir, "orders")
    order_w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.col("o_totalprice"),
            F.lag("o_totalprice", 1).over(order_w).alias("prev_price"),
            F.lead("o_totalprice", 1).over(order_w).alias("next_price"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .over(run_w)
            .cast("double")
            .alias("cum_spend"),
            F.row_number().over(order_w).cast("bigint").alias("order_seq"),
        )
        .orderBy("o_custkey", "order_seq")
    )


_Q07_SQL = """
SELECT
  o_custkey,
  o_orderkey,
  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
  o_totalprice,
  LAG(o_totalprice, 1) OVER w AS prev_price,
  LEAD(o_totalprice, 1) OVER w AS next_price,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_spend,
  ROW_NUMBER() OVER w AS order_seq
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, order_seq
"""


# ---------------------------------------------------------------------------
# q08 — rollup (hierarchical subtotals)
# ---------------------------------------------------------------------------

def q08_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(region, nation) customer counts + balances.

    Grouping sets are absent from the reference (SURVEY §2.5) — free in
    Spark SQL. grouping() flags disambiguate NULL-as-subtotal.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _dsum(F.col("c_acctbal")).alias("total_balance"),
            F.grouping("r_name").cast("int").alias("g_region"),
            F.grouping("n_name").cast("int").alias("g_nation"),
        )
        .orderBy("g_region", "g_nation", "r_name", "n_name")
    )


_Q08_SQL = """
SELECT
  r_name,
  n_name,
  COUNT(*) AS n_customers,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance,
  CAST(GROUPING(r_name) AS INT) AS g_region,
  CAST(GROUPING(n_name) AS INT) AS g_nation
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY g_region, g_nation, r_name, n_name
"""


# ---------------------------------------------------------------------------
# q09 — cube
# ---------------------------------------------------------------------------

def q09_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(status, priority) over orders — all 4 grouping sets."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("total_price"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        )
        .orderBy("g_status", "g_priority", "o_orderstatus", "o_orderpriority")
    )


_Q09_SQL = """
SELECT
  o_orderstatus,
  o_orderpriority,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
  CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
"""


# ---------------------------------------------------------------------------
# q10 — set operations (union / intersect / except)
# ---------------------------------------------------------------------------

def q10_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION/INTERSECT/EXCEPT over customer-key sets.

    R = customers with an open ('O') order, S = customers with a filled
    ('F') order. Mirrors the reference's set-difference workload
    (``a1p2a_ahuja.py:28-34``) plus the set ops it lacks, tagged per op.
    """
    o = load_table(spark, sf_dir, "orders")
    r = o.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    s = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    return (
        r.exceptAll(s).withColumn("op", F.lit("only_open"))
        .unionAll(s.exceptAll(r).withColumn("op", F.lit("only_filled")))
        .unionAll(r.intersect(s).withColumn("op", F.lit("both")))
        .orderBy("op", "o_custkey")
    )


_Q10_SQL = """
WITH r AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
     s AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
SELECT o_custkey, 'only_open' AS op FROM (SELECT * FROM r EXCEPT SELECT * FROM s)
UNION ALL
SELECT o_custkey, 'only_filled' AS op FROM (SELECT * FROM s EXCEPT SELECT * FROM r)
UNION ALL
SELECT o_custkey, 'both' AS op FROM (SELECT * FROM r INTERSECT SELECT * FROM s)
ORDER BY op, o_custkey
"""


# ---------------------------------------------------------------------------
# q11 — distinct + conditional aggregation
# ---------------------------------------------------------------------------

def q11_distinct_and_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT), FILTER-style conditional aggs, min/max per flag.

    Distinct-by-first-value is hand-rolled in the reference
    (``a1p2b_ahuja.py:94``); here it's one exact distinct aggregate.
    """
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_high_discount"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
        )
        .orderBy("l_returnflag")
    )


_Q11_SQL = """
SELECT
  l_returnflag,
  COUNT(DISTINCT l_partkey) AS n_parts,
  COUNT(DISTINCT l_suppkey) AS n_suppliers,
  COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_high_discount,
  MIN(l_quantity) AS min_qty,
  MAX(l_quantity) AS max_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# q12 — IN-list + range predicates (scan pushdown)
# ---------------------------------------------------------------------------

def q12_inlist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list + BETWEEN predicates on part — the reference's key-list
    filter (``a2_ahuja.py:197,224,238``: ``x[0] in names``) as pushdown-
    able scan predicates."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.filter(
            F.col("p_type").isin("ECONOMY", "PROMO")
            & F.col("p_size").between(10, 40)
        )
        .select("p_partkey", "p_name", "p_type", "p_size", "p_retailprice")
        .orderBy("p_partkey")
    )


_Q12_SQL = """
SELECT p_partkey, p_name, p_type, p_size, p_retailprice
FROM part
WHERE p_type IN ('ECONOMY', 'PROMO') AND p_size BETWEEN 10 AND 40
ORDER BY p_partkey
"""


# ---------------------------------------------------------------------------
# q13 — string functions
# ---------------------------------------------------------------------------

def q13_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split/lower/upper/substring/regexp/concat over part.

    The reference's string surface (SURVEY §2.5 'string functions':
    split ``a1p2a_ahuja.py:20``, lower ``a1p1_ahuja.py:184``, regex split
    ``a1p2b_ahuja.py:68``, substring slicing ``a2_ahuja.py:129``) on
    built-in JVM expressions.
    """
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.lower(F.col("p_name")).alias("name_lower"),
            F.upper(F.col("p_brand")).alias("brand_upper"),
            F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
            F.substring(F.col("p_type"), 1, 3).alias("type_prefix"),
            # try_cast: under ANSI, regexp_extract's no-match '' would
            # throw CAST_INVALID_INPUT and one malformed p_brand kills
            # the whole scan (round-6 review); NULL-on-garbage instead
            F.regexp_extract(F.col("p_brand"), "#(\\d+)", 1).try_cast("int").alias("brand_num"),
            F.concat_ws("|", F.col("p_type"), F.col("p_brand")).alias("type_brand"),
            F.length(F.col("p_name")).cast("bigint").alias("name_len"),
        )
        .orderBy("p_partkey")
    )


_Q13_SQL = """
SELECT
  p_partkey,
  LOWER(p_name) AS name_lower,
  UPPER(p_brand) AS brand_upper,
  string_split(p_name, ' ')[1] AS first_word,
  SUBSTRING(p_type, 1, 3) AS type_prefix,
  TRY_CAST(regexp_extract(p_brand, '#(\\d+)', 1) AS INT) AS brand_num,
  CONCAT_WS('|', p_type, p_brand) AS type_brand,
  LENGTH(p_name) AS name_len
FROM part
ORDER BY p_partkey
"""


# ---------------------------------------------------------------------------
# q14 — date/time bucketing (the reference's year-month key, typed)
# ---------------------------------------------------------------------------

def q14_events_by_month_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event counts/values per (month, event_type).

    The reference's string-surgery year-month key
    (``a1p2b_ahuja.py:45-46``) as real timestamp ops: date_trunc on a
    typed column, formatted only at the output edge.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("month", F.col("ts")), "yyyy-MM").alias("month"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("month", "event_type")
    )


_Q14_SQL = """
SELECT
  strftime(date_trunc('month', ts), '%Y-%m') AS month,
  event_type,
  COUNT(*) AS n_events,
  ROUND(AVG(value), 4) AS avg_value,
  COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
ORDER BY month, event_type
"""


# ---------------------------------------------------------------------------
# q15 — JSON extraction (events.props)
# ---------------------------------------------------------------------------

def q15_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse events.props JSON, bucket by extracted key.

    Map/JSON functions are absent from the reference (SURVEY §2.5) —
    engine-provided via get_json_object (JVM-side, no UDF).
    """
    e = load_table(spark, sf_dir, "events")
    # try_cast: a non-numeric '$.k' must become NULL, not an ANSI
    # CAST_INVALID_INPUT that aborts the scan (round-6 review)
    k = F.get_json_object(F.col("props"), "$.k").try_cast("bigint")
    # full map surface too: parse to map<string,bigint>, inspect keys,
    # point-look-up a value (SURVEY §2.5 'map/json functions')
    m = F.from_json(F.col("props"), "map<string,bigint>")
    return (
        e.select(
            "event_id",
            "event_type",
            k.alias("k"),
            F.size(F.map_keys(m)).cast("bigint").alias("n_keys"),
            # try_element_at: under ANSI, element_at throws
            # MAP_KEY_DOES_NOT_EXIST for valid JSON lacking 'k' —
            # one such row would kill the job (round-6 review)
            (F.try_element_at(m, F.lit("k")) == k).cast("int").alias("map_matches"),
        )
        .withColumn("k_bucket", F.floor(F.col("k") / 10).cast("bigint"))
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.max("n_keys").alias("max_json_keys"),
            # coalesce: an all-NULL-props bucket counts 0 matches (the
            # oracle's CASE..ELSE 0 shape), not NULL
            F.sum(F.coalesce(F.col("map_matches"), F.lit(0)))
            .cast("bigint")
            .alias("n_map_match"),
        )
        .orderBy("k_bucket")
    )


_Q15_SQL = """
SELECT
  CAST(FLOOR(TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) / 10) AS BIGINT) AS k_bucket,
  COUNT(*) AS n_events,
  MIN(TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)) AS min_k,
  MAX(TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)) AS max_k,
  CAST(MAX(len(json_keys(props))) AS BIGINT) AS max_json_keys,
  CAST(SUM(CASE WHEN TRY_CAST(json_extract(props, '$.k') AS BIGINT)
                     = TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_map_match
FROM events
GROUP BY 1
ORDER BY k_bucket
"""


# ---------------------------------------------------------------------------
# q16 — correlated subquery shape (per-part average comparison)
# ---------------------------------------------------------------------------

def q16_above_avg_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitems priced above 1.5× their part's average — the TPC-H Q17
    shape. Expressed as agg + self-join (Catalyst turns the correlated
    form into the same plan).

    The membership predicate runs in EXACT integer cents:
    ``price > 1.5·avg`` ⟺ ``2·cents·n > 3·sum_cents`` (prices are
    2-decimal values, so ROUND(price·100) recovers exact cents). The
    earlier float form compared against a rounded double AVG — a
    summation-order-dependent value that sits INSIDE a row-membership
    predicate, so a sub-ULP engine difference near a rounding boundary
    flips whole rows in or out (round-6 review); boundary probability
    grows with group count, i.e. exactly at scale. Rounding belongs at
    the output edge (the module float-parity policy); predicates get
    integer arithmetic.
    """
    l = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    l = l.withColumn("_cents", cents)
    part_avg = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("_cents").alias("sum_cents"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return (
        l.join(part_avg, l.l_partkey == part_avg.pk)
        .filter(
            2 * F.col("_cents") * F.col("n_items") > 3 * F.col("sum_cents")
        )
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_above"), _dsum(F.col("l_extendedprice")).alias("sum_price"))
        .orderBy("l_returnflag")
    )


_Q16_SQL = """
WITH c AS (
  SELECT l_returnflag, l_partkey, l_extendedprice,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
),
part_avg AS (
  SELECT l_partkey AS pk, SUM(cents) AS sum_cents, COUNT(*) AS n_items
  FROM c GROUP BY l_partkey
)
SELECT
  l_returnflag,
  COUNT(*) AS n_above,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM c JOIN part_avg ON l_partkey = pk
WHERE 2 * cents * n_items > 3 * sum_cents
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# q17 — grouping sets (explicit)
# ---------------------------------------------------------------------------

def q17_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — (status), (priority), () — via Spark SQL."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_q17")
    return spark.sql(
        """
        SELECT
          o_orderstatus,
          o_orderpriority,
          COUNT(*) AS n_orders,
          CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
          CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
        FROM orders_q17
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
        """
    )


_Q17_SQL = """
SELECT
  o_orderstatus,
  o_orderpriority,
  COUNT(*) AS n_orders,
  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
  CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
"""


# ---------------------------------------------------------------------------
# q18 — as-of join (engine extension; SURVEY §2.5 'as-of: absent')
# ---------------------------------------------------------------------------

def q18_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent click
    at-or-before it.

    Scalable one-pass form: union both event streams, order within user
    by (ts, kind) and carry the last click forward with last(ignorenulls)
    — a single sort-merge pass instead of a range self-join that
    re-scans clicks per purchase. Clicks are deduped per (user, ts)
    keeping the max event_id so tie semantics are engine-independent.
    """
    e = load_table(spark, sf_dir, "events")
    clicks = (
        e.filter(F.col("event_type") == "click")
        # NULL-user clicks can never match: JOIN semantics treat NULL
        # keys as unequal, but a window partitionBy groups NULLs
        # together — without this filter a NULL-user purchase would
        # "match" a NULL-user click and diverge from ASOF LEFT JOIN
        # (round-6 null probe)
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    unioned = clicks.select(
        "user_id", "ts", F.lit(0).alias("is_purchase"), "click_id",
        F.lit(None).cast("long").alias("purchase_id"),
    ).unionAll(
        purchases.select(
            "user_id", "ts", F.lit(1).alias("is_purchase"),
            F.lit(None).cast("long").alias("click_id"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_purchase")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "asof_click", F.last("click_id", ignorenulls=True).over(w)
    ).withColumn(
        "asof_click_ts",
        F.last(
            F.when(F.col("click_id").isNotNull(), F.col("ts")), ignorenulls=True
        ).over(w),
    )
    return (
        carried.filter(F.col("is_purchase") == 1)
        .select(
            F.col("purchase_id"),
            "user_id",
            F.col("asof_click").alias("click_id"),
            (F.unix_micros("ts") - F.unix_micros("asof_click_ts")).alias("gap_us"),
        )
        .orderBy("purchase_id")
    )


_Q18_SQL = """
WITH clicks AS (
  SELECT user_id, ts, MAX(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
),
purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id AS purchase_id,
       p.user_id,
       c.click_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM purchases p
ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND c.ts <= p.ts
ORDER BY purchase_id
"""


# ---------------------------------------------------------------------------
# q19 — range (interval) join (engine extension)
# ---------------------------------------------------------------------------

def q19_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: purchases within 24h after the same user's signup.

    Equi-join on user_id plus a range predicate — Catalyst plans the
    equi part as a hash/sort-merge join and applies the range as a
    post-filter, so the shuffle stays keyed (no cross product). Output
    aggregated per user so the result is small at every scale.
    """
    e = load_table(spark, sf_dir, "events")
    s = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"), "user_id", F.col("ts").alias("s_ts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    joined = s.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") > F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 24 HOURS")),
    )
    return (
        joined.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min(F.unix_micros("p_ts") - F.unix_micros("s_ts")).alias("min_gap_us"),
        )
        .orderBy("user_id")
    )


_Q19_SQL = """
WITH s AS (
  SELECT event_id AS signup_id, user_id, ts AS s_ts
  FROM events WHERE event_type = 'signup'
),
p AS (
  SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
)
SELECT user_id,
       COUNT(*) AS n_pairs,
       MIN(epoch_us(p_ts) - epoch_us(s_ts)) AS min_gap_us
FROM s JOIN p
  ON user_id = p_user
 AND p_ts > s_ts
 AND p_ts <= s_ts + INTERVAL 24 HOURS
GROUP BY user_id
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# q20 — approximate distinct (HLL sketch) — hash-checked since round 4:
# the exact column is compared value-for-value against DuckDB, and the
# sketch is checked through a deterministic error-band flag (the oracle
# asserts the flag as constant truth, so a drifting sketch breaks the
# hash). Engines' raw sketch values differ by design; the tighter
# accuracy pin stays in tests/test_plans.py.
# ---------------------------------------------------------------------------

def q20_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) next to the exact count per
    event_type — the sketch the reference's md5-signature funnel
    approximates by hand (SURVEY §2.5 'approx/sketch ops'). Emits the
    exact count (oracle-hashable), and the sketch as a 0/1 in-band flag
    (|approx − exact| ≤ 5% · exact; rsd=0.02 ⇒ 5% ≈ 2.5σ)."""
    e = load_table(spark, sf_dir, "events")
    approx = F.approx_count_distinct("user_id", rsd=0.02)
    exact = F.countDistinct("user_id")
    return (
        e.groupBy("event_type")
        .agg(
            exact.alias("exact_users"),
            (F.abs(approx - exact) <= 0.05 * exact)
            .cast("long")
            .alias("approx_within_5pct"),
        )
        .orderBy("event_type")
    )


_Q20_SQL = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       CAST(1 AS BIGINT) AS approx_within_5pct
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# q21 — NULL semantics (aggs skip nulls, null group keys, null-safe join)
# ---------------------------------------------------------------------------

def q21_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL edge semantics pinned against the oracle: aggregates skip
    nulls, COUNT(*) does not, null grouping keys form their own group,
    and the null-safe equality join (<=>) matches null to null.

    Nulls are synthesized (the fixture has none): c_acctbal is nulled for
    every third customer, the nation key for every fifth.
    """
    c = load_table(spark, sf_dir, "customer")
    with_nulls = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 3 != 0, F.col("c_acctbal")).alias("bal"),
        F.when(F.col("c_custkey") % 5 != 0, F.col("c_nationkey")).alias("nkey"),
        "c_mktsegment",
    )
    nkey_totals = (
        with_nulls.groupBy(F.col("nkey").alias("t_nkey"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("bal").alias("n_bal"),
            _dsum(F.col("bal")).alias("sum_bal"),
        )
    )
    # null-safe self-join: every row pairs with its own nkey group total,
    # including the NULL group (plain equality would drop those rows)
    return (
        with_nulls.join(nkey_totals, F.col("nkey").eqNullSafe(F.col("t_nkey")))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.countDistinct("t_nkey").alias("n_keys_nonnull"),
        )
        .orderBy("c_mktsegment")
    )


_Q21_SQL = """
WITH with_nulls AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 3 <> 0 THEN c_acctbal END AS bal,
         CASE WHEN c_custkey % 5 <> 0 THEN c_nationkey END AS nkey,
         c_mktsegment
  FROM customer
),
nkey_totals AS (
  SELECT nkey,
         COUNT(*) AS n_rows,
         COUNT(bal) AS n_bal,
         CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
  FROM with_nulls GROUP BY nkey
)
SELECT w.c_mktsegment,
       COUNT(*) AS n_matched,
       COUNT(DISTINCT t.nkey) AS n_keys_nonnull
FROM with_nulls w JOIN nkey_totals t ON w.nkey IS NOT DISTINCT FROM t.nkey
GROUP BY w.c_mktsegment
ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# q22 — retention cohorts (event analytics over the star's time axis)
# ---------------------------------------------------------------------------

def q22_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily signup cohorts × activity-day offsets: for each signup-day
    cohort, how many of its users were active N days later.

    One self-join keyed on user_id (AQE picks broadcast for the small
    cohort side) + date arithmetic; the classic retention matrix.
    """
    e = load_table(spark, sf_dir, "events")
    cohorts = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("cohort_day"))
    )
    activity = e.select("user_id", F.to_date("ts").alias("act_day")).distinct()
    return (
        cohorts.join(activity, "user_id")
        .withColumn("day_offset", F.datediff("act_day", "cohort_day"))
        .filter(F.col("day_offset").between(0, 7))
        .groupBy(F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"), "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort", "day_offset")
    )


_Q22_SQL = """
WITH cohorts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
activity AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS act_day FROM events)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
       CAST(act_day - cohort_day AS INT) AS day_offset,
       COUNT(DISTINCT a.user_id) AS n_active
FROM cohorts c JOIN activity a USING (user_id)
WHERE act_day - cohort_day BETWEEN 0 AND 7
GROUP BY 1, 2
ORDER BY cohort, day_offset
"""


# ---------------------------------------------------------------------------
# q23 — ordered funnel (view → click → purchase)
# ---------------------------------------------------------------------------

def q23_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel: users whose first view precedes their first
    click precedes their first purchase. One pass: conditional min-ts
    aggregation per user (no self-joins), then ordering predicates —
    the shape that stays a single shuffle at any scale.
    """
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
    )
    stage = (
        F.when(
            F.col("t_view").isNotNull()
            & F.col("t_click").isNotNull()
            & F.col("t_buy").isNotNull()
            & (F.col("t_view") < F.col("t_click"))
            & (F.col("t_click") < F.col("t_buy")),
            "full_funnel",
        )
        .when(
            F.col("t_view").isNotNull()
            & F.col("t_click").isNotNull()
            & (F.col("t_view") < F.col("t_click")),
            "view_click",
        )
        .when(F.col("t_view").isNotNull(), "view_only")
        .otherwise("no_view")
    )
    return (
        firsts.select(stage.alias("funnel_stage"))
        .groupBy("funnel_stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("funnel_stage")
    )


_Q23_SQL = """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
  FROM events GROUP BY user_id
)
SELECT CASE
         WHEN t_view IS NOT NULL AND t_click IS NOT NULL AND t_buy IS NOT NULL
              AND t_view < t_click AND t_click < t_buy THEN 'full_funnel'
         WHEN t_view IS NOT NULL AND t_click IS NOT NULL
              AND t_view < t_click THEN 'view_click'
         WHEN t_view IS NOT NULL THEN 'view_only'
         ELSE 'no_view'
       END AS funnel_stage,
       COUNT(*) AS n_users
FROM firsts GROUP BY 1 ORDER BY funnel_stage
"""


# ---------------------------------------------------------------------------
# q24 — exact percentiles (sort-based, deterministic)
# ---------------------------------------------------------------------------

def q24_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of order totals per status — Spark
    ``percentile`` and DuckDB ``quantile_cont`` share the linear-
    interpolation definition, so values match to rounding."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
        )
        .orderBy("o_orderstatus")
    )


_Q24_SQL = """
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# q25 — RANGE window frames (interval-based moving aggregates)
# ---------------------------------------------------------------------------

def q25_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-day trailing spend per customer order — a RANGE frame over the
    date axis (vs q07's ROWS frame): every order aggregates all orders of
    the same customer within the preceding 30 days, regardless of how
    many rows that is. Expressed in SQL (range frames with intervals are
    SQL-only surface in Spark).
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_q25")
    return spark.sql(
        """
        SELECT
          o_custkey,
          o_orderkey,
          date_format(o_orderdate, 'yyyy-MM-dd') AS order_date,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
            RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
          ) AS DOUBLE) AS spend_30d,
          COUNT(*) OVER (
            PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
            RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
          ) AS n_orders_30d
        FROM orders_q25
        ORDER BY o_custkey, order_date, o_orderkey
        """
    )


_Q25_SQL = """
SELECT
  o_custkey,
  o_orderkey,
  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
    PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
    RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
  ) AS DOUBLE) AS spend_30d,
  COUNT(*) OVER (
    PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
    RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
  ) AS n_orders_30d
FROM orders
ORDER BY o_custkey, order_date, o_orderkey
"""


# ---------------------------------------------------------------------------
# q26 — pivot (wide event-type counts per day)
# ---------------------------------------------------------------------------

def q26_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts pivoted to one column per event type — the
    DataFrame ``pivot`` with an explicit value list (explicit lists keep
    the plan one-pass; an unlisted pivot needs an extra distinct scan)."""
    e = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        e.groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
        .orderBy("day")
    )


_Q26_SQL = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       COUNT(*) FILTER (WHERE event_type = 'click') AS click,
       COUNT(*) FILTER (WHERE event_type = 'error') AS error,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
       COUNT(*) FILTER (WHERE event_type = 'view') AS view
FROM events
GROUP BY 1 ORDER BY day
"""


# ---------------------------------------------------------------------------
# q27 — time-series gap fill with carry-forward (resample semantics)
# ---------------------------------------------------------------------------

def q27_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize each user's daily purchase total onto a dense daily
    grid, carrying the last observation forward — the hypertable-
    resample shape: sequence() generates the grid (no driver loop),
    last(ignorenulls) over an ordered window fills gaps.

    Kept to user_id < 10 so the output stays result-sized at any SF.
    """
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.filter((F.col("event_type") == "purchase") & (F.col("user_id") < 10))
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(18,3)")).cast("double").alias("spend"))
    )
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = spans.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("spend"), F.lit(0.0)).alias("spend"),
            F.last("spend", ignorenulls=True).over(w).alias("spend_ffill"),
        )
        .orderBy("user_id", "day")
    )


_Q27_SQL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS spend
  FROM events
  WHERE event_type = 'purchase' AND user_id < 10
  GROUP BY 1, 2
),
spans AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id),
grid AS (
  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM spans
)
SELECT g.user_id,
       strftime(g.day, '%Y-%m-%d') AS day,
       COALESCE(d.spend, 0.0) AS spend,
       last_value(d.spend IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS spend_ffill
FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
ORDER BY g.user_id, day
"""


# ---------------------------------------------------------------------------
# q28 — sessionization (gaps-and-islands, batch form of st03)
# ---------------------------------------------------------------------------

SESSION_GAP_US = 3_600_000_000  # 1 hour, in microseconds


def q28_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: per-user events are cut into sessions at
    >1-hour silence gaps (gaps-and-islands: lag → boundary flag →
    running sum = session ordinal), then summarized per user. The batch
    twin of st03's streaming ``session_window``, exposing the rewrite
    Spark applies internally.

    Gap math is integer microseconds on both sides (unix_micros here,
    epoch_us in the oracle) — no float epoch, so no ulp flip at the
    exact-1-hour boundary (strictly greater ⇒ new session, matching
    st03's pinned merge semantics).

    Shape at scale: ONE shuffle on user_id serves both windows and the
    final agg (same key); the boundary flag and running sum pipeline
    within the sorted partition. Sessions never span users, so at
    100 TB the window key can be refined to (user_id, day-bucket) the
    same way t12 refines its stream key.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    sess = (
        e.withColumn(
            "new_s", F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
        )
        .withColumn(
            "session_id",
            F.sum("new_s")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.floor(
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
                / F.lit(1_000_000)
            ).cast("long").alias("duration_sec"),
            F.sum(F.col("value").cast("decimal(18,3)")).cast("double").alias(
                "sum_value"
            ),
        )
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.sum("n_events").alias("n_events"),
            F.max("duration_sec").alias("max_duration_sec"),
            F.sum(F.col("sum_value").cast("decimal(18,3)")).cast("double").alias(
                "sum_value"
            ),
        )
        .orderBy("user_id")
    )


_Q28_SQL = f"""
WITH marked AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id,
         ts, value
  FROM marked
),
per_session AS (
  SELECT user_id, session_id,
         COUNT(*) AS n_events,
         CAST(floor((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0) AS BIGINT)
           AS duration_sec,
         CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
  FROM sess
  GROUP BY user_id, session_id
)
SELECT user_id,
       COUNT(*) AS n_sessions,
       CAST(MAX(n_events) AS BIGINT) AS max_session_events,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(MAX(duration_sec) AS BIGINT) AS max_duration_sec,
       CAST(SUM(CAST(sum_value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
FROM per_session
GROUP BY user_id
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# q29 — skew-resistant exact distinct counts (functions/skew.py surfaced)
# ---------------------------------------------------------------------------

def q29_skew_safe_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-user and total-event counts per event_type via the
    engine's skew pattern (functions/skew.py): phase 1 shuffles on the
    (event_type, user_id) PAIR — a hot event_type spreads across all
    partitions instead of drowning one reducer — phase 2 aggregates the
    pair-sized relation. Semantically identical to
    ``COUNT(DISTINCT user_id), COUNT(*) GROUP BY event_type`` (the
    oracle runs exactly that); the plan is the one that survives a
    skewed 100 TB event log. The reference's residual-row balancing
    (``Assignment 1/a1p1_ahuja.py:114-115``) is the toy form of the
    same concern.
    """
    from big_data_analytics_cse545_spark.functions.skew import (
        skew_resistant_distinct_and_total,
    )

    e = load_table(spark, sf_dir, "events")
    return (
        skew_resistant_distinct_and_total(
            e, "event_type", "user_id",
            distinct_col="n_users", total_col="n_events",
        )
        .orderBy("event_type")
    )


_Q29_SQL = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# q30 — sliding-window distinct users (DAU/WAU) via linear fan-out
# ---------------------------------------------------------------------------

Q30_WINDOW_DAYS = 7


def q30_sliding_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    days = ud.select("day").distinct()
    fan = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(Q30_WINDOW_DAYS - 1))).alias("i"),
        "day",
    ).select("user_id", F.date_add("day", F.col("i")).alias("wday"))
    wau = (
        fan.join(days, fan["wday"] == days["day"], "left_semi")
        .groupBy("wday")
        .agg(F.countDistinct("user_id").alias("wau"))
        .withColumnRenamed("wday", "day")
    )
    dau = ud.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    return (
        dau.join(wau, "day")
        # ISO string, not DATE: pandas renders SQL DATE as Timestamp,
        # so a raw date column can never hash-match across engines
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "dau", "wau")
        .orderBy("day")
    )


# assigned after the def: a formatted string literal in docstring
# position is an expression, not a docstring — __doc__ would be None
q30_sliding_dau.__doc__ = """Per-day active users (DAU) and
    trailing-{W}-day active users (WAU) — the ur-metric of event
    analytics, and a trap at scale: ``COUNT(DISTINCT)`` is not
    window-frameable in Spark, and the naive spelling (self-join each
    day against its trailing range) touches each event once per window
    it falls in *as an event row*.

    The linear rewrite here: collapse events to distinct (user, day)
    pairs FIRST (one shuffle, output is users×days sized, not
    events-sized), then fan each pair into the {W} window-ends it
    supports (narrow explode, ×{W}), then one countDistinct per
    window-end. At 100 TB of events the expensive cardinality drop
    happens before any fan-out; everything after is proportional to
    user-days, independent of how many raw events a hot user generates.
    """.format(W=Q30_WINDOW_DAYS)


_Q30_SQL = f"""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
days AS (SELECT DISTINCT day FROM ud),
fan AS (
  SELECT user_id, day + CAST(i AS INTEGER) AS wday
  FROM ud CROSS JOIN (SELECT unnest(range(0, {Q30_WINDOW_DAYS})) AS i)
),
wau AS (
  SELECT wday AS day, COUNT(DISTINCT user_id) AS wau
  FROM fan WHERE wday IN (SELECT day FROM days)
  GROUP BY wday
),
dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY day)
SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, w.wau
FROM dau d JOIN wau w USING (day)
ORDER BY day
"""


# ---------------------------------------------------------------------------
# q31 — VARIANT semi-structured analytics (Spark 4 open variant type)
# ---------------------------------------------------------------------------

def q31_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured telemetry through Spark 4's VARIANT type: build
    the event envelope a real pipeline receives (nested user/payload
    object), ``parse_json`` it ONCE into a variant, then do every
    extraction with typed ``variant_get`` paths — the parse-once /
    extract-many pattern that replaces q15's per-path
    ``get_json_object`` re-parsing (each get_json_object call re-parses
    the string; variant parses to a binary encoding and each path is an
    O(fields) lookup). At 100 TB the difference is one JSON parse per
    row vs one per row PER EXTRACTED FIELD.

    The round-trip is the check: envelope fields are derived from typed
    columns, so the DuckDB oracle computes the same aggregate from the
    raw columns directly — any loss in construct→parse→extract
    (integer widening, key reordering, null mangling) flips the hash.
    Integer-only payload on purpose: float-to-JSON rendering is not
    canonical across engines.
    """
    e = load_table(spark, sf_dir, "events")
    env = e.select(
        F.parse_json(
            F.to_json(
                F.struct(
                    F.struct(
                        F.col("user_id").alias("id"),
                        (F.col("user_id") % 7).alias("segment"),
                    ).alias("user"),
                    F.col("event_type").alias("kind"),
                    # try_cast: non-numeric '$.k' → NULL, never an
                    # ANSI abort (round-6 review)
                    F.get_json_object("props", "$.k")
                    .try_cast("int")
                    .alias("k"),
                )
            )
        ).alias("v")
    )
    return (
        env.select(
            F.expr("variant_get(v, '$.kind', 'string')").alias("kind"),
            F.expr("variant_get(v, '$.user.segment', 'bigint')").alias("segment"),
            F.expr("variant_get(v, '$.user.id', 'bigint')").alias("uid"),
            F.expr("variant_get(v, '$.k', 'bigint')").alias("k"),
        )
        .groupBy("kind", "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("uid").alias("n_users"),
            F.sum("k").alias("sum_k"),
        )
        .orderBy("kind", "segment")
    )


_Q31_SQL = """
SELECT event_type AS kind, user_id % 7 AS segment,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
         AS sum_k
FROM events
GROUP BY kind, segment
ORDER BY kind, segment
"""


# ---------------------------------------------------------------------------
# q32 — approximate percentiles (quantile sketch, q20's oracle pattern)
# ---------------------------------------------------------------------------

Q32_ACCURACY = 10000  # GK sketch accuracy ⇒ rank error ≤ n/accuracy


def q32_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_percentile`` (Greenwald-Khanna sketch) next to the exact
    interpolated percentile per order status — the mergeable-quantile-
    sketch pattern that replaces q24's exact percentile at 100 TB,
    where exact quantiles need a full sort or a two-pass select and the
    sketch needs one pass and O(accuracy) memory per group.

    Same oracle discipline as q20's HLL: the sketch's merge order is
    partition-dependent, so raw sketch outputs are not hash-stable —
    the query emits the EXACT percentiles (oracle-hashable) plus an
    in-band flag per quantile (|approx − exact| within the value span
    of the rank-error window; rank error ≤ n/accuracy ⇒ with n ≈ 15k
    and accuracy 10k, ±2 ranks). The flag is deterministic truth the
    oracle asserts as constant, so a drifting sketch flips the hash;
    the tighter numeric pin lives with q20's in tests/test_plans.py.
    """
    o = load_table(spark, sf_dir, "orders")
    rows = []
    for q, name in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
        exact = F.expr(f"percentile(o_totalprice, {q})")
        approx = F.expr(
            f"approx_percentile(o_totalprice, {q}, {Q32_ACCURACY})"
        )
        rows.append(F.round(exact, 4).alias(name))
        # span tolerance: 1% of the exact value comfortably covers a
        # ±2-rank displacement on this distribution
        rows.append(
            (F.abs(approx - exact) <= 0.01 * exact)
            .cast("long")
            .alias(f"{name}_sketch_in_band")
        )
    return o.groupBy("o_orderstatus").agg(*rows).orderBy("o_orderstatus")


_Q32_SQL = """
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       CAST(1 AS BIGINT) AS p50_sketch_in_band,
       ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       CAST(1 AS BIGINT) AS p90_sketch_in_band,
       ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99,
       CAST(1 AS BIGINT) AS p99_sketch_in_band
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# q33 — SQL-text surface: correlated EXISTS + scalar subquery + LATERAL
# ---------------------------------------------------------------------------

def q33_sql_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL-TEXT surface: a query submitted as ANSI SQL via
    ``spark.sql`` (every other q-query is DataFrame API; a drop-in
    engine must take both), exercising the three subquery shapes
    Catalyst must decorrelate: a correlated EXISTS (→ left-semi join),
    a correlated scalar subquery (per-customer max order), and a
    LATERAL derived table (per-customer top order by value). None of
    these survive as row-at-a-time subplans — Catalyst rewrites all
    three into joins/windows, which is why the same text that times out
    on a naive executor runs at scan speed here.

    The oracle is *near-identical SQL* (DuckDB shares the ANSI forms),
    making this also a portability check on the SQL dialect core.
    """
    for name in ("customer", "orders"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(f"q33_{name}")
    return spark.sql(
        """
        WITH big AS (SELECT * FROM q33_orders WHERE o_totalprice > 150000)
        SELECT c.c_custkey,
               c.c_name,
               (SELECT MAX(o.o_totalprice) FROM q33_orders o
                 WHERE o.o_custkey = c.c_custkey) AS max_order,
               t.top_orderkey
        FROM q33_customer c,
             LATERAL (SELECT o.o_orderkey AS top_orderkey
                        FROM q33_orders o
                       WHERE o.o_custkey = c.c_custkey
                       ORDER BY o.o_totalprice DESC, o.o_orderkey
                       LIMIT 1) t
        WHERE EXISTS (SELECT 1 FROM big b WHERE b.o_custkey = c.c_custkey)
        ORDER BY c.c_custkey
        """
    )


_Q33_SQL = """
WITH big AS (SELECT * FROM orders WHERE o_totalprice > 150000)
SELECT c.c_custkey,
       c.c_name,
       (SELECT MAX(o.o_totalprice) FROM orders o
         WHERE o.o_custkey = c.c_custkey) AS max_order,
       t.top_orderkey
FROM customer c,
     LATERAL (SELECT o.o_orderkey AS top_orderkey
                FROM orders o
               WHERE o.o_custkey = c.c_custkey
               ORDER BY o.o_totalprice DESC, o.o_orderkey
               LIMIT 1) t
WHERE EXISTS (SELECT 1 FROM big b WHERE b.o_custkey = c.c_custkey)
ORDER BY c.c_custkey
"""


# ---------------------------------------------------------------------------
# q34 — MERGE / upsert semantics (snapshot ⊕ change batch)
# ---------------------------------------------------------------------------

def _merge_changes(o: DataFrame) -> tuple[DataFrame, DataFrame]:
    """q34's change batch over the (o_orderkey, o_totalprice) snapshot,
    as (matched, inserts) in ``api.merge_upsert``'s (key, payload, op)
    shape: keys ≡1 (mod 10) get a price update (+1000, exact in
    binary), keys ≡2 (mod 10) a delete (its payload is never read), and
    keys ≡3 (mod 10) spawn an insert under the NEGATED key at half price
    (exact /2). Negation makes insert keys disjoint from the snapshot
    STRUCTURALLY — orderkeys are positive at every scale factor — so
    q34's disjoint-inserts precondition cannot silently break as the
    fixture grows (a key+10^8 offset would collide with real orderkeys
    past SF≈60). The two halves stay apart so the matched side keeps
    the plain key column, from which Spark infers the scan's
    ``IsNotNull(o_orderkey)``."""
    mod = F.col("o_orderkey") % 10
    matched = o.where(mod.isin(1, 2)).select(
        "o_orderkey",
        F.when(mod == 1, F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        F.when(mod == 1, F.lit("update")).otherwise(F.lit("delete")).alias("op"),
    )
    inserts = o.where(mod == 3).select(
        (-F.col("o_orderkey")).alias("o_orderkey"),
        (F.col("o_totalprice") / 2.0).alias("o_totalprice"),
        F.lit("insert").alias("op"),
    )
    return matched, inserts


def q34_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics over a snapshot + change batch — the
    Delta/Iceberg upsert every incrementally-maintained table needs,
    over the :func:`_merge_changes` batch. The GENERAL merge is one
    full-outer join on the key (the oracle keeps that spelling, so the
    hash-compare doubles as a cross-formulation equivalence proof);
    this implementation lowers to the scalable special case every
    upsert-by-key protocol permits: matched ops (update/delete) via
    LEFT JOIN, not-matched inserts via UNION ALL — valid because the
    batch's insert keys are negated, hence disjoint from the snapshot
    by construction. Spark cannot broadcast EITHER side of a
    full-outer join, but the LEFT-join form lets AQE broadcast the
    ingest-sized change batch so nothing but the result sort shuffles
    (tests/test_plans.py). No forced hint.

    Why this is not a binding of ``api.merge_upsert(...,
    assume_disjoint_inserts=True)``, which computes the same rows: the
    api guards against two matched ops for one key with a window
    partitioned by the key, which shuffles the change batch. q34's
    batch has one op per key by construction. The general not-matched
    case (inserts anti-joined against the snapshot) is q36, which does
    bind the api. Deletes vanish from the output; every surviving row
    carries its ``action`` as the merge audit.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    matched, inserts = _merge_changes(o)
    op = F.col("op")
    matched = matched.select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("new_price"), op
    )
    upserted = (
        o.join(matched, o.o_orderkey == matched.k, "left")
        .where(op.isNull() | (op != "delete"))
        .select(
            "o_orderkey",
            F.when(op == "update", F.col("new_price"))
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
            F.coalesce(op, F.lit("unchanged")).alias("action"),
        )
    )
    inserts = inserts.select("o_orderkey", "o_totalprice", op.alias("action"))
    return upserted.unionByName(inserts).orderBy("o_orderkey")


_Q34_SQL = """
WITH changes AS (
  SELECT o_orderkey AS k, o_totalprice + 1000.0 AS new_price,
         'update' AS op
  FROM orders WHERE o_orderkey % 10 = 1
  UNION ALL
  SELECT o_orderkey AS k, CAST(NULL AS DOUBLE) AS new_price,
         'delete' AS op
  FROM orders WHERE o_orderkey % 10 = 2
  UNION ALL
  SELECT -o_orderkey AS k, o_totalprice / 2.0 AS new_price,
         'insert' AS op
  FROM orders WHERE o_orderkey % 10 = 3
)
SELECT COALESCE(o.o_orderkey, c.k) AS o_orderkey,
       CASE WHEN c.op IN ('update', 'insert') THEN c.new_price
            ELSE o.o_totalprice END AS o_totalprice,
       COALESCE(c.op, 'unchanged') AS action
FROM orders o
FULL OUTER JOIN changes c ON o.o_orderkey = c.k
WHERE c.op IS NULL OR c.op <> 'delete'
ORDER BY o_orderkey
"""


# ---------------------------------------------------------------------------
# q36 — MERGE with COLLIDING inserts (the general not-matched path)
# ---------------------------------------------------------------------------

def q36_merge_upsert_general(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GENERAL merge path q34 deliberately bypasses: the change
    batch's insert keys are NOT disjoint from the snapshot, so the
    WHEN-NOT-MATCHED contract (inserts on existing keys are ignored)
    must be enforced by a real anti-join — this query routes through
    ``api.merge_upsert`` with ``assume_disjoint_inserts=False`` so the
    api's anti-join lowering itself gets the hash-checked row
    (VERDICT r4 task #8). Change batch: q34's (:func:`_merge_changes`)
    plus a second half-price insert for every key ≡3 (mod 10), at
    key+1 — which ALWAYS exists in the dense order fixture, so the
    anti-join drops it, while the NEGATED-key insert is genuinely new
    at every SF and is appended. The oracle spells the same semantics
    as FULL OUTER JOIN + NOT EXISTS, so the hash-compare doubles as a
    cross-formulation equivalence proof.

    Scale shape: matched ops broadcast-join the ingest-sized batch
    against the snapshot (snapshot never shuffles); the anti-join
    shuffles only the snapshot's KEY COLUMN against the batch keys —
    at 100 TB that is a bigint-only exchange, the documented price of
    dropping the disjointness assumption (api.py merge_upsert).
    """
    from big_data_analytics_cse545_spark import api

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    matched, inserts = _merge_changes(o)
    colliding = o.where(F.col("o_orderkey") % 10 == 3).select(
        (F.col("o_orderkey") + 1).alias("o_orderkey"),
        (F.col("o_totalprice") / 2.0).alias("o_totalprice"),
        F.lit("insert").alias("op"),
    )
    changes = matched.unionByName(colliding).unionByName(inserts)
    return (
        api.merge_upsert(o, changes, "o_orderkey", with_action=True)
        .select("o_orderkey", "o_totalprice", "action")
        .orderBy("o_orderkey")
    )


_Q36_SQL = """
WITH changes AS (
  SELECT o_orderkey AS k, o_totalprice + 1000.0 AS new_price, 'update' AS op
  FROM orders WHERE o_orderkey % 10 = 1
  UNION ALL
  SELECT o_orderkey AS k, CAST(NULL AS DOUBLE) AS new_price, 'delete' AS op
  FROM orders WHERE o_orderkey % 10 = 2
  UNION ALL
  SELECT o_orderkey + 1 AS k, o_totalprice / 2.0 AS new_price, 'insert' AS op
  FROM orders WHERE o_orderkey % 10 = 3
  UNION ALL
  SELECT -o_orderkey AS k, o_totalprice / 2.0 AS new_price,
         'insert' AS op
  FROM orders WHERE o_orderkey % 10 = 3
),
matched AS (SELECT * FROM changes WHERE op <> 'insert'),
survivors AS (
  SELECT o.o_orderkey,
         CASE WHEN c.op = 'update' THEN c.new_price
              ELSE o.o_totalprice END AS o_totalprice,
         COALESCE(c.op, 'unchanged') AS action
  FROM orders o
  LEFT JOIN matched c ON o.o_orderkey = c.k
  WHERE c.op IS NULL OR c.op <> 'delete'
),
new_rows AS (
  SELECT c.k AS o_orderkey, c.new_price AS o_totalprice, 'insert' AS action
  FROM changes c
  WHERE c.op = 'insert'
    AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = c.k)
)
SELECT * FROM survivors
UNION ALL
SELECT * FROM new_rows
ORDER BY o_orderkey
"""


# ---------------------------------------------------------------------------
# q35 — recursive CTE (WITH RECURSIVE hierarchy walk, Spark 4 surface)
# ---------------------------------------------------------------------------

def q35_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``WITH RECURSIVE`` on the SQL-text surface (Spark 4 executes the
    ANSI recursive-CTE form natively) — the declarative spelling of the
    iterative fixpoint d08's connected-components loop hand-builds.
    A synthetic tree over customers (parent(c) = c DIV 7, custkey 0 the
    root) is walked from the root, accumulating per-customer depth and
    the exact BIGINT sum of ancestor keys along the path; the recursion
    is bounded at ⌈log₇(max_custkey)⌉ ≈ 4 levels, so the fixpoint
    terminates in a handful of iterations regardless of corpus size.

    The oracle is near-verbatim SQL (DuckDB shares WITH RECURSIVE), so
    this doubles as a dialect-portability pin like q33.

    At 100 TB: each recursion level is ONE equi-join keyed on the
    parent key (children shuffle on c_custkey DIV 7) — per-level cost
    is a data-proportional keyed shuffle exactly like d08's CC rounds,
    and the level count grows logarithmically (tree depth), not with
    rows. The accumulated column is integer-exact, so results are
    independent of join order and parallelism. Production gotcha, pinned
    in tests/test_relational.py: Spark guards runaway recursion with
    ``spark.sql.cteRecursionLevelLimit`` (default 100 — ample here) AND
    ``spark.sql.cteRecursionRowLimit`` (default 1 000 000 TOTAL rows
    across all levels) — a corpus-sized walk emits one row per entity,
    so at scale the row limit must be raised to ≥ N (or -1) or the
    query fails mid-flight by design, not silently truncates.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "q35_customer"
    )
    return spark.sql(
        """
        WITH RECURSIVE walk (c_custkey, depth, path_key_sum) AS (
          SELECT CAST(0 AS BIGINT), 0, CAST(0 AS BIGINT)
          UNION ALL
          SELECT c.c_custkey,
                 w.depth + 1,
                 w.path_key_sum + c.c_custkey
          FROM q35_customer c
          JOIN walk w ON c.c_custkey DIV 7 = w.c_custkey
          WHERE c.c_custkey <> 0
        )
        SELECT depth,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(path_key_sum) AS BIGINT) AS sum_path_keys,
               CAST(MIN(c_custkey) AS BIGINT) AS min_key,
               CAST(MAX(c_custkey) AS BIGINT) AS max_key
        FROM walk
        GROUP BY depth
        ORDER BY depth
        """
    )


_Q35_SQL = """
WITH RECURSIVE walk (c_custkey, depth, path_key_sum) AS (
  SELECT CAST(0 AS BIGINT), 0, CAST(0 AS BIGINT)
  UNION ALL
  SELECT c.c_custkey,
         w.depth + 1,
         w.path_key_sum + c.c_custkey
  FROM customer c
  JOIN walk w ON c.c_custkey // 7 = w.c_custkey
  WHERE c.c_custkey <> 0
)
SELECT depth,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(path_key_sum) AS BIGINT) AS sum_path_keys,
       CAST(MIN(c_custkey) AS BIGINT) AS min_key,
       CAST(MAX(c_custkey) AS BIGINT) AS max_key
FROM walk
GROUP BY depth
ORDER BY depth
"""


QUERIES = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_revenue_by_nation": q02_revenue_by_nation,
    "q03_top_orders": q03_top_orders,
    "q04_customers_with_orders": q04_customers_with_orders,
    "q05_customers_without_orders": q05_customers_without_orders,
    "q06_topk_orders_per_customer": q06_topk_orders_per_customer,
    "q07_order_running_analytics": q07_order_running_analytics,
    "q08_rollup_region_nation": q08_rollup_region_nation,
    "q09_cube_status_priority": q09_cube_status_priority,
    "q10_set_ops": q10_set_ops,
    "q11_distinct_and_conditional_agg": q11_distinct_and_conditional_agg,
    "q12_inlist_filter": q12_inlist_filter,
    "q13_string_funcs": q13_string_funcs,
    "q14_events_by_month_type": q14_events_by_month_type,
    "q15_json_extract": q15_json_extract,
    "q16_above_avg_lineitems": q16_above_avg_lineitems,
    "q17_grouping_sets": q17_grouping_sets,
    "q18_asof_join": q18_asof_join,
    "q19_range_join": q19_range_join,
    "q20_approx_distinct": q20_approx_distinct,
    "q21_null_semantics": q21_null_semantics,
    "q22_retention_cohorts": q22_retention_cohorts,
    "q23_event_funnel": q23_event_funnel,
    "q24_percentiles": q24_percentiles,
    "q25_range_frame": q25_range_frame,
    "q26_pivot": q26_pivot,
    "q27_gap_fill": q27_gap_fill,
    "q28_sessionize": q28_sessionize,
    "q29_skew_safe_distinct": q29_skew_safe_distinct,
    "q30_sliding_dau": q30_sliding_dau,
    "q31_variant_json": q31_variant_json,
    "q32_approx_percentiles": q32_approx_percentiles,
    "q33_sql_subqueries": q33_sql_subqueries,
    "q34_merge_upsert": q34_merge_upsert,
    "q36_merge_upsert_general": q36_merge_upsert_general,
    "q35_recursive_cte": q35_recursive_cte,
}

ORACLE = {
    "q01_pricing_summary": _Q01_SQL,
    "q02_revenue_by_nation": _Q02_SQL,
    "q03_top_orders": _Q03_SQL,
    "q04_customers_with_orders": _Q04_SQL,
    "q05_customers_without_orders": _Q05_SQL,
    "q06_topk_orders_per_customer": _Q06_SQL,
    "q07_order_running_analytics": _Q07_SQL,
    "q08_rollup_region_nation": _Q08_SQL,
    "q09_cube_status_priority": _Q09_SQL,
    "q10_set_ops": _Q10_SQL,
    "q11_distinct_and_conditional_agg": _Q11_SQL,
    "q12_inlist_filter": _Q12_SQL,
    "q13_string_funcs": _Q13_SQL,
    "q14_events_by_month_type": _Q14_SQL,
    "q15_json_extract": _Q15_SQL,
    "q16_above_avg_lineitems": _Q16_SQL,
    "q17_grouping_sets": _Q17_SQL,
    "q18_asof_join": _Q18_SQL,
    "q19_range_join": _Q19_SQL,
    "q20_approx_distinct": _Q20_SQL,
    "q21_null_semantics": _Q21_SQL,
    "q22_retention_cohorts": _Q22_SQL,
    "q23_event_funnel": _Q23_SQL,
    "q24_percentiles": _Q24_SQL,
    "q25_range_frame": _Q25_SQL,
    "q26_pivot": _Q26_SQL,
    "q27_gap_fill": _Q27_SQL,
    "q28_sessionize": _Q28_SQL,
    "q29_skew_safe_distinct": _Q29_SQL,
    "q30_sliding_dau": _Q30_SQL,
    "q31_variant_json": _Q31_SQL,
    "q32_approx_percentiles": _Q32_SQL,
    "q33_sql_subqueries": _Q33_SQL,
    "q34_merge_upsert": _Q34_SQL,
    "q36_merge_upsert_general": _Q36_SQL,
    "q35_recursive_cte": _Q35_SQL,
}
