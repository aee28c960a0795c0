"""Query inventory for the correctness gate (driver contract in
``__spark_entry__.py``).

Every entry is a (spark_fn, oracle_sql) pair over the TESTDATA tables.
Conventions that make the duckdb value-hash comparison deterministic:

* Float aggregates are computed EXACTLY: ``CAST(x AS DECIMAL(18,4))`` before
  SUM (decimal addition is associative — immune to partial-aggregation
  order), then the final value is cast back to DOUBLE. Both engines
  round the same IEEE double with the same rule, so results are
  bit-identical regardless of parallelism.
* Every computed column is aliased identically in Spark and SQL.
* Timestamp outputs go through ``epoch seconds`` (bigint) or stay as
  grouping keys read straight from parquet, dodging timezone rendering.

The aggregate snippets are ANSI SQL strings valid in BOTH Spark SQL and
DuckDB, so each expression is written once and cannot drift.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beam_spark.pcollection import PCollection
from beam_spark.operators.core import Filter, Select, fan_out
from beam_spark.operators.group import CombinePerKey
from beam_spark.session import batch_shuffle_partitions

# registry: name -> (fn(spark, sf_dir) -> DataFrame, oracle_sql | None)
_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def query(name: str, oracle: str | None):
    def deco(fn):
        _REGISTRY[name] = (fn, oracle)
        return fn
    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}


def table(spark: SparkSession, sf_dir: str, name: str) -> PCollection:
    if name == "events":
        # events.ts has shipped as TIMESTAMP(NANOS) (earlier testdata —
        # Spark's reader only accepts it via nanosAsLong) and as
        # TIMESTAMP(MICROS) (current testdata — read natively as
        # TIMESTAMP_NTZ). Normalize both to TimestampType micros. The
        # NTZ->timestamp cast is instant-preserving only when the SESSION
        # timezone is UTC, so gate correctness DEPENDS on this conf: pin
        # it (rather than assert-and-raise) so a caller-built vanilla
        # session on a non-UTC host runs correctly instead of failing —
        # the driver harness builds its own session without get_spark().
        # Runtime SQL conf: takes effect for all reads planned after
        # this line; deliberate non-UTC analysis sessions should not
        # route through these gate helpers.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":  # nanos-as-long: rebuild micros timestamp
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type != "timestamp":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return PCollection(df, ts_col="ts")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return PCollection(df)


def dec(col: str, p: int = 12, s: int = 2) -> str:
    """Decimal view of a clean fixed-decimal double column. The TESTDATA
    doubles carry <= 2 (money) / 6 (events.value) fractional digits, so this
    cast is unambiguous in both engines; all downstream decimal arithmetic
    is then exact and associative. Precisions are kept tight so products
    stay inside DECIMAL(38) in both Spark and DuckDB."""
    return f"CAST({col} AS DECIMAL({p},{s}))"


def dsum(expr: str, alias: str) -> str:
    """Deterministic double sum: expr must be decimal-typed (see dec())."""
    return f"CAST(SUM({expr}) AS DOUBLE) AS {alias}"


def davg(expr: str, alias: str, count_col: str = "*") -> str:
    """Deterministic double mean: exact decimal sum / exact count."""
    return f"CAST(SUM({expr}) AS DOUBLE) / COUNT({count_col}) AS {alias}"


def build_members(thunks):
    """Build independent members of a composite query concurrently,
    one thread per member, so their driver-side plan analysis and any
    eager jobs they issue overlap. Returns the results in input order;
    a member's exception is re-raised once every member has finished."""
    from concurrent.futures import ThreadPoolExecutor

    thunks = list(thunks)
    with ThreadPoolExecutor(max(len(thunks), 1)) as ex:
        # submit, not map: map cancels still-queued members on an error
        futures = [ex.submit(build) for build in thunks]
        return [f.result() for f in futures]


# --------------------------------------------------------------------------
# q1 — TPC-H Q1 shape: scan -> filter -> project -> hash aggregate.
# Exercises: ReadFromParquet, Filter (pushed to scan), CombinePerKey
# (partial agg via Catalyst). SURVEY.md §7 M0 flagship.
# --------------------------------------------------------------------------
_DISC = "CAST(1 - l_discount AS DECIMAL(4,2))"
_TAX = "CAST(1 + l_tax AS DECIMAL(4,2))"
_Q1_AGGS = [
    dsum(dec("l_quantity"), "sum_qty"),
    dsum(dec("l_extendedprice"), "sum_base_price"),
    dsum(f"{dec('l_extendedprice')} * {_DISC}", "sum_disc_price"),
    dsum(f"{dec('l_extendedprice')} * {_DISC} * {_TAX}", "sum_charge"),
    davg(dec("l_quantity"), "avg_qty"),
    davg(dec("l_extendedprice"), "avg_price"),
    davg(dec("l_discount", 4, 2), "avg_disc"),
    "COUNT(*) AS count_order",
]


@query("q1_pricing_summary", f"""
SELECT l_returnflag, l_linestatus, {', '.join(_Q1_AGGS)}
FROM lineitem
WHERE l_shipdate <= CAST('1998-09-02' AS TIMESTAMP)
GROUP BY l_returnflag, l_linestatus
""")
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    aggs = {}
    for snippet in _Q1_AGGS:
        expr_sql, alias = snippet.rsplit(" AS ", 1)
        aggs[alias] = F.expr(expr_sql)
    out = (
        table(spark, sf_dir, "lineitem")
        | Filter("l_shipdate <= CAST('1998-09-02' AS TIMESTAMP)")
        | CombinePerKey("l_returnflag", "l_linestatus", **aggs)
    )
    return out.df


# --------------------------------------------------------------------------
# M1 — relational operators: joins (inner/outer/semi/anti/cross), set ops,
# top-k, distinct, cogroup, secondary sort. SURVEY.md §2.4-2.6.
# --------------------------------------------------------------------------
_REVENUE = f"{dec('l_extendedprice')} * {_DISC}"


@query("q3_shipping_priority", f"""
SELECT l_orderkey, {dsum(_REVENUE, 'revenue')}, o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < CAST('1998-03-15' AS TIMESTAMP)
  AND l_shipdate > CAST('1998-03-15' AS TIMESTAMP)
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
""")
def q3(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join -> agg -> top-k. The customer side is
    filtered then joined (Catalyst broadcast-joins it at this size; at
    100 TB the dim side still broadcasts, fact side never shuffles twice)."""
    from beam_spark.operators.join import Join
    from beam_spark.operators.sort import TopK

    out = (
        table(spark, sf_dir, "customer")
        | Filter("c_mktsegment = 'BUILDING'")
        | Join(table(spark, sf_dir, "orders").df,
               condition=F.col("c_custkey") == F.col("o_custkey"))
        | Filter("o_orderdate < CAST('1998-03-15' AS TIMESTAMP)")
        | Join(table(spark, sf_dir, "lineitem").df,
               condition=F.col("o_orderkey") == F.col("l_orderkey"))
        | Filter("l_shipdate > CAST('1998-03-15' AS TIMESTAMP)")
        | CombinePerKey("l_orderkey", "o_orderdate", "o_orderpriority",
                        revenue=F.expr(f"CAST(SUM({_REVENUE}) AS DOUBLE)"))
        | TopK(10, "revenue desc", "l_orderkey")
    )
    return out.df


@query("q5_local_supplier_volume", f"""
SELECT n_name, {dsum(_REVENUE, 'revenue')}
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= CAST('1996-01-01' AS TIMESTAMP)
  AND o_orderdate < CAST('1997-01-01' AS TIMESTAMP)
GROUP BY n_name
""")
def q5(spark, sf_dir):
    """TPC-H Q5 shape: 6-way join with two broadcast dims (nation/region)."""
    from beam_spark.operators.join import Join

    out = (
        table(spark, sf_dir, "customer")
        | Join(table(spark, sf_dir, "orders").df,
               condition=F.col("c_custkey") == F.col("o_custkey"))
        | Filter("o_orderdate >= CAST('1996-01-01' AS TIMESTAMP) AND "
                 "o_orderdate < CAST('1997-01-01' AS TIMESTAMP)")
        | Join(table(spark, sf_dir, "lineitem").df,
               condition=F.col("o_orderkey") == F.col("l_orderkey"))
        | Join(table(spark, sf_dir, "supplier").df,
               condition=(F.col("l_suppkey") == F.col("s_suppkey"))
               & (F.col("c_nationkey") == F.col("s_nationkey")))
        | Join(table(spark, sf_dir, "nation").df,
               condition=F.col("s_nationkey") == F.col("n_nationkey"),
               broadcast=True)
        | Join(table(spark, sf_dir, "region").df,
               condition=F.col("n_regionkey") == F.col("r_regionkey"),
               broadcast=True)
        | Filter("r_name = 'ASIA'")
        | CombinePerKey("n_name",
                        revenue=F.expr(f"CAST(SUM({_REVENUE}) AS DOUBLE)"))
    )
    return out.df


@query("q_left_join_order_stats", f"""
SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
       {dsum(f"COALESCE({dec('o_totalprice')}, 0)", 'total_spend')}
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
""")
def q_left_join(spark, sf_dir):
    """Left outer join keeping order-less customers (Join.leftOuterJoin,
    join-library Join.java:139)."""
    from beam_spark.operators.join import Join

    out = (
        table(spark, sf_dir, "customer")
        | Join(table(spark, sf_dir, "orders").df,
               condition=F.col("c_custkey") == F.col("o_custkey"), how="left")
        | CombinePerKey(
            "c_custkey", "c_name",
            n_orders=F.count("o_orderkey"),
            total_spend=F.expr(
                f"CAST(SUM(COALESCE({dec('o_totalprice')}, 0)) AS DOUBLE)"))
    )
    return out.df


@query("q_anti_join_customers_without_orders", """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""")
def q_anti(spark, sf_dir):
    """Anti join (beyond Beam's 4 join types; Beam expresses this as CoGBK
    + empty-side filter)."""
    from beam_spark.operators.join import Join

    out = (
        table(spark, sf_dir, "customer")
        | Join(table(spark, sf_dir, "orders").df.select("o_custkey"),
               condition=F.col("c_custkey") == F.col("o_custkey"), how="anti")
        | Select("c_custkey", "c_name")
    )
    return out.df


@query("q_semi_join_parts_shipped", """
SELECT p_partkey, p_brand FROM part
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey
              AND l_quantity > 45)
""")
def q_semi(spark, sf_dir):
    from beam_spark.operators.join import Join

    out = (
        table(spark, sf_dir, "part")
        | Join(table(spark, sf_dir, "lineitem").df.filter("l_quantity > 45"),
               condition=F.col("p_partkey") == F.col("l_partkey"), how="semi")
        | Select("p_partkey", "p_brand")
    )
    return out.df


@query("q_cross_join_region_nation", """
SELECT r_name, n_name FROM region CROSS JOIN nation
WHERE r_regionkey <> n_regionkey
""")
def q_cross(spark, sf_dir):
    """Theta join via cross+filter (Beam only reaches these on the Calcite
    enumerable driver-local path; Spark runs BNLJ distributed)."""
    from beam_spark.operators.join import Join

    out = (
        table(spark, sf_dir, "region")
        | Join(table(spark, sf_dir, "nation").df, how="cross")
        | Filter("r_regionkey <> n_regionkey")
        | Select("r_name", "n_name")
    )
    return out.df


@query("q_union_all_priority_split", """
SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'
UNION ALL
SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '5-LOW'
""")
def q_union_all(spark, sf_dir):
    from beam_spark.operators.setops import UnionAll

    urgent = (table(spark, sf_dir, "orders")
              | Filter("o_orderpriority = '1-URGENT'")
              | Select("o_orderkey", "o_orderpriority"))
    low = (table(spark, sf_dir, "orders")
           | Filter("o_orderpriority = '5-LOW'")
           | Select("o_orderkey", "o_orderpriority"))
    return (urgent | UnionAll(low)).df


@query("q_intersect_multi_segment_nations", """
SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
""")
def q_intersect(spark, sf_dir):
    from beam_spark.operators.setops import IntersectDistinct

    a = (table(spark, sf_dir, "customer")
         | Filter("c_mktsegment = 'BUILDING'") | Select("c_nationkey"))
    b = (table(spark, sf_dir, "customer")
         | Filter("c_mktsegment = 'MACHINERY'") | Select("c_nationkey"))
    return (a | IntersectDistinct(b)).df


@query("q_except_nations", """
SELECT c_nationkey FROM customer
EXCEPT
SELECT s_nationkey FROM supplier
""")
def q_except(spark, sf_dir):
    from beam_spark.operators.setops import ExceptDistinct

    a = table(spark, sf_dir, "customer") | Select(F.col("c_nationkey"))
    b = table(spark, sf_dir, "supplier") | Select(F.col("s_nationkey").alias("c_nationkey"))
    return (a | ExceptDistinct(b)).df


@query("q_topk_orders_global", """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 15
""")
def q_topk(spark, sf_dir):
    """Global top-k -> TakeOrderedAndProject (no global sort); unique-key
    tiebreak keeps the result set deterministic across engines."""
    from beam_spark.operators.sort import TopK

    out = (table(spark, sf_dir, "orders")
           | Select("o_orderkey", "o_totalprice")
           | TopK(15, "o_totalprice desc", "o_orderkey"))
    return out.df


@query("q_topk_orders_per_customer", """
SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders) t
WHERE rn <= 3
""")
def q_topk_per_key(spark, sf_dir):
    from beam_spark.operators.sort import TopKPerKey

    out = (table(spark, sf_dir, "orders")
           | Select("o_custkey", "o_orderkey", "o_totalprice")
           | TopKPerKey("o_custkey", 3, "o_totalprice desc", "o_orderkey"))
    return out.df


@query("q_distinct_order_status", """
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
""")
def q_distinct(spark, sf_dir):
    from beam_spark.operators.core import Distinct

    out = (table(spark, sf_dir, "orders")
           | Select("o_orderstatus", "o_orderpriority") | Distinct())
    return out.df


@query("q_sorted_values_per_user", """
SELECT user_id, list(value ORDER BY ts, event_id) AS sorted_values
FROM events GROUP BY user_id
""")
def q_sortvalues(spark, sf_dir):
    """Secondary sort within key (SortValues.java): JVM-side
    sort_array(collect_list(struct)), no Python, no per-key memory blowup
    at this group size. Tie-break on event_id for determinism."""
    out = (
        table(spark, sf_dir, "events")
        | Select("user_id", "ts", "event_id", "value")
    )
    df = (out.df.groupBy("user_id")
          .agg(F.expr(
              "transform(sort_array(collect_list(struct(ts, event_id, value))),"
              " x -> x.value) AS sorted_values")))
    return df


@query("q_cogroup_customer_orders", """
SELECT k, COALESCE(o.order_keys, []) AS order_keys,
       COALESCE(c.names, []) AS names
FROM (SELECT o_custkey AS k, list(o_orderkey ORDER BY o_orderkey) AS order_keys
      FROM orders GROUP BY o_custkey) o
FULL OUTER JOIN (SELECT c_custkey AS k, list(c_name ORDER BY c_name) AS names
                 FROM customer GROUP BY c_custkey) c
USING (k)
""")
def q_cogroup(spark, sf_dir):
    """CoGroupByKey (transforms/util.py:124): key -> {tag: [values]} via
    per-side pre-aggregation + full outer join; arrays sorted for
    engine-independent comparison."""
    from beam_spark.operators.group import CoGroupByKey

    orders = (table(spark, sf_dir, "orders")
              | Select(F.col("o_custkey").alias("k"), F.col("o_orderkey")))
    custs = (table(spark, sf_dir, "customer")
             | Select(F.col("c_custkey").alias("k"), F.col("c_name")))
    out = {"order_keys": orders, "names": custs} | CoGroupByKey("k")
    df = out.df.select(
        "k",
        F.sort_array("order_keys").alias("order_keys"),
        F.sort_array("names").alias("names"))
    return df


# --------------------------------------------------------------------------
# M2 — event-time windowing on the events table (SURVEY.md §2.7):
# fixed/sliding/session windows, TimestampCombiner. Oracles: time_bucket,
# explicit window enumeration, gaps-and-islands.
# --------------------------------------------------------------------------
_EVENT_VAL = dec("value", 18, 6)


@query("q_pivot_unpivot_suite", f"""
SELECT 'pivot' AS op, o_orderpriority AS k,
       CAST(SUM(CASE WHEN o_orderstatus = 'O'
                THEN {dec('o_totalprice', 18, 2)} END) AS DOUBLE) AS v_O,
       CAST(SUM(CASE WHEN o_orderstatus = 'F'
                THEN {dec('o_totalprice', 18, 2)} END) AS DOUBLE) AS v_F,
       CAST(SUM(CASE WHEN o_orderstatus = 'P'
                THEN {dec('o_totalprice', 18, 2)} END) AS DOUBLE) AS v_P
FROM orders GROUP BY o_orderpriority
UNION ALL
SELECT 'roundtrip' AS op, o_orderpriority AS k,
       CAST(NULL AS DOUBLE) AS v_O, CAST(NULL AS DOUBLE) AS v_F,
       {dsum(dec('o_totalprice', 18, 2), 'v_P')}
FROM orders WHERE o_orderstatus = 'O' GROUP BY o_orderpriority
""")
def q_pivot_unpivot_suite(spark, sf_dir):
    """Pivot (explicit values — no distinct-values pre-job, one
    HashAggregate of conditional aggs) + Unpivot (Spark-native melt,
    one Expand projection). The roundtrip rows unpivot the pivot back
    to long form and must equal a plain GROUP BY — value-verifying
    both directions."""
    from beam_spark.operators.group import Pivot, Unpivot

    od = table(spark, sf_dir, "orders")
    agg = f"CAST(SUM({dec('o_totalprice', 18, 2)}) AS DOUBLE)"
    piv = (od | Pivot(["o_orderpriority"], "o_orderstatus",
                      ["O", "F", "P"], agg, out_prefix="v_"))
    wide = piv.df.selectExpr("'pivot' AS op", "o_orderpriority AS k",
                             "v_O", "v_F", "v_P")
    back = (piv | Unpivot(["o_orderpriority"], ["v_O", "v_F", "v_P"],
                          var_col="status", value_col="v",
                          drop_nulls=True)).df
    rt = (back.where("status = 'v_O'")
          .selectExpr("'roundtrip' AS op", "o_orderpriority AS k",
                      "CAST(NULL AS DOUBLE) AS v_O",
                      "CAST(NULL AS DOUBLE) AS v_F", "v AS v_P"))
    return wide.unionByName(rt)


_GID = "CAST(2 * grouping(l_returnflag) + grouping(l_linestatus) AS BIGINT)"


@query("q_rollup_cube_suite", f"""
SELECT 'rollup' AS op, l_returnflag, l_linestatus,
       {_GID} AS grouping_id, count(*) AS n,
       {dsum(dec('l_quantity'), 'sum_qty')}
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
UNION ALL
SELECT 'cube' AS op, l_returnflag, l_linestatus,
       {_GID} AS grouping_id, count(*) AS n,
       {dsum(dec('l_quantity'), 'sum_qty')}
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
UNION ALL
SELECT 'sets' AS op, l_returnflag, l_linestatus,
       {_GID} AS grouping_id, count(*) AS n,
       {dsum(dec('l_quantity'), 'sum_qty')}
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
""")
def q_rollup_cube_suite(spark, sf_dir):
    """Multi-level aggregation in one pass: ROLLUP hierarchy prefixes,
    CUBE all key subsets, explicit GROUPING SETS — each plans as a
    single Expand+HashAggregate (ONE scan for every level; Beam users
    union N GroupByKeys = N scans of the fact table). grouping_id
    disambiguates rolled-up levels from real NULL keys; composed as
    2*grouping(a)+grouping(b) so both engines agree bit-for-bit."""
    from beam_spark.operators.group import GroupByRollup

    li = table(spark, sf_dir, "lineitem")
    aggs = {"n": "count(*)",
            "sum_qty": f"CAST(SUM({dec('l_quantity')}) AS DOUBLE)"}
    keys = ["l_returnflag", "l_linestatus"]
    parts = [
        (li | GroupByRollup(keys, aggs, kind="rollup")).df
        .selectExpr("'rollup' AS op", "*"),
        (li | GroupByRollup(keys, aggs, kind="cube")).df
        .selectExpr("'cube' AS op", "*"),
        (li | GroupByRollup(keys, aggs, kind="sets",
                            sets=[("l_returnflag",), ("l_linestatus",)])).df
        .selectExpr("'sets' AS op", "*"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query("q_time_rollup_events", f"""
SELECT event_type, 'hour' AS granularity,
       CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_start,
       count(*) AS n, {dsum(dec('value', 18, 6), 'sum_value')}
FROM events GROUP BY event_type, bucket_start
UNION ALL
SELECT event_type, 'day' AS granularity,
       CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS bucket_start,
       count(*) AS n, {dsum(dec('value', 18, 6), 'sum_value')}
FROM events GROUP BY event_type, bucket_start
""")
def q_time_rollup_events(spark, sf_dir):
    """Hypertable-style multi-granularity rollup: hour AND day buckets
    from ONE scan via grouping sets over integer epoch buckets
    (timezone-independent — no calendar rendering crosses the engine
    boundary). The continuous-aggregate maintenance query of a
    timeseries store."""
    from beam_spark.operators.group import TimeRollup

    return (table(spark, sf_dir, "events")
            | TimeRollup("ts", {"hour": 3600, "day": 86400},
                         {"n": "count(*)",
                          "sum_value":
                          f"CAST(SUM({dec('value', 18, 6)}) AS DOUBLE)"},
                         keys=["event_type"])).df


@query("q_window_fixed_hourly", f"""
SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type, COUNT(*) AS n, {dsum(_EVENT_VAL, 'total')}
FROM events
GROUP BY window_start, event_type
""")
def q_window_fixed(spark, sf_dir):
    """Tumbling 1h windows per event_type: WindowInto(FixedWindows) ->
    CombinePerKey; the window struct is an ordinary grouping column."""
    from beam_spark.operators.window import FixedWindows, WindowInto

    out = (
        table(spark, sf_dir, "events")
        | WindowInto(FixedWindows(3600), ts_col="ts")
        | CombinePerKey("event_type", n="count(*)",
                        total=F.expr(f"CAST(SUM({_EVENT_VAL}) AS DOUBLE)"))
    )
    return out.df.select(F.col("__window.start").alias("window_start"),
                         "event_type", "n", "total")


@query("q_window_sliding_counts", f"""
WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS t, {_EVENT_VAL} AS v FROM events),
w AS (SELECT t, v,
             time_bucket(INTERVAL '15 minutes', t) - k * (INTERVAL '15 minutes')
               AS window_start
      FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k))
SELECT window_start, COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS total
FROM w
WHERE t >= window_start AND t < window_start + INTERVAL '1 hour'
GROUP BY window_start
""")
def q_window_sliding(spark, sf_dir):
    """Sliding 1h/15min windows: WindowInto(SlidingWindows) explodes each
    element into its 4 windows JVM-side (sequence+transform+explode),
    then a plain grouped count — Beam's element-duplication model."""
    from beam_spark.operators.window import SlidingWindows, WindowInto
    from beam_spark.operators.group import CombineGlobally

    out = (
        table(spark, sf_dir, "events")
        | WindowInto(SlidingWindows(3600, 900), ts_col="ts")
        | CombineGlobally(n="count(*)",
                          total=F.expr(f"CAST(SUM({_EVENT_VAL}) AS DOUBLE)"))
    )
    return out.df.select(F.col("__window.start").alias("window_start"), "n", "total")


@query("q_window_sessions_per_user", f"""
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, {_EVENT_VAL} AS v
           FROM events),
m AS (SELECT *, CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                       OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                          >= INTERVAL '30 minutes'
                     THEN 1 ELSE 0 END AS new_s
      FROM e),
s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM m)
SELECT user_id, MIN(t) AS session_start,
       MAX(t) + INTERVAL '30 minutes' AS session_end,
       COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS total
FROM s GROUP BY user_id, sid
""")
def q_window_sessions(spark, sf_dir):
    """Session windows (gap 30min) per user: merging WindowFn applied at
    groupBy time via session_window — Spark merges sessions distributed,
    the oracle re-derives them with gaps-and-islands SQL."""
    from beam_spark.operators.window import Sessions, WindowInto

    out = (
        table(spark, sf_dir, "events")
        | WindowInto(Sessions(1800), ts_col="ts")
        | CombinePerKey("user_id", n="count(*)",
                        total=F.expr(f"CAST(SUM({_EVENT_VAL}) AS DOUBLE)"))
    )
    return out.df.select("user_id",
                         F.col("__window.start").alias("session_start"),
                         F.col("__window.end").alias("session_end"),
                         "n", "total")


@query("q_window_timestamp_combiner", """
SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS window_start,
       time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) + INTERVAL '1 day'
         AS end_of_window,
       MIN(CAST(ts AS TIMESTAMP)) AS earliest,
       MAX(CAST(ts AS TIMESTAMP)) AS latest,
       COUNT(*) AS n
FROM events
GROUP BY window_start
""")
def q_window_ts_combiner(spark, sf_dir):
    """TimestampCombiner policies (window.py:96-119): END_OF_WINDOW /
    EARLIEST / LATEST emitted side by side for daily windows."""
    from beam_spark.operators.window import (FixedWindows, TimestampCombiner,
                                             WindowInto)

    pc = (table(spark, sf_dir, "events")
          | WindowInto(FixedWindows(86400), ts_col="ts"))
    df = pc.df.groupBy("__window").agg(
        TimestampCombiner.output_ts(TimestampCombiner.EARLIEST, "__window", "ts").alias("earliest"),
        TimestampCombiner.output_ts(TimestampCombiner.LATEST, "__window", "ts").alias("latest"),
        F.count("*").alias("n"))
    return df.select(F.col("__window.start").alias("window_start"),
                     F.col("__window.end").alias("end_of_window"),
                     "earliest", "latest", "n")


# --------------------------------------------------------------------------
# M3 — combiner/stats surface (SURVEY.md §2.3): Count/Mean/Latest/ToSet/
# StringAgg/CountIf/bit-ops, exact percentiles, moments-based variance/
# covariance, approx sketches (rows-only), OVER-clause analytics.
# --------------------------------------------------------------------------

@query("q_count_per_element", """
SELECT event_type, COUNT(*) AS count FROM events GROUP BY event_type
""")
def q_count_per_element(spark, sf_dir):
    from beam_spark.operators.combiners import Count

    return (table(spark, sf_dir, "events")
            | Count.PerElement("event_type")).df


@query("q_mean_value_per_type", f"""
SELECT event_type, {davg(_EVENT_VAL, 'mean')} FROM events GROUP BY event_type
""")
def q_mean_per_key(spark, sf_dir):
    out = (table(spark, sf_dir, "events")
           | CombinePerKey("event_type",
                           mean=F.expr(f"CAST(SUM({_EVENT_VAL}) AS DOUBLE) / COUNT(*)")))
    return out.df


@query("q_latest_value_per_user", """
SELECT user_id, value AS latest FROM (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) t WHERE rn = 1
""")
def q_latest(spark, sf_dir):
    """Latest.PerKey (combiners.py:924): max_by on (ts, event_id) —
    a single hash aggregate, no sort, no shuffle beyond the key."""
    from beam_spark.operators.combiners import Latest

    return (table(spark, sf_dir, "events")
            | Latest.PerKey("user_id", "value", "ts", tiebreak="event_id")).df


@query("q_string_agg_nations_per_region", """
SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""")
def q_string_agg(spark, sf_dir):
    from beam_spark.operators.combiners import string_agg
    from beam_spark.operators.join import Join

    out = (
        table(spark, sf_dir, "nation")
        | Join(table(spark, sf_dir, "region").df,
               condition=F.col("n_regionkey") == F.col("r_regionkey"),
               broadcast=True)
        | CombinePerKey("r_name", nations=string_agg("n_name")))
    return out.df


@query("q_event_types_per_user", """
SELECT user_id, list(DISTINCT event_type ORDER BY event_type) AS types
FROM events GROUP BY user_id
""")
def q_toset_per_key(spark, sf_dir):
    out = (table(spark, sf_dir, "events")
           | CombinePerKey("user_id",
                           types=F.sort_array(F.collect_set("event_type"))))
    return out.df


@query("q_countif_bitops_per_user", """
SELECT user_id,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       bit_or(event_id) AS id_bits,
       bit_xor(event_id) AS id_xor
FROM events GROUP BY user_id
""")
def q_countif_bitops(spark, sf_dir):
    """CountIf.java + BIT_OR/BIT_XOR from BeamBuiltinAggregations.java:60-91."""
    from beam_spark.operators.combiners import count_if

    out = (table(spark, sf_dir, "events")
           | CombinePerKey("user_id",
                           n_purchase=count_if("event_type = 'purchase'"),
                           id_bits=F.bit_or("event_id"),
                           id_xor=F.bit_xor("event_id")))
    return out.df


@query("q_exact_percentiles_quantity", """
SELECT l_returnflag, quantile_cont(l_quantity, [0.25, 0.5, 0.75, 0.9]) AS qs
FROM lineitem GROUP BY l_returnflag
""")
def q_exact_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (the oracle-able counterpart of
    ApproximateQuantiles, stats.py:283)."""
    from beam_spark.operators.stats import exact_percentile

    out = (table(spark, sf_dir, "lineitem")
           | CombinePerKey("l_returnflag",
                           qs=exact_percentile("l_quantity", [0.25, 0.5, 0.75, 0.9])))
    return out.df


@query("q_variance_moments_per_type", """
SELECT event_type,
       __VAR__ AS var_value,
       sqrt(__VAR__) AS stddev_value
FROM events GROUP BY event_type
""".replace("__VAR__", __import__("beam_spark.operators.stats", fromlist=["moments_var_samp_sql"]).moments_var_samp_sql("CAST(value AS DECIMAL(18,6))")))
def q_variance_moments(spark, sf_dir):
    """VAR_SAMP/STDDEV (VarianceFn.java) computed from exact decimal
    moments — deterministic across engines and partitionings, unlike
    streaming one-pass variance."""
    from beam_spark.operators.stats import moments_var_samp_sql

    v = moments_var_samp_sql("CAST(value AS DECIMAL(18,6))")
    out = (table(spark, sf_dir, "events")
           | CombinePerKey("event_type",
                           var_value=F.expr(v),
                           stddev_value=F.expr(f"sqrt({v})")))
    return out.df


@query("q_covar_price_quantity", """
SELECT l_returnflag,
       __COV__ AS covar_pq
FROM lineitem GROUP BY l_returnflag
""".replace("__COV__", __import__("beam_spark.operators.stats", fromlist=["moments_covar_samp_sql"]).moments_covar_samp_sql("CAST(l_extendedprice AS DECIMAL(12,2))", "CAST(l_quantity AS DECIMAL(12,2))")))
def q_covar_moments(spark, sf_dir):
    """COVAR_SAMP (CovarianceFn.java) from exact cross-moments."""
    from beam_spark.operators.stats import moments_covar_samp_sql

    c = moments_covar_samp_sql("CAST(l_extendedprice AS DECIMAL(12,2))",
                               "CAST(l_quantity AS DECIMAL(12,2))")
    out = (table(spark, sf_dir, "lineitem")
           | CombinePerKey("l_returnflag", covar_pq=F.expr(c)))
    return out.df


@query("q_running_total_per_customer", """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_spend
FROM orders
""")
def q_running_total(spark, sf_dir):
    """OVER-clause running aggregate with an explicit ROWS frame
    (BeamWindowRel.java frame bounds)."""
    from beam_spark.operators.analytics import (CURRENT_ROW,
                                                UNBOUNDED_PRECEDING,
                                                WithAnalytics, window_spec)

    spec = window_spec("o_custkey", ["o_orderdate", "o_orderkey"],
                       rows_between=(UNBOUNDED_PRECEDING, CURRENT_ROW))
    out = (table(spark, sf_dir, "orders")
           | WithAnalytics(spec, running_spend=F.sum(
               F.expr("CAST(o_totalprice AS DECIMAL(12,2))"))))
    return out.df.select("o_custkey", "o_orderkey",
                         F.col("running_spend").cast("double").alias("running_spend"))


@query("q_rank_orders_in_priority", """
SELECT o_orderkey, o_orderpriority,
       rank() OVER w AS price_rank,
       dense_rank() OVER w AS price_dense_rank,
       CAST(percent_rank() OVER w AS DOUBLE) AS price_pct_rank,
       row_number() OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice DESC, o_orderkey) AS rn
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC)
""")
def q_rank(spark, sf_dir):
    """Ranking analytic functions (BeamBuiltinAnalyticFunctions.java:35-48)."""
    from beam_spark.operators.analytics import WithAnalytics, window_spec

    w = window_spec("o_orderpriority", ["o_totalprice desc"])
    w2 = window_spec("o_orderpriority", ["o_totalprice desc", "o_orderkey"])
    out = (table(spark, sf_dir, "orders")
           | WithAnalytics(w, price_rank=F.rank(),
                           price_dense_rank=F.dense_rank())
           | WithAnalytics(w2, rn=F.row_number()))
    df = out.df.withColumn("price_pct_rank", F.percent_rank().over(w))
    return df.select("o_orderkey", "o_orderpriority", "price_rank",
                     "price_dense_rank", "price_pct_rank", "rn")


@query("q_approx_distinct_users", """
SELECT event_type, CAST(count(DISTINCT user_id) AS DOUBLE) AS expected,
       TRUE AS ok
FROM events GROUP BY event_type""")
def q_approx_distinct(spark, sf_dir):
    """ApproximateUnique (stats.py:89) -> HLL++. The sketch estimate is
    not portable SQL, so the oracle is the VERDICT pattern: ``expected``
    is the exact per-key distinct (both engines compute it) and ``ok``
    asserts the estimate lands within the rsd contract (5%)."""
    from beam_spark.operators.stats import ApproximateUnique

    ev = table(spark, sf_dir, "events")
    ad = (ev | ApproximateUnique.PerKey("event_type", "user_id",
                                        rsd=0.02)).df
    exact = ev.df.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact"))
    return ad.join(exact, on="event_type").selectExpr(
        "event_type", "CAST(exact AS DOUBLE) AS expected",
        "abs(approx_unique - exact) <= greatest(0.05 * exact, 2.0D) AS ok")


@query("q_approx_quantiles_value", "\nUNION ALL\n".join(
    f"SELECT CAST({p} AS DOUBLE) AS p, "
    f"CAST(quantile_cont(value, {p}) AS DOUBLE) AS expected, TRUE AS ok "
    f"FROM events" for p in (0.25, 0.5, 0.75)))
def q_approx_quantiles(spark, sf_dir):
    """ApproximateQuantiles (stats.py:283) -> percentile_approx. Oracle:
    verdict rows — exact interpolated quantile per p (both engines) and
    ``ok`` = estimate within 5% of the value span."""
    from beam_spark.operators.stats import (ApproximateQuantiles,
                                            exact_percentile)

    ps = [0.25, 0.5, 0.75]
    ev = table(spark, sf_dir, "events")
    aq = (ev | ApproximateQuantiles.Globally("value", ps,
                                             accuracy=10000)).df
    exact = ev.df.agg(exact_percentile("value", ps).alias("eq"),
                      (F.max("value") - F.min("value")).alias("span"))
    return (aq.crossJoin(F.broadcast(exact))
            .select(F.posexplode("quantiles").alias("pos", "approx"),
                    "eq", "span")
            .select(F.element_at(F.array(*[F.lit(p) for p in ps]),
                                 F.col("pos") + 1).alias("p"),
                    F.element_at("eq", F.col("pos") + 1).alias("expected"),
                    "approx", "span")
            .selectExpr("p", "CAST(expected AS DOUBLE) AS expected",
                        "abs(approx - expected) <= 0.05 * span + 1e-9 "
                        "AS ok"))


@query("q_hll_sketch_mergeable", """
SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS expected, TRUE AS ok
FROM events""")
def q_hll_sketch(spark, sf_dir):
    """HllCount-style reusable sketch column (HllCount.java): per-type
    sketches -> union -> estimate. The sketch bytes are mergeable across
    partitions/queries, which is the point of the operator. Oracle:
    verdict — the merged estimate must land within 5% of the exact
    global distinct (both engines compute the exact side)."""
    from beam_spark.operators.stats import hll_estimate, hll_sketch

    ev = table(spark, sf_dir, "events").df
    per_type = (ev.groupBy("event_type")
                .agg(hll_sketch("user_id").alias("sketch")))
    merged = per_type.agg(F.hll_union_agg("sketch").alias("sketch"))
    exact = ev.agg(F.count_distinct("user_id").alias("exact"))
    return (merged.crossJoin(F.broadcast(exact))
            .selectExpr("CAST(exact AS DOUBLE) AS expected",
                        "abs(" + "hll_sketch_estimate(sketch) - exact)"
                        " <= greatest(0.05 * exact, 2.0D) AS ok"))


@query("q_sample_fixed_size", """
SELECT CAST(least(100, count(*)) AS BIGINT) AS n, TRUE AS members_ok
FROM events""")
def q_sample(spark, sf_dir):
    """Sample.FixedSizeGlobally (combiners.py:558): exact-size uniform
    sample via seeded rand sort-limit. Oracle: verdict — the sample has
    exactly min(100, N) rows and every sampled event_id is a real
    event (anti-join count 0)."""
    from beam_spark.operators.combiners import Sample

    ev = table(spark, sf_dir, "events")
    s = (ev | Sample.FixedSizeGlobally(100)).df
    foreign = s.join(ev.df.select("event_id"), on="event_id",
                     how="left_anti")
    return (s.agg(F.count(F.lit(1)).alias("n"))
            .crossJoin(F.broadcast(
                foreign.agg((F.count(F.lit(1)) == 0).alias("members_ok")))))


# --------------------------------------------------------------------------
# M4 — LLM-training-data operators (build brief first-class surface):
# text analysis, dedup family, similarity search, multimodal plumbing.
# --------------------------------------------------------------------------
_TOK = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_SHINGLES = ("CASE WHEN len(" + _TOK + ") >= 3 THEN list_distinct("
             "list_transform(range(1, len(" + _TOK + ") - 1), "
             "i -> " + _TOK + "[i] || ' ' || " + _TOK + "[i+1] || ' ' || "
             + _TOK + "[i+2])) ELSE [] END")


@query("q_text_token_stats", f"""
SELECT doc_id,
       len({_TOK}) AS n_tokens_ws,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_tokens_bpe,
       length(text) AS n_chars_calc,
       CAST(list_sum(list_transform({_TOK}, x -> length(x))) AS DOUBLE)
         / greatest(len({_TOK}), 1) AS mean_token_len
FROM documents
""")
def q_text_token_stats(spark, sf_dir):
    """Token counting (whitespace + BPE-ish regex) + mean token length —
    pure codegen expressions, linear scan at any scale."""
    from beam_spark.operators.text import (mean_token_length,
                                           token_count_bpe,
                                           token_count_whitespace)

    df = table(spark, sf_dir, "documents").df
    return df.select(
        "doc_id",
        token_count_whitespace("text").alias("n_tokens_ws"),
        token_count_bpe("text").alias("n_tokens_bpe"),
        F.length("text").alias("n_chars_calc"),
        mean_token_length("text").alias("mean_token_len"))


@query("q_text_fingerprint_exact_dedup", f"""
SELECT md5(array_to_string({_TOK}, ' ')) AS content_md5,
       MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
FROM documents GROUP BY content_md5
""")
def q_exact_dedup(spark, sf_dir):
    """Exact dedup by md5 of normalized text: one shuffle on the hash key,
    deterministic min-id survivor."""
    from beam_spark.operators.dedupe import ExactDedup

    return (table(spark, sf_dir, "documents") | ExactDedup()).df


_JACCARD_ORACLE = f"""
WITH sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM documents),
p AS (SELECT a.doc_id AS i, b.doc_id AS j,
        CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / (len(a.shingles) + len(b.shingles)
             - len(list_intersect(a.shingles, b.shingles))) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(a.shingles) > 0 AND len(b.shingles) > 0)
SELECT i, j, jaccard FROM p WHERE jaccard >= 0.6
"""


def _pii_component_sql() -> str:
    """Oracle built from PiiRedact.PATTERNS itself (one source of truth):
    inject deterministic PII into each doc, then the same regexp_replace
    chain + placeholder-count arithmetic in DuckDB ('g' = replace-all,
    Spark's default)."""
    from beam_spark.operators.text import PiiRedact

    inj = ("text || ' Contact: user' || CAST(doc_id AS VARCHAR) || "
           "'@example.com, call (555) 123-4567, card "
           "4111 1111 1111 1111, ssn 123-45-6789, ip 10.0.0.' || "
           "CAST(doc_id % 200 + 1 AS VARCHAR)")
    red = inj
    for token, pat in PiiRedact.PATTERNS:
        pat_sql = pat.replace("'", "''")
        red = f"regexp_replace({red}, '{pat_sql}', '{token}', 'g')"
    count = " + ".join(
        f"(length(red) - length(replace(red, '{t}', ''))) / {len(t)}"
        for t, _ in PiiRedact.PATTERNS)
    return (f"WITH r AS (SELECT doc_id, {red} AS red FROM documents) "
            f"SELECT doc_id, red AS text_redacted, "
            f"CAST({count} AS BIGINT) AS pii_count FROM r")


def _luhn_duck(digits: str) -> str:
    """DuckDB replay of LuhnValidate.sql_expr: same all-integer fold
    spelled with list_sum/list_transform (DuckDB has no
    aggregate(seq, init, lambda) HOF) — integer arithmetic, so form
    differences cannot drift."""
    d = f"reverse({digits})"
    digit = f"(ascii(substr({d}, i, 1)) - 48)"
    return (
        f"CASE WHEN {digits} IS NULL THEN NULL "
        f"WHEN length({digits}) < 13 OR length({digits}) > 19 "
        f"THEN NULL "
        f"WHEN NOT regexp_matches({digits}, '^[0-9]+$') THEN NULL "
        f"ELSE list_sum(list_transform(range(1, length({digits}) + 1), "
        f"i -> CASE WHEN i % 2 = 0 THEN "
        f"CASE WHEN 2 * {digit} > 9 THEN 2 * {digit} - 9 "
        f"ELSE 2 * {digit} END "
        f"ELSE {digit} END)) % 10 = 0 END")


@query("q_text_luhn_card_validation", f"""
WITH p AS (
  SELECT o_orderkey,
         lpad(CAST((o_orderkey * 7919 + o_custkey) % 10000000000000000
              AS VARCHAR), 16, '0') AS pan,
         CAST(o_custkey AS VARCHAR) AS shortd
  FROM orders),
fmt AS (
  SELECT o_orderkey, pan, shortd,
         substr(pan, 1, 4) || ' ' || substr(pan, 5, 4) || '-' ||
         substr(pan, 9, 4) || ' ' || substr(pan, 13, 4) AS pan_fmt
  FROM p)
SELECT o_orderkey, pan,
       {_luhn_duck("pan")} AS pan_luhn_valid,
       {_luhn_duck("replace(replace(pan_fmt, ' ', ''), '-', '')")}
         AS fmt_luhn_valid,
       {_luhn_duck("shortd")} AS short_luhn_valid
FROM fmt
""")
def q_text_luhn_card_validation(spark, sf_dir):
    """Luhn (ISO/IEC 7812 mod-10) checksum validation — the
    false-positive cutter for card-shaped PII: card-shaped 16-digit
    PANs derived deterministically from order keys (the corpus has no
    digit runs, so the candidates are synthesized identically in both
    engines), validated raw, separator-formatted (exercising the
    strip), and as out-of-range short strings (NULL — "not a
    candidate" is distinct from "failed checksum"). All-integer fold:
    ~1 in 10 synthesized PANs passes, exactly the discrimination rate
    random digit runs show."""
    from beam_spark.operators.text import LuhnValidate

    orders = table(spark, sf_dir, "orders").df.selectExpr(
        "o_orderkey",
        "lpad(CAST((o_orderkey * 7919 + o_custkey) % "
        "10000000000000000 AS STRING), 16, '0') AS pan",
        "CAST(o_custkey AS STRING) AS shortd")
    orders = fan_out(orders.selectExpr(
        "*",
        "concat(substr(pan, 1, 4), ' ', substr(pan, 5, 4), '-', "
        "substr(pan, 9, 4), ' ', substr(pan, 13, 4)) AS pan_fmt"))
    out = (PCollection(orders)
           | LuhnValidate("pan")
           | LuhnValidate("pan_fmt")
           | LuhnValidate("shortd")).df
    return out.select(
        "o_orderkey", "pan",
        F.col("pan_luhn_valid"),
        F.col("pan_fmt_luhn_valid").alias("fmt_luhn_valid"),
        F.col("shortd_luhn_valid").alias("short_luhn_valid"))


def _iban_duck(col: str) -> str:
    """DuckDB replay of IbanValidate: the same rearranged mod-97-10
    fold via list_reduce over per-char (multiplier, value) codes —
    all-integer, so the different fold primitive cannot drift."""
    norm = f"upper(regexp_replace({col}, '[ ]', '', 'g'))"
    re_arr = (f"(substr({norm}, 5, length({norm}) - 4) || "
              f"substr({norm}, 1, 4))")
    ch = f"ascii(substr({re_arr}, i, 1))"
    codes = (f"list_prepend(0, list_transform("
             f"range(1, length({re_arr}) + 1), "
             f"i -> CASE WHEN {ch} >= 65 THEN 10000 + ({ch} - 55) "
             f"ELSE 1000 + ({ch} - 48) END))")
    fold = (f"list_reduce({codes}, "
            f"(acc, e) -> (acc * (e // 100) + (e % 100)) % 97)")
    return (f"CASE WHEN {col} IS NULL THEN NULL "
            f"WHEN NOT regexp_matches({norm}, "
            f"'^[A-Z]{{2}}[0-9]{{2}}[A-Z0-9]{{11,30}}$') THEN NULL "
            f"ELSE {fold} = 1 END")


@query("q_text_iban_validation", f"""
WITH b AS (
  SELECT c_custkey,
         (c_custkey * 104729) % 1000000000000000000 AS x
  FROM customer),
c AS (
  SELECT c_custkey, lpad(CAST(x AS VARCHAR), 18, '0') AS bban,
         98 - (((x % 97) * (1000000 % 97) + 131400) % 97) AS chk
  FROM b),
i AS (
  SELECT c_custkey,
         'DE' || lpad(CAST(chk AS VARCHAR), 2, '0') || bban AS iban
  FROM c),
v AS (
  SELECT c_custkey, iban,
         substr(iban, 1, length(iban) - 1) ||
           CAST((CAST(substr(iban, length(iban), 1) AS BIGINT) + 1)
                % 10 AS VARCHAR) AS corrupt,
         substr(iban, 1, 10) AS malformed
  FROM i)
SELECT c_custkey, iban,
       {_iban_duck("iban")} AS iban_valid,
       {_iban_duck("corrupt")} AS corrupt_valid,
       {_iban_duck("malformed")} AS malformed_valid
FROM v
""")
def q_text_iban_validation(spark, sf_dir):
    """IBAN mod-97-10 validation (ISO 13616) — the checksum-PII
    family's second member: German-format IBANs are SYNTHESIZED with
    correct check digits from customer keys (check digits derive from
    the bban's residue with plain bigint modular arithmetic — both
    engines compute the identical string), then validated as-is (all
    TRUE), with the last digit flipped (all FALSE — a one-digit edit
    always changes the residue), and truncated (shape-gated NULL)."""
    from beam_spark.operators.text import IbanValidate

    cust = table(spark, sf_dir, "customer").df.selectExpr(
        "c_custkey",
        "(c_custkey * 104729) % 1000000000000000000 AS x")
    cust = cust.selectExpr(
        "c_custkey",
        "lpad(CAST(x AS STRING), 18, '0') AS bban",
        "98 - (((x % 97) * (1000000 % 97) + 131400) % 97) AS chk")
    cust = cust.selectExpr(
        "c_custkey",
        "concat('DE', lpad(CAST(chk AS STRING), 2, '0'), bban) AS iban")
    cust = fan_out(cust.selectExpr(
        "c_custkey", "iban",
        "concat(substr(iban, 1, length(iban) - 1), "
        "CAST((CAST(substr(iban, length(iban), 1) AS BIGINT) + 1) "
        "% 10 AS STRING)) AS corrupt",
        "substr(iban, 1, 10) AS malformed"))
    out = (PCollection(cust)
           | IbanValidate("iban")
           | IbanValidate("corrupt")
           | IbanValidate("malformed")).df
    return out.select(
        "c_custkey", "iban",
        F.col("iban_iban_valid").alias("iban_valid"),
        F.col("corrupt_iban_valid").alias("corrupt_valid"),
        F.col("malformed_iban_valid").alias("malformed_valid"))


@query("q_text_pii_redaction", _pii_component_sql())
def q_pii_redaction(spark, sf_dir):
    """Rule-based PII scrubbing (emails/cards/SSNs/phones/IPs ->
    placeholder tokens) over documents with deterministic injected PII —
    a zero-shuffle regexp_replace chain; pii_count is the per-doc
    replacement total used as a filter signal."""
    from beam_spark.operators.text import PiiRedact

    inj = ("text || ' Contact: user' || CAST(doc_id AS STRING) || "
           "'@example.com, call (555) 123-4567, card "
           "4111 1111 1111 1111, ssn 123-45-6789, ip 10.0.0.' || "
           "CAST(doc_id % 200 + 1 AS STRING)")
    docs = table(spark, sf_dir, "documents").df.selectExpr(
        "doc_id", f"{inj} AS text")
    out = PCollection(docs) | PiiRedact()
    return out.df.select("doc_id",
                         F.col("text_redacted"),
                         "pii_count")


_HASH_SAMPLE_ORACLE = """
WITH d AS (SELECT doc_id, 'd' || CAST(doc_id % 3 AS VARCHAR) AS domain
           FROM documents)
SELECT doc_id, domain FROM d
WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      % 10000
      < CAST(round((CASE domain WHEN 'd0' THEN 0.5 WHEN 'd1' THEN 0.25
              ELSE 0.1 END) * 10000) AS BIGINT)
"""


@query("q_ml_hash_sample_stratified", _HASH_SAMPLE_ORACLE)
def q_hash_sample(spark, sf_dir):
    """Deterministic stratified sampling (domain-balanced subsample):
    keep fraction per stratum decided by an md5-derived uniform hash of
    the row id — reproducible across engines/retries/partitionings,
    zero-shuffle. Strata here are a synthetic 3-way domain split."""
    from beam_spark.operators.combiners import HashSample

    docs = table(spark, sf_dir, "documents").df.selectExpr(
        "doc_id", "'d' || CAST(doc_id % 3 AS STRING) AS domain")
    out = (PCollection(docs)
           | HashSample("domain", {"d0": 0.5, "d1": 0.25},
                        id_col="doc_id", default=0.1))
    return out.df.select("doc_id", "domain")


_TEMP_SAMPLE_ORACLE = """
WITH d AS (SELECT doc_id,
                  CASE WHEN doc_id % 10 < 6 THEN 'big'
                       WHEN doc_id % 10 < 9 THEN 'mid'
                       ELSE 'small' END AS domain
           FROM documents),
n AS (SELECT domain, COUNT(*) AS cnt FROM d GROUP BY domain),
tot AS (SELECT SUM(cnt) AS N, SUM(pow(cnt, 0.5)) AS wsum FROM n),
r AS (SELECT domain,
             CAST(floor(least(1.0, pow(cnt, 0.5) / wsum * 0.5 * N / cnt)
                        * 1000000 + 0.5) AS BIGINT) AS ppm
      FROM n, tot)
SELECT d.doc_id, d.domain
FROM d JOIN r USING (domain)
WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
           AS BIGINT) % 1000000 < r.ppm
"""


@query("q_ml_temperature_sample", _TEMP_SAMPLE_ORACLE)
def q_temperature_sample(spark, sf_dir):
    """Temperature-based domain rebalancing (multilingual mixing step):
    target shares p_i ∝ n_i^0.5 flatten a skewed 60/30/10 synthetic
    domain split toward uniform at target_frac=0.5; the per-row keep
    decision is the deterministic md5 hash, and the per-domain rate is
    snapped to a 1e-6 grid so the oracle compares integers, not raw
    pow() doubles."""
    from beam_spark.operators.combiners import TemperatureSample

    docs = table(spark, sf_dir, "documents").df.selectExpr(
        "doc_id",
        "CASE WHEN doc_id % 10 < 6 THEN 'big' "
        "WHEN doc_id % 10 < 9 THEN 'mid' ELSE 'small' END AS domain")
    out = (PCollection(docs)
           | TemperatureSample("domain", id_col="doc_id", alpha=0.5,
                               target_frac=0.5))
    return out.df.select("doc_id", "domain")


_PACK_ORACLE = f"""
WITH t AS (SELECT doc_id, doc_id % 4 AS shard,
                  len({_TOK}) AS n_tokens_ws
           FROM documents)
SELECT doc_id, shard, n_tokens_ws,
       CAST(floor((SUM(n_tokens_ws) OVER (PARTITION BY shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens_ws) / 2000.0) AS BIGINT) AS pack_bin
FROM t
"""


@query("q_ml_pack_sequences", _PACK_ORACLE)
def q_pack_sequences(spark, sf_dir):
    """Sequence packing: documents -> fixed-token-budget training bins
    (contiguous greedy packing per shard; shards parallelize the window
    sort). pack_bin is a pure function of (shard, doc order), so the
    assignment is reproducible at any parallelism."""
    from beam_spark.ml.chunking import PackSequences
    from beam_spark.operators.text import token_count_whitespace

    docs = (table(spark, sf_dir, "documents").df
            .selectExpr("doc_id", "doc_id % 4 AS shard", "text")
            .withColumn("n_tokens_ws", token_count_whitespace("text"))
            .drop("text"))
    out = (PCollection(docs)
           | PackSequences(2000, n_tokens_col="n_tokens_ws",
                           order_col="doc_id", shard_col="shard"))
    return out.df.select("doc_id", "shard", "n_tokens_ws", "pack_bin")


_CC_ORACLE = f"""
WITH RECURSIVE
sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM documents),
p AS (SELECT a.doc_id AS i, b.doc_id AS j,
        CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / (len(a.shingles) + len(b.shingles)
             - len(list_intersect(a.shingles, b.shingles))) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(a.shingles) > 0 AND len(b.shingles) > 0),
e AS (SELECT i, j FROM p WHERE jaccard >= 0.6),
sym AS (SELECT i AS a, j AS b FROM e UNION SELECT j, i FROM e),
reach(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT a AS node, MIN(b) AS comp FROM reach GROUP BY a
"""


@query("q_dedup_connected_components", _CC_ORACLE)
def q_dedup_cc(spark, sf_dir):
    """Near-dup CLUSTERS, not just pairs: MinHash+LSH candidate pairs ->
    distributed min-label propagation to a fixed point (the keep/drop
    unit of a real dedup pipeline: one survivor per component). Oracle:
    recursive-CTE transitive closure over the exact-jaccard edge set —
    valid because the LSH candidate set equals the exact edge set on
    this data (same argument as q_dedup_minhash_lsh_pairs)."""
    from beam_spark.operators.dedupe import ConnectedComponents, MinHashLSH

    pairs = (table(spark, sf_dir, "documents")
             | MinHashLSH(bands=16, rows_per_band=8, threshold=0.6))
    # persist the candidate edges: the CC loop iterates over them (and
    # would otherwise recompute the whole minhash lineage every round).
    # CC checkpoints its result, so the cache can be released as soon as
    # the (eager) iteration finishes — no cross-run leak.
    pairs.df.persist()
    out = (pairs | ConnectedComponents()).df
    pairs.df.unpersist()
    return out


_KEEPLIST_ORACLE = f"""
WITH RECURSIVE
sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM documents),
p AS (SELECT a.doc_id AS i, b.doc_id AS j,
        CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / (len(a.shingles) + len(b.shingles)
             - len(list_intersect(a.shingles, b.shingles))) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(a.shingles) > 0 AND len(b.shingles) > 0),
e AS (SELECT i, j FROM p WHERE jaccard >= 0.6),
sym AS (SELECT i AS a, j AS b FROM e UNION SELECT j, i FROM e),
reach(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
cc AS (SELECT a AS node, MIN(b) AS comp FROM reach GROUP BY a)
SELECT d.doc_id, coalesce(cc.comp, d.doc_id) AS comp,
       CAST(CASE WHEN coalesce(cc.comp, d.doc_id) = d.doc_id
                 THEN 1 ELSE 0 END AS INT) AS keep
FROM documents d LEFT JOIN cc ON d.doc_id = cc.node
"""


@query("q_dedup_fuzzy_keeplist", _KEEPLIST_ORACLE)
def q_fuzzy_keeplist(spark, sf_dir):
    """End-to-end fuzzy dedup verdict: MinHash+LSH pairs -> connected
    components -> keep = (doc is its component's min). Oracle: exact-
    jaccard edges + recursive-CTE closure, left-joined back to the
    corpus (LSH candidate set equals the exact edge set on this data —
    same argument as q_dedup_minhash_lsh_pairs)."""
    from beam_spark.operators.dedupe import FuzzyDedupKeep

    return (table(spark, sf_dir, "documents") | FuzzyDedupKeep()).df


_INCR_DEDUP_ORACLE = f"""
WITH sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM documents),
b AS (SELECT * FROM sh WHERE doc_id >= 250 AND len(shingles) > 0),
refc AS (SELECT * FROM sh WHERE doc_id < 250 AND len(shingles) > 0),
jc AS (SELECT b.doc_id AS bid, min(refc.doc_id) AS dup_of_corpus
       FROM b JOIN refc
         ON CAST(len(list_intersect(b.shingles, refc.shingles)) AS DOUBLE)
            / (len(b.shingles) + len(refc.shingles)
               - len(list_intersect(b.shingles, refc.shingles))) >= 0.6
       GROUP BY b.doc_id),
jb AS (SELECT b.doc_id AS bid, min(e.doc_id) AS dup_of_batch
       FROM b JOIN b e
         ON e.doc_id < b.doc_id
        AND CAST(len(list_intersect(b.shingles, e.shingles)) AS DOUBLE)
            / (len(b.shingles) + len(e.shingles)
               - len(list_intersect(b.shingles, e.shingles))) >= 0.6
       GROUP BY b.doc_id)
SELECT d.doc_id, jc.dup_of_corpus, jb.dup_of_batch,
       CAST(CASE WHEN jc.dup_of_corpus IS NOT NULL
                   OR jb.dup_of_batch IS NOT NULL
             THEN 1 ELSE 0 END AS INT) AS is_dup
FROM (SELECT doc_id FROM documents WHERE doc_id >= 250) d
LEFT JOIN jc ON d.doc_id = jc.bid
LEFT JOIN jb ON d.doc_id = jb.bid
"""


@query("q_dedup_against_corpus", _INCR_DEDUP_ORACLE)
def q_dedup_against_corpus(spark, sf_dir):
    """Incremental dedup: the batch (doc_id >= 250) tested against the
    existing corpus (doc_id < 250) and against earlier batch docs —
    never corpus x corpus. Oracle: exact jaccard (LSH candidates equal
    the exact edge set on this data, same argument as the other dedup
    gates)."""
    from beam_spark.operators.dedupe import DedupAgainstCorpus

    docs = table(spark, sf_dir, "documents").df
    corpus = docs.filter("doc_id < 250")
    batch = docs.filter("doc_id >= 250")
    from beam_spark.pcollection import PCollection

    return (PCollection(batch) | DedupAgainstCorpus(corpus)).df


@query("q_lake_sinks_roundtrip", f"""
SELECT 'overwrite_dynamic' AS op, event_type AS k,
       count(*) AS n, {dsum(dec('value', 18, 6), 'v')}
FROM events GROUP BY event_type
UNION ALL
SELECT 'compact' AS op, event_type AS k,
       count(*) AS n, {dsum(dec('value', 18, 6), 'v')}
FROM events
WHERE event_type = (SELECT min(event_type) FROM events)
GROUP BY event_type
UNION ALL
SELECT 'bucketed' AS op, 'all' AS k,
       count(*) AS n, {dsum(dec('value', 18, 6), 'v')}
FROM events
""")
def q_lake_sinks_roundtrip(spark, sf_dir):
    """Lake-maintenance sinks value-oracled through their READ-BACK:
    (1) OverwritePartitionsDynamic writes all events hive-partitioned
    by event_type, then re-overwrites ONE partition with its own data —
    sibling partitions must survive (dynamic mode), so the read-back
    per-partition counts/sums equal the source; (2) CompactParquet
    compacts that single partition (partition_filter sizing) and its
    frame must carry the partition's exact rows; (3) WriteBucketedTable
    round-trips through a hash-bucketed managed table."""
    import os
    import re

    from beam_spark.sources.io import (CompactParquet,
                                       OverwritePartitionsDynamic,
                                       WriteBucketedTable)

    sfname = re.sub(r"[^A-Za-z0-9]", "_",
                    os.path.basename(sf_dir.rstrip("/")))
    path = f"/tmp/beam_spark_lake/{sfname}"
    ev = table(spark, sf_dir, "events")
    et = ev.df.agg(F.min("event_type")).collect()[0][0]

    ev | OverwritePartitionsDynamic(path, "event_type")
    # re-overwrite one partition with its own rows: dynamic mode must
    # leave every sibling partition intact
    one = PCollection(ev.df.filter(F.col("event_type") == et))
    one | OverwritePartitionsDynamic(path, "event_type")
    back = spark.read.parquet(path)
    dyn = back.groupBy(F.col("event_type").alias("k")).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"CAST(SUM({dec('value', 18, 6)}) AS DOUBLE)").alias("v")
    ).select(F.lit("overwrite_dynamic").alias("op"), "k", "n", "v")

    from beam_spark.pcollection import Pipeline
    comp = (Pipeline(spark)
            | CompactParquet(path, target_file_mb=128,
                             partition_filter=f"event_type = '{et}'")).df
    cmp_row = comp.groupBy(F.col("event_type").alias("k")).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"CAST(SUM({dec('value', 18, 6)}) AS DOUBLE)").alias("v")
    ).select(F.lit("compact").alias("op"), "k", "n", "v")

    ev | WriteBucketedTable(f"lake_bucketed_{sfname}", "user_id",
                            n_buckets=8)
    bt = spark.table(f"lake_bucketed_{sfname}").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"CAST(SUM({dec('value', 18, 6)}) AS DOUBLE)").alias("v")
    ).select(F.lit("bucketed").alias("op"), F.lit("all").alias("k"),
             "n", "v")
    return dyn.unionByName(cmp_row).unionByName(bt)


@query("q_dedup_incremental_index", _INCR_DEDUP_ORACLE)
def q_dedup_incremental_index(spark, sf_dir):
    """save_index/from_index round-trip: the corpus dedup index (band
    keys + shingles) is computed once, persisted as parquet, and the
    batch dedups against the SAVED artifact — the real nightly-crawl
    deployment shape. Same oracle as the inline q_dedup_against_corpus;
    materialize=True also exercises the cache-release path."""
    import os

    from beam_spark.operators.dedupe import DedupAgainstCorpus

    docs = table(spark, sf_dir, "documents").df
    idx = os.path.join("/tmp", "beam_spark_dedup_index",
                       os.path.basename(sf_dir.rstrip("/")))
    DedupAgainstCorpus.save_index(docs.filter("doc_id < 250"), idx)
    batch = docs.filter("doc_id >= 250")
    return (PCollection(batch)
            | DedupAgainstCorpus.from_index(idx, materialize=True)).df


_LEAKAGE_ORACLE = f"""
WITH b AS (SELECT doc_id,
                  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                          1, 8)) AS BIGINT) % 10000 AS bk
           FROM documents),
sh AS (SELECT d.doc_id, b.bk, {_SHINGLES} AS shingles
       FROM documents d JOIN b ON d.doc_id = b.doc_id),
test AS (SELECT * FROM sh WHERE bk >= 9000),
train AS (SELECT * FROM sh WHERE bk < 9000),
hits AS (SELECT t.doc_id AS tid, min(tr.doc_id) AS leak_from
         FROM test t JOIN train tr
           ON len(t.shingles) > 0 AND len(tr.shingles) > 0
          AND CAST(len(list_intersect(t.shingles, tr.shingles)) AS DOUBLE)
              / (len(t.shingles) + len(tr.shingles)
                 - len(list_intersect(t.shingles, tr.shingles))) >= 0.6
         GROUP BY t.doc_id)
SELECT t.doc_id, hits.leak_from,
       CAST(CASE WHEN hits.leak_from IS NOT NULL
             THEN 1 ELSE 0 END AS INT) AS leaked
FROM (SELECT doc_id FROM b WHERE bk >= 9000) t
LEFT JOIN hits ON t.doc_id = hits.tid
"""


@query("q_dedup_cross_split_leakage", _LEAKAGE_ORACLE)
def q_cross_split_leakage(spark, sf_dir):
    """Train/test leakage audit: after a deterministic 90/10 hash
    split, flag every TEST doc with a near-dup (jaccard >= 0.6) in
    TRAIN — the eval-hygiene check a pretraining pipeline runs before
    publishing a held-out set. Pure composition: SplitByHash +
    DedupAgainstCorpus(corpus=train, batch=test)."""
    from beam_spark.operators.combiners import SplitByHash
    from beam_spark.operators.dedupe import DedupAgainstCorpus
    from beam_spark.pcollection import PCollection

    docs = (table(spark, sf_dir, "documents")
            | SplitByHash({"train": 0.9, "test": 0.1}, "doc_id")).df
    train = docs.filter("split = 'train'")
    test = docs.filter("split = 'test'")
    out = (PCollection(test) | DedupAgainstCorpus(train)).df
    return out.select(
        "doc_id", F.col("dup_of_corpus").alias("leak_from"),
        F.col("dup_of_corpus").isNotNull().cast("int").alias("leaked"))


_DECON_ORACLE = f"""
WITH b AS (SELECT DISTINCT g
           FROM (SELECT unnest({_SHINGLES}) AS g
                 FROM documents WHERE doc_id < 20) _u),
d AS (SELECT doc_id, unnest({_SHINGLES}) AS g FROM documents),
h AS (SELECT doc_id, COUNT(*) AS n FROM d JOIN b USING (g)
      GROUP BY doc_id)
SELECT documents.doc_id, COALESCE(h.n, 0) AS n_contaminated,
       COALESCE(h.n, 0) > 0 AS contaminated
FROM documents LEFT JOIN h ON documents.doc_id = h.doc_id
"""


@query("q_decontaminate_vs_benchmark", _DECON_ORACLE)
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (pre-training hygiene): flag documents
    whose 3-gram shingles overlap the 'benchmark' set (here: the first
    20 documents standing in for an eval corpus). The benchmark n-gram
    set is built once and BROADCAST to the corpus-side join — the
    exploded corpus shingles never shuffle; only hit rows do."""
    from beam_spark.operators.dedupe import Decontaminate

    docs = table(spark, sf_dir, "documents")
    bench = docs.df.filter("doc_id < 20").select("text")
    out = docs | Decontaminate(bench, n=3)
    return out.df.select("doc_id", "n_contaminated", "contaminated")


# Lines synthesized deterministically from 6-token chunks (TESTDATA
# documents are single-line); dedup keeps the FIRST (doc_id, pos)
# occurrence of each line corpus-wide, reassembles survivors.
_LINEDEDUP_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOK} AS toks FROM documents),
c AS (SELECT doc_id,
             list_transform(
               range(0, greatest(1, CAST(ceil(len(toks) / 6.0) AS BIGINT))),
               i -> array_to_string(toks[i*6+1 : i*6+6], ' ')) AS ls
      FROM t),
l AS (SELECT doc_id, pos, ls[pos] AS line
      FROM c, unnest(range(1, len(ls) + 1)) AS u(pos)),
r AS (SELECT *, row_number() OVER (PARTITION BY line
                                   ORDER BY doc_id, pos) AS rn
      FROM l),
k AS (SELECT doc_id, pos, line,
             (rn = 1 OR length(trim(line)) < 1) AS keep
      FROM r)
SELECT doc_id,
       COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10)
                           ORDER BY pos), '') AS text,
       count(*) FILTER (WHERE keep) AS n_kept,
       count(*) FILTER (WHERE NOT keep) AS n_dropped
FROM k GROUP BY doc_id
"""


@query("q_line_dedup_corpus", _LINEDEDUP_ORACLE)
def q_line_dedup(spark, sf_dir):
    """Corpus-level line dedup (C4/RefinedWeb step): every repeated line
    keeps only its first (doc_id, position) occurrence; documents are
    reassembled from surviving lines. Lines come from deterministic
    6-token chunking of the documents (the testdata is single-line)."""
    from beam_spark.operators.dedupe import LineDedup
    from beam_spark.operators.text import tokens

    df = table(spark, sf_dir, "documents").df.select(
        "doc_id", tokens("text").alias("__toks"))
    n_chunks = F.greatest(
        F.lit(1), F.ceil(F.size("__toks") / F.lit(6.0)).cast("int"))
    lines = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i * 6 + 1, 6)))
    df = df.select("doc_id", F.concat_ws("\n", lines).alias("text"))
    out = PCollection(df) | LineDedup()
    return out.df.select("doc_id", "text", "n_kept", "n_dropped")


_REPETITION_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOK} AS toks FROM documents),
c AS (SELECT doc_id,
             list_transform(
               range(0, greatest(1, CAST(ceil(len(toks) / 6.0) AS BIGINT))),
               i -> array_to_string(toks[i*6+1 : i*6+6], ' ')) AS ls
      FROM t),
l AS (SELECT doc_id, ls[pos] AS line
      FROM c, unnest(range(1, len(ls) + 1)) AS u(pos)),
lc AS (SELECT doc_id, line, COUNT(*) AS cnt, length(line) AS len
       FROM l GROUP BY doc_id, line),
lagg AS (SELECT doc_id, SUM(cnt) AS n_lines,
                COALESCE(SUM(cnt) FILTER (WHERE cnt > 1), 0) AS dup_occ,
                SUM(cnt * len) AS total_chars,
                COALESCE(SUM(cnt * len) FILTER (WHERE cnt > 1), 0)
                  AS dup_chars
         FROM lc GROUP BY doc_id),
g2 AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
       FROM t, unnest(range(1, len(toks))) AS u(i)),
g2c AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g2 GROUP BY doc_id, g),
g2a AS (SELECT doc_id, CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS top_2gram_frac
        FROM g2c GROUP BY doc_id),
g3 AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
       FROM t, unnest(range(1, len(toks) - 1)) AS u(i)),
g3c AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g3 GROUP BY doc_id, g),
g3a AS (SELECT doc_id,
               CAST(COALESCE(SUM(cnt) FILTER (WHERE cnt > 1), 0) AS DOUBLE)
                 / SUM(cnt) AS dup_3gram_frac
        FROM g3c GROUP BY doc_id)
SELECT lagg.doc_id, lagg.n_lines,
       CAST(lagg.dup_occ AS DOUBLE) / lagg.n_lines AS dup_line_frac,
       CAST(lagg.dup_chars AS DOUBLE)
         / greatest(lagg.total_chars, 1) AS dup_line_char_frac,
       COALESCE(g2a.top_2gram_frac, 0.0) AS top_2gram_frac,
       COALESCE(g3a.dup_3gram_frac, 0.0) AS dup_3gram_frac
FROM lagg
LEFT JOIN g2a ON lagg.doc_id = g2a.doc_id
LEFT JOIN g3a ON lagg.doc_id = g3a.doc_id
"""


@query("q_text_repetition_stats", _REPETITION_ORACLE)
def q_repetition_stats(spark, sf_dir):
    """Gopher/RefinedWeb repetition quality signals per document —
    duplicate-line fraction (occurrence and character weighted), top
    2-gram dominance, duplicate-3-gram fraction — computed as a
    ZERO-SHUFFLE map-side projection (array_sort + F.aggregate run-
    length fold inside each row; docs are independent). Lines come from
    the same 6-token chunking as q_line_dedup_corpus."""
    from beam_spark.operators.text import RepetitionStats, tokens

    df = table(spark, sf_dir, "documents").df.select(
        "doc_id", tokens("text").alias("__toks"))
    n_chunks = F.greatest(
        F.lit(1), F.ceil(F.size("__toks") / F.lit(6.0)).cast("int"))
    lines = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i * 6 + 1, 6)))
    df = df.select("doc_id", F.concat_ws("\n", lines).alias("text"))
    out = PCollection(df) | RepetitionStats()
    return out.df.select("doc_id", "n_lines", "dup_line_frac",
                         "dup_line_char_frac", "top_2gram_frac",
                         "dup_3gram_frac")


@query("q_text_gopher_filter", r"""
WITH d AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(trim(text), '\s+'),
                     w -> w <> '') AS words,
         string_split(text, chr(10)) AS lines
  FROM documents
), m AS (
  SELECT doc_id,
    CAST(len(words) AS INT) AS n_words,
    round(CAST(coalesce(list_aggregate(
                 list_transform(words, w -> length(w)), 'sum'),
               0) AS DOUBLE)
          / greatest(len(words), 1), 6) AS mean_word_len,
    round(CAST(len(regexp_extract_all(text, '#'))
               + len(regexp_extract_all(text, '\.\.\.|…')) AS DOUBLE)
          / greatest(len(words), 1), 6) AS symbol_word_ratio,
    round(CAST(len(list_filter(lines,
                   l -> regexp_matches(l, '^\s*[-*•‣▶]'))) AS DOUBLE)
          / greatest(len(lines), 1), 6) AS bullet_line_frac,
    round(CAST(len(list_filter(lines,
                   l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS DOUBLE)
          / greatest(len(lines), 1), 6) AS ellipsis_line_frac,
    round(CAST(len(list_filter(words,
                   w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
          / greatest(len(words), 1), 6) AS alpha_word_frac,
    CAST(len(list_intersect(list_transform(words, w -> lower(w)),
         ['the','be','to','of','and','that','have','with'])) AS INT)
      AS stopword_hits
  FROM d
)
SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
       bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
       stopword_hits,
       CAST(CASE WHEN n_words BETWEEN 50 AND 100000
                  AND mean_word_len BETWEEN 3.0 AND 10.0
                  AND symbol_word_ratio <= 0.1
                  AND bullet_line_frac <= 0.9
                  AND ellipsis_line_frac <= 0.3
                  AND alpha_word_frac >= 0.8
                  AND stopword_hits >= 1
             THEN 1 ELSE 0 END AS INT) AS keep
FROM m
""")
def q_gopher_filter(spark, sf_dir):
    """Gopher quality rules (Rae et al. 2021 §A1.1): word-count bounds,
    mean word length, symbol-to-word ratio, bullet/ellipsis line
    fractions, alpha-word fraction, stop-word presence — zero-shuffle
    Catalyst expressions; `keep` is the conjunction a pretraining
    pipeline filters on. Repetition rules live in
    q_text_repetition_stats. min_stopword_hits=1 here (paper default 2)
    so `keep` discriminates on the synthetic vocabulary, which contains
    only one Gopher stop word."""
    from beam_spark.operators.text import GopherQualityFilter

    out = (table(spark, sf_dir, "documents")
           | GopherQualityFilter(min_stopword_hits=1))
    return out.df.select(
        "doc_id", "n_words", "mean_word_len", "symbol_word_ratio",
        "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
        "stopword_hits", "keep")


@query("q_dedup_exact_substr_spans", r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
                             w -> w <> '') AS w
  FROM documents),
base AS (SELECT doc_id, CAST(len(w) AS INT) AS n_tokens, w FROM toks),
wins AS (
  SELECT doc_id, pos, array_to_string(w[pos : pos + 7], ' ') AS gram
  FROM (SELECT doc_id, w, n_tokens,
               unnest(range(1, greatest(n_tokens - 6, 1))) AS pos
        FROM base)
  WHERE pos + 7 <= n_tokens),
dup AS (SELECT gram FROM wins GROUP BY gram HAVING count(*) >= 2),
marked AS (SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (gram)),
lagged AS (SELECT doc_id, pos,
                  lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
           FROM marked),
isl AS (SELECT doc_id, pos,
               sum(CASE WHEN prev IS NULL OR pos - prev > 8
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS island
        FROM lagged),
grp AS (SELECT doc_id, island, min(pos) AS mn, max(pos) AS mx,
               count(*) AS nwin
        FROM isl GROUP BY doc_id, island),
per_doc AS (SELECT doc_id,
                   CAST(sum(mx - mn + 8) AS BIGINT) AS dup_token_cov,
                   CAST(sum(nwin) AS BIGINT) AS dup_windows
            FROM grp GROUP BY doc_id)
SELECT b.doc_id, b.n_tokens,
       coalesce(p.dup_windows, 0) AS dup_windows,
       coalesce(p.dup_token_cov, 0) AS dup_token_cov,
       round(CAST(coalesce(p.dup_token_cov, 0) AS DOUBLE)
             / greatest(b.n_tokens, 1), 6) AS dup_frac
FROM base b LEFT JOIN per_doc p USING (doc_id)
""")
def q_exact_substr_spans(spark, sf_dir):
    """ExactSubstr-style duplicated-span coverage (arXiv:2107.06499):
    corpus-wide duplicated k-token windows mark their spans; per-doc
    coverage is the gaps-and-islands union. k=8 here (the paper's 50
    exceeds these short synthetic docs); hash_grams=False so the oracle
    compares gram strings — the scale path hashes to 8-byte keys before
    the shuffle."""
    from beam_spark.operators.dedupe import ExactSubstrSpans

    return (table(spark, sf_dir, "documents")
            | ExactSubstrSpans(k=8, hash_grams=False)).df


@query("q_text_bigram_perplexity", r"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(lower(trim(text)), '\s+') AS w
  FROM documents),
bgt AS (SELECT doc_id, w[pos] || ' ' || w[pos+1] AS bg, w[pos] AS w1
        FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS pos
              FROM toks)),
uni AS (SELECT u.w AS w, count(*) AS cw
        FROM (SELECT unnest(w) AS w FROM toks) u GROUP BY u.w),
v AS (SELECT count(*) AS V FROM uni),
big AS (SELECT bg, count(*) AS cb FROM bgt GROUP BY bg),
scored AS (SELECT t.doc_id,
                  -(ln(b.cb + 0.5) - ln(u.cw + 0.5 * v.V)) AS nl
           FROM bgt t JOIN big b USING (bg)
           JOIN uni u ON t.w1 = u.w CROSS JOIN v),
per_doc AS (SELECT doc_id, count(*) AS n_bigrams, avg(nl) AS nll
            FROM scored GROUP BY doc_id)
SELECT d.doc_id, coalesce(p.n_bigrams, 0) AS n_bigrams,
       round(p.nll, 6) AS nll, round(exp(p.nll), 6) AS ppl
FROM documents d LEFT JOIN per_doc p USING (doc_id)
""")
def q_bigram_perplexity(spark, sf_dir):
    """CCNet-style LM quality signal: bigram model with add-0.5
    smoothing fit on the corpus itself, per-doc mean negative
    log-likelihood + perplexity. Two corpus passes (count fit, scoring
    join); low-ppl docs are the fluent ones a pretraining filter
    keeps."""
    from beam_spark.operators.text import NgramPerplexity

    out = table(spark, sf_dir, "documents") | NgramPerplexity()
    return out.df.select("doc_id", "n_bigrams", "nll", "ppl")


@query("q_text_normalize", r"""
SELECT doc_id,
  trim(regexp_replace(
    regexp_replace(
      regexp_replace(lower(text),
        '[\x00-\x08\x0e-\x1f\x7f\x{200b}\x{200c}\x{200d}\x{feff}]',
        '', 'g'),
      '[!-/:-@\[-`{-~]', ' ', 'g'),
    '\s+', ' ', 'g')) AS norm_text
FROM documents
""")
def q_normalize_text(spark, sf_dir):
    """Pre-dedup canonicalization: lowercase, strip control/zero-width
    chars, punctuation to spaces, collapse whitespace — the C4/CCNet
    step before exact/fuzzy dedup. Zero-shuffle expression chain."""
    from beam_spark.operators.text import NormalizeText

    out = (table(spark, sf_dir, "documents")
           | NormalizeText(strip_punct=True))
    return out.df.select("doc_id", "norm_text")


@query("q_ml_split_by_hash", """
SELECT doc_id,
       CASE WHEN b < 8000 THEN 'train'
            WHEN b < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 10000 AS b
      FROM documents)
""")
def q_split_by_hash(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split: the label is a pure
    md5-bucket function of the doc id, so rows never migrate between
    splits across engines, retries, or corpus growth. Zero-shuffle."""
    from beam_spark.operators.combiners import SplitByHash

    out = (table(spark, sf_dir, "documents")
           | SplitByHash({"train": 0.8, "val": 0.1, "test": 0.1},
                         id_col="doc_id"))
    return out.df.select("doc_id", "split")


@query("q_merge_intervals", """
WITH iv AS (SELECT user_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS s,
                   CAST(floor(epoch(ts)) AS BIGINT) + 900 AS e
            FROM events),
f AS (SELECT user_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS rmax
      FROM iv),
g AS (SELECT user_id, s, e,
             CASE WHEN rmax IS NULL OR s > rmax THEN 1 ELSE 0 END
             AS flag
      FROM f),
isl AS (SELECT user_id, s, e,
               sum(flag) OVER (PARTITION BY user_id ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS island
        FROM g)
SELECT user_id, min(s) AS start, max(e) AS "end",
       CAST(count(*) AS BIGINT) AS n_merged
FROM isl GROUP BY user_id, island
""")
def q_merge_intervals(spark, sf_dir):
    """Gaps-and-islands interval merge: each event opens a 15-minute
    activity interval per user; overlapping/touching intervals merge
    into maximal islands — identical window algebra replayed by
    DuckDB, row-exact."""
    from beam_spark.operators.core import MergeIntervals

    ev = table(spark, sf_dir, "events").df
    iv = ev.select(
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("start"),
        (F.floor(F.unix_timestamp("ts")).cast("bigint") + 900)
        .alias("end"))
    return (PCollection(iv) | MergeIntervals(keys=["user_id"])).df


@query("q_sample_weighted", """
WITH s AS (SELECT o_orderkey AS id, o_orderstatus AS st,
                  CAST(o_totalprice AS DOUBLE) AS w FROM orders
           WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
k AS (SELECT id, st,
             round(-ln((CAST(('0x' || substring(
                        md5(CAST(id AS VARCHAR)), 1, 8)) AS BIGINT)
                        + 0.5) / 4294967296.0) / w, 6) AS key
      FROM s),
r AS (SELECT id, st,
             row_number() OVER (PARTITION BY st
                                ORDER BY key, id) AS rn
      FROM k)
SELECT id, st FROM r WHERE rn <= 30
""")
def q_sample_weighted(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis-Spirakis
    exponential race), 30 orders per status weighted by total price:
    the md5-derived uniforms, exponential keys (rounded 6 dp) and the
    winning ROWS all replay exactly in DuckDB."""
    from beam_spark.operators.combiners import WeightedSample

    o = table(spark, sf_dir, "orders")
    out = (o | WeightedSample(30, weight_col="o_totalprice",
                              id_col="o_orderkey",
                              stratum_col="o_orderstatus")).df
    return out.selectExpr("o_orderkey AS id", "o_orderstatus AS st")


@query("q_sample_stratified", """
WITH r AS (
  SELECT event_id, event_type, user_id,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS cnt
  FROM events)
SELECT event_id, event_type, user_id, 'n20' AS mode FROM r WHERE rn <= 20
UNION ALL
SELECT event_id, event_type, user_id, 'frac' AS mode FROM r
WHERE rn <= CAST(ceil(cnt * 0.25) AS BIGINT)
""")
def q_sample_stratified(spark, sf_dir):
    """Exact-size stratified sampling, value-exact rows: 20 events per
    event_type plus an exact 25% per type, both selected by md5 order
    of event_id — the identical deterministic ranking DuckDB computes,
    so the SELECTED ROWS (not just counts) oracle-match."""
    from beam_spark.operators.combiners import StratifiedSample

    ev = table(spark, sf_dir, "events")
    cols = ["event_id", "event_type", "user_id"]
    a = (ev | StratifiedSample("event_type", "event_id", n=20)).df \
        .select(*cols).withColumn("mode", F.lit("n20"))
    b = (ev | StratifiedSample("event_type", "event_id",
                               fraction=0.25)).df \
        .select(*cols).withColumn("mode", F.lit("frac"))
    return a.unionByName(b)


@query("q_retrieval_bm25_topk", r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents),
post AS (SELECT doc_id, dl, term, count(*) AS tf
         FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
         GROUP BY doc_id, dl, term),
stats AS (SELECT count(*) AS N, avg(len(t)) AS avgdl FROM toks),
dfq AS (SELECT term, count(*) AS df FROM post GROUP BY term),
qt AS (SELECT doc_id AS query_id, unnest(list_distinct(t)) AS term
       FROM toks WHERE doc_id < 5),
scored AS (
  SELECT qt.query_id, p.doc_id,
         round(sum(ln(1 + (s.N - d.df + 0.5) / (d.df + 0.5))
                   * ((p.tf * 2.5)
                      / (p.tf + 1.5 * (0.25 + 0.75 * p.dl / s.avgdl)))),
               6) AS score
  FROM post p JOIN qt ON p.term = qt.term
  JOIN dfq d ON p.term = d.term CROSS JOIN stats s
  GROUP BY qt.query_id, p.doc_id),
r AS (SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank
      FROM scored)
SELECT query_id, doc_id, rank, score FROM r WHERE rank <= 5
""")
def q_bm25_topk(spark, sf_dir):
    """Okapi BM25 lexical retrieval (Lucene idf variant), top-5 docs for
    each of 5 query documents. Rank over the ROUNDED score + doc-id
    tie-break keeps the top-k reproducible across engines and partial-
    agg orders. k1=1.5 in the gate (binary-exact literal; operator
    default is the textbook 1.2)."""
    from beam_spark.operators.retrieval import Bm25TopK

    docs = table(spark, sf_dir, "documents").df
    queries_df = docs.filter("doc_id < 5").selectExpr(
        "doc_id AS query_id", "text")
    from beam_spark.pcollection import PCollection

    return (PCollection(docs) | Bm25TopK(queries_df, k=5, k1=1.5)).df


@query("q_retrieval_bm25_mmr", r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents),
post AS (SELECT doc_id, dl, term, count(*) AS tf
         FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
         GROUP BY doc_id, dl, term),
stats AS (SELECT count(*) AS N, avg(len(t)) AS avgdl FROM toks),
dfq AS (SELECT term, count(*) AS df FROM post GROUP BY term),
qt AS (SELECT doc_id AS query_id, unnest(list_distinct(t)) AS term
       FROM toks WHERE doc_id < 5),
scored AS (
  SELECT qt.query_id, p.doc_id,
         round(sum(ln(1 + (s.N - d.df + 0.5) / (d.df + 0.5))
                   * ((p.tf * 2.5)
                      / (p.tf + 1.5 * (0.25 + 0.75 * p.dl / s.avgdl)))),
               6) AS score
  FROM post p JOIN qt ON p.term = qt.term
  JOIN dfq d ON p.term = d.term CROSS JOIN stats s
  GROUP BY qt.query_id, p.doc_id),
cand AS (
  SELECT sr.query_id, sr.doc_id, sr.score, e.embedding::DOUBLE[] AS v
  FROM (SELECT query_id, doc_id, score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS rank
        FROM scored) sr
  JOIN embeddings e ON e.vec_id = sr.doc_id
  WHERE sr.rank <= 20),
sel AS (
  SELECT query_id, 1 AS rank, doc_id,
         CAST(0.75 AS DOUBLE) * score AS mmr,
         [doc_id] AS sel_ids, [v] AS sel_vecs
  FROM (SELECT *, row_number() OVER (
          PARTITION BY query_id
          ORDER BY CAST(0.75 AS DOUBLE) * score DESC,
                   doc_id) AS rn
        FROM cand) t WHERE rn = 1
  UNION ALL
  SELECT query_id, rank + 1, doc_id, mmr,
         list_append(sel_ids, doc_id), list_append(sel_vecs, v)
  FROM (
    SELECT s.query_id, s.rank, c.doc_id,
           CAST(0.75 AS DOUBLE) * c.score
                 - CAST(0.25 AS DOUBLE) * list_max(list_transform(
                     s.sel_vecs,
                     sv -> round(list_cosine_similarity(c.v, sv), 6)))
             AS mmr,
           s.sel_ids, s.sel_vecs, c.v,
           row_number() OVER (
             PARTITION BY s.query_id
             ORDER BY CAST(0.75 AS DOUBLE) * c.score
                 - CAST(0.25 AS DOUBLE) * list_max(list_transform(
                     s.sel_vecs,
                     sv -> round(list_cosine_similarity(c.v, sv), 6)))
                 DESC, c.doc_id) AS rn
    FROM sel s JOIN cand c
      ON c.query_id = s.query_id
     AND NOT list_contains(s.sel_ids, c.doc_id)
    WHERE s.rank < 6) t
  WHERE rn = 1)
SELECT query_id, doc_id, CAST(rank AS INT) AS rank, mmr FROM sel
""")
def q_bm25_mmr(spark, sf_dir):
    """End-to-end retrieve-then-diversify: BM25 top-20 candidates per
    query (docs 0-4, k1=1.5 — the q_retrieval_bm25_topk leg) feed
    MmrRerank (k=6, lam=0.75) with vectors joined from the embeddings
    table — the full RAG retrieval stack in one pipeline. The oracle
    chains the BM25 scoring CTEs into the recursive MMR selection
    replay (round-6 scores/cosines, UNROUNDED objective, doc-id
    tie-breaks)."""
    from beam_spark.operators.retrieval import Bm25TopK, MmrRerank

    docs = table(spark, sf_dir, "documents").df
    queries_df = docs.filter("doc_id < 5").selectExpr(
        "doc_id AS query_id", "text")
    bm = (PCollection(docs) | Bm25TopK(queries_df, k=20, k1=1.5)).df
    emb = table(spark, sf_dir, "embeddings").df
    out = (PCollection(bm.select("query_id", "doc_id", "score"))
           | MmrRerank(emb, k=6, lam=0.75)).df
    return out.select("query_id", "doc_id", "rank", "mmr")


@query("q_retrieval_hybrid_rrf", r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents),
post AS (SELECT doc_id, dl, term, count(*) AS tf
         FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
         GROUP BY doc_id, dl, term),
stats AS (SELECT count(*) AS N, avg(len(t)) AS avgdl FROM toks),
dfq AS (SELECT term, count(*) AS df FROM post GROUP BY term),
qt AS (SELECT doc_id AS query_id, unnest(list_distinct(t)) AS term
       FROM toks WHERE doc_id < 5),
bm_scored AS (
  SELECT qt.query_id, p.doc_id,
         round(sum(ln(1 + (s.N - d.df + 0.5) / (d.df + 0.5))
                   * ((p.tf * 2.5)
                      / (p.tf + 1.5 * (0.25 + 0.75 * p.dl / s.avgdl)))),
               6) AS score
  FROM post p JOIN qt ON p.term = qt.term
  JOIN dfq d ON p.term = d.term CROSS JOIN stats s
  GROUP BY qt.query_id, p.doc_id),
bm AS (SELECT query_id, doc_id, rank FROM (
         SELECT query_id, doc_id,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id) AS rank
         FROM bm_scored) WHERE rank <= 5),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qv AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
cs AS (SELECT qv.vec_id AS query_id, e.vec_id AS doc_id,
              list_cosine_similarity(qv.v, e.v) AS c
       FROM qv CROSS JOIN e),
ann AS (SELECT query_id, doc_id, rank FROM (
          SELECT query_id, doc_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY c DESC, doc_id) AS rank
          FROM cs) WHERE rank <= 5),
u AS (SELECT * FROM bm UNION ALL SELECT * FROM ann),
f AS (SELECT query_id, doc_id,
             round(sum(CAST(1 AS DOUBLE) / (rank + 60)), 9) AS rrf_score
      FROM u GROUP BY query_id, doc_id)
SELECT query_id, doc_id, rank, rrf_score FROM (
  SELECT query_id, doc_id, rrf_score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf_score DESC, doc_id) AS rank
  FROM f) WHERE rank <= 5
""")
def q_hybrid_rrf(spark, sf_dir):
    """Hybrid search: BM25 lexical ranking fused with exact embedding-
    cosine ranking by reciprocal-rank fusion (k0=60). Queries are docs
    0-4 on the text side and the matching vectors on the embedding
    side; both legs and the fusion replicate exactly in DuckDB."""
    from beam_spark.operators.retrieval import Bm25TopK, RrfFuse
    from beam_spark.operators.similarity import BruteForceCosineTopK
    from beam_spark.pcollection import PCollection

    docs = table(spark, sf_dir, "documents").df
    queries_df = docs.filter("doc_id < 5").selectExpr(
        "doc_id AS query_id", "text")
    bm = (PCollection(docs) | Bm25TopK(queries_df, k=5, k1=1.5)).df
    emb = table(spark, sf_dir, "embeddings").df.select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        .alias("embedding"))
    ann = (PCollection(emb)
           | BruteForceCosineTopK(emb.filter("vec_id < 5"), k=5,
                                  exclude_self=False)
           ).df.selectExpr("query_id", "nbr_id AS doc_id", "rank")
    return (PCollection(docs) | RrfFuse(bm, ann, k=5)).df


_PROFILE_COL = """
SELECT '{c}' AS "column", '{t}' AS dtype, count(*) AS n,
       CAST(count(*) FILTER ({c} IS NULL) AS BIGINT) AS n_null,
       TRUE AS n_distinct_ok,
       CAST(min({c}) AS VARCHAR) AS min_value,
       CAST(max({c}) AS VARCHAR) AS max_value,
       {mean} AS mean
FROM orders"""

_PROFILE_COLS = [("o_orderkey", "bigint"), ("o_custkey", "bigint"),
                 ("o_orderstatus", "string"), ("o_totalprice", "double"),
                 ("o_orderpriority", "string")]


@query("q_quality_profile_columns", " UNION ALL ".join(
    _PROFILE_COL.format(
        c=c, t=t,
        mean=(f"CAST(sum(CAST({c} AS DECIMAL(28,6))) AS DOUBLE)"
              f" / count({c})" if t in ("bigint", "double")
              else "CAST(NULL AS DOUBLE)"))
    for c, t in _PROFILE_COLS))
def q_profile_columns(spark, sf_dir):
    """Deequ/TFDV-style column profiling: one aggregation pass emits
    count/null/distinct/min/max/mean per column (exact decimal-sum
    mean — associative, partial-agg-order-immune). n_distinct uses the
    operator's DEFAULT HLL++ sketch (no Expand multi-distinct plan);
    the gate verifies it as a verdict — within 10%% of the exact count
    (computed here, gate-side only) — the q_approx_sketches pattern.
    Timestamp column excluded: string rendering is engine-specific."""
    from beam_spark.operators.quality import ProfileColumns

    cols = [c for c, _ in _PROFILE_COLS]
    df = table(spark, sf_dir, "orders").df
    prof = (PCollection(df) | ProfileColumns(cols)).df
    exact_one = df.agg(*[F.count_distinct(F.col(c)).alias(c)
                         for c in cols])
    exact = exact_one.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.col(c).alias("__exact")) for c in cols])).alias("e")
    ).select("e.*")
    return (prof.join(F.broadcast(exact), on="column")
            .select("column", "dtype", "n", "n_null",
                    (F.abs(F.col("n_distinct") - F.col("__exact"))
                     <= 0.1 * F.col("__exact")).alias("n_distinct_ok"),
                    "min_value", "max_value", "mean"))


@query("q_quality_check_constraints", """
SELECT 'orderkey_unique' AS "check",
       CAST(count(DISTINCT o_orderkey) = count(*) AS INT) AS passed
FROM orders
UNION ALL
SELECT 'custkey_complete',
       CAST(count(*) FILTER (o_custkey IS NULL) = 0 AS INT) FROM orders
UNION ALL
SELECT 'price_positive',
       CAST(min(o_totalprice) > 0 AS INT) FROM orders
UNION ALL
SELECT 'status_domain',
       CAST(count(*) FILTER (o_orderstatus NOT IN ('O', 'F', 'P')) = 0
            AS INT) FROM orders
""")
def q_check_constraints(spark, sf_dir):
    """Deequ-style constraint suite in ONE aggregation pass: primary-key
    uniqueness, completeness, range, and domain checks over orders."""
    from beam_spark.operators.quality import CheckConstraints

    return (table(spark, sf_dir, "orders") | CheckConstraints({
        "orderkey_unique": "count(DISTINCT o_orderkey) = count(*)",
        "custkey_complete": "count_if(o_custkey IS NULL) = 0",
        "price_positive": "min(o_totalprice) > 0",
        "status_domain":
            "count_if(o_orderstatus NOT IN ('O', 'F', 'P')) = 0",
    })).df


_DRIFT_COL = """
SELECT '{c}' AS "column", round(sum(term), 6) AS psi,
       CAST(sum(nr) AS BIGINT) AS n_ref, CAST(sum(nc) AS BIGINT) AS n_cur,
       CAST(round(sum(term), 6) > 0.25 AS INT) AS drifted
FROM (
  SELECT (greatest(CAST(nr AS DOUBLE) / sum(nr) OVER (), 1e-6)
          - greatest(CAST(nc AS DOUBLE) / sum(nc) OVER (), 1e-6))
         * ln(greatest(CAST(nr AS DOUBLE) / sum(nr) OVER (), 1e-6)
              / greatest(CAST(nc AS DOUBLE) / sum(nc) OVER (), 1e-6))
           AS term, nr, nc
  FROM (
    SELECT coalesce(rb.bin, cb.bin) AS bin,
           coalesce(rb.nr, 0) AS nr, coalesce(cb.nc, 0) AS nc
    FROM (SELECT CASE WHEN st.mx = st.mn THEN 0
                 ELSE CAST(least(9, greatest(0,
                      floor((x - st.mn) / ((st.mx - st.mn) / 10)))) AS INT)
                 END AS bin, count(*) AS nr
          FROM (SELECT CAST({c} AS DOUBLE) AS x FROM orders
                WHERE o_orderkey % 2 = 0) r,
               (SELECT min(CAST({c} AS DOUBLE)) AS mn,
                       max(CAST({c} AS DOUBLE)) AS mx FROM orders
                WHERE o_orderkey % 2 = 0) st
          GROUP BY 1) rb
    FULL JOIN
         (SELECT CASE WHEN st.mx = st.mn THEN 0
                 ELSE CAST(least(9, greatest(0,
                      floor((x - st.mn) / ((st.mx - st.mn) / 10)))) AS INT)
                 END AS bin, count(*) AS nc
          FROM (SELECT CAST({c} AS DOUBLE) AS x FROM orders
                WHERE o_totalprice > 300000) u,
               (SELECT min(CAST({c} AS DOUBLE)) AS mn,
                       max(CAST({c} AS DOUBLE)) AS mx FROM orders
                WHERE o_orderkey % 2 = 0) st
          GROUP BY 1) cb
    ON rb.bin = cb.bin))"""


_DRIFT_CAT_COL = """
SELECT '{c}' AS "column", round(sum(term), 6) AS psi,
       CAST(sum(nr) AS BIGINT) AS n_ref, CAST(sum(nc) AS BIGINT) AS n_cur,
       CAST(round(sum(term), 6) > 0.25 AS INT) AS drifted
FROM (
  SELECT (greatest(CAST(nr AS DOUBLE) / sum(nr) OVER (), 1e-6)
          - greatest(CAST(nc AS DOUBLE) / sum(nc) OVER (), 1e-6))
         * ln(greatest(CAST(nr AS DOUBLE) / sum(nr) OVER (), 1e-6)
              / greatest(CAST(nc AS DOUBLE) / sum(nc) OVER (), 1e-6))
           AS term, nr, nc
  FROM (
    SELECT coalesce(rb.bin, cb.bin) AS bin,
           coalesce(rb.nr, 0) AS nr, coalesce(cb.nc, 0) AS nc
    FROM (SELECT coalesce(ct.cat, 'OTHER') AS bin, count(*) AS nr
          FROM (SELECT {c} AS v FROM orders
                WHERE o_orderkey % 2 = 0 AND {c} IS NOT NULL) r
          LEFT JOIN (SELECT v AS catv, v AS cat
                     FROM (SELECT {c} AS v, count(*) AS n FROM orders
                           WHERE o_orderkey % 2 = 0 AND {c} IS NOT NULL
                           GROUP BY 1 ORDER BY n DESC, v LIMIT 20)) ct
            ON r.v = ct.catv
          GROUP BY 1) rb
    FULL JOIN
         (SELECT coalesce(ct.cat, 'OTHER') AS bin, count(*) AS nc
          FROM (SELECT {c} AS v FROM orders
                WHERE o_totalprice > 300000 AND {c} IS NOT NULL) u
          LEFT JOIN (SELECT v AS catv, v AS cat
                     FROM (SELECT {c} AS v, count(*) AS n FROM orders
                           WHERE o_orderkey % 2 = 0 AND {c} IS NOT NULL
                           GROUP BY 1 ORDER BY n DESC, v LIMIT 20)) ct
            ON u.v = ct.catv
          GROUP BY 1) cb
    ON rb.bin = cb.bin))"""


@query("q_quality_distribution_drift",
       " UNION ALL ".join(_DRIFT_COL.format(c=c)
                          for c in ("o_totalprice", "o_custkey"))
       + " UNION ALL " + _DRIFT_CAT_COL.format(c="o_orderpriority"))
def q_distribution_drift(spark, sf_dir):
    """PSI drift monitor: reference = even-orderkey orders; current =
    the high-price slice. o_totalprice is drifted by construction
    (mass pushed into the top bins); o_custkey stays stable (the slice
    is ~random over customers); o_orderpriority exercises the
    CATEGORICAL path (top-N reference categories + OTHER bucket)."""
    from beam_spark.operators.quality import DistributionDrift
    from beam_spark.pcollection import PCollection

    orders = table(spark, sf_dir, "orders").df
    ref = orders.filter("o_orderkey % 2 = 0")
    cur = orders.filter("o_totalprice > 300000")
    return (PCollection(cur)
            | DistributionDrift(
                ref, ["o_totalprice", "o_custkey", "o_orderpriority"])).df


@query("q_retrieval_phrase_match", r"""
WITH toks AS (
  SELECT doc_id,
         ' ' || array_to_string(
           string_split_regex(lower(trim(text)), '\s+'), ' ') || ' ' AS t
  FROM documents),
q AS (SELECT doc_id AS query_id,
             ' ' || array_to_string(
               (string_split_regex(lower(trim(text)), '\s+'))[1:2],
               ' ') || ' ' AS p
      FROM documents WHERE doc_id < 3)
SELECT q.query_id, toks.doc_id,
       CAST((length(t) - length(replace(t, p, ' ')))
            / (length(p) - 1) AS BIGINT) AS n_occurrences
FROM toks CROSS JOIN q
WHERE length(t) - length(replace(t, p, ' ')) >= length(p) - 1
""")
def q_phrase_match(spark, sf_dir):
    """Exact token-phrase containment (the phrase-query leg of the
    retrieval family): queries are the first 2 tokens of docs 0-2;
    matching is sentinel-space substring containment — a zero-shuffle
    expression, no explode, queries broadcast."""
    from beam_spark.operators.retrieval import PhraseMatch
    from beam_spark.pcollection import PCollection

    docs = table(spark, sf_dir, "documents").df
    phrases = docs.filter("doc_id < 3").select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(F.split(F.lower(F.trim("text")), r"\s+"),
                                 1, 2)).alias("phrase"))
    return (PCollection(docs) | PhraseMatch(phrases)).df


_BM25_BODY = r"""
toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents),
post AS (SELECT doc_id, dl, term, count(*) AS tf
         FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
         GROUP BY doc_id, dl, term),
stats AS (SELECT count(*) AS N, avg(len(t)) AS avgdl FROM toks),
dfq AS (SELECT term, count(*) AS df FROM post GROUP BY term),
qtok AS (SELECT doc_id AS query_id, t[1:4] AS qtoks
         FROM toks WHERE doc_id < 5),
qt AS (SELECT query_id, unnest(list_distinct(qtoks)) AS term FROM qtok),
qn AS (SELECT query_id, count(*) AS qn FROM qt GROUP BY query_id),
scored AS (
  SELECT qt.query_id, p.doc_id,
         round(sum(ln(1 + (s.N - d.df + 0.5) / (d.df + 0.5))
                   * ((p.tf * 2.5)
                      / (p.tf + 1.5 * (0.25 + 0.75 * p.dl / s.avgdl)))),
               6) AS score
  FROM post p JOIN qt ON p.term = qt.term
  JOIN dfq d ON p.term = d.term
  JOIN qn ON qn.query_id = qt.query_id
  CROSS JOIN stats s
  GROUP BY qt.query_id, p.doc_id
  HAVING count(*) = min(qn.qn))"""


@query("q_retrieval_bm25_and", f"""
WITH {_BM25_BODY},
r AS (SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank
      FROM scored)
SELECT query_id, doc_id, rank, score FROM r WHERE rank <= 5
""")
def q_bm25_and(spark, sf_dir):
    """Conjunctive BM25 (mode='and'): only documents containing EVERY
    distinct query term score — the matched-term count per (query, doc)
    must equal the query's term count (broadcast per-query counts).
    Queries are the first 4 tokens of docs 0-4; k1=1.5 (binary-exact
    literal)."""
    from beam_spark.operators.retrieval import Bm25TopK

    docs = table(spark, sf_dir, "documents").df
    queries_df = docs.filter("doc_id < 5").select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(F.split(F.lower(F.trim("text")), r"\s+"),
                                 1, 4)).alias("text"))
    return (PCollection(docs)
            | Bm25TopK(queries_df, k=5, k1=1.5, mode="and")).df


@query("q_retrieval_bm25_phrase", f"""
WITH {_BM25_BODY},
docsent AS (SELECT doc_id,
              ' ' || array_to_string(t, ' ') || ' ' AS ts FROM toks),
qsent AS (SELECT doc_id AS query_id,
            ' ' || array_to_string(t[1:4], ' ') || ' ' AS ps
          FROM toks WHERE doc_id < 5),
cont AS (SELECT q.query_id, d.doc_id
         FROM docsent d CROSS JOIN qsent q
         WHERE length(d.ts) - length(replace(d.ts, q.ps, ' '))
               >= length(q.ps) - 1),
ph AS (SELECT s.* FROM scored s
       JOIN cont ON cont.query_id = s.query_id
                AND cont.doc_id = s.doc_id),
r AS (SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank
      FROM ph)
SELECT query_id, doc_id, rank, score FROM r WHERE rank <= 5
""")
def q_bm25_phrase(spark, sf_dir):
    """Phrase-mode BM25: conjunctive scoring restricted to documents
    whose token sequence contains the whole query text contiguously
    (semi-join against the phrase-containment set). Queries are the
    first 4 tokens of docs 0-4."""
    from beam_spark.operators.retrieval import Bm25TopK

    docs = table(spark, sf_dir, "documents").df
    queries_df = docs.filter("doc_id < 5").select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(F.split(F.lower(F.trim("text")), r"\s+"),
                                 1, 4)).alias("text"))
    return (PCollection(docs)
            | Bm25TopK(queries_df, k=5, k1=1.5, mode="phrase")).df


@query("q_retrieval_bm25_boosted", r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents),
post AS (SELECT doc_id, dl, term, count(*) AS tf
         FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
         GROUP BY doc_id, dl, term),
stats AS (SELECT count(*) AS N, avg(len(t)) AS avgdl FROM toks),
dfq AS (SELECT term, count(*) AS df FROM post GROUP BY term),
qtok AS (SELECT doc_id AS query_id, t[1:4] AS qtoks
         FROM toks WHERE doc_id < 5),
qt AS (SELECT query_id, unnest(list_distinct(qtoks)) AS term FROM qtok),
qb AS (SELECT query_id, qtoks[1] AS bterm FROM qtok),
scored AS (
  SELECT qt.query_id, p.doc_id,
         round(sum(ln(1 + (s.N - d.df + 0.5) / (d.df + 0.5))
                   * ((p.tf * 2.5)
                      / (p.tf + 1.5 * (0.25 + 0.75 * p.dl / s.avgdl)))
                   * (CASE WHEN p.term = qb.bterm
                      THEN 2.0 ELSE 1.0 END)),
               6) AS score
  FROM post p JOIN qt ON p.term = qt.term
  JOIN dfq d ON p.term = d.term
  JOIN qb ON qb.query_id = qt.query_id
  CROSS JOIN stats s
  GROUP BY qt.query_id, p.doc_id),
r AS (SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank
      FROM scored)
SELECT query_id, doc_id, rank, score FROM r WHERE rank <= 5
""")
def q_bm25_boosted(spark, sf_dir):
    """Query-time term boosting (Lucene boost semantics): the query
    frame carries a boost MAP<string,double> — each matching term's
    BM25 contribution scales by its boost (absent terms 1.0). Here the
    query's FIRST token gets boost 2.0; queries are the first 4 tokens
    of docs 0-4, k1=1.5."""
    from beam_spark.operators.retrieval import Bm25TopK

    docs = table(spark, sf_dir, "documents").df
    split = F.split(F.lower(F.trim("text")), r"\s+")
    queries_df = docs.filter("doc_id < 5").select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(split, 1, 4)).alias("text"),
        F.create_map(F.element_at(split, 1),
                     F.lit(2.0)).alias("boost"))
    return (PCollection(docs) | Bm25TopK(queries_df, k=5, k1=1.5)).df


@query("q_dedup_edit_distance_pairs", """
WITH s AS (SELECT p_partkey AS id, p_name AS name FROM part
           WHERE p_partkey < 500)
SELECT a.id AS i, b.id AS j,
       CAST(levenshtein(a.name, b.name) AS INT) AS dist
FROM s a JOIN s b ON a.id < b.id
WHERE levenshtein(a.name, b.name) <= 2
""")
def q_edit_distance_pairs(spark, sf_dir):
    """Fuzzy-name pair join, k=2 over part names: the Spark side runs
    the q-gram count-filter candidate path + short-string pass; DuckDB
    brute-forces every pair — equality proves the PRUNING loses
    nothing (recall 1.0 by construction) and the distances agree."""
    from beam_spark.operators.dedupe import EditDistanceJoin

    p = table(spark, sf_dir, "part").df.filter("p_partkey < 500")
    return (PCollection(p) | EditDistanceJoin(
        text_col="p_name", id_col="p_partkey", k=2)).df


@query("q_dedup_sorted_neighborhood", """
WITH s AS (SELECT p_partkey AS id, p_name AS k FROM part
           WHERE p_partkey < 1000),
r AS (SELECT id, k, row_number() OVER (ORDER BY k, id) AS rn FROM s)
SELECT a.id AS i, b.id AS j, CAST(b.rn - a.rn AS INT) AS d
FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 3
""")
def q_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood blocking over part names (window=4): the
    Spark side computes the global sort position WITHOUT a
    single-partition window (range partitions + per-partition local
    index + collected offsets) and generates candidates via a rank
    equijoin; the oracle is the textbook single row_number self-join.
    Row-exact equality proves the distributed rank composition is the
    true global rank."""
    from beam_spark.operators.dedupe import SortedNeighborhoodPairs

    p = table(spark, sf_dir, "part").df.filter("p_partkey < 1000")
    return (PCollection(p) | SortedNeighborhoodPairs(
        key_col="p_name", id_col="p_partkey", window=4)).df


@query("q_lake_cdc_apply", """
WITH ch AS (
  SELECT o_custkey AS id, o_orderdate AS ts, o_orderkey AS seq,
         CASE WHEN o_orderkey % 11 = 0 THEN 'D'
              WHEN o_orderkey % 11 < 4 THEN 'I' ELSE 'U' END AS op,
         o_totalprice AS price, o_orderpriority AS prio
  FROM orders),
r AS (SELECT *, row_number() OVER (PARTITION BY id
                                   ORDER BY ts DESC, seq DESC) AS rn
      FROM ch)
SELECT id, ts, seq, price, prio FROM r WHERE rn = 1 AND op <> 'D'
""")
def q_cdc_apply(spark, sf_dir):
    """CDC changelog -> current snapshot: a Debezium-shaped feed
    synthesized from orders (op by key modulus, change order =
    (orderdate, orderkey)); latest change per customer wins, terminal
    deletes drop the key. One key-partitioned window on both sides —
    row-exact."""
    from beam_spark.operators.scd import CdcApply

    o = table(spark, sf_dir, "orders").df
    ch = o.selectExpr(
        "o_custkey AS id", "o_orderdate AS ts", "o_orderkey AS seq",
        "CASE WHEN o_orderkey % 11 = 0 THEN 'D' "
        "WHEN o_orderkey % 11 < 4 THEN 'I' ELSE 'U' END AS op",
        "o_totalprice AS price", "o_orderpriority AS prio")
    out = (PCollection(ch) | CdcApply(
        key="id", order_by=["ts", "seq"])).df
    return out.select("id", "ts", "seq", "price", "prio")


@query("q_ts_seasonal_decompose", """
WITH r AS (
  SELECT user_id, event_id, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) - 1 AS rn
  FROM events),
t AS (
  SELECT user_id, event_id, v, rn % 7 AS phase,
         CASE WHEN count(v) OVER w = 7
              THEN sum(v) OVER w / 7 END AS trend
  FROM r WINDOW w AS (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
s AS (SELECT user_id, phase, avg(v - trend) AS s_raw
      FROM t GROUP BY user_id, phase),
m AS (SELECT user_id, avg(s_raw) AS s_mean FROM s GROUP BY user_id)
SELECT t.user_id, t.event_id,
       round(t.trend, 6) AS trend,
       round(s.s_raw - m.s_mean, 6) AS seasonal,
       round(t.v - t.trend - (s.s_raw - m.s_mean), 6) AS remainder
FROM t JOIN s ON t.user_id = s.user_id AND t.phase = s.phase
       JOIN m ON t.user_id = m.user_id
""")
def q_seasonal_decompose(spark, sf_dir):
    """Classical additive decomposition (period 7) of each user's
    event-value series: centered-MA trend, phase-mean seasonal
    (centered), remainder — DuckDB replays the identical windows and
    group means (round 6 absorbs frame-sum association and group-sum
    order differences)."""
    from beam_spark.operators.stats import SeasonalDecompose

    ev = table(spark, sf_dir, "events")
    out = (ev | SeasonalDecompose("value", period=7, keys="user_id",
                                  order_by=["ts", "event_id"])).df
    return out.select("user_id", "event_id", "trend", "seasonal",
                      "remainder")


@query("q_cohort_retention_monthly", """
WITH f AS (SELECT user_id, date_trunc('month', min(ts)) AS cohort
           FROM events WHERE ts IS NOT NULL GROUP BY user_id),
a AS (SELECT DISTINCT user_id, date_trunc('month', ts) AS bucket
      FROM events WHERE ts IS NOT NULL),
c AS (SELECT cohort, date_diff('month', cohort, bucket) AS off,
             CAST(count(DISTINCT a.user_id) AS BIGINT) AS users
      FROM a JOIN f ON a.user_id = f.user_id GROUP BY cohort, off),
b AS (SELECT cohort, users AS base FROM c WHERE off = 0)
SELECT strftime(c.cohort, '%Y-%m') AS cohort,
       CAST(c.off AS INT) AS offset, c.users,
       round(CAST(c.users AS DOUBLE) / b.base, 6) AS retention
FROM c JOIN b ON c.cohort = b.cohort
""")
def q_cohort_retention(spark, sf_dir):
    """Monthly cohort retention over events: users cohorted by
    first-event month, per-(cohort, month-offset) distinct-active
    counts, retention vs the cohort's month 0 — DuckDB replays the
    truncations, offsets, and distinct counts exactly (ratios round
    6); cohorts render as 'yyyy-MM' strings to dodge timestamp
    rendering drift."""
    from beam_spark.operators.analytics import CohortRetention

    ev = table(spark, sf_dir, "events")
    out = (ev | CohortRetention(granularity="month")).df
    return out.select("cohort", "offset", "users", "retention")


@query("q_event_transition_matrix", """
WITH p AS (
  SELECT event_type AS src_event,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst_event
  FROM events),
c AS (SELECT src_event, dst_event, CAST(count(*) AS BIGINT) AS n
      FROM p WHERE dst_event IS NOT NULL GROUP BY 1, 2)
SELECT src_event, dst_event, n,
       round(CAST(n AS DOUBLE)
             / sum(n) OVER (PARTITION BY src_event), 6) AS p
FROM c
""")
def q_event_transitions(spark, sf_dir):
    """Empirical Markov transition matrix of the event stream:
    per-user adjacent (event, next-event) pairs in (ts, event_id)
    order, counted globally, with per-source probabilities — DuckDB
    replays the lead window and both aggregations (counts exact,
    probabilities round 6)."""
    from beam_spark.operators.analytics import TransitionCounts

    ev = table(spark, sf_dir, "events")
    out = (ev | TransitionCounts(order_by=["ts", "event_id"])).df
    return out.select("src_event", "dst_event", "n", "p")


@query("q_assoc_rules_lineitem", """
WITH b AS (SELECT DISTINCT l_orderkey, l_partkey % 40 AS item
           FROM lineitem),
nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM b),
ic AS (SELECT item, CAST(count(*) AS BIGINT) AS cnt FROM b
       GROUP BY item HAVING count(*) >= 5),
fr AS (SELECT b.l_orderkey, b.item FROM b
       JOIN ic ON ic.item = b.item),
pair AS (
  SELECT l.item AS a, r.item AS bb, CAST(count(*) AS BIGINT) AS pair_n
  FROM fr l JOIN fr r
    ON l.l_orderkey = r.l_orderkey AND l.item < r.item
  GROUP BY 1, 2 HAVING count(*) >= 5),
dirs AS (SELECT a AS antecedent, bb AS consequent, pair_n FROM pair
         UNION ALL
         SELECT bb AS antecedent, a AS consequent, pair_n FROM pair)
SELECT d.antecedent, d.consequent, d.pair_n,
       ia.cnt AS ante_n, co.cnt AS cons_n, nb.n AS n_baskets,
       CAST(d.pair_n AS DOUBLE) / CAST(nb.n AS DOUBLE) AS support,
       CAST(d.pair_n AS DOUBLE) / CAST(ia.cnt AS DOUBLE) AS confidence,
       (CAST(d.pair_n AS DOUBLE) * CAST(nb.n AS DOUBLE))
         / (CAST(ia.cnt AS DOUBLE) * CAST(co.cnt AS DOUBLE)) AS lift
FROM dirs d
JOIN ic ia ON ia.item = d.antecedent
JOIN ic co ON co.item = d.consequent
CROSS JOIN nb
""")
def q_assoc_rules(spark, sf_dir):
    """A-priori size-2 association rules over lineitem baskets
    (basket = l_orderkey, item = l_partkey % 40, min_support 5):
    every count is an exact integer and every ratio a single double
    division of exactly-represented values, so support / confidence /
    lift compare UNROUNDED against the DuckDB replay."""
    from beam_spark.operators.analytics import AssociationRules

    li = table(spark, sf_dir, "lineitem").df.select(
        "l_orderkey", (F.col("l_partkey") % 40).alias("item"))
    out = (PCollection(li) | AssociationRules(
        "item", basket_keys="l_orderkey", min_support=5)).df
    return out.select("antecedent", "consequent", "pair_n", "ante_n",
                      "cons_n", "n_baskets", "support", "confidence",
                      "lift")


@query("q_survival_kaplan_meier", """
WITH pu AS (SELECT user_id,
              epoch_us(min(ts)) / CAST(1000000 AS DOUBLE) AS t0,
              epoch_us(coalesce(min(CASE WHEN event_type = 'purchase'
                                    THEN ts END), max(ts)))
                / CAST(1000000 AS DOUBLE) AS t1,
              CASE WHEN min(CASE WHEN event_type = 'purchase'
                            THEN ts END) IS NOT NULL
                   THEN 1 ELSE 0 END AS e
            FROM events WHERE user_id IS NOT NULL
            GROUP BY user_id),
base AS (SELECT t1 - t0 AS t, e FROM pu),
per AS (SELECT t, CAST(sum(e) AS BIGINT) AS d_events,
               CAST(sum(1 - e) AS BIGINT) AS c_censored
        FROM base GROUP BY t),
ar AS (SELECT *, sum(d_events + c_censored) OVER () AS N,
              coalesce(sum(d_events + c_censored)
                       OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                             PRECEDING AND 1 PRECEDING), 0) AS lft
       FROM per),
s AS (SELECT t, CAST(N - lft AS BIGINT) AS n_risk, d_events,
             c_censored,
        sum(CASE WHEN d_events > 0 AND d_events < N - lft THEN
              CAST(ln(CAST(1 AS DOUBLE)
                      - CAST(d_events AS DOUBLE)
                        / CAST(N - lft AS DOUBLE))
                   AS DECIMAL(28,12))
            ELSE CAST(0 AS DECIMAL(28,12)) END)
          OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS lnS,
        max(CASE WHEN d_events = N - lft THEN 1 ELSE 0 END)
          OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS dead
      FROM ar)
SELECT t, n_risk, d_events, c_censored,
       CASE WHEN dead = 1 THEN CAST(0 AS DOUBLE)
            ELSE round(exp(CAST(lnS AS DOUBLE)), 6) END AS survival
FROM s WHERE d_events > 0
""")
def q_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier time-to-first-purchase curve per user (censored
    at the last observed event): exact at-risk/death counts, the
    cumulative product as a time-ordered decimal ln-sum (identical
    exp input both engines), full-death times pinned to exactly 0."""
    from beam_spark.operators.stats import KaplanMeier

    ev = table(spark, sf_dir, "events").df.where("user_id IS NOT NULL")
    pu = ev.groupBy("user_id").agg(
        F.min("ts").alias("__t0"),
        F.max("ts").alias("__tl"),
        F.min(F.when(F.col("event_type") == "purchase",
                     F.col("ts"))).alias("__tp"))
    base = pu.select(
        (F.coalesce(F.col("__tp"), F.col("__tl")).cast("double")
         - F.col("__t0").cast("double")).alias("duration"),
        F.col("__tp").isNotNull().cast("int").alias("event"))
    out = (PCollection(base) | KaplanMeier("duration", "event")).df
    return out.select("t", "n_risk", "d_events", "c_censored",
                      "survival")


@query("q_text_log_odds_terms", """
WITH base AS (SELECT lang AS k,
                     unnest(list_filter({_TOK}, w -> w <> '')) AS w
              FROM documents
              WHERE text IS NOT NULL AND lang IS NOT NULL),
ckw AS (SELECT k, w, CAST(count(*) AS BIGINT) AS ckw FROM base
        GROUP BY 1, 2),
tot AS (SELECT *, sum(ckw) OVER (PARTITION BY w) AS cw,
               sum(ckw) OVER (PARTITION BY k) AS nk
        FROM ckw),
nv AS (SELECT CAST(sum(ckw) AS BIGINT) AS N,
              CAST(count(DISTINCT w) AS BIGINT) AS V FROM ckw),
sc AS (SELECT t.k, t.w, t.ckw, t.cw,
         round((ln((CAST(t.ckw AS DOUBLE) + CAST(0.5 AS DOUBLE))
                   / (CAST(t.nk AS DOUBLE)
                      + CAST(0.5 AS DOUBLE) * CAST(nv.V AS DOUBLE)
                      - CAST(t.ckw AS DOUBLE) - CAST(0.5 AS DOUBLE)))
                - ln(((CAST(t.cw AS DOUBLE) - CAST(t.ckw AS DOUBLE))
                      + CAST(0.5 AS DOUBLE))
                     / (CAST(nv.N AS DOUBLE) - CAST(t.nk AS DOUBLE)
                        + CAST(0.5 AS DOUBLE) * CAST(nv.V AS DOUBLE)
                        - (CAST(t.cw AS DOUBLE)
                           - CAST(t.ckw AS DOUBLE))
                        - CAST(0.5 AS DOUBLE))))
               / sqrt(CAST(1 AS DOUBLE)
                      / (CAST(t.ckw AS DOUBLE) + CAST(0.5 AS DOUBLE))
                      + CAST(1 AS DOUBLE)
                      / ((CAST(t.cw AS DOUBLE)
                          - CAST(t.ckw AS DOUBLE))
                         + CAST(0.5 AS DOUBLE))), 6) AS z
       FROM tot t CROSS JOIN nv)
SELECT k AS lang, w AS term, ckw AS n_class_term,
       CAST(cw AS BIGINT) AS n_term, z
FROM (SELECT *, row_number() OVER (PARTITION BY k
                                   ORDER BY z DESC, w) AS r
      FROM sc)
WHERE r <= 10
""".replace("{_TOK}", _TOK))
def q_log_odds_terms(spark, sf_dir):
    """Top-10 distinctive terms per language by smoothed log-odds
    z-score (Monroe et al., alpha=0.5): counts exact, the z
    expression one identical IEEE sequence, ranking on round-6 z with
    term tie-breaks."""
    from beam_spark.operators.text import LogOddsTerms

    docs = table(spark, sf_dir, "documents")
    out = (docs | LogOddsTerms("text", class_col="lang",
                               alpha=0.5, top_n=10)).df
    return out.select("lang", "term", "n_class_term", "n_term", "z")


@query("q_category_entropy_users", """
WITH cnt AS (SELECT user_id, event_type,
                    CAST(count(*) AS BIGINT) AS c
             FROM events
             WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             GROUP BY 1, 2),
wn AS (SELECT user_id, event_type, c,
              sum(c) OVER (PARTITION BY user_id) AS n
       FROM cnt),
t AS (SELECT user_id, n,
        CAST(-((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
               * log2(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))
             AS DECIMAL(28,12)) AS term
      FROM wn),
a AS (SELECT user_id, CAST(max(n) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_categories,
             sum(term) AS h
      FROM t GROUP BY user_id)
SELECT user_id, n, n_categories,
       round(CAST(h AS DOUBLE), 6) AS entropy,
       CASE WHEN n_categories >= 2 THEN
         round(CAST(h AS DOUBLE)
               / log2(CAST(n_categories AS DOUBLE)), 6)
       END AS entropy_norm
FROM a
""")
def q_category_entropy(spark, sf_dir):
    """Per-user Shannon entropy of the event-type mixture: exact
    counts and ratios, per-category -p*log2(p) terms through the
    exact decimal sum, H and the normalized form rounded 6."""
    from beam_spark.operators.quality import CategoryEntropy

    ev = table(spark, sf_dir, "events").df.where(
        "user_id IS NOT NULL")
    out = (PCollection(ev) | CategoryEntropy(
        "event_type", keys="user_id")).df
    return out.select("user_id", "n", "n_categories", "entropy",
                      "entropy_norm")


@query("q_column_dependence_docs", """
WITH base AS (SELECT lang AS x, source AS y FROM documents
              WHERE lang IS NOT NULL AND source IS NOT NULL),
joint AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM base
          GROUP BY 1, 2),
hx AS (SELECT CAST(max(n) AS BIGINT) AS n, CAST(count(*) AS BIGINT)
                AS k, CAST(sum(term) AS DOUBLE) AS h
       FROM (SELECT cc, sum(cc) OVER () AS n,
               CAST(-((CAST(cc AS DOUBLE) / CAST(sum(cc) OVER ()
                       AS DOUBLE))
                     * log2(CAST(cc AS DOUBLE) / CAST(sum(cc) OVER ()
                            AS DOUBLE))) AS DECIMAL(28,12)) AS term
             FROM (SELECT x, CAST(sum(c) AS BIGINT) AS cc FROM joint
                   GROUP BY x))),
hy AS (SELECT CAST(max(n) AS BIGINT) AS n, CAST(count(*) AS BIGINT)
                AS k, CAST(sum(term) AS DOUBLE) AS h
       FROM (SELECT cc, sum(cc) OVER () AS n,
               CAST(-((CAST(cc AS DOUBLE) / CAST(sum(cc) OVER ()
                       AS DOUBLE))
                     * log2(CAST(cc AS DOUBLE) / CAST(sum(cc) OVER ()
                            AS DOUBLE))) AS DECIMAL(28,12)) AS term
             FROM (SELECT y, CAST(sum(c) AS BIGINT) AS cc FROM joint
                   GROUP BY y))),
hxy AS (SELECT CAST(max(n) AS BIGINT) AS n, CAST(count(*) AS BIGINT)
                 AS k, CAST(sum(term) AS DOUBLE) AS h
        FROM (SELECT cc, sum(cc) OVER () AS n,
                CAST(-((CAST(cc AS DOUBLE) / CAST(sum(cc) OVER ()
                        AS DOUBLE))
                      * log2(CAST(cc AS DOUBLE) / CAST(sum(cc) OVER ()
                             AS DOUBLE))) AS DECIMAL(28,12)) AS term
              FROM (SELECT c AS cc FROM joint))),
chi AS (SELECT
          CAST(sum(CAST((o - e) * (o - e) / e AS DECIMAL(28,12)))
               AS DOUBLE) AS obs,
          CAST(sum(CAST(e AS DECIMAL(28,12))) AS DOUBLE) AS esum,
          CAST(max(n) AS DOUBLE) AS nn
        FROM (SELECT CAST(c AS DOUBLE) AS o,
                     CAST(sum(c) OVER (PARTITION BY x) AS DOUBLE)
                     * CAST(sum(c) OVER (PARTITION BY y) AS DOUBLE)
                     / CAST(sum(c) OVER () AS DOUBLE) AS e,
                     sum(c) OVER () AS n
              FROM joint))
SELECT hx.n AS n, hx.k AS nx, hy.k AS ny,
       round(hx.h, 6) AS h_x, round(hy.h, 6) AS h_y,
       round(hxy.h, 6) AS h_xy,
       round(hx.h + hy.h - hxy.h, 6) AS mi,
       CASE WHEN hx.k >= 2 THEN
         round((hx.h + hy.h - hxy.h) / hx.h, 6) END AS u_x_given_y,
       CASE WHEN hy.k >= 2 THEN
         round((hx.h + hy.h - hxy.h) / hy.h, 6) END AS u_y_given_x,
       round(chi.obs + (chi.nn - chi.esum), 6) AS chi2,
       CASE WHEN least(hx.k, hy.k) >= 2 THEN
         round(sqrt((chi.obs + (chi.nn - chi.esum))
                    / (chi.nn
                       * CAST(least(hx.k, hy.k) - 1 AS DOUBLE))), 6)
       END AS cramers_v
FROM hx CROSS JOIN hy CROSS JOIN hxy CROSS JOIN chi
""")
def q_column_dependence(spark, sf_dir):
    """Mutual information + Theil's U between documents.lang and
    documents.source: all three entropies from exact counts with
    decimal term sums, MI and the uncertainty coefficients as
    identical double arithmetic on those sums, rounded 6."""
    from beam_spark.operators.quality import ColumnDependence

    docs = table(spark, sf_dir, "documents")
    out = (docs | ColumnDependence("lang", "source")).df
    return out.select("n", "nx", "ny", "h_x", "h_y", "h_xy", "mi",
                      "u_x_given_y", "u_y_given_x", "chi2",
                      "cramers_v")


@query("q_isotonic_calibration", """
WITH base AS (
  SELECT CAST(n_chars % 100 + 1 AS DOUBLE) / CAST(102 AS DOUBLE) AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents),
g AS (SELECT score, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos
      FROM base GROUP BY score),
ord AS (SELECT *, row_number() OVER (ORDER BY score) AS rn FROM g),
cum AS (SELECT rn, score, n, n_pos,
          CAST(sum(n) OVER (ORDER BY rn) AS BIGINT) AS cn,
          CAST(sum(n_pos) OVER (ORDER BY rn) AS BIGINT) AS cp
        FROM ord),
seg AS (SELECT i.rn AS ri, j.rn AS rj,
          CAST(j.cp - i.cp + i.n_pos AS DOUBLE)
            / CAST(j.cn - i.cn + i.n AS DOUBLE) AS m
        FROM cum i JOIN cum j ON j.rn >= i.rn),
inn AS (SELECT k.rn AS rn, s.ri AS ri, min(s.m) AS im
        FROM cum k JOIN seg s ON s.ri <= k.rn AND s.rj >= k.rn
        GROUP BY k.rn, s.ri),
fit AS (SELECT rn, max(im) AS calibrated FROM inn GROUP BY rn)
SELECT c.score, c.n, c.n_pos, f.calibrated
FROM cum c JOIN fit f ON f.rn = c.rn
""")
def q_isotonic_calibration(spark, sf_dir):
    """Isotonic (PAVA) calibration map of the synthetic length-score
    against the en-label, over the distinct-score reliability frame.
    The oracle replays the fit through the MINIMAX characterization
    fitted[k] = max_{i<=k} min_{j>=k} mean(y[i..j]) — equal rationals
    are equal doubles under correctly-rounded division, so the
    O(m^3)-in-SQL replay is bit-equal to PAVA's pooled block value
    (compared UNROUNDED; m = distinct scores <= 100 here)."""
    from beam_spark.operators.quality import IsotonicCalibration

    docs = table(spark, sf_dir, "documents")
    scored = docs.df.select(
        ((F.col("n_chars") % 100 + 1).cast("double")
         / F.lit(102).cast("double")).alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"))
    out = (PCollection(scored)
           | IsotonicCalibration("score", "y")).df
    return out.select("score", "n", "n_pos", "calibrated")


@query("q_merge_into_customer", """
WITH s AS (SELECT c_custkey * 2 AS c_custkey, upper(c_name) AS c_name,
                  c_nationkey, c_acctbal + 100 AS c_acctbal,
                  c_mktsegment FROM customer)
SELECT COALESCE(t.c_custkey, s.c_custkey) AS c_custkey,
       CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name
            ELSE t.c_name END AS c_name,
       CASE WHEN s.c_custkey IS NOT NULL THEN s.c_nationkey
            ELSE t.c_nationkey END AS c_nationkey,
       CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
            ELSE t.c_acctbal END AS c_acctbal,
       CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment
            ELSE t.c_mktsegment END AS c_mktsegment
FROM customer t FULL OUTER JOIN s ON s.c_custkey = t.c_custkey
""")
def q_merge_into(spark, sf_dir):
    """MERGE INTO semantics on plain frames: the doubled-key change
    set updates every even-keyed customer in place (upper-cased name,
    acctbal + 100) and inserts the out-of-range keys as new rows —
    one NULL-safe full-outer join + projection, validated against a
    CASE-per-column full-outer replay."""
    from beam_spark.operators.scd import MergeInto

    cust = table(spark, sf_dir, "customer").df
    src = cust.selectExpr(
        "c_custkey * 2 AS c_custkey", "upper(c_name) AS c_name",
        "c_nationkey", "c_acctbal + 100 AS c_acctbal", "c_mktsegment")
    out = (PCollection(cust) | MergeInto(src, keys="c_custkey")).df
    return out.select("c_custkey", "c_name", "c_nationkey",
                      "c_acctbal", "c_mktsegment")


@query("q_kmv_overlap_users", """
WITH a AS (SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS
             VARCHAR)), 1, 15)) AS BIGINT) AS h
           FROM events WHERE event_type = 'view'
             AND user_id IS NOT NULL AND user_id % 3 <> 0),
b AS (SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS
        VARCHAR)), 1, 15)) AS BIGINT) AS h
      FROM events WHERE event_type = 'purchase'
        AND user_id IS NOT NULL AND user_id % 2 <> 0),
ta AS (SELECT CAST(count(*) AS BIGINT) AS ku_a, max(h) AS hk_a
       FROM (SELECT h FROM a ORDER BY h LIMIT 64)),
tb AS (SELECT CAST(count(*) AS BIGINT) AS ku_b, max(h) AS hk_b
       FROM (SELECT h FROM b ORDER BY h LIMIT 64)),
u AS (SELECT h, max(ia) AS ia, max(ib) AS ib
      FROM (SELECT h, 1 AS ia, 0 AS ib FROM a
            UNION ALL SELECT h, 0, 1 FROM b)
      GROUP BY h),
tu AS (SELECT CAST(count(*) AS BIGINT) AS ku_u, max(h) AS hk_u,
              CAST(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS nb
       FROM (SELECT * FROM u ORDER BY h LIMIT 64)),
s AS (SELECT *,
        CASE WHEN ku_a < 64 THEN CAST(ku_a AS DOUBLE)
             ELSE CAST(ku_a - 1 AS DOUBLE)
                  / (CAST(hk_a AS DOUBLE)
                     / CAST(1152921504606846976 AS DOUBLE)) END AS ea,
        CASE WHEN ku_b < 64 THEN CAST(ku_b AS DOUBLE)
             ELSE CAST(ku_b - 1 AS DOUBLE)
                  / (CAST(hk_b AS DOUBLE)
                     / CAST(1152921504606846976 AS DOUBLE)) END AS eb,
        CASE WHEN ku_u < 64 THEN CAST(ku_u AS DOUBLE)
             ELSE CAST(ku_u - 1 AS DOUBLE)
                  / (CAST(hk_u AS DOUBLE)
                     / CAST(1152921504606846976 AS DOUBLE)) END AS eu
      FROM ta CROSS JOIN tb CROSS JOIN tu),
f AS (SELECT *,
        CASE WHEN ku_u < 64 THEN CAST(nb AS DOUBLE)
             ELSE CAST(nb AS DOUBLE) / CAST(ku_u AS DOUBLE) * eu
        END AS ei
      FROM s)
SELECT CAST(64 AS INT) AS k, ku_a, ku_b, ku_u,
       round(ea, 6) AS est_a, round(eb, 6) AS est_b,
       round(eu, 6) AS est_union, round(ei, 6) AS est_intersection,
       round(CASE WHEN eu > 0 THEN ei / eu
             ELSE CAST(0 AS DOUBLE) END, 6) AS jaccard_est
FROM f
""")
def q_kmv_overlap(spark, sf_dir):
    """KMV set-overlap estimate between two PARTIALLY overlapping
    user sets (view users with id % 3 != 0 vs purchase users with
    id % 2 != 0; k=64): exact below k (sf0.001), estimate path above
    it (sf0.01) — the md5-60-bit hash makes every number a pure
    function of the value sets, so the oracle replays the sketch
    verbatim in SQL."""
    from beam_spark.operators.stats import KmvOverlap

    ev = table(spark, sf_dir, "events").df
    a = ev.filter("event_type = 'view' AND user_id % 3 <> 0")
    b = ev.filter("event_type = 'purchase' AND user_id % 2 <> 0")
    return (PCollection(a) | KmvOverlap(b, "user_id", k=64)).df


@query("q_canonicalize_docs", """
WITH asg AS (SELECT doc_id, n_chars % 50 AS cluster FROM documents),
rep AS (SELECT d.doc_id, a.cluster,
          row_number() OVER (PARTITION BY a.cluster
            ORDER BY length(d.text) DESC, d.doc_id) AS rn,
          count(*) OVER (PARTITION BY a.cluster) AS cluster_size
        FROM documents d JOIN asg a ON a.doc_id = d.doc_id),
canon AS (SELECT cluster, doc_id AS canonical_id FROM rep
          WHERE rn = 1)
SELECT r.doc_id, CAST(r.cluster AS BIGINT) AS cluster,
       c.canonical_id, r.doc_id = c.canonical_id AS is_canonical,
       CAST(r.cluster_size AS BIGINT) AS cluster_size
FROM rep r JOIN canon c ON c.cluster = r.cluster
""")
def q_canonicalize(spark, sf_dir):
    """Cluster canonicalization with the longest-text survivorship
    rule over a deterministic 50-way partition of documents: per
    cluster the longest (tie: smallest-id) document is the canonical
    record; the oracle replays survivorship as a rank window."""
    from beam_spark.operators.dedupe import CanonicalizeClusters

    docs = table(spark, sf_dir, "documents")
    asg = docs.df.selectExpr("doc_id AS node",
                             "CAST(n_chars % 50 AS BIGINT) AS comp")
    out = (docs | CanonicalizeClusters(
        asg, prefer="longest_text")).df
    return out.select("doc_id", "cluster", "canonical_id",
                      "is_canonical", "cluster_size")


@query("q_join_cardinality_orders", """
WITH lc AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS lc
            FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
rc AS (SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS rc
       FROM customer WHERE c_custkey IS NOT NULL GROUP BY 1),
lt AS (SELECT CAST(coalesce(sum(lc), 0) AS BIGINT) AS left_rows,
              CAST(count(*) AS BIGINT) AS left_keys FROM lc),
rt AS (SELECT CAST(coalesce(sum(rc), 0) AS BIGINT) AS right_rows,
              CAST(count(*) AS BIGINT) AS right_keys FROM rc),
j AS (SELECT CAST(count(*) AS BIGINT) AS shared_keys,
             CAST(coalesce(sum(lc.lc * rc.rc), 0) AS BIGINT)
               AS join_rows,
             CAST(coalesce(max(lc.lc * rc.rc), 0) AS BIGINT)
               AS max_key_rows
      FROM lc JOIN rc ON rc.k = lc.k)
SELECT left_rows, right_rows, left_keys, right_keys, shared_keys,
       join_rows, max_key_rows
FROM lt CROSS JOIN rt CROSS JOIN j
""")
def q_join_cardinality(spark, sf_dir):
    """Exact pre-flight size of orders x customer on custkey from the
    two key-count frames alone (never running the join): every output
    an exact integer."""
    from beam_spark.operators.join import JoinCardinality

    o = table(spark, sf_dir, "orders").df.selectExpr(
        "o_custkey AS custkey")
    c = table(spark, sf_dir, "customer").df.selectExpr(
        "c_custkey AS custkey")
    out = (PCollection(o) | JoinCardinality(c, on="custkey")).df
    return out.select("left_rows", "right_rows", "left_keys",
                      "right_keys", "shared_keys", "join_rows",
                      "max_key_rows")


@query("q_attribution_last_touch", """
WITH ev AS (SELECT user_id, event_id, event_type, ts FROM events
            WHERE user_id IS NOT NULL),
w AS (SELECT *,
        last_value(CASE WHEN event_type IN ('view', 'click') THEN
                     {'t': ts, 'o': event_id, 'e': event_type}
                   END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS touch
      FROM ev),
c AS (SELECT user_id, event_id AS conv_event_id, ts AS conv_ts,
             CASE WHEN epoch_us(ts) / CAST(1000000 AS DOUBLE)
                       - epoch_us(touch.t) / CAST(1000000 AS DOUBLE)
                       <= CAST(86400 AS DOUBLE)
                  THEN touch END AS touch
      FROM w WHERE event_type = 'purchase')
SELECT user_id, conv_event_id, conv_ts,
       touch.o AS touch_event_id, touch.e AS touch_event,
       touch.t AS touch_ts
FROM c
""")
def q_attribution(spark, sf_dir):
    """Last-touch attribution of purchases to the most recent
    view/click by the same user within a 1-day lookback: one
    key-partitioned ignore-nulls window (no self-join), the lookback
    compared in the SAME micros/1e6 double arithmetic in both
    engines; conversions with no touch keep NULLs."""
    from beam_spark.operators.analytics import Attribution

    ev = table(spark, sf_dir, "events").df.where("user_id IS NOT NULL")
    out = (PCollection(ev) | Attribution(
        conversion_if="event_type = 'purchase'",
        touch_if="event_type IN ('view', 'click')",
        model="last_touch", lookback=86400.0)).df
    return out.select(
        "user_id", F.col("conv_event_id"), "conv_ts",
        "touch_event_id", "touch_event", "touch_ts")


@query("q_frequent_itemsets_lineitem", """
WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey % 20 AS it
           FROM lineitem),
l1 AS (SELECT it, CAST(count(*) AS BIGINT) AS c FROM b
       GROUP BY it HAVING count(*) >= 3),
fb AS (SELECT b.bk, b.it FROM b JOIN l1 ON l1.it = b.it),
l2 AS (SELECT x.it AS a, y.it AS bb, CAST(count(*) AS BIGINT) AS c
       FROM fb x JOIN fb y ON y.bk = x.bk AND y.it > x.it
       GROUP BY 1, 2 HAVING count(*) >= 3),
it2 AS (SELECT a AS it FROM l2 UNION SELECT bb FROM l2),
fb2 AS (SELECT fb.bk, fb.it FROM fb JOIN it2 ON it2.it = fb.it),
l3 AS (SELECT x.it AS a, y.it AS bb, z.it AS c3,
              CAST(count(*) AS BIGINT) AS c
       FROM fb2 x JOIN fb2 y ON y.bk = x.bk AND y.it > x.it
       JOIN fb2 z ON z.bk = x.bk AND z.it > y.it
       GROUP BY 1, 2, 3 HAVING count(*) >= 3)
SELECT [it] AS items, CAST(1 AS INT) AS size, c AS support_n FROM l1
UNION ALL
SELECT [a, bb], CAST(2 AS INT), c FROM l2
UNION ALL
SELECT [a, bb, c3], CAST(3 AS INT), c FROM l3
""")
def q_frequent_itemsets(spark, sf_dir):
    """A-priori frequent itemsets up to size 3 over lineitem baskets
    (item = l_partkey % 20, min_support 3): each level's self-join is
    pruned to the previous level's frequent alphabet, counts exact."""
    from beam_spark.operators.analytics import FrequentItemsets

    li = table(spark, sf_dir, "lineitem").df.select(
        "l_orderkey", (F.col("l_partkey") % 20).alias("item"))
    out = (PCollection(li) | FrequentItemsets(
        "item", basket_keys="l_orderkey", min_support=3,
        max_size=3)).df
    return out.select("items", "size", "support_n")


@query("q_classifier_metrics", """
WITH base AS (
  SELECT CAST(n_chars % 100 + 1 AS DOUBLE) / CAST(102 AS DOUBLE) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents),
per AS (SELECT s, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(y) AS BIGINT) AS pos
        FROM base GROUP BY s),
rk AS (SELECT s, cnt, pos,
         coalesce(sum(cnt) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND 1 PRECEDING), 0) AS below
       FROM per),
rs AS (SELECT CAST(sum(pos * (2 * below + cnt + 1)) AS BIGINT) AS rs2
       FROM rk),
cl AS (SELECT least(greatest(s, CAST(1e-15 AS DOUBLE)),
                    CAST(1 AS DOUBLE) - CAST(1e-15 AS DOUBLE)) AS p,
              s, y
       FROM base),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
         sum(CAST(CASE WHEN y = 1 THEN -ln(p) ELSE -ln(CAST(1 AS DOUBLE) - p)
                  END AS DECIMAL(28,12))) AS ll,
         sum(CAST((p - CAST(y AS DOUBLE)) * (p - CAST(y AS DOUBLE))
                  AS DECIMAL(28,12))) AS br,
         CAST(sum(CASE WHEN s >= CAST(0.5 AS DOUBLE) AND y = 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN s >= CAST(0.5 AS DOUBLE) AND y = 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN s < CAST(0.5 AS DOUBLE) AND y = 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         CAST(sum(CASE WHEN s < CAST(0.5 AS DOUBLE) AND y = 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM cl)
SELECT n, n_pos, n - n_pos AS n_neg,
       CASE WHEN n_pos > 0 AND n - n_pos > 0 THEN
         CAST(rs2 - n_pos * (n_pos + 1) AS DOUBLE)
           / CAST(2 * n_pos * (n - n_pos) AS DOUBLE) END AS auc,
       round(CAST(ll AS DOUBLE) / n, 6) AS logloss,
       round(CAST(br AS DOUBLE) / n, 6) AS brier,
       tp, fp, tn, fn,
       CASE WHEN tp + fp > 0 THEN
         CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
       CASE WHEN n_pos > 0 THEN
         CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE) END AS recall,
       CASE WHEN 2 * tp + fp + fn > 0 THEN
         CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
       END AS f1
FROM tot CROSS JOIN rs
""")
def q_classifier_metrics(spark, sf_dir):
    """Binary-classifier evaluation over documents (score = a
    quantized n_chars proxy in (0,1), label = lang='en'): AUC is
    integer-exact Mann-Whitney with midrank ties (one final division,
    compared UNROUNDED); log-loss and Brier go through the exact
    decimal-sum pattern rounded 6; confusion counts and P/R/F1 are
    exact integers and single divisions."""
    from beam_spark.operators.quality import BinaryClassifierMetrics

    docs = table(spark, sf_dir, "documents").df.select(
        ((F.col("n_chars") % 100 + 1).cast("double")
         / F.lit(102.0)).alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"))
    out = (PCollection(docs) | BinaryClassifierMetrics(
        "score", "label", threshold=0.5)).df
    return out.select("n", "n_pos", "n_neg", "auc", "logloss", "brier",
                      "tp", "fp", "tn", "fn", "precision", "recall",
                      "f1")


@query("q_text_pmi_collocations", """
WITH t AS (SELECT list_filter({_TOK}, x -> x <> '') AS toks
           FROM documents WHERE text IS NOT NULL),
ug AS (SELECT unnest(toks) AS w FROM t),
bg AS (SELECT toks[i] AS w1, toks[i+1] AS w2
       FROM t, unnest(range(1, len(toks))) AS u(i)),
uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM ug GROUP BY w),
nu AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ug),
nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bg),
bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_n FROM bg
       GROUP BY w1, w2 HAVING count(*) >= 5)
SELECT b.w1, b.w2, b.pair_n, u1.c AS w1_n, u2.c AS w2_n,
       round(ln((CAST(b.pair_n AS DOUBLE) * CAST(nu.n AS DOUBLE)
                 * CAST(nu.n AS DOUBLE))
                / (CAST(nb.n AS DOUBLE) * CAST(u1.c AS DOUBLE)
                   * CAST(u2.c AS DOUBLE))), 6) AS pmi
FROM bc b JOIN uc u1 ON u1.w = b.w1 JOIN uc u2 ON u2.w = b.w2
CROSS JOIN nu CROSS JOIN nb
""".replace("{_TOK}", _TOK))
def q_text_pmi(spark, sf_dir):
    """Adjacent-bigram PMI collocations over documents (min_count 5):
    unigram/bigram counts exact, the PMI ratio evaluated in one fixed
    multiply/divide order, ln rounded 6 — DuckDB replays the identical
    whitespace tokenization and zipped bigram construction."""
    from beam_spark.operators.text import PmiCollocations

    docs = table(spark, sf_dir, "documents")
    out = (docs | PmiCollocations("text", min_count=5)).df
    return out.select("w1", "w2", "pair_n", "w1_n", "w2_n", "pmi")


@query("q_silhouette_embeddings", """
WITH e AS (SELECT vec_id, embedding AS v FROM embeddings
           WHERE embedding IS NOT NULL),
ed AS (SELECT vec_id, CAST(u.i - 1 AS INT) AS dim,
              CAST(v[u.i] AS DOUBLE) AS x
       FROM e, unnest(range(1, len(v) + 1)) AS u(i)),
en AS (SELECT vec_id, sqrt(sum(x * x)) AS nr FROM ed GROUP BY vec_id),
u AS (SELECT ed.vec_id, ed.vec_id % 4 AS own, ed.dim,
             round(ed.x / en.nr, 9) AS ux
      FROM ed JOIN en ON en.vec_id = ed.vec_id),
s AS (SELECT own AS cl, dim, round(sum(ux), 9) AS s
      FROM u GROUP BY 1, 2),
n AS (SELECT own AS cl, CAST(count(DISTINCT vec_id) AS BIGINT) AS n
      FROM u GROUP BY 1),
d AS (SELECT u.vec_id, u.own, s.cl, sum(u.ux * s.s) AS dp
      FROM u JOIN s ON s.dim = u.dim GROUP BY 1, 2, 3),
dn AS (SELECT d.*, n.n FROM d JOIN n ON n.cl = d.cl),
a AS (SELECT vec_id, own,
             round(1 - (dp - 1) / CAST(n - 1 AS DOUBLE), 6) AS a
      FROM dn WHERE cl = own),
b AS (SELECT vec_id,
             min(round(1 - dp / CAST(n AS DOUBLE), 6)) AS b
      FROM dn WHERE cl <> own GROUP BY vec_id)
SELECT a.vec_id, a.own AS cluster, a.a AS a_mean_dist,
       b.b AS b_mean_dist,
       CASE WHEN greatest(a.a, b.b) > 0
            THEN (b.b - a.a) / greatest(a.a, b.b)
            ELSE CAST(0 AS DOUBLE) END AS silhouette
FROM a JOIN b ON b.vec_id = a.vec_id
""")
def q_silhouette_embeddings(spark, sf_dir):
    """EXACT full silhouette (mean member distances via the cluster-
    sum trick, no pairwise scan) over the deterministic vec_id % 4
    partition of the embeddings table. The oracle replays unit
    coordinates (round 9), cluster sums (round 9), per-(vec, cluster)
    dot products and the round-6 a/b distances; the final ratio is
    UNROUNDED on those round-6 inputs (the MMR convention)."""
    from beam_spark.operators.similarity import SilhouetteScore

    emb = table(spark, sf_dir, "embeddings").df.where(
        "embedding IS NOT NULL").select(
        "vec_id", "embedding",
        (F.col("vec_id") % 4).alias("cluster"))
    out = (PCollection(emb) | SilhouetteScore()).df
    return out.select("vec_id", "cluster", "a_mean_dist",
                      "b_mean_dist", "silhouette")


@query("q_kmeans_embeddings", """
WITH e AS (SELECT vec_id, embedding AS v FROM embeddings
           WHERE embedding IS NOT NULL),
ed AS (SELECT vec_id, CAST(u.i - 1 AS INT) AS dim,
              CAST(v[u.i] AS DOUBLE) AS x
       FROM e, unnest(range(1, len(v) + 1)) AS u(i)),
en AS (SELECT vec_id, sqrt(sum(x * x)) AS nr FROM ed GROUP BY vec_id),
sid AS (SELECT vec_id,
               CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                 AS cidx
        FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT 4)),
c0 AS (SELECT s.cidx, ed.dim, round(ed.x / en.nr, 9) AS c
       FROM sid s JOIN ed ON ed.vec_id = s.vec_id
       JOIN en ON en.vec_id = s.vec_id),
d1 AS (SELECT ed.vec_id, c.cidx, sum(ed.x * c.c) AS dp
       FROM ed JOIN c0 c ON c.dim = ed.dim GROUP BY 1, 2),
a1 AS (SELECT d.vec_id, d.cidx
       FROM d1 d JOIN en ON en.vec_id = d.vec_id
       QUALIFY row_number() OVER (PARTITION BY d.vec_id
         ORDER BY round(d.dp / en.nr, 6) DESC, d.cidx) = 1),
m1 AS (SELECT a.cidx, ed.dim, sum(ed.x) / count(*) AS m
       FROM a1 a JOIN ed ON ed.vec_id = a.vec_id GROUP BY 1, 2),
mn1 AS (SELECT cidx, sqrt(sum(m * m)) AS nr FROM m1 GROUP BY cidx),
c1 AS (SELECT p.cidx, p.dim, coalesce(round(m.m / mn.nr, 9), p.c) AS c
       FROM c0 p
       LEFT JOIN m1 m ON m.cidx = p.cidx AND m.dim = p.dim
       LEFT JOIN mn1 mn ON mn.cidx = p.cidx),
d2 AS (SELECT ed.vec_id, c.cidx, sum(ed.x * c.c) AS dp
       FROM ed JOIN c1 c ON c.dim = ed.dim GROUP BY 1, 2),
a2 AS (SELECT d.vec_id, d.cidx
       FROM d2 d JOIN en ON en.vec_id = d.vec_id
       QUALIFY row_number() OVER (PARTITION BY d.vec_id
         ORDER BY round(d.dp / en.nr, 6) DESC, d.cidx) = 1),
m2 AS (SELECT a.cidx, ed.dim, sum(ed.x) / count(*) AS m
       FROM a2 a JOIN ed ON ed.vec_id = a.vec_id GROUP BY 1, 2),
mn2 AS (SELECT cidx, sqrt(sum(m * m)) AS nr FROM m2 GROUP BY cidx),
c2 AS (SELECT p.cidx, p.dim, coalesce(round(m.m / mn.nr, 9), p.c) AS c
       FROM c1 p
       LEFT JOIN m2 m ON m.cidx = p.cidx AND m.dim = p.dim
       LEFT JOIN mn2 mn ON mn.cidx = p.cidx),
d3 AS (SELECT ed.vec_id, c.cidx, sum(ed.x * c.c) AS dp
       FROM ed JOIN c2 c ON c.dim = ed.dim GROUP BY 1, 2)
SELECT d.vec_id, d.cidx AS cluster, round(d.dp / en.nr, 6) AS sim
FROM d3 d JOIN en ON en.vec_id = d.vec_id
QUALIFY row_number() OVER (PARTITION BY d.vec_id
  ORDER BY round(d.dp / en.nr, 6) DESC, d.cidx) = 1
""")
def q_kmeans(spark, sf_dir):
    """Distributed spherical k-means (k=4, 2 Lloyd rounds) over the
    embeddings table: the oracle chains seed-normalize -> assign ->
    mean-update -> normalize -> assign ... as CTEs, with centroid
    coordinates rounded 9 per round (the PageRank float-iteration
    convention) and assignment cosines rounded 6 with the smallest-
    cluster-index tie-break."""
    from beam_spark.operators.similarity import KMeansLloyd

    emb = table(spark, sf_dir, "embeddings")
    out = (emb | KMeansLloyd(k=4, rounds=2)).df
    return out.select("vec_id", "cluster", "sim")


@query("q_kmeans_farthest_seeds", """
WITH e AS (SELECT vec_id, embedding AS v FROM embeddings
           WHERE embedding IS NOT NULL),
ed AS (SELECT vec_id, CAST(u.i - 1 AS INT) AS dim,
              CAST(v[u.i] AS DOUBLE) AS x
       FROM e, unnest(range(1, len(v) + 1)) AS u(i)),
en AS (SELECT vec_id, sqrt(sum(x * x)) AS nr FROM ed GROUP BY vec_id),
s0 AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT 1),
c0 AS (SELECT CAST(0 AS INT) AS cidx, ed.dim,
              round(ed.x / en.nr, 9) AS c
       FROM s0 JOIN ed ON ed.vec_id = s0.vec_id
       JOIN en ON en.vec_id = s0.vec_id),
p1d AS (SELECT ed.vec_id, sum(ed.x * c.c) AS dp
        FROM ed JOIN c0 c ON c.dim = ed.dim GROUP BY 1),
p1 AS (SELECT d.vec_id, round(d.dp / en.nr, 6) AS mc
       FROM p1d d JOIN en ON en.vec_id = d.vec_id),
s1 AS (SELECT vec_id FROM p1 ORDER BY mc, vec_id LIMIT 1),
c1 AS (SELECT CAST(1 AS INT) AS cidx, ed.dim,
              round(ed.x / en.nr, 9) AS c
       FROM s1 JOIN ed ON ed.vec_id = s1.vec_id
       JOIN en ON en.vec_id = s1.vec_id),
c01 AS (SELECT * FROM c0 UNION ALL SELECT * FROM c1),
p2d AS (SELECT ed.vec_id, c.cidx, sum(ed.x * c.c) AS dp
        FROM ed JOIN c01 c ON c.dim = ed.dim GROUP BY 1, 2),
p2 AS (SELECT d.vec_id, max(round(d.dp / en.nr, 6)) AS mc
       FROM p2d d JOIN en ON en.vec_id = d.vec_id
       GROUP BY d.vec_id),
s2 AS (SELECT vec_id FROM p2 ORDER BY mc, vec_id LIMIT 1),
c2 AS (SELECT CAST(2 AS INT) AS cidx, ed.dim,
              round(ed.x / en.nr, 9) AS c
       FROM s2 JOIN ed ON ed.vec_id = s2.vec_id
       JOIN en ON en.vec_id = s2.vec_id),
cs AS (SELECT * FROM c01 UNION ALL SELECT * FROM c2),
da AS (SELECT ed.vec_id, c.cidx, sum(ed.x * c.c) AS dp
       FROM ed JOIN cs c ON c.dim = ed.dim GROUP BY 1, 2),
a1 AS (SELECT d.vec_id, d.cidx
       FROM da d JOIN en ON en.vec_id = d.vec_id
       QUALIFY row_number() OVER (PARTITION BY d.vec_id
         ORDER BY round(d.dp / en.nr, 6) DESC, d.cidx) = 1),
m1 AS (SELECT a.cidx, ed.dim, sum(ed.x) / count(*) AS m
       FROM a1 a JOIN ed ON ed.vec_id = a.vec_id GROUP BY 1, 2),
mn1 AS (SELECT cidx, sqrt(sum(m * m)) AS nr FROM m1 GROUP BY cidx),
cf AS (SELECT p.cidx, p.dim, coalesce(round(m.m / mn.nr, 9), p.c) AS c
       FROM cs p
       LEFT JOIN m1 m ON m.cidx = p.cidx AND m.dim = p.dim
       LEFT JOIN mn1 mn ON mn.cidx = p.cidx),
df2 AS (SELECT ed.vec_id, c.cidx, sum(ed.x * c.c) AS dp
        FROM ed JOIN cf c ON c.dim = ed.dim GROUP BY 1, 2)
SELECT d.vec_id, d.cidx AS cluster, round(d.dp / en.nr, 6) AS sim
FROM df2 d JOIN en ON en.vec_id = d.vec_id
QUALIFY row_number() OVER (PARTITION BY d.vec_id
  ORDER BY round(d.dp / en.nr, 6) DESC, d.cidx) = 1
""")
def q_kmeans_farthest(spark, sf_dir):
    """Spherical k-means (k=3, 1 Lloyd round) with DETERMINISTIC
    farthest-point seeding: seed 0 = smallest vec_id; each next seed
    minimizes its max round-6 cosine to the chosen set (ties to the
    smallest id) — the oracle chains the two argmin-pick stages into
    the assign/update/assign replay."""
    from beam_spark.operators.similarity import KMeansLloyd

    emb = table(spark, sf_dir, "embeddings")
    out = (emb | KMeansLloyd(k=3, rounds=1, seeding="farthest")).df
    return out.select("vec_id", "cluster", "sim")


@query("q_kmeans_silhouette", """
WITH e AS (SELECT vec_id, embedding AS v FROM embeddings
           WHERE embedding IS NOT NULL),
ed AS (SELECT vec_id, CAST(u.i - 1 AS INT) AS dim,
              CAST(v[u.i] AS DOUBLE) AS x
       FROM e, unnest(range(1, len(v) + 1)) AS u(i)),
en AS (SELECT vec_id, sqrt(sum(x * x)) AS nr FROM ed GROUP BY vec_id),
sid AS (SELECT vec_id,
               CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                 AS cidx
        FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT 4)),
c0 AS (SELECT s.cidx, ed.dim, round(ed.x / en.nr, 9) AS c
       FROM sid s JOIN ed ON ed.vec_id = s.vec_id
       JOIN en ON en.vec_id = s.vec_id),
d1 AS (SELECT ed.vec_id, c.cidx, sum(ed.x * c.c) AS dp
       FROM ed JOIN c0 c ON c.dim = ed.dim GROUP BY 1, 2),
sims AS (SELECT d.vec_id, d.cidx, round(d.dp / en.nr, 6) AS s
         FROM d1 d JOIN en ON en.vec_id = d.vec_id),
rnk AS (SELECT vec_id, cidx, s,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY s DESC, cidx) AS rn
        FROM sims)
SELECT a.vec_id, a.cidx AS cluster, a.s AS sim, b.s AS sim_2nd,
       CASE WHEN greatest(1 - a.s, 1 - b.s) > 0
            THEN (a.s - b.s) / greatest(1 - a.s, 1 - b.s)
       END AS silhouette
FROM rnk a JOIN rnk b ON b.vec_id = a.vec_id AND b.rn = 2
WHERE a.rn = 1
""")
def q_kmeans_silhouette(spark, sf_dir):
    """Simplified silhouette (cosine-distance form) of the k=4 SEED
    assignment over embeddings: per vector, best and second-best
    round-6 centroid cosines, s = (sim - sim_2nd)/max(1-sim,
    1-sim_2nd) — second-best by VALUE (multiset semantics mirror
    array_sort vs the (s DESC, cidx) rn=2 row); the Lloyd-iteration
    chain itself is oracled by q_kmeans_embeddings."""
    from beam_spark.operators.similarity import KMeansLloyd

    emb = table(spark, sf_dir, "embeddings")
    out = (emb | KMeansLloyd(k=4, rounds=0, with_silhouette=True)).df
    return out.select("vec_id", "cluster", "sim", "sim_2nd",
                      "silhouette")


@query("q_cohens_kappa_langs", """
WITH base AS (
  SELECT lang AS a,
         (['en', 'de', 'fr', 'es', 'zh'])[CAST(n_chars % 5 AS INT) + 1]
           AS b
  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
                 AS agree
        FROM base),
ca AS (SELECT a AS cat, CAST(count(*) AS BIGINT) AS ca FROM base
       GROUP BY a),
cb AS (SELECT b AS cat, CAST(count(*) AS BIGINT) AS cb FROM base
       GROUP BY b),
pe AS (SELECT CAST(coalesce(sum(ca.ca * cb.cb), 0) AS BIGINT) AS s
       FROM ca JOIN cb ON cb.cat = ca.cat),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n_categories
       FROM (SELECT cat FROM ca UNION SELECT cat FROM cb))
SELECT n, agree, n_categories,
       CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS p_o,
       CAST(s AS DOUBLE) / CAST(n * n AS DOUBLE) AS p_e,
       CASE WHEN n * n <> s THEN
         CAST(agree * n - s AS DOUBLE) / CAST(n * n - s AS DOUBLE)
       END AS kappa
FROM tot CROSS JOIN pe CROSS JOIN nc
""")
def q_cohens_kappa(spark, sf_dir):
    """Cohen's kappa between the documents lang label and a
    deterministic n_chars-derived pseudo-rater over the same category
    space: agree/marginal counts are exact integers and p_o / p_e /
    kappa are each ONE double division — compared UNROUNDED."""
    from beam_spark.operators.quality import CohensKappa

    docs = table(spark, sf_dir, "documents").df.where(
        "lang IS NOT NULL AND n_chars IS NOT NULL").select(
        F.col("lang").alias("rater_a"),
        F.element_at(
            F.array(*[F.lit(x) for x in
                      ("en", "de", "fr", "es", "zh")]),
            (F.col("n_chars") % 5).cast("int") + 1).alias("rater_b"))
    out = (PCollection(docs) | CohensKappa("rater_a", "rater_b")).df
    return out.select("n", "agree", "n_categories", "p_o", "p_e",
                      "kappa")


@query("q_ranking_metrics_ndcg", """
WITH base AS (
  SELECT doc_id % 5 AS query_id, doc_id,
         round(CAST(n_chars % 97 AS DOUBLE), 6) AS s,
         CAST(doc_id % 4 AS DOUBLE) AS r
  FROM documents),
rk AS (SELECT *,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY s DESC, doc_id) AS pr,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY r DESC, doc_id) AS ir,
         sum(CASE WHEN r > 0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY query_id ORDER BY s DESC, doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum
       FROM base),
t AS (SELECT query_id, r, pr, cum,
        CAST(CASE WHEN pr <= 10
             THEN (power(2, r) - 1) / log2(pr + 1)
             ELSE CAST(0 AS DOUBLE) END AS DECIMAL(28,12)) AS dt,
        CAST(CASE WHEN ir <= 10
             THEN (power(2, r) - 1) / log2(ir + 1)
             ELSE CAST(0 AS DOUBLE) END AS DECIMAL(28,12)) AS it
      FROM rk),
a AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_docs,
             sum(dt) AS dcg0, sum(it) AS idcg0,
             min(CASE WHEN r > 0 THEN pr END) AS frel,
             CAST(sum(CASE WHEN r > 0 AND pr <= 10 THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits,
             sum(CASE WHEN r > 0 AND pr <= 10 THEN
                   CAST(CAST(cum AS DOUBLE) / CAST(pr AS DOUBLE)
                        AS DECIMAL(28,12))
                 ELSE CAST(0 AS DECIMAL(28,12)) END) AS apsum,
             CAST(sum(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS nrel
      FROM t GROUP BY query_id)
SELECT query_id, n_docs,
       round(CAST(dcg0 AS DOUBLE), 6) AS dcg,
       round(CAST(idcg0 AS DOUBLE), 6) AS idcg,
       CASE WHEN idcg0 > 0 THEN
         round(CAST(dcg0 AS DOUBLE) / CAST(idcg0 AS DOUBLE), 6)
       END AS ndcg,
       coalesce(CAST(1 AS DOUBLE) / CAST(frel AS DOUBLE),
                CAST(0 AS DOUBLE)) AS mrr,
       CAST(hits AS DOUBLE) / CAST(10 AS DOUBLE) AS precision_at_k,
       CASE WHEN nrel > 0 THEN
         round(CAST(apsum AS DOUBLE)
               / CAST(least(nrel, 10) AS DOUBLE), 6)
       END AS ap
FROM a
""")
def q_ranking_metrics(spark, sf_dir):
    """NDCG@10 / MRR / precision@10 per query over a deterministic
    documents-derived ranking task (query = doc_id%5, score = a
    quantized n_chars proxy with heavy ties, graded rel = doc_id%4):
    both rank orders use round-6 score / rel with doc-id tie-breaks,
    DCG terms go through the exact decimal sum, MRR and P@k are
    integer-exact."""
    from beam_spark.operators.quality import RankingMetrics

    docs = table(spark, sf_dir, "documents").df.select(
        (F.col("doc_id") % 5).alias("query_id"),
        "doc_id",
        (F.col("n_chars") % 97).cast("double").alias("score"),
        (F.col("doc_id") % 4).cast("double").alias("rel"))
    out = (PCollection(docs) | RankingMetrics(
        k=10, query_col="query_id", doc_col="doc_id",
        score_col="score", rel_col="rel")).df
    return out.select("query_id", "n_docs", "dcg", "idcg", "ndcg",
                      "mrr", "precision_at_k", "ap")


@query("q_fleiss_kappa_events", """
WITH r AS (SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events
           WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
b AS (SELECT user_id, event_type FROM r WHERE rn <= 6),
ok AS (SELECT user_id FROM b GROUP BY user_id HAVING count(*) = 6),
bb AS (SELECT b.user_id, b.event_type FROM b
       JOIN ok ON ok.user_id = b.user_id),
nij AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        FROM bb GROUP BY 1, 2),
s2 AS (SELECT CAST(coalesce(sum(c * c), 0) AS BIGINT) AS s2,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_items
       FROM nij),
cj AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS cj FROM nij
       GROUP BY 1),
tt AS (SELECT CAST(coalesce(sum(cj * cj), 0) AS BIGINT) AS t,
              CAST(count(*) AS BIGINT) AS n_categories
       FROM cj)
SELECT n_items, CAST(6 AS BIGINT) AS n_ratings, n_categories,
       CASE WHEN n_items * 6 * 5 > 0 THEN
         CAST(s2 - n_items * 6 AS DOUBLE)
           / CAST(n_items * 6 * 5 AS DOUBLE) END AS p_bar,
       CASE WHEN (n_items * 6) * (n_items * 6) > 0 THEN
         CAST(t AS DOUBLE)
           / CAST((n_items * 6) * (n_items * 6) AS DOUBLE)
       END AS p_e,
       CASE WHEN n_items * 6 * 5 > 0
             AND (n_items * 6) * (n_items * 6) <> t THEN
         CAST((n_items * 6) * (n_items * 6) * (s2 - n_items * 6)
              - n_items * 6 * 5 * t AS DOUBLE)
           / CAST(n_items * 6 * 5
                  * ((n_items * 6) * (n_items * 6) - t) AS DOUBLE)
       END AS kappa
FROM s2 CROSS JOIN tt
""")
def q_fleiss_kappa(spark, sf_dir):
    """Fleiss' kappa over the first 6 events per user (item = user,
    category = event_type, n = 6 ratings): S2 / T / marginals are
    exact integers and p_bar / p_e / kappa each ONE double division —
    compared UNROUNDED."""
    from pyspark.sql import Window

    from beam_spark.operators.quality import FleissKappa

    ev = table(spark, sf_dir, "events").df.where(
        "user_id IS NOT NULL AND event_type IS NOT NULL")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first6 = (ev.withColumn("__rn", F.row_number().over(w))
              .where("__rn <= 6").select("user_id", "event_type"))
    out = (PCollection(first6) | FleissKappa(
        "user_id", "event_type", n_ratings=6)).df
    return out.select("n_items", "n_ratings", "n_categories", "p_bar",
                      "p_e", "kappa")


def _morton_sql(words: list, bits: int) -> str:
    """OR-chain of interleaved bit extractions (column i owns bit
    positions i, i+d, i+2d, ... — the ZOrderKey layout)."""
    d = len(words)
    # DuckDB (PostgreSQL precedence) treats << >> & | as ONE left-
    # associative level — every term must be fully parenthesized or
    # the OR-chain re-shifts accumulated values
    return " | ".join(
        f"(((({w}) >> {bit}) & 1) << {bit * d + i})"
        for i, w in enumerate(words) for bit in range(bits))


@query("q_lake_zorder_key", """
WITH mm AS (SELECT min(l_partkey) AS mn0, max(l_partkey) AS mx0,
                   min(l_suppkey) AS mn1, max(l_suppkey) AS mx1
            FROM lineitem),
s AS (SELECT l_orderkey, l_linenumber,
             CASE WHEN mx0 > mn0
               THEN ((l_partkey - mn0) * 255) // (mx0 - mn0)
               ELSE 0 END AS w0,
             CASE WHEN mx1 > mn1
               THEN ((l_suppkey - mn1) * 255) // (mx1 - mn1)
               ELSE 0 END AS w1
      FROM lineitem CROSS JOIN mm)
SELECT l_orderkey, l_linenumber,
       CAST(""" + _morton_sql(["w0", "w1"], 8) + """ AS BIGINT)
         AS zorder_key
FROM s
""")
def q_zorder_key(spark, sf_dir):
    """Morton (Z-order) clustering key over (l_partkey, l_suppkey) at
    8 bits per column: integer min/max scaling (floor division) and
    bit interleaving are exact in both engines, so every key is
    bit-identical — the layout primitive behind OPTIMIZE ZORDER-style
    file clustering."""
    from beam_spark.operators.scd import ZOrderKey

    li = table(spark, sf_dir, "lineitem")
    out = (li | ZOrderKey(["l_partkey", "l_suppkey"], bits=8)).df
    return out.select("l_orderkey", "l_linenumber", "zorder_key")


@query("q_lake_zorder_rank_double", """
WITH c0 AS (SELECT l_extendedprice AS v, CAST(count(*) AS BIGINT) AS c
            FROM lineitem WHERE l_extendedprice IS NOT NULL
            GROUP BY 1),
r0 AS (SELECT v,
         CAST(sum(c) OVER (ORDER BY v) - c AS BIGINT) AS r,
         CAST(sum(c) OVER () AS BIGINT) AS n FROM c0),
w0t AS (SELECT v, CASE WHEN n > 1 THEN (r * 255) // (n - 1)
                  ELSE CAST(0 AS BIGINT) END AS w FROM r0),
c1 AS (SELECT l_discount AS v, CAST(count(*) AS BIGINT) AS c
       FROM lineitem WHERE l_discount IS NOT NULL GROUP BY 1),
r1 AS (SELECT v,
         CAST(sum(c) OVER (ORDER BY v) - c AS BIGINT) AS r,
         CAST(sum(c) OVER () AS BIGINT) AS n FROM c1),
w1t AS (SELECT v, CASE WHEN n > 1 THEN (r * 255) // (n - 1)
                  ELSE CAST(0 AS BIGINT) END AS w FROM r1),
s AS (SELECT l_orderkey, l_linenumber, a.w AS w0, b.w AS w1
      FROM lineitem
      LEFT JOIN w0t a ON a.v = l_extendedprice
      LEFT JOIN w1t b ON b.v = l_discount)
SELECT l_orderkey, l_linenumber,
       CAST(""" + _morton_sql(["w0", "w1"], 8) + """ AS BIGINT)
         AS zorder_key
FROM s
""")
def q_zorder_rank_double(spark, sf_dir):
    """Rank-scaled (equi-depth) Morton key over the DOUBLE columns
    (l_extendedprice, l_discount) at 8 bits: the distinct-value count
    frame's cumulative rank scales each double onto [0, 256) with
    pure integer arithmetic — bit-exact across engines even though
    the inputs are doubles, and skew-robust where min-max scaling
    collapses under outliers."""
    from beam_spark.operators.scd import ZOrderKey

    li = table(spark, sf_dir, "lineitem")
    out = (li | ZOrderKey(["l_extendedprice", "l_discount"], bits=8,
                          scale="rank")).df
    return out.select("l_orderkey", "l_linenumber", "zorder_key")


def _hilbert_sql(bits: int = 8) -> str:
    """Chained-CTE xy2d walk: one CTE per bit plane replaying the
    operator's rotate/reflect recurrence on the SAME integer-scaled
    words — pure integer ops, bit-exact by construction."""
    cte = [f"""WITH mm AS (SELECT min(l_partkey) AS mn0,
                  max(l_partkey) AS mx0,
                  min(l_suppkey) AS mn1, max(l_suppkey) AS mx1
           FROM lineitem),
h0 AS (SELECT l_orderkey, l_linenumber,
              CASE WHEN mx0 > mn0
                THEN ((l_partkey - mn0) * {(1 << bits) - 1})
                     // (mx0 - mn0)
                ELSE 0 END AS x,
              CASE WHEN mx1 > mn1
                THEN ((l_suppkey - mn1) * {(1 << bits) - 1})
                     // (mx1 - mn1)
                ELSE 0 END AS y,
              CAST(0 AS BIGINT) AS d
       FROM lineitem CROSS JOIN mm),"""]
    prev = "h0"
    for idx, shift in enumerate(range(bits - 1, -1, -1), start=1):
        s = 1 << shift
        cte.append(f"""h{idx} AS (
  SELECT l_orderkey, l_linenumber,
         d + {s * s} * xor(3 * rx, ry) AS d,
         CASE WHEN ry = 0 THEN
           (CASE WHEN rx = 1 THEN {s - 1} - y ELSE y END)
         ELSE x END AS x,
         CASE WHEN ry = 0 THEN
           (CASE WHEN rx = 1 THEN {s - 1} - x ELSE x END)
         ELSE y END AS y
  FROM (SELECT l_orderkey, l_linenumber, d, x, y,
               CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END AS rx,
               CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END AS ry
        FROM {prev})),""")
        prev = f"h{idx}"
    cte[-1] = cte[-1].rstrip(",")
    return ("\n".join(cte)
            + f"\nSELECT l_orderkey, l_linenumber, "
              f"CAST(d AS BIGINT) AS hilbert_key FROM {prev}")


@query("q_lake_hilbert_key", _hilbert_sql())
def q_hilbert_key(spark, sf_dir):
    """Hilbert-curve clustering key over (l_partkey, l_suppkey) at 8
    bits per axis: the oracle replays the rotate/reflect walk one CTE
    per bit plane on identically-scaled integer words — bit-exact."""
    from beam_spark.operators.scd import HilbertKey

    li = table(spark, sf_dir, "lineitem")
    out = (li | HilbertKey(["l_partkey", "l_suppkey"], bits=8)).df
    return out.select("l_orderkey", "l_linenumber", "hilbert_key")


@query("q_text_zipf_fit", """
WITH t AS (SELECT list_filter({_TOK}, x -> x <> '') AS toks
           FROM documents WHERE text IS NOT NULL),
tc AS (SELECT w, CAST(count(*) AS BIGINT) AS c
       FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
       HAVING count(*) >= 2),
rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r FROM tc),
xy AS (SELECT c,
              CAST(ln(CAST(r AS DOUBLE)) AS DECIMAL(28,12)) AS dx,
              CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(28,12)) AS dy,
              CAST(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))
                   AS DECIMAL(28,12)) AS dxx,
              CAST(ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE))
                   AS DECIMAL(28,12)) AS dxy,
              CAST(ln(CAST(c AS DOUBLE)) * ln(CAST(c AS DOUBLE))
                   AS DECIMAL(28,12)) AS dyy
       FROM rk),
m AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
             CAST(count(DISTINCT c) AS BIGINT) AS dc,
             CAST(sum(dx) AS DOUBLE) AS sx, CAST(sum(dy) AS DOUBLE) AS sy,
             CAST(sum(dxx) AS DOUBLE) AS sxx,
             CAST(sum(dxy) AS DOUBLE) AS sxy,
             CAST(sum(dyy) AS DOUBLE) AS syy
      FROM xy)
SELECT n_terms,
       CASE WHEN n_terms >= 2 THEN
         round((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
               / (CAST(n_terms AS DOUBLE) * sxx - sx * sx), 6)
       END AS slope,
       CASE WHEN n_terms >= 2 THEN
         round((sy - ((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
                      / (CAST(n_terms AS DOUBLE) * sxx - sx * sx)) * sx)
               / CAST(n_terms AS DOUBLE), 6)
       END AS intercept,
       CASE WHEN n_terms >= 2 AND dc >= 2 THEN
         round(((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
                * (CAST(n_terms AS DOUBLE) * sxy - sx * sy))
               / ((CAST(n_terms AS DOUBLE) * sxx - sx * sx)
                  * (CAST(n_terms AS DOUBLE) * syy - sy * sy)), 6)
       END AS r2
FROM m
""".replace("{_TOK}", _TOK))
def q_zipf_fit(spark, sf_dir):
    """Zipf exponent fit over the documents vocabulary (min_count 2):
    deterministic count-desc/term ranks, per-term ln moments through
    the exact decimal sum, OLS closed form on identical doubles,
    slope/intercept/r2 rounded 6."""
    from beam_spark.operators.text import ZipfFit

    docs = table(spark, sf_dir, "documents")
    out = (docs | ZipfFit("text", min_count=2)).df
    return out.select("n_terms", "slope", "intercept", "r2")


@query("q_skew_profile_custkey", """
WITH counts AS (
  SELECT coalesce(CAST(o_custkey AS VARCHAR), 'NULL') AS k,
         CAST(count(*) AS BIGINT) AS c
  FROM orders GROUP BY 1),
rk AS (SELECT c,
              row_number() OVER (ORDER BY c ASC, k) AS ra,
              row_number() OVER (ORDER BY c DESC, k) AS rd
       FROM counts),
a AS (SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS kk,
             CAST(max(c) AS BIGINT) AS mx,
             CAST(sum(ra * c) AS BIGINT) AS ic,
             CAST(sum(c * c) AS BIGINT) AS c2,
             CAST(sum(CASE WHEN rd <= 10 THEN c ELSE 0 END) AS BIGINT)
               AS topk
      FROM rk)
SELECT n AS n_rows, kk AS n_keys, mx AS max_key_n,
       CAST(mx AS DOUBLE) / CAST(n AS DOUBLE) AS top1_share,
       CAST(topk AS DOUBLE) / CAST(n AS DOUBLE) AS topk_share,
       CAST(mx * kk AS DOUBLE) / CAST(n AS DOUBLE) AS skew_ratio,
       CAST(2 * ic - (kk + 1) * n AS DOUBLE)
         / CAST(kk * n AS DOUBLE) AS gini,
       sqrt(CAST(kk * c2 - n * n AS DOUBLE)) / CAST(n AS DOUBLE) AS cv
FROM a
""")
def q_skew_profile(spark, sf_dir):
    """Join-key skew diagnostics for orders.o_custkey: integer-exact
    rank-weighted Gini, top-1/top-10 mass shares, max/mean skew ratio
    and count CV — every statistic one double division (cv one sqrt)
    of exact integers, compared UNROUNDED."""
    from beam_spark.operators.quality import SkewProfile

    o = table(spark, sf_dir, "orders")
    out = (o | SkewProfile("o_custkey")).df
    return out.select("n_rows", "n_keys", "max_key_n", "top1_share",
                      "topk_share", "skew_ratio", "gini", "cv")


@query("q_group_fairness_langs", """
WITH base AS (
  SELECT lang AS "group",
         CAST(n_chars % 100 + 1 AS DOUBLE) / CAST(102 AS DOUBLE) AS s,
         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y
  FROM documents
  WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
cf AS (SELECT "group", CAST(count(*) AS BIGINT) AS n,
              CAST(sum(y) AS BIGINT) AS n_pos,
              CAST(sum(CASE WHEN s >= CAST(0.5 AS DOUBLE) AND y = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS tp,
              CAST(sum(CASE WHEN s >= CAST(0.5 AS DOUBLE) AND y = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS fp,
              CAST(sum(CASE WHEN s < CAST(0.5 AS DOUBLE) AND y = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS tn,
              CAST(sum(CASE WHEN s < CAST(0.5 AS DOUBLE) AND y = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS fn
       FROM base GROUP BY 1),
r AS (SELECT cf.*,
             CASE WHEN n_pos > 0 THEN CAST(tp AS DOUBLE)
               / CAST(n_pos AS DOUBLE) END AS tpr,
             CASE WHEN n - n_pos > 0 THEN CAST(fp AS DOUBLE)
               / CAST(n - n_pos AS DOUBLE) END AS fpr,
             CAST(tp + fp AS DOUBLE) / CAST(n AS DOUBLE) AS ppr
      FROM cf),
g AS (SELECT CASE WHEN sum(n_pos) > 0 THEN CAST(sum(tp) AS DOUBLE)
               / CAST(sum(n_pos) AS DOUBLE) END AS g_tpr,
             CASE WHEN sum(n) - sum(n_pos) > 0 THEN
               CAST(sum(fp) AS DOUBLE)
               / CAST(sum(n) - sum(n_pos) AS DOUBLE) END AS g_fpr,
             CAST(sum(tp) + sum(fp) AS DOUBLE)
               / CAST(sum(n) AS DOUBLE) AS g_ppr
      FROM cf)
SELECT r."group", r.n, r.n_pos, r.tp, r.fp, r.tn, r.fn,
       r.tpr, r.fpr, r.ppr,
       CASE WHEN g.g_tpr > 0 THEN r.tpr / g.g_tpr END AS tpr_ratio,
       CASE WHEN g.g_fpr > 0 THEN r.fpr / g.g_fpr END AS fpr_ratio,
       CASE WHEN g.g_ppr > 0 THEN r.ppr / g.g_ppr END AS ppr_ratio
FROM r CROSS JOIN g
""")
def q_group_fairness(spark, sf_dir):
    """Per-language fairness report of the synthetic quality filter
    (score = quantized n_chars proxy, label = doc_id%3=0, threshold
    0.5): exact per-group confusion counts, single-division TPR / FPR
    / predicted-positive rates and their ratios to the all-data rates
    (the 80%-rule disparate-impact inputs) — compared UNROUNDED."""
    from beam_spark.operators.quality import GroupFairnessMetrics

    docs = table(spark, sf_dir, "documents").df.where(
        "lang IS NOT NULL AND n_chars IS NOT NULL").select(
        "lang",
        ((F.col("n_chars") % 100 + 1).cast("double")
         / F.lit(102.0)).alias("score"),
        (F.col("doc_id") % 3 == 0).cast("int").alias("label"))
    out = (PCollection(docs) | GroupFairnessMetrics(
        "score", "label", "lang", threshold=0.5)).df
    return out.select("group", "n", "n_pos", "tp", "fp", "tn", "fn",
                      "tpr", "fpr", "ppr", "tpr_ratio", "fpr_ratio",
                      "ppr_ratio")


@query("q_calibration_ece", """
WITH base AS (
  SELECT CAST(n_chars % 100 + 1 AS DOUBLE) / CAST(102 AS DOUBLE) AS s,
         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y
  FROM documents WHERE n_chars IS NOT NULL),
per AS (
  SELECT greatest(least(CAST(floor(s * 10) AS INT), 9), 0) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         round(CAST(sum(CAST(s AS DECIMAL(28,12))) AS DOUBLE)
               / count(*), 6) AS mean_conf,
         CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS frac_pos
  FROM base GROUP BY 1)
SELECT bin, n, mean_conf, frac_pos,
       abs(frac_pos - mean_conf) AS abs_gap,
       round(sum(CAST(n AS DOUBLE) * abs(frac_pos - mean_conf))
               OVER ()
             / sum(CAST(n AS DOUBLE)) OVER (), 6) AS ece
FROM per
""")
def q_calibration_ece(spark, sf_dir):
    """Reliability diagram + ECE for the synthetic documents filter
    (10 equal-width bins): per-bin mean confidence via the exact
    decimal sum (round 6), empirical positive rate exact, ECE a
    constant-size weighted window sum over the bins frame (round 6)."""
    from beam_spark.operators.quality import CalibrationReport

    docs = table(spark, sf_dir, "documents").df.where(
        "n_chars IS NOT NULL").select(
        ((F.col("n_chars") % 100 + 1).cast("double")
         / F.lit(102.0)).alias("score"),
        (F.col("doc_id") % 3 == 0).cast("int").alias("label"))
    out = (PCollection(docs) | CalibrationReport(
        "score", "label", n_bins=10)).df
    return out.select("bin", "n", "mean_conf", "frac_pos", "abs_gap",
                      "ece")


@query("q_rbo_rankings", """
WITH base AS (
  SELECT doc_id % 5 AS query_id, doc_id,
         round(CAST(n_chars % 97 AS DOUBLE), 6) AS sl,
         round(CAST(n_chars % 89 AS DOUBLE), 6) AS sr
  FROM documents WHERE n_chars IS NOT NULL),
rk AS (SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sl DESC, doc_id) AS lr,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sr DESC, doc_id) AS rr
       FROM base),
pr AS (SELECT query_id, greatest(lr, rr) AS m FROM rk
       WHERE greatest(lr, rr) <= 10),
dep AS (SELECT query_id, CAST(u.d AS INT) AS d,
               CAST(count(*) AS BIGINT) AS a
        FROM pr, unnest(range(m, 11)) AS u(d) GROUP BY 1, 2),
per AS (SELECT query_id,
          round(CAST(0.5 AS DOUBLE)
                * CAST(sum(CAST(power(CAST(0.5 AS DOUBLE), d - 1)
                           * (CAST(a AS DOUBLE) / CAST(d AS DOUBLE))
                           AS DECIMAL(28,12))) AS DOUBLE), 6) AS rbo,
          round(CAST(0.5 AS DOUBLE)
                * CAST(sum(CAST(power(CAST(0.5 AS DOUBLE), d - 1)
                           * (CAST(a AS DOUBLE) / CAST(d AS DOUBLE))
                           AS DECIMAL(28,12))) AS DOUBLE)
                + (CAST(max(CASE WHEN d = 10 THEN a END) AS DOUBLE)
                   / CAST(10 AS DOUBLE))
                  * CAST(0.0009765625 AS DOUBLE), 6) AS rbo_ext,
          CAST(max(CASE WHEN d = 10 THEN a END) AS BIGINT)
            AS overlap_at_k
        FROM dep GROUP BY query_id),
qs AS (SELECT DISTINCT query_id FROM base)
SELECT qs.query_id,
       coalesce(per.overlap_at_k, 0) AS overlap_at_k,
       coalesce(per.rbo, CAST(0 AS DOUBLE)) AS rbo,
       coalesce(per.rbo_ext, CAST(0 AS DOUBLE)) AS rbo_ext
FROM qs LEFT JOIN per ON per.query_id = qs.query_id
""")
def q_rbo_rankings(spark, sf_dir):
    """Rank-biased overlap (k=10, p=0.5) between two documents
    rankings (n_chars%97 vs n_chars%89 scores per query bucket):
    depth-overlap counts exact via the sequence-explode trick, dyadic
    p powers, decimal depth sum, rounded 6."""
    from beam_spark.operators.quality import RboOverlap

    docs = table(spark, sf_dir, "documents").df.where(
        "n_chars IS NOT NULL").select(
        (F.col("doc_id") % 5).alias("query_id"), "doc_id",
        (F.col("n_chars") % 97).cast("double").alias("score_left"),
        (F.col("n_chars") % 89).cast("double").alias("score_right"))
    out = (PCollection(docs) | RboOverlap(k=10, p=0.5)).df
    return out.select("query_id", "overlap_at_k", "rbo", "rbo_ext")


@query("q_lake_reconcile_orders", """
WITH bef AS (SELECT o_orderkey, o_totalprice, o_orderstatus
             FROM orders),
aft AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0
           THEN o_totalprice + CAST(1.5 AS DOUBLE)
           ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey % 11 <> 0
  UNION ALL
  SELECT o_orderkey + 100000000, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 13 = 0),
j AS (SELECT CASE WHEN b.o_orderkey IS NULL THEN 0 ELSE 1 END AS lp,
             CASE WHEN a.o_orderkey IS NULL THEN 0 ELSE 1 END AS rp,
             CASE WHEN b.o_totalprice IS DISTINCT FROM a.o_totalprice
               THEN 1 ELSE 0 END AS d1,
             CASE WHEN b.o_orderstatus IS DISTINCT FROM a.o_orderstatus
               THEN 1 ELSE 0 END AS d2
      FROM bef b FULL OUTER JOIN aft a
        ON a.o_orderkey = b.o_orderkey),
s AS (SELECT
        CAST(sum(CASE WHEN lp = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS added,
        CAST(sum(CASE WHEN rp = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS removed,
        CAST(sum(CASE WHEN lp = 1 AND rp = 1 AND (d1 = 1 OR d2 = 1)
                 THEN 1 ELSE 0 END) AS BIGINT) AS changed,
        CAST(sum(CASE WHEN lp = 1 AND rp = 1 AND d1 = 0 AND d2 = 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS unchanged,
        CAST(sum(CASE WHEN lp = 1 AND rp = 1 AND d1 = 1
                 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        CAST(sum(CASE WHEN lp = 1 AND rp = 1 AND d2 = 1
                 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM j)
SELECT 'rows' AS kind, 'added' AS name, added AS n FROM s
UNION ALL SELECT 'rows', 'removed', removed FROM s
UNION ALL SELECT 'rows', 'changed', changed FROM s
UNION ALL SELECT 'rows', 'unchanged', unchanged FROM s
UNION ALL SELECT 'column', 'o_totalprice', c1 FROM s
UNION ALL SELECT 'column', 'o_orderstatus', c2 FROM s
""")
def q_lake_reconcile(spark, sf_dir):
    """Post-backfill reconciliation of a deterministically perturbed
    orders copy (every 11th key removed, every 7th price bumped 1.5,
    every 13th re-added under an offset key): one full-outer key join
    classifies added/removed/changed/unchanged and per-column differ
    counts — all exact integers, NULL-safe comparison semantics."""
    from beam_spark.operators.scd import ReconcileTables

    o = table(spark, sf_dir, "orders").df.select(
        "o_orderkey", "o_totalprice", "o_orderstatus")
    after = (o.where("o_orderkey % 11 != 0")
             .withColumn("o_totalprice",
                         F.when(F.expr("o_orderkey % 7 = 0"),
                                F.col("o_totalprice") + F.lit(1.5))
                         .otherwise(F.col("o_totalprice"))))
    added = (o.where("o_orderkey % 13 = 0")
             .withColumn("o_orderkey",
                         F.col("o_orderkey") + 100000000))
    out = (PCollection(o) | ReconcileTables(
        after.unionByName(added), keys="o_orderkey")).df
    return out.select("kind", "name", "n")


@query("q_ml_quantile_transform", """
WITH ref AS (SELECT CAST(value AS DOUBLE) AS rv FROM events
             WHERE event_type = 'view' AND value IS NOT NULL),
ri AS (SELECT rv, row_number() OVER (ORDER BY rv) - 1 AS i,
              lead(rv) OVER (ORDER BY rv) AS nxt
       FROM ref),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ref),
inp AS (SELECT event_id, CAST(value AS DOUBLE) AS v FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL),
rk AS (SELECT event_id, v, percent_rank() OVER (ORDER BY v) AS r
       FROM inp),
p AS (SELECT event_id, v, r * CAST(m.m - 1 AS DOUBLE) AS pos
      FROM rk CROSS JOIN m),
f AS (SELECT event_id, v, pos, CAST(floor(pos) AS BIGINT) AS lo
      FROM p)
SELECT f.event_id, f.v AS value,
       CASE WHEN ri.nxt IS NULL THEN ri.rv
            ELSE ri.rv + (f.pos - f.lo) * (ri.nxt - ri.rv)
       END AS value_q
FROM f LEFT JOIN ri ON ri.i = f.lo
""")
def q_quantile_transform(spark, sf_dir):
    """Quantile mapping of purchase-event values onto the view-event
    value distribution: exact rational percent ranks, then one
    identical IEEE interpolation into the reference's indexed order
    statistics — compared UNROUNDED."""
    from beam_spark.ml.transforms import QuantileTransform

    ev = table(spark, sf_dir, "events").df
    ref = ev.where("event_type = 'view'").select("value")
    inp = ev.where("event_type = 'purchase' AND value IS NOT NULL") \
            .select("event_id", "value")
    out = (PCollection(inp) | QuantileTransform(
        ref, "value", output_col="value_q")).df
    return out.select("event_id", "value", "value_q")


@query("q_funnel_view_click_purchase", """
WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.ts) AS t
       FROM events e JOIN s1 ON e.user_id = s1.user_id
       WHERE e.event_type = 'click' AND e.ts > s1.t
       GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.ts) AS t
       FROM events e JOIN s2 ON e.user_id = s2.user_id
       WHERE e.event_type = 'purchase' AND e.ts > s2.t
       GROUP BY e.user_id),
u AS (SELECT 1 AS step, 'view' AS step_name,
             CAST(count(*) AS BIGINT) AS users FROM s1
      UNION ALL SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
      UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3)
SELECT step, step_name, users,
       round(CAST(users AS DOUBLE)
             / first_value(users) OVER (ORDER BY step), 6)
       AS conv_from_first,
       round(CAST(users AS DOUBLE)
             / coalesce(lag(users) OVER (ORDER BY step), users), 6)
       AS conv_from_prev
FROM u
""")
def q_funnel(spark, sf_dir):
    """view -> click -> purchase funnel per user: each step completes
    at the earliest matching event STRICTLY AFTER the previous step's
    completion; DuckDB replays the chained earliest-completion joins
    and the conversion ratios (counts exact; ratios round 6)."""
    from beam_spark.operators.analytics import Funnel

    ev = table(spark, sf_dir, "events")
    out = (ev | Funnel(["view", "click", "purchase"])).df
    return out.select("step", "step_name", "users",
                      "conv_from_first", "conv_from_prev")


@query("q_ts_acf", """
WITH x AS (
  SELECT user_id, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL),
m AS (SELECT user_id, avg(v) AS mu FROM x GROUP BY user_id),
l AS (
  SELECT x.user_id, v, mu,
         lag(v, 1) OVER w AS l1, lag(v, 2) OVER w AS l2,
         lag(v, 3) OVER w AS l3, lag(v, 4) OVER w AS l4,
         lag(v, 5) OVER w AS l5
  FROM x JOIN m ON x.user_id = m.user_id
  WINDOW w AS (PARTITION BY x.user_id ORDER BY rn)),
a AS (
  SELECT user_id, sum((v - mu) * (v - mu)) AS den,
         sum((v - mu) * (l1 - mu)) AS n1,
         sum((v - mu) * (l2 - mu)) AS n2,
         sum((v - mu) * (l3 - mu)) AS n3,
         sum((v - mu) * (l4 - mu)) AS n4,
         sum((v - mu) * (l5 - mu)) AS n5
  FROM l GROUP BY user_id)
SELECT user_id, lag,
       CASE WHEN den <> 0 THEN round(n / den, 6) END AS acf
FROM (SELECT user_id, 1 AS lag, n1 AS n, den FROM a
      UNION ALL SELECT user_id, 2, n2, den FROM a
      UNION ALL SELECT user_id, 3, n3, den FROM a
      UNION ALL SELECT user_id, 4, n4, den FROM a
      UNION ALL SELECT user_id, 5, n5, den FROM a) u
""")
def q_acf(spark, sf_dir):
    """Per-user sample ACF at lags 1..5 (Box-Jenkins biased
    estimator) over non-NULL event values — the period-detection
    companion to HoltWinters/SeasonalDecompose; DuckDB replays the
    mean-center, the five window shifts, and the numerator/
    denominator sums (round 6 absorbs group-sum order)."""
    from beam_spark.operators.stats import Acf

    ev = table(spark, sf_dir, "events").df
    out = (PCollection(ev) | Acf("value", lags=5, keys="user_id",
                                 order_by=["ts", "event_id"])).df
    return out.select("user_id", F.col("lag").cast("int").alias("lag"),
                      "acf")


def _changepoint_oracle_sql(levels: int = 2, ms: int = 5,
                            pen: float = 100.0) -> str:
    """Chained-CTE binary segmentation: per level, segments derive
    from the accepted-changepoint set, every in-range split's SSE
    gain computes from the SAME left-to-right prefix sums (window
    running sums = numpy cumsum, bit-identical on the exact-integer
    signal), the per-segment argmax tie-breaks (gain DESC, s ASC)
    exactly like np.argmax's first-max, and gain > penalty accepts.
    AS MATERIALIZED keeps DuckDB from re-opening the parquet for
    every self-join."""
    head = """WITH b0 AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) - 1 AS rn
  FROM events),
base AS MATERIALIZED (
  SELECT user_id, rn,
         CAST(event_id % 7 AS DOUBLE)
         + CASE WHEN rn >= 8 THEN CAST(50 AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END
         + CASE WHEN rn >= 16 THEN CAST(-70 AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END AS v
  FROM b0),
n_tab AS MATERIALIZED (SELECT user_id, CAST(count(*) AS BIGINT) AS n
                       FROM base GROUP BY user_id),
p AS (
  SELECT user_id, rn, v,
         sum(v) OVER w AS c1, sum(v * v) OVER w AS c2
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY rn
               ROWS UNBOUNDED PRECEDING)),
pidx AS MATERIALIZED (
  SELECT user_id, rn + 1 AS idx, c1, c2 FROM p
  UNION ALL
  SELECT user_id, 0, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE) FROM n_tab),
cp0 AS (SELECT user_id, CAST(NULL AS BIGINT) AS pos, 0 AS level,
               CAST(NULL AS DOUBLE) AS gain
        FROM n_tab WHERE 1 = 0),"""
    cte = [head]
    for lv in range(1, levels + 1):
        cte.append(f"""bnd{lv} AS (
  SELECT user_id, pos FROM cp{lv - 1}
  UNION ALL SELECT user_id, 0 FROM n_tab
  UNION ALL SELECT user_id, n FROM n_tab),
seg{lv} AS (
  SELECT user_id, a, b FROM (
    SELECT user_id, pos AS a,
           lead(pos) OVER (PARTITION BY user_id ORDER BY pos) AS b
    FROM bnd{lv}) z WHERE b IS NOT NULL),
cand{lv} AS MATERIALIZED (
  SELECT g.user_id, g.a, g.b, g.s,
    ((pb.c2 - pa.c2)
     - (pb.c1 - pa.c1) * (pb.c1 - pa.c1) / (g.b - g.a))
    - (((ps.c2 - pa.c2)
        - (ps.c1 - pa.c1) * (ps.c1 - pa.c1) / (g.s - g.a))
       + ((pb.c2 - ps.c2)
          - (pb.c1 - ps.c1) * (pb.c1 - ps.c1) / (g.b - g.s)))
    AS gain
  FROM (SELECT seg.user_id, seg.a, seg.b, r.rn AS s
        FROM seg{lv} seg JOIN base r ON r.user_id = seg.user_id
          AND r.rn >= seg.a + {ms} AND r.rn <= seg.b - {ms}) g
  JOIN pidx pa ON pa.user_id = g.user_id AND pa.idx = g.a
  JOIN pidx ps ON ps.user_id = g.user_id AND ps.idx = g.s
  JOIN pidx pb ON pb.user_id = g.user_id AND pb.idx = g.b),
pick{lv} AS (
  SELECT user_id, s AS pos, {lv} AS level, gain FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, a
                                 ORDER BY gain DESC, s) AS rk
    FROM cand{lv}) z WHERE rk = 1 AND gain > CAST({pen} AS DOUBLE)),
cp{lv} AS (SELECT user_id, pos, level, gain FROM cp{lv - 1}
           UNION ALL
           SELECT user_id, pos, level, gain FROM pick{lv}),""")
    cte[-1] = cte[-1].rstrip(",")
    return ("\n".join(cte)
            + f"""
SELECT user_id, pos AS cp_pos, CAST(level AS INT) AS level,
       round(gain, 6) AS gain
FROM cp{levels}""")


@query("q_ts_changepoints", _changepoint_oracle_sql())
def q_changepoints(spark, sf_dir):
    """Binary-segmentation changepoints (2 levels, min_segment 5,
    penalty 100) on a planted two-shift signal (+50 at position 8,
    -70 at 16, deterministic mod-7 wiggle) per user — the full
    segment/argmax/accept procedure replayed level by level in
    DuckDB (round 6)."""
    from pyspark.sql import Window

    from beam_spark.operators.stats import ChangepointMeanShift

    ev = table(spark, sf_dir, "events").df
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = (ev.withColumn("__rn", F.row_number().over(w) - 1)
         .withColumn("__x",
                     (F.col("event_id") % 7).cast("double")
                     + F.when(F.col("__rn") >= 8, F.lit(50.0))
                     .otherwise(F.lit(0.0))
                     + F.when(F.col("__rn") >= 16, F.lit(-70.0))
                     .otherwise(F.lit(0.0))))
    out = (PCollection(x) | ChangepointMeanShift(
        "__x", keys="user_id", order_by=["ts", "event_id"],
        penalty=100.0, levels=2, min_segment=5)).df
    return out.select("user_id", "cp_pos", "level",
                      F.round("gain", 6).alias("gain"))


@query("q_ts_rolling_corr", """
WITH b AS (
  SELECT user_id, event_id, CAST(value AS DOUBLE) AS x,
         CAST(event_id % 97 AS DOUBLE) AS y,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events),
s AS (
  SELECT user_id, event_id,
         count(*) OVER w AS n, count(x + y) OVER w AS np,
         sum(x) OVER w AS sx, sum(y) OVER w AS sy,
         sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy,
         sum(x * y) OVER w AS sxy
  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
SELECT user_id, event_id,
       CASE WHEN n = 8 AND np = 8 AND (8 * sxx - sx * sx) > 0
                 AND (8 * syy - sy * sy) > 0
            THEN round((8 * sxy - sx * sy)
                       / sqrt((8 * sxx - sx * sx)
                              * (8 * syy - sy * sy)), 6)
       END AS rolling_corr
FROM s
""")
def q_rolling_corr(spark, sf_dir):
    """Rolling Pearson correlation (window 8) between each user's
    event values and a deterministic companion signal (event_id mod
    97), from explicit window moment sums — NULL until the window is
    full and non-null; DuckDB replays the identical five frame sums
    and the closed-form correlation (round 6)."""
    from beam_spark.operators.stats import RollingCorr

    ev = table(spark, sf_dir, "events").df.withColumn(
        "__y", (F.col("event_id") % 97).cast("double"))
    out = (PCollection(ev) | RollingCorr(
        "value", "__y", window=8, keys="user_id",
        order_by=["ts", "event_id"])).df
    return out.select("user_id", "event_id", "rolling_corr")


def _pacf_oracle_sql(L: int = 5) -> str:
    """Chained-CTE Durbin-Levinson: one (phik, state-update) CTE pair
    per lag order, phi carried as a list column — the HoltWinters
    ring-buffer pattern applied to the PACF recursion. The numerator
    mirrors the operator's NESTED subtraction order
    ((r_k - t1) - t2)..., and the v=0 guard maps the operator's NaN
    to SQL NULL; only the moment sums feeding r are order-free
    (round-6 output)."""
    head = """WITH x AS (
  SELECT user_id, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL),
m AS (SELECT user_id, avg(v) AS mu FROM x GROUP BY user_id),
l AS (
  SELECT x.user_id, v, mu,
         """ + ",\n         ".join(
        f"lag(v, {k}) OVER w AS l{k}" for k in range(1, L + 1)) + """
  FROM x JOIN m ON x.user_id = m.user_id
  WINDOW w AS (PARTITION BY x.user_id ORDER BY rn)),
a AS (
  SELECT user_id, sum((v - mu) * (v - mu)) AS den,
         """ + ",\n         ".join(
        f"coalesce(sum((v - mu) * (l{k} - mu)), 0) AS n{k}"
        for k in range(1, L + 1)) + """
  FROM l GROUP BY user_id),
rl AS (SELECT user_id, [""" + ", ".join(
        f"n{k} / den" for k in range(1, L + 1)) + """] AS r
       FROM a WHERE den <> 0),
it1 AS (SELECT user_id, r, [r[1]] AS phi,
               1 - r[1] * r[1] AS v, r[1] AS p1 FROM rl),"""
    cte = [head]
    for k in range(2, L + 1):
        num = f"r[{k}]"
        for j in range(1, k):
            num = f"({num} - phi[{j}] * r[{k - j}])"
        carry = ", ".join(f"p{i}" for i in range(1, k))
        cte.append(f"""e{k} AS (
  SELECT user_id, r, phi, v, {carry},
         CASE WHEN v > 0 THEN {num} / v END AS pk
  FROM it{k - 1}),""")
        upd = ", ".join(f"phi[{j}] - pk * phi[{k - j}]"
                        for j in range(1, k))
        cte.append(f"""it{k} AS (
  SELECT user_id, r, [{upd}, pk] AS phi,
         v * (1 - pk * pk) AS v, {carry}, pk AS p{k}
  FROM e{k}),""")
    cte[-1] = cte[-1].rstrip(",")
    tails = [f"SELECT user_id, {k} AS lag, round(p{k}, 6) AS pacf "
             f"FROM it{L}" for k in range(1, L + 1)]
    return "\n".join(cte) + "\n" + "\nUNION ALL\n".join(tails)


def _ar_forecast_oracle_sql(p: int = 2, horizons=(1, 2, 3)) -> str:
    """Chained-CTE Yule-Walker AR(p) forecast replay: the PACF
    generator's Durbin-Levinson chain to order p (identical nesting),
    the last row's value + lag columns as the seed deviations, then
    one CTE per forecast step carrying the deviation history as a
    list column — the recurrence's left-assoc add order mirrors the
    operator's numpy loop exactly (round 6)."""
    hs = sorted(set(horizons))
    H = hs[-1]
    head = """WITH x AS (
  SELECT user_id, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL),
m AS (SELECT user_id, avg(v) AS mu FROM x GROUP BY user_id),
l AS (
  SELECT x.user_id, v, mu, rn,
         """ + ",\n         ".join(
        f"lag(v, {k}) OVER w AS l{k}" for k in range(1, p + 1)) + """
  FROM x JOIN m ON x.user_id = m.user_id
  WINDOW w AS (PARTITION BY x.user_id ORDER BY rn)),
a AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         sum((v - mu) * (v - mu)) AS den,
         """ + ",\n         ".join(
        f"coalesce(sum((v - mu) * (l{k} - mu)), 0) AS n{k}"
        for k in range(1, p + 1)) + """
  FROM l GROUP BY user_id),
last AS (
  SELECT user_id, v AS x0""" + "".join(
        f", l{i} AS x{i}" for i in range(1, p)) + """
  FROM l
  QUALIFY row_number() OVER (PARTITION BY user_id
                             ORDER BY rn DESC) = 1),
rl AS (SELECT user_id, [""" + ", ".join(
        f"n{k} / den" for k in range(1, p + 1)) + f"""] AS r
       FROM a WHERE den <> 0 AND n >= {p + 1}),
it1 AS (SELECT user_id, r, [r[1]] AS phi,
               1 - r[1] * r[1] AS v FROM rl),"""
    cte = [head]
    for k in range(2, p + 1):
        num = f"r[{k}]"
        for j in range(1, k):
            num = f"({num} - phi[{j}] * r[{k - j}])"
        cte.append(f"""e{k} AS (
  SELECT user_id, r, phi, v,
         CASE WHEN v > 0 THEN {num} / v END AS pk
  FROM it{k - 1}),""")
        upd = ", ".join(f"phi[{j}] - pk * phi[{k - j}]"
                        for j in range(1, k))
        cte.append(f"""it{k} AS (
  SELECT user_id, r, [{upd}, pk] AS phi,
         v * (1 - pk * pk) AS v
  FROM e{k}),""")
    hist0 = ", ".join(f"last.x{i} - m.mu" for i in range(p))
    cte.append(f"""s0 AS (
  SELECT it{p}.user_id, m.mu, phi, [{hist0}] AS hist
  FROM it{p}
  JOIN last ON last.user_id = it{p}.user_id
  JOIN m ON m.user_id = it{p}.user_id),""")
    for j in range(1, H + 1):
        fexpr = "(phi[1] * hist[1])"
        for i in range(2, p + 1):
            fexpr = f"({fexpr} + (phi[{i}] * hist[{i}]))"
        keep = ", ".join(f"f{i}" for i in range(1, j))
        keep = (keep + ", ") if keep else ""
        newhist = ", ".join(["f"] + [f"hist[{i}]"
                                     for i in range(1, p)])
        cte.append(f"""t{j} AS (
  SELECT user_id, mu, phi, hist, {keep}{fexpr} AS f
  FROM s{j - 1}),""")
        cte.append(f"""s{j} AS (
  SELECT user_id, mu, phi, [{newhist}] AS hist, {keep}f AS f{j}
  FROM t{j}),""")
    cte[-1] = cte[-1].rstrip(",")
    phis = ", ".join(f"round(phi[{i}], 6) AS phi{i}"
                     for i in range(1, p + 1))
    tails = [f"SELECT user_id, {h} AS h, round(mu + f{h}, 6) AS forecast, "
             f"{phis} FROM s{H}" for h in hs]
    return "\n".join(cte) + "\n" + "\nUNION ALL\n".join(tails)


@query("q_ts_ar_forecast", _ar_forecast_oracle_sql())
def q_ts_ar_forecast(spark, sf_dir):
    """Per-user AR(2) forecasts at horizons 1..3, fitted by
    Yule-Walker (the Durbin-Levinson phi at order 2) and iterated on
    mean deviations — the autoregressive sibling of Holt/Theta with
    Pacf as its order-identification companion; DuckDB replays the
    D-L chain, seeds the deviation history from the last row's lag
    columns, and unrolls the identical left-assoc recurrence
    (round 6)."""
    from beam_spark.operators.stats import ArForecast

    ev = table(spark, sf_dir, "events").df
    out = (PCollection(ev)
           | ArForecast("value", keys="user_id",
                        order_by=["ts", "event_id"], p=2,
                        horizons=(1, 2, 3))).df
    return out.select("user_id", F.col("h").cast("int").alias("h"),
                      F.round("forecast", 6).alias("forecast"),
                      F.round("phi1", 6).alias("phi1"),
                      F.round("phi2", 6).alias("phi2"))


def _forecast_backtest_oracle_sql(p: int = 2, holdout: int = 3) -> str:
    """Backtest replay: the AR oracle's full chain re-rooted on the
    TRAIN prefix (last ``holdout`` rows withheld via a descending
    row_number — textual replace of the events source, the gate-fold
    convention), joined to the held-out actuals (rd <= holdout maps to
    h = holdout + 1 - rd) and the train-prefix naive-1 MASE
    denominator. Errors score the round-6 forecast (the operator's
    documented grid)."""
    rd = ("row_number() OVER (PARTITION BY user_id "
          "ORDER BY ts DESC, event_id DESC)")
    train_src = (f"(SELECT * FROM (SELECT *, {rd} AS rd FROM events "
                 f"WHERE value IS NOT NULL) WHERE rd > {holdout})")
    ar = _ar_forecast_oracle_sql(
        p=p, horizons=tuple(range(1, holdout + 1))).replace(
        "FROM events WHERE value IS NOT NULL", f"FROM {train_src}")
    return f"""
WITH fc AS (
{ar}
),
t AS (SELECT user_id, CAST({holdout} + 1 - rd AS INT) AS h,
             CAST(value AS DOUBLE) AS actual
      FROM (SELECT *, {rd} AS rd FROM events
            WHERE value IS NOT NULL)
      WHERE rd <= {holdout}),
nv AS (SELECT user_id, avg(abs(v - l1)) AS naive
       FROM (SELECT user_id, CAST(value AS DOUBLE) AS v,
                    lag(CAST(value AS DOUBLE), 1) OVER (
                      PARTITION BY user_id
                      ORDER BY ts, event_id) AS l1
             FROM {train_src})
       GROUP BY 1)
SELECT fc.user_id, fc.h, fc.forecast, round(t.actual, 6) AS actual,
       round(abs(fc.forecast - t.actual), 6) AS abs_err,
       round(CASE WHEN nv.naive <> 0
             THEN abs(fc.forecast - t.actual) / nv.naive END, 6)
         AS mase
FROM fc
JOIN t ON t.user_id = fc.user_id AND t.h = fc.h
JOIN nv ON nv.user_id = fc.user_id
"""


@query("q_ts_forecast_backtest", _forecast_backtest_oracle_sql())
def q_ts_forecast_backtest(spark, sf_dir):
    """Per-user AR(2) hold-out backtest (last 3 events withheld,
    forecasts scored against them): abs error + per-horizon MASE
    contribution (naive-1 train denominator, Hyndman & Koehler 2006)
    — the forecasting family's eval member; DuckDB re-roots the AR
    replay on the train prefix and scores the identical round-6
    forecasts."""
    from beam_spark.operators.stats import ForecastBacktest

    ev = table(spark, sf_dir, "events").df
    out = (PCollection(ev)
           | ForecastBacktest("value", keys="user_id",
                              order_by=["ts", "event_id"], p=2,
                              holdout=3)).df
    return out.select("user_id", F.col("h").cast("int").alias("h"),
                      "forecast", "actual", "abs_err", "mase")


@query("q_ts_pacf", _pacf_oracle_sql())
def q_pacf(spark, sf_dir):
    """Per-user PACF at lags 1..5 (Durbin-Levinson over the sample
    ACF) — the AR-order identification statistic; DuckDB replays the
    recursion per lag order with phi as a list column, mirroring the
    operator's exact subtraction nesting (round 6)."""
    from beam_spark.operators.stats import Pacf

    ev = table(spark, sf_dir, "events").df
    out = (PCollection(ev) | Pacf("value", lags=5, keys="user_id",
                                  order_by=["ts", "event_id"])).df
    return out.select("user_id", F.col("lag").cast("int").alias("lag"),
                      F.round("pacf", 6).alias("pacf"))


@query("q_ts_seasonal_robust", """
WITH r AS (
  SELECT user_id, event_id, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) - 1 AS rn
  FROM events),
t AS (
  SELECT user_id, event_id, v, rn % 7 AS phase,
         CASE WHEN count(v) OVER w = 7
              THEN median(v) OVER w END AS trend
  FROM r WINDOW w AS (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
s AS (SELECT user_id, phase, median(v - trend) AS s_raw
      FROM t GROUP BY user_id, phase),
m AS (SELECT user_id, avg(s_raw) AS s_mean FROM s GROUP BY user_id)
SELECT t.user_id, t.event_id,
       round(t.trend, 6) AS trend,
       round(s.s_raw - m.s_mean, 6) AS seasonal,
       round(t.v - t.trend - (s.s_raw - m.s_mean), 6) AS remainder
FROM t JOIN s ON t.user_id = s.user_id AND t.phase = s.phase
       JOIN m ON t.user_id = m.user_id
""")
def q_seasonal_decompose_robust(spark, sf_dir):
    """ROBUST decomposition (period 7): running-MEDIAN trend over the
    same odd-width centered window (exact order statistic — count 7,
    no interpolation) and phase-MEDIAN seasonal, mean-centered —
    DuckDB replays both medians; round 6 absorbs the even-group
    median interpolation and group-mean order differences."""
    from beam_spark.operators.stats import SeasonalDecompose

    ev = table(spark, sf_dir, "events")
    out = (ev | SeasonalDecompose("value", period=7, keys="user_id",
                                  order_by=["ts", "event_id"],
                                  robust=True)).df
    return out.select("user_id", "event_id", "trend", "seasonal",
                      "remainder")


@query("q_ts_cusum", """
WITH RECURSIVE r AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events),
e AS (
  SELECT user_id, event_id, rn,
         CASE WHEN value IS NULL THEN CAST(0 AS DOUBLE)
              ELSE greatest(CAST(0 AS DOUBLE),
                   CAST(0 AS DOUBLE) + (value - CAST(50 AS DOUBLE))
                   - CAST(0.5 AS DOUBLE)) END AS s_hi,
         CASE WHEN value IS NULL THEN CAST(0 AS DOUBLE)
              ELSE greatest(CAST(0 AS DOUBLE),
                   CAST(0 AS DOUBLE) - (value - CAST(50 AS DOUBLE))
                   - CAST(0.5 AS DOUBLE)) END AS s_lo
  FROM r WHERE rn = 1
  UNION ALL
  SELECT r.user_id, r.event_id, r.rn,
         CASE WHEN r.value IS NULL THEN e.s_hi
              ELSE greatest(CAST(0 AS DOUBLE),
                   e.s_hi + (r.value - CAST(50 AS DOUBLE))
                   - CAST(0.5 AS DOUBLE)) END,
         CASE WHEN r.value IS NULL THEN e.s_lo
              ELSE greatest(CAST(0 AS DOUBLE),
                   e.s_lo - (r.value - CAST(50 AS DOUBLE))
                   - CAST(0.5 AS DOUBLE)) END
  FROM e JOIN r ON r.user_id = e.user_id AND r.rn = e.rn + 1)
SELECT user_id, event_id, s_hi, s_lo,
       (s_hi > CAST(100 AS DOUBLE) OR s_lo > CAST(100 AS DOUBLE))
       AS alarm
FROM e
""")
def q_cusum(spark, sf_dir):
    """Per-user CUSUM mean-shift scores (target 50, slack 0.5,
    threshold 100 — binary-exact literals): the Python recurrence and
    DuckDB's recursive-CTE replay run the identical IEEE op sequence,
    compared unrounded."""
    from beam_spark.operators.stats import CusumDetect

    ev = table(spark, sf_dir, "events")
    out = (ev | CusumDetect("value", target=50.0, slack=0.5,
                            threshold=100.0, keys="user_id",
                            order_by=["ts", "event_id"])).df
    return out.select("user_id", "event_id", "s_hi", "s_lo", "alarm")


@query("q_ts_ewma", """
WITH RECURSIVE r AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events),
e AS (
  SELECT user_id, event_id, rn,
         CAST(value AS DOUBLE) AS ewma FROM r WHERE rn = 1
  UNION ALL
  SELECT r.user_id, r.event_id, r.rn,
         CASE WHEN r.value IS NULL THEN e.ewma
              WHEN e.ewma IS NULL THEN CAST(r.value AS DOUBLE)
              ELSE CAST(0.5 AS DOUBLE) * r.value
                   + CAST(0.5 AS DOUBLE) * e.ewma END
  FROM e JOIN r ON r.user_id = e.user_id AND r.rn = e.rn + 1)
SELECT user_id, event_id, ewma FROM e
""")
def q_ewma(spark, sf_dir):
    """Per-user EWMA of event values (alpha=0.5): the Python
    recurrence and DuckDB's recursive-CTE replay perform the IDENTICAL
    IEEE op sequence on identical parquet doubles, so the outputs are
    bit-identical and compared UNROUNDED (rounding would reintroduce
    the engines' differing round-half algorithms on non-dyadic
    decimals)."""
    from beam_spark.operators.stats import Ewma

    ev = table(spark, sf_dir, "events")
    out = (ev | Ewma("value", alpha=0.5, keys="user_id",
                     order_by=["ts", "event_id"])).df
    return out.select("user_id", "event_id", "ewma")


@query("q_ts_holt", """
WITH RECURSIVE r AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events),
e AS (
  SELECT user_id, event_id, rn,
         CAST(value AS DOUBLE) AS level,
         CASE WHEN value IS NULL THEN NULL
              ELSE CAST(0 AS DOUBLE) END AS trend
  FROM r WHERE rn = 1
  UNION ALL
  SELECT r.user_id, r.event_id, r.rn,
         CASE WHEN r.value IS NULL THEN e.level
              WHEN e.level IS NULL THEN CAST(r.value AS DOUBLE)
              ELSE CAST(0.5 AS DOUBLE) * r.value
                   + CAST(0.5 AS DOUBLE) * (e.level + e.trend) END,
         CASE WHEN r.value IS NULL THEN e.trend
              WHEN e.level IS NULL THEN CAST(0 AS DOUBLE)
              ELSE CAST(0.25 AS DOUBLE)
                   * ((CAST(0.5 AS DOUBLE) * r.value
                       + CAST(0.5 AS DOUBLE) * (e.level + e.trend))
                      - e.level)
                   + CAST(0.75 AS DOUBLE) * e.trend END
  FROM e JOIN r ON r.user_id = e.user_id AND r.rn = e.rn + 1)
SELECT user_id, event_id, level, trend FROM e
""")
def q_holt(spark, sf_dir):
    """Per-user Holt linear-trend smoothing (alpha=0.5, beta=0.25 —
    binary-exact coefficients): the Python recurrence and DuckDB's
    recursive-CTE replay run the IDENTICAL IEEE op sequence (l_new is
    recomputed inside the trend expression with the same operand
    order), so outputs are bit-identical and compared UNROUNDED —
    the q_ts_ewma posture extended to two coupled states."""
    from beam_spark.operators.stats import HoltLinear

    ev = table(spark, sf_dir, "events")
    out = (ev | HoltLinear("value", alpha=0.5, beta=0.25,
                           keys="user_id",
                           order_by=["ts", "event_id"])).df
    return out.select("user_id", "event_id", "level", "trend")


@query("q_text_url_normalize", """
WITH u AS (
  SELECT doc_id,
         CASE CAST(doc_id % 5 AS INT)
           WHEN 0 THEN 'HTTPS://WWW.Site' || CAST(doc_id % 7 AS VARCHAR)
                || '.COM:443/a//b' || CAST(doc_id % 3 AS VARCHAR)
                || '/?utm_source=x&b=2&a=1#f'
           WHEN 1 THEN 'http://news' || CAST(doc_id % 7 AS VARCHAR)
                || '.co.uk:80'
           WHEN 2 THEN 'https://sub.shop' || CAST(doc_id % 7 AS VARCHAR)
                || '.com.au/p/?ref=tw&z=9&gclid=abc'
           WHEN 3 THEN 'http://Host' || CAST(doc_id % 7 AS VARCHAR)
                || '.io:8080/x/'
           ELSE 'https://ex' || CAST(doc_id % 7 AS VARCHAR)
                || '.com/?utm_campaign=a'
         END AS url
  FROM documents),
p AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      AS proto,
    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)
      AS auth,
    regexp_extract(url,
      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
    regexp_extract(url, '\\?([^#]*)', 1) AS qs
  FROM u),
q AS (
  SELECT doc_id, proto,
    lower(regexp_replace(auth, ':[0-9]+$', '')) AS rawhost,
    regexp_extract(auth, ':([0-9]+)$', 1) AS port,
    CASE WHEN regexp_replace(regexp_replace(rawpath, '/{2,}', '/',
                                            'g'), '/$', '') = ''
         THEN '/'
         ELSE regexp_replace(regexp_replace(rawpath, '/{2,}', '/',
                                            'g'), '/$', '') END
      AS path,
    COALESCE(array_to_string(list_sort(list_filter(
      string_split(qs, '&'),
      x -> x <> '' AND NOT regexp_matches(split_part(x, '=', 1),
        '^(utm_.*|fbclid|gclid|msclkid|yclid|ref)$'))), '&'), '')
      AS qnorm
  FROM p),
r AS (
  SELECT doc_id, proto, port, path, qnorm, rawhost,
    regexp_replace(rawhost, '^www\\.', '') AS host
  FROM q),
s AS (
  SELECT doc_id, proto, port, path, qnorm, rawhost, host,
    string_split(host, '.') AS labels,
    len(string_split(host, '.')) AS n
  FROM r),
t AS (
  SELECT doc_id, proto, port, path, qnorm, rawhost, host,
    labels[n - 1] || '.' || labels[n] AS two,
    CASE WHEN n >= 3
         THEN labels[n - 2] || '.' || labels[n - 1] || '.' || labels[n]
         END AS three, n
  FROM s)
SELECT doc_id,
  proto || '://'
    || CASE WHEN port = '' OR (proto = 'http' AND port = '80')
                 OR (proto = 'https' AND port = '443')
            THEN rawhost ELSE rawhost || ':' || port END
    || path
    || CASE WHEN qnorm = '' THEN '' ELSE '?' || qnorm END AS url_norm,
  host,
  CASE WHEN n >= 3 AND two IN ('co.uk', 'org.uk', 'ac.uk', 'gov.uk',
         'co.jp', 'ne.jp', 'or.jp', 'com.au', 'net.au', 'org.au',
         'co.nz', 'com.br', 'com.mx', 'co.in', 'co.za', 'com.cn',
         'com.tw', 'co.kr', 'com.sg', 'com.hk', 'com.ar', 'com.tr')
       THEN three
       WHEN n >= 2 THEN two ELSE host END AS domain
FROM t
""")
def q_url_normalize(spark, sf_dir):
    """URL canonicalization over synthetic-but-varied URLs derived
    from doc_id (uppercase scheme+host, default and non-default
    ports, duplicate/trailing slashes, tracking params, fragments,
    www, two-level public suffixes): the operator runs
    try_parse_url + higher-order array expressions JVM-side; the
    oracle reimplements every step with DuckDB regexes and list
    lambdas. Value-exact across url_norm, host, and domain."""
    from beam_spark.operators.text import UrlNormalize

    d = table(spark, sf_dir, "documents").df
    u = d.selectExpr(
        "doc_id",
        "CASE CAST(doc_id % 5 AS INT) "
        "WHEN 0 THEN 'HTTPS://WWW.Site' || CAST(doc_id % 7 AS STRING)"
        " || '.COM:443/a//b' || CAST(doc_id % 3 AS STRING)"
        " || '/?utm_source=x&b=2&a=1#f' "
        "WHEN 1 THEN 'http://news' || CAST(doc_id % 7 AS STRING)"
        " || '.co.uk:80' "
        "WHEN 2 THEN 'https://sub.shop' || CAST(doc_id % 7 AS STRING)"
        " || '.com.au/p/?ref=tw&z=9&gclid=abc' "
        "WHEN 3 THEN 'http://Host' || CAST(doc_id % 7 AS STRING)"
        " || '.io:8080/x/' "
        "ELSE 'https://ex' || CAST(doc_id % 7 AS STRING)"
        " || '.com/?utm_campaign=a' END AS url")
    out = (PCollection(u) | UrlNormalize()).df
    return out.select("doc_id", "url_norm", "host", "domain")


@query("q_stats_heavy_hitters", """
WITH i AS (
  SELECT CASE WHEN doc_id % 10 < 3
              THEN 'hot' || CAST(doc_id % 2 AS VARCHAR)
              ELSE 'cold' || CAST(doc_id AS VARCHAR) END AS item
  FROM documents),
e AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM i GROUP BY item),
n AS (SELECT COUNT(*) AS total FROM i)
SELECT item, exact_cnt, TRUE AS found, TRUE AS err_ok
FROM e, n WHERE exact_cnt > total / 21.0
""")
def q_heavy_hitters(spark, sf_dir):
    """Misra-Gries guarantee as a verdict oracle: over a synthetic
    skew (two hot items at ~20%/~10%, the rest singletons), every
    item with true frequency > n/(k+1) MUST appear in the k=20
    summary with an estimate in [true - n/(k+1), true]. The oracle
    recomputes the hot set + exact counts and pins found/err_ok
    TRUE — equality proves the deterministic sketch bound held."""
    from beam_spark.operators.stats import MisraGries

    d = table(spark, sf_dir, "documents").df
    items = d.selectExpr(
        "CASE WHEN doc_id % 10 < 3 THEN 'hot' || CAST(doc_id % 2 AS"
        " STRING) ELSE 'cold' || CAST(doc_id AS STRING) END AS item")
    sk = (PCollection(items) | MisraGries("item", k=20)).df
    exact = items.groupBy("item").agg(
        F.count(F.lit(1)).alias("exact_cnt"))
    total = items.agg(F.count(F.lit(1)).alias("__n"))
    thr = F.col("__n") / F.lit(21.0)
    return (exact.crossJoin(F.broadcast(total))
            .where(F.col("exact_cnt") > thr)
            .join(sk, "item", "left")
            .select("item", "exact_cnt",
                    F.col("est").isNotNull().alias("found"),
                    (F.col("est").isNotNull()
                     & (F.col("est") <= F.col("exact_cnt"))
                     & (F.col("est") >= F.col("exact_cnt") - thr))
                    .alias("err_ok")))


@query("q_text_char_entropy", """
WITH c AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch,
         len(string_split(text, '')) AS n
  FROM documents WHERE length(text) > 0),
g AS (SELECT doc_id, ch, n, count(*) AS k FROM c GROUP BY doc_id, ch, n)
SELECT doc_id,
       round(-sum((CAST(k AS DOUBLE) / n)
                  * log2(CAST(k AS DOUBLE) / n)), 6) AS entropy,
       CAST(count(*) AS INT) AS n_distinct_chars
FROM g GROUP BY doc_id
""")
def q_char_entropy(spark, sf_dir):
    """Per-document character Shannon entropy (bits) + distinct-char
    count: the Spark side is a zero-shuffle JVM expression chain — a
    single-pass run-length fold over the SORTED char array (one
    aggregate accumulating sum(k*log2 k) over equal-char runs, then
    the identity H = log2(n) - sum(k*log2 k)/n; no per-char rescans —
    the O(n^2) lambda free-variable trap, SCALE.md round 8); the
    oracle recomputes via unnest + GROUP BY. Both round to 6 dp — the
    summation orders differ (run order vs hash-group order), the
    repo-wide float-score pattern."""
    from beam_spark.operators.text import char_entropy

    d = table(spark, sf_dir, "documents").df
    return (d.filter(F.length("text") > 0)
            .select("doc_id",
                    F.round(char_entropy("text"), 6).alias("entropy"),
                    F.size(F.array_distinct(F.split("text", "")))
                    .alias("n_distinct_chars")))


@query("q_text_readability", r"""
WITH d AS (SELECT doc_id, replace(text, ' data ', '. ') AS t
           FROM documents),
s AS (SELECT doc_id,
        string_split_regex(lower(trim(t)), '\s+') AS toks,
        greatest(len(regexp_extract_all(t, '[.!?]+')), 1) AS n_sent
      FROM d),
y AS (SELECT doc_id,
        CAST(len(toks) AS INT) AS n_words_raw,
        greatest(len(toks), 1) AS n_words, n_sent,
        CAST(list_aggregate(list_transform(toks,
          w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1)),
          'sum') AS BIGINT) AS n_syl
      FROM s)
SELECT doc_id, n_words_raw AS n_words,
       CAST(n_sent AS INT) AS n_sentences, n_syl AS n_syllables,
       round(CAST(206.835 AS DOUBLE)
             - CAST(1.015 AS DOUBLE)
               * (CAST(n_words AS DOUBLE) / n_sent)
             - CAST(84.6 AS DOUBLE)
               * (CAST(n_syl AS DOUBLE) / n_words), 6) AS flesch,
       round(CAST(0.39 AS DOUBLE) * (CAST(n_words AS DOUBLE) / n_sent)
             + CAST(11.8 AS DOUBLE) * (CAST(n_syl AS DOUBLE) / n_words)
             - CAST(15.59 AS DOUBLE), 6) AS fk_grade
FROM y
""")
def q_readability(spark, sf_dir):
    """Flesch / Flesch-Kincaid readability over documents with
    deterministic sentence boundaries injected (' data ' -> '. ' —
    replace() has identical non-overlapping left-to-right semantics
    in both engines): whitespace words, [.!?]+ sentence runs,
    vowel-group syllables — every heuristic recomputed in DuckDB
    list/regex functions, value-exact at round 6."""
    from beam_spark.operators.text import ReadabilityScore

    d = table(spark, sf_dir, "documents").df
    t2 = d.select("doc_id",
                  F.replace(F.col("text"), F.lit(" data "),
                            F.lit(". ")).alias("t"))
    out = (PCollection(t2) | ReadabilityScore(text_col="t")).df
    return out.select("doc_id", "n_words", "n_sentences",
                      "n_syllables", "flesch", "fk_grade")


@query("q_sample_repeat_by_weight", """
WITH w AS (
  SELECT doc_id,
         CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 0.5 WHEN 1 THEN 1.0
              WHEN 2 THEN 2.5 ELSE 0.25 END AS wt
  FROM documents),
k AS (
  SELECT doc_id,
         CAST(floor(wt) AS INT)
         + CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS
                  VARCHAR)), 1, 8)) AS BIGINT) % 10000
                < CAST(round((wt - floor(wt)) * 10000) AS BIGINT)
                THEN 1 ELSE 0 END AS reps
  FROM w)
SELECT doc_id, CAST(unnest(generate_series(1, reps)) AS INT) AS epoch
FROM k WHERE reps >= 1
""")
def q_repeat_by_weight(spark, sf_dir):
    """Epoch-style mixture up-sampling (weights 0.5/1.0/2.5/0.25 by
    doc_id class — binary-exact so the fractional coin threshold is
    identical in both engines): floor(w) copies plus an md5-decided
    extra. Row-exact incl. the epoch index."""
    from beam_spark.operators.combiners import RepeatByWeight

    d = table(spark, sf_dir, "documents").df
    wdf = d.selectExpr(
        "doc_id",
        "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 0.5 WHEN 1 THEN 1.0"
        " WHEN 2 THEN 2.5 ELSE 0.25 END AS wt")
    out = (PCollection(wdf) | RepeatByWeight(
        weight_col="wt", id_col="doc_id")).df
    return out.select("doc_id", "epoch")


@query("q_ts_holt_winters", """
WITH RECURSIVE r AS (
  SELECT user_id, event_id, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL),
e AS (
  SELECT user_id, event_id, rn,
         [v] AS xs, v AS tot,
         CAST(NULL AS DOUBLE) AS l, CAST(NULL AS DOUBLE) AS b,
         CAST(NULL AS DOUBLE[]) AS s,
         CAST(NULL AS DOUBLE) AS outl, CAST(NULL AS DOUBLE) AS outb,
         CAST(NULL AS DOUBLE) AS outs
  FROM r WHERE rn = 1
  UNION ALL
  SELECT r.user_id, r.event_id, r.rn,
    CASE WHEN r.rn < 4 THEN list_concat(e.xs, [r.v]) ELSE e.xs END,
    CASE WHEN r.rn < 4 THEN e.tot + r.v ELSE e.tot END,
    CASE WHEN r.rn < 4 THEN CAST(NULL AS DOUBLE)
         WHEN r.rn = 4 THEN (e.tot + r.v) / 4
         ELSE CAST(0.5 AS DOUBLE) * (r.v - e.s[(r.rn - 1) % 4 + 1])
              + CAST(0.5 AS DOUBLE) * (e.l + e.b) END,
    CASE WHEN r.rn < 4 THEN CAST(NULL AS DOUBLE)
         WHEN r.rn = 4 THEN CAST(0 AS DOUBLE)
         ELSE CAST(0.25 AS DOUBLE)
              * ((CAST(0.5 AS DOUBLE)
                  * (r.v - e.s[(r.rn - 1) % 4 + 1])
                  + CAST(0.5 AS DOUBLE) * (e.l + e.b)) - e.l)
              + CAST(0.75 AS DOUBLE) * e.b END,
    CASE WHEN r.rn < 4 THEN CAST(NULL AS DOUBLE[])
         WHEN r.rn = 4 THEN list_transform(
             list_concat(e.xs, [r.v]),
             xi -> xi - (e.tot + r.v) / 4)
         ELSE list_concat(list_concat(
             e.s[:(r.rn - 1) % 4],
             [CAST(0.25 AS DOUBLE)
              * (r.v - (CAST(0.5 AS DOUBLE)
                        * (r.v - e.s[(r.rn - 1) % 4 + 1])
                        + CAST(0.5 AS DOUBLE) * (e.l + e.b)))
              + CAST(0.75 AS DOUBLE) * e.s[(r.rn - 1) % 4 + 1]]),
             e.s[(r.rn - 1) % 4 + 2:]) END,
    CASE WHEN r.rn <= 4 THEN CAST(NULL AS DOUBLE)
         ELSE CAST(0.5 AS DOUBLE) * (r.v - e.s[(r.rn - 1) % 4 + 1])
              + CAST(0.5 AS DOUBLE) * (e.l + e.b) END,
    CASE WHEN r.rn <= 4 THEN CAST(NULL AS DOUBLE)
         ELSE CAST(0.25 AS DOUBLE)
              * ((CAST(0.5 AS DOUBLE)
                  * (r.v - e.s[(r.rn - 1) % 4 + 1])
                  + CAST(0.5 AS DOUBLE) * (e.l + e.b)) - e.l)
              + CAST(0.75 AS DOUBLE) * e.b END,
    CASE WHEN r.rn <= 4 THEN CAST(NULL AS DOUBLE)
         ELSE CAST(0.25 AS DOUBLE)
              * (r.v - (CAST(0.5 AS DOUBLE)
                        * (r.v - e.s[(r.rn - 1) % 4 + 1])
                        + CAST(0.5 AS DOUBLE) * (e.l + e.b)))
              + CAST(0.75 AS DOUBLE) * e.s[(r.rn - 1) % 4 + 1] END
  FROM e JOIN r ON r.user_id = e.user_id AND r.rn = e.rn + 1)
SELECT user_id, event_id, outl AS level, outb AS trend,
       outs AS season
FROM e
""")
def q_holt_winters(spark, sf_dir):
    """Additive Holt-Winters triple smoothing (alpha=0.5, beta=0.25,
    gamma=0.25, period 4 — all binary-exact) over each user's
    non-NULL event values: the DuckDB oracle replays the recurrence
    in a recursive CTE carrying the seasonal RING BUFFER as a list
    column (slot splice per row), with the identical IEEE op
    sequence down to the left-to-right init mean — three coupled
    states compared UNROUNDED."""
    from beam_spark.operators.stats import HoltWinters

    ev = table(spark, sf_dir, "events").df.filter("value IS NOT NULL")
    out = (PCollection(ev) | HoltWinters(
        "value", alpha=0.5, beta=0.25, gamma=0.25, period=4,
        keys="user_id", order_by=["ts", "event_id"])).df
    return out.select("user_id", "event_id",
                      F.col("level"), F.col("trend"),
                      F.col("season"))


@query("q_ts_holt_winters_fc", """
WITH RECURSIVE r AS (
  SELECT user_id, event_id, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL),
e AS (
  SELECT user_id, event_id, rn,
         [v] AS xs, v AS tot,
         CAST(NULL AS DOUBLE) AS l, CAST(NULL AS DOUBLE) AS b,
         CAST(NULL AS DOUBLE[]) AS s,
         CAST(NULL AS DOUBLE) AS outl, CAST(NULL AS DOUBLE) AS outb,
         CAST(NULL AS DOUBLE) AS outs
  FROM r WHERE rn = 1
  UNION ALL
  SELECT r.user_id, r.event_id, r.rn,
    CASE WHEN r.rn < 4 THEN list_concat(e.xs, [r.v]) ELSE e.xs END,
    CASE WHEN r.rn < 4 THEN e.tot + r.v ELSE e.tot END,
    CASE WHEN r.rn < 4 THEN CAST(NULL AS DOUBLE)
         WHEN r.rn = 4 THEN (e.tot + r.v) / 4
         ELSE CAST(0.5 AS DOUBLE) * (r.v - e.s[(r.rn - 1) % 4 + 1])
              + CAST(0.5 AS DOUBLE) * (e.l + e.b) END,
    CASE WHEN r.rn < 4 THEN CAST(NULL AS DOUBLE)
         WHEN r.rn = 4 THEN CAST(0 AS DOUBLE)
         ELSE CAST(0.25 AS DOUBLE)
              * ((CAST(0.5 AS DOUBLE)
                  * (r.v - e.s[(r.rn - 1) % 4 + 1])
                  + CAST(0.5 AS DOUBLE) * (e.l + e.b)) - e.l)
              + CAST(0.75 AS DOUBLE) * e.b END,
    CASE WHEN r.rn < 4 THEN CAST(NULL AS DOUBLE[])
         WHEN r.rn = 4 THEN list_transform(
             list_concat(e.xs, [r.v]),
             xi -> xi - (e.tot + r.v) / 4)
         ELSE list_concat(list_concat(
             e.s[:(r.rn - 1) % 4],
             [CAST(0.25 AS DOUBLE)
              * (r.v - (CAST(0.5 AS DOUBLE)
                        * (r.v - e.s[(r.rn - 1) % 4 + 1])
                        + CAST(0.5 AS DOUBLE) * (e.l + e.b)))
              + CAST(0.75 AS DOUBLE) * e.s[(r.rn - 1) % 4 + 1]]),
             e.s[(r.rn - 1) % 4 + 2:]) END,
    CASE WHEN r.rn <= 4 THEN CAST(NULL AS DOUBLE)
         ELSE CAST(0.5 AS DOUBLE) * (r.v - e.s[(r.rn - 1) % 4 + 1])
              + CAST(0.5 AS DOUBLE) * (e.l + e.b) END,
    CASE WHEN r.rn <= 4 THEN CAST(NULL AS DOUBLE)
         ELSE CAST(0.25 AS DOUBLE)
              * ((CAST(0.5 AS DOUBLE)
                  * (r.v - e.s[(r.rn - 1) % 4 + 1])
                  + CAST(0.5 AS DOUBLE) * (e.l + e.b)) - e.l)
              + CAST(0.75 AS DOUBLE) * e.b END,
    CASE WHEN r.rn <= 4 THEN CAST(NULL AS DOUBLE)
         ELSE CAST(0.25 AS DOUBLE)
              * (r.v - (CAST(0.5 AS DOUBLE)
                        * (r.v - e.s[(r.rn - 1) % 4 + 1])
                        + CAST(0.5 AS DOUBLE) * (e.l + e.b)))
              + CAST(0.75 AS DOUBLE) * e.s[(r.rn - 1) % 4 + 1] END
  FROM e JOIN r ON r.user_id = e.user_id AND r.rn = e.rn + 1)
SELECT user_id, event_id, outl AS level, outb AS trend,
       outs AS season,
       outl + outb + s[(rn % 4) + 1] AS forecast_next
FROM e
""")
def q_holt_winters_fc(spark, sf_dir):
    """Additive Holt-Winters with the one-step-ahead FORECAST column:
    x-hat_{t+1|t} = l_t + b_t + s_{t+1-m} — derived in the oracle\'s
    final SELECT from the recursive CTE\'s updated ring buffer (slot
    (rn % 4) + 1 is exactly the seasonal the next step consumes), so
    the forecast is compared UNROUNDED like its parent states."""
    from beam_spark.operators.stats import HoltWinters

    ev = table(spark, sf_dir, "events").df.filter("value IS NOT NULL")
    out = (PCollection(ev) | HoltWinters(
        "value", alpha=0.5, beta=0.25, gamma=0.25, period=4,
        keys="user_id", order_by=["ts", "event_id"],
        emit_forecast=True)).df
    return out.select("user_id", "event_id", "level", "trend",
                      "season", "forecast_next")


@query("q_ts_holt_winters_mul", """
WITH RECURSIVE r AS (
  SELECT user_id, event_id, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL AND value > 0),
e AS (
  SELECT user_id, event_id, rn,
         [v] AS xs, v AS tot,
         CAST(NULL AS DOUBLE) AS l, CAST(NULL AS DOUBLE) AS b,
         CAST(NULL AS DOUBLE[]) AS s,
         CAST(NULL AS DOUBLE) AS outl, CAST(NULL AS DOUBLE) AS outb,
         CAST(NULL AS DOUBLE) AS outs
  FROM r WHERE rn = 1
  UNION ALL
  SELECT r.user_id, r.event_id, r.rn,
    CASE WHEN r.rn < 4 THEN list_concat(e.xs, [r.v]) ELSE e.xs END,
    CASE WHEN r.rn < 4 THEN e.tot + r.v ELSE e.tot END,
    CASE WHEN r.rn < 4 THEN CAST(NULL AS DOUBLE)
         WHEN r.rn = 4 THEN (e.tot + r.v) / 4
         ELSE CAST(0.5 AS DOUBLE) * (r.v / e.s[(r.rn - 1) % 4 + 1])
              + CAST(0.5 AS DOUBLE) * (e.l + e.b) END,
    CASE WHEN r.rn < 4 THEN CAST(NULL AS DOUBLE)
         WHEN r.rn = 4 THEN CAST(0 AS DOUBLE)
         ELSE CAST(0.25 AS DOUBLE)
              * ((CAST(0.5 AS DOUBLE)
                  * (r.v / e.s[(r.rn - 1) % 4 + 1])
                  + CAST(0.5 AS DOUBLE) * (e.l + e.b)) - e.l)
              + CAST(0.75 AS DOUBLE) * e.b END,
    CASE WHEN r.rn < 4 THEN CAST(NULL AS DOUBLE[])
         WHEN r.rn = 4 THEN list_transform(
             list_concat(e.xs, [r.v]),
             xi -> xi / ((e.tot + r.v) / 4))
         ELSE list_concat(list_concat(
             e.s[:(r.rn - 1) % 4],
             [CAST(0.25 AS DOUBLE)
              * (r.v / (CAST(0.5 AS DOUBLE)
                        * (r.v / e.s[(r.rn - 1) % 4 + 1])
                        + CAST(0.5 AS DOUBLE) * (e.l + e.b)))
              + CAST(0.75 AS DOUBLE) * e.s[(r.rn - 1) % 4 + 1]]),
             e.s[(r.rn - 1) % 4 + 2:]) END,
    CASE WHEN r.rn <= 4 THEN CAST(NULL AS DOUBLE)
         ELSE CAST(0.5 AS DOUBLE) * (r.v / e.s[(r.rn - 1) % 4 + 1])
              + CAST(0.5 AS DOUBLE) * (e.l + e.b) END,
    CASE WHEN r.rn <= 4 THEN CAST(NULL AS DOUBLE)
         ELSE CAST(0.25 AS DOUBLE)
              * ((CAST(0.5 AS DOUBLE)
                  * (r.v / e.s[(r.rn - 1) % 4 + 1])
                  + CAST(0.5 AS DOUBLE) * (e.l + e.b)) - e.l)
              + CAST(0.75 AS DOUBLE) * e.b END,
    CASE WHEN r.rn <= 4 THEN CAST(NULL AS DOUBLE)
         ELSE CAST(0.25 AS DOUBLE)
              * (r.v / (CAST(0.5 AS DOUBLE)
                        * (r.v / e.s[(r.rn - 1) % 4 + 1])
                        + CAST(0.5 AS DOUBLE) * (e.l + e.b)))
              + CAST(0.75 AS DOUBLE) * e.s[(r.rn - 1) % 4 + 1] END
  FROM e JOIN r ON r.user_id = e.user_id AND r.rn = e.rn + 1)
SELECT user_id, event_id, outl AS level, outb AS trend,
       outs AS season
FROM e
""")
def q_holt_winters_mul(spark, sf_dir):
    """MULTIPLICATIVE Holt-Winters (alpha=0.5, beta=0.25, gamma=0.25,
    period 4) over each user's strictly-positive event values: the
    seasonal state is a RATIO ring buffer (s_i = x_i / l at init;
    s_t = gamma*(x_t/l_t) + (1-gamma)*s_{t-m}) and the level update
    divides by the season — otherwise the identical recursive-CTE
    replay as the additive oracle, compared UNROUNDED (division is
    IEEE-deterministic, so the op sequences still match bit-exactly)."""
    from beam_spark.operators.stats import HoltWinters

    ev = table(spark, sf_dir, "events").df.filter(
        "value IS NOT NULL AND value > 0")
    out = (PCollection(ev) | HoltWinters(
        "value", alpha=0.5, beta=0.25, gamma=0.25, period=4,
        keys="user_id", order_by=["ts", "event_id"],
        mode="multiplicative")).df
    return out.select("user_id", "event_id",
                      F.col("level"), F.col("trend"),
                      F.col("season"))


def _theta_sql(extra_where: str = "") -> str:
    """Theta-method replay oracle; ``extra_where`` appends an AND
    clause to the event filter (the gate folds a user_id%10 slice —
    the same recursion, 10x fewer keys)."""
    return _THETA_SQL_TPL.format(extra=extra_where)


_THETA_SQL_TPL = """
WITH RECURSIVE r AS (
  SELECT user_id, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL{extra}),
acc AS (
  SELECT user_id, rn, CAST(1 AS DOUBLE) AS st, v AS sy,
         CAST(1 AS DOUBLE) AS stt, CAST(1 AS DOUBLE) * v AS sty
  FROM r WHERE rn = 1
  UNION ALL
  SELECT r.user_id, r.rn,
         acc.st + CAST(r.rn AS DOUBLE),
         acc.sy + r.v,
         acc.stt + CAST(r.rn AS DOUBLE) * CAST(r.rn AS DOUBLE),
         acc.sty + CAST(r.rn AS DOUBLE) * r.v
  FROM acc JOIN r ON r.user_id = acc.user_id AND r.rn = acc.rn + 1),
fin AS (SELECT user_id, max(rn) AS n FROM r GROUP BY user_id
        HAVING max(rn) >= 2),
ols AS (
  SELECT f.user_id, f.n, a.sy, a.st,
         (CAST(f.n AS DOUBLE) * a.sty - a.st * a.sy)
           / (CAST(f.n AS DOUBLE) * a.stt - a.st * a.st) AS b
  FROM fin f JOIN acc a ON a.user_id = f.user_id AND a.rn = f.n),
ols2 AS (
  SELECT user_id, n, b,
         (sy - b * st) / CAST(n AS DOUBLE) AS ic
  FROM ols),
ses AS (
  SELECT r.user_id, r.rn,
         CAST(2 AS DOUBLE) * r.v - (o.ic + o.b * CAST(1 AS DOUBLE))
           AS l
  FROM r JOIN ols2 o ON o.user_id = r.user_id WHERE r.rn = 1
  UNION ALL
  SELECT r.user_id, r.rn,
         CAST(0.5 AS DOUBLE)
           * (CAST(2 AS DOUBLE) * r.v
              - (o.ic + o.b * CAST(r.rn AS DOUBLE)))
         + CAST(0.5 AS DOUBLE) * ses.l
  FROM ses JOIN r ON r.user_id = ses.user_id AND r.rn = ses.rn + 1
  JOIN ols2 o ON o.user_id = r.user_id),
last AS (
  SELECT s.user_id, s.l, o.n, o.b, o.ic
  FROM ses s JOIN ols2 o ON o.user_id = s.user_id AND s.rn = o.n)
SELECT user_id, h, b AS slope, ic AS intercept, l AS level,
       CAST(0.5 AS DOUBLE)
         * (ic + b * (CAST(n AS DOUBLE) + CAST(h AS DOUBLE)))
       + CAST(0.5 AS DOUBLE) * l AS forecast
FROM last CROSS JOIN (VALUES (CAST(1 AS INT)), (CAST(3 AS INT))) t(h)
"""


@query("q_ts_theta_forecast", _theta_sql())
def q_theta_forecast(spark, sf_dir):
    """Theta-method forecasts (h=1 and h=3, alpha=0.5) per user over
    non-NULL event values: the oracle chains TWO recursive CTEs — the
    left-to-right OLS moment accumulation, then the SES recurrence on
    the theta=2 line — replaying the operator's exact IEEE sequence,
    so slope/intercept/level/forecast all compare UNROUNDED."""
    from beam_spark.operators.stats import ThetaForecast

    ev = table(spark, sf_dir, "events").df.filter("value IS NOT NULL")
    out = (PCollection(ev) | ThetaForecast(
        "value", keys="user_id", order_by=["ts", "event_id"],
        alpha=0.5, horizons=[1, 3])).df
    return out.select("user_id", "h", "slope", "intercept",
                      "level", "forecast")


# Drift-damped ("optimized") theta: identical OLS + SES replay, but the
# linear term extrapolates by the damped step sum S_h = phi*(1-phi^h)/
# (1-phi). phi=0.5 keeps every power dyadic-exact, so the forecast still
# compares UNROUNDED.
_THETA_DAMPED_SQL = _theta_sql().replace(
    "CAST(h AS DOUBLE)",
    "(CAST(0.5 AS DOUBLE)"
    " * (CAST(1 AS DOUBLE) - power(CAST(0.5 AS DOUBLE),"
    " CAST(h AS DOUBLE)))"
    " / (CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE)))")


@query("q_ts_theta_damped", _THETA_DAMPED_SQL)
def q_theta_damped(spark, sf_dir):
    """Drift-damped theta forecasts (phi=0.5, h=1 and h=3): the same
    two chained recursive CTEs as q_ts_theta_forecast, with the final
    extrapolation's step h replaced by the dyadic-exact geometric sum
    0.5*(1-0.5^h)/(1-0.5) — compared UNROUNDED."""
    from beam_spark.operators.stats import ThetaForecast

    ev = table(spark, sf_dir, "events").df.filter("value IS NOT NULL")
    out = (PCollection(ev) | ThetaForecast(
        "value", keys="user_id", order_by=["ts", "event_id"],
        alpha=0.5, horizons=[1, 3], damping=0.5)).df
    return out.select("user_id", "h", "slope", "intercept",
                      "level", "forecast")


_JSD_SQL = """
SELECT 'value' AS "column", round(sum(term), 6) AS jsd,
       CAST(sum(nr) AS BIGINT) AS n_ref, CAST(sum(nc) AS BIGINT) AS n_cur,
       CAST(round(sum(term), 6) > CAST(0.1 AS DOUBLE) AS INT) AS drifted
FROM (
  SELECT (CASE WHEN nr > 0 THEN
            CAST(0.5 AS DOUBLE) * (CAST(nr AS DOUBLE) / sum(nr) OVER ())
            * log2(CAST(2 AS DOUBLE)
                   * (CAST(nr AS DOUBLE) / sum(nr) OVER ())
                   / ((CAST(nr AS DOUBLE) / sum(nr) OVER ())
                      + (CAST(nc AS DOUBLE) / sum(nc) OVER ())))
          ELSE CAST(0 AS DOUBLE) END)
         + (CASE WHEN nc > 0 THEN
              CAST(0.5 AS DOUBLE) * (CAST(nc AS DOUBLE) / sum(nc) OVER ())
              * log2(CAST(2 AS DOUBLE)
                     * (CAST(nc AS DOUBLE) / sum(nc) OVER ())
                     / ((CAST(nr AS DOUBLE) / sum(nr) OVER ())
                        + (CAST(nc AS DOUBLE) / sum(nc) OVER ())))
            ELSE CAST(0 AS DOUBLE) END) AS term, nr, nc
  FROM (
    SELECT coalesce(rb.bin, cb.bin) AS bin,
           coalesce(rb.nr, 0) AS nr, coalesce(cb.nc, 0) AS nc
    FROM (SELECT CASE WHEN st.mx = st.mn THEN 0
                 ELSE CAST(least(9, greatest(0,
                      floor((x - st.mn) / ((st.mx - st.mn) / 10)))) AS INT)
                 END AS bin, count(*) AS nr
          FROM (SELECT CAST(value AS DOUBLE) AS x FROM events
                WHERE event_type = 'view' AND value IS NOT NULL) r,
               (SELECT min(CAST(value AS DOUBLE)) AS mn,
                       max(CAST(value AS DOUBLE)) AS mx FROM events
                WHERE event_type = 'view' AND value IS NOT NULL) st
          GROUP BY 1) rb
    FULL JOIN
         (SELECT CASE WHEN st.mx = st.mn THEN 0
                 ELSE CAST(least(9, greatest(0,
                      floor((x - st.mn) / ((st.mx - st.mn) / 10)))) AS INT)
                 END AS bin, count(*) AS nc
          FROM (SELECT CAST(value AS DOUBLE) AS x FROM events
                WHERE event_type = 'purchase' AND value IS NOT NULL) u,
               (SELECT min(CAST(value AS DOUBLE)) AS mn,
                       max(CAST(value AS DOUBLE)) AS mx FROM events
                WHERE event_type = 'view' AND value IS NOT NULL) st
          GROUP BY 1) cb
    ON rb.bin = cb.bin))"""


@query("q_quality_jsd_drift", _JSD_SQL)
def q_jsd_drift(spark, sf_dir):
    """Jensen-Shannon drift (base-2, bounded [0,1], zero-bin-safe
    without eps clamping): reference = view-event values, current =
    purchase-event values, 10 reference-range bins — the DuckDB
    oracle replays the identical binning and per-bin JSD terms,
    rounded 6 (the per-bin sum is <= 20 terms)."""
    from beam_spark.operators.quality import DistributionDrift

    ev = table(spark, sf_dir, "events").df.filter("value IS NOT NULL")
    ref = ev.filter("event_type = 'view'")
    cur = ev.filter("event_type = 'purchase'")
    return (PCollection(cur)
            | DistributionDrift(ref, "value", metric="jsd")).df


def _croston_sql(where: str = "TRUE") -> str:
    """Croston replay oracle; ``where`` filters the event base (the
    gate folds a user_id%10 slice)."""
    return _CROSTON_SQL_TPL.format(where=where)


_CROSTON_SQL_TPL = """
WITH RECURSIVE ev AS (
  SELECT user_id,
         CASE WHEN event_type = 'purchase'
              THEN CAST(coalesce(value, 0) AS DOUBLE)
              ELSE CAST(0 AS DOUBLE) END AS d,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS idx
  FROM events WHERE {where}),
dem AS (
  SELECT user_id, d, idx,
         row_number() OVER (PARTITION BY user_id ORDER BY idx) AS rn
  FROM ev WHERE d <> 0),
s AS (
  SELECT user_id, rn, idx, d AS z, CAST(idx AS DOUBLE) AS p
  FROM dem WHERE rn = 1
  UNION ALL
  SELECT dem.user_id, dem.rn, dem.idx,
         CAST(0.5 AS DOUBLE) * dem.d + CAST(0.5 AS DOUBLE) * s.z,
         CAST(0.5 AS DOUBLE) * CAST(dem.idx - s.idx AS DOUBLE)
           + CAST(0.5 AS DOUBLE) * s.p
  FROM s JOIN dem ON dem.user_id = s.user_id AND dem.rn = s.rn + 1),
fin AS (SELECT user_id, max(rn) AS demands FROM dem GROUP BY user_id)
SELECT f.user_id, CAST(f.demands AS BIGINT) AS demands, s.z, s.p,
       s.z / s.p AS forecast,
       CAST(0.75 AS DOUBLE) * (s.z / s.p) AS sba
FROM fin f JOIN s ON s.user_id = f.user_id AND s.rn = f.demands"""


@query("q_ts_croston", _croston_sql())
def q_croston(spark, sf_dir):
    """Croston intermittent-demand forecast (alpha=0.5) per user:
    demand = purchase-event value, every other event a zero period
    advancing the interval counter — the oracle replays the coupled
    size/interval SES recurrences over DEMAND rows only in one
    recursive CTE carrying (z, p, idx), compared UNROUNDED."""
    from beam_spark.operators.stats import CrostonForecast

    ev = table(spark, sf_dir, "events").df
    out = (PCollection(ev) | CrostonForecast(
        "value", keys="user_id", order_by=["ts", "event_id"],
        demand_if="event_type = 'purchase'", alpha=0.5)).df
    return out.select("user_id", "demands", "z", "p",
                      "forecast", "sba")


_MMR_SQL = """
WITH RECURSIVE emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cand AS (
  SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
         round(list_cosine_similarity(q.v, e.v), 6) AS score, e.v AS v
  FROM emb q JOIN emb e
    ON e.vec_id % 20 = q.vec_id AND e.vec_id <> q.vec_id
  WHERE q.vec_id < 5),
sel AS (
  SELECT query_id, 1 AS rank, doc_id,
         CAST(0.75 AS DOUBLE) * score AS mmr,
         [doc_id] AS sel_ids, [v] AS sel_vecs
  FROM (SELECT *, row_number() OVER (
          PARTITION BY query_id
          ORDER BY CAST(0.75 AS DOUBLE) * score DESC,
                   doc_id) AS rn
        FROM cand) t WHERE rn = 1
  UNION ALL
  SELECT query_id, rank + 1, doc_id, mmr,
         list_append(sel_ids, doc_id), list_append(sel_vecs, v)
  FROM (
    SELECT s.query_id, s.rank, c.doc_id,
           CAST(0.75 AS DOUBLE) * c.score
                 - CAST(0.25 AS DOUBLE) * list_max(list_transform(
                     s.sel_vecs,
                     sv -> round(list_cosine_similarity(c.v, sv), 6)))
             AS mmr,
           s.sel_ids, s.sel_vecs, c.v,
           row_number() OVER (
             PARTITION BY s.query_id
             ORDER BY CAST(0.75 AS DOUBLE) * c.score
                 - CAST(0.25 AS DOUBLE) * list_max(list_transform(
                     s.sel_vecs,
                     sv -> round(list_cosine_similarity(c.v, sv), 6)))
                 DESC, c.doc_id) AS rn
    FROM sel s JOIN cand c
      ON c.query_id = s.query_id
     AND NOT list_contains(s.sel_ids, c.doc_id)
    WHERE s.rank < 8) t
  WHERE rn = 1)
SELECT query_id, doc_id, CAST(rank AS INT) AS rank, mmr FROM sel"""


@query("q_ann_mmr_rerank", _MMR_SQL)
def q_mmr_rerank(spark, sf_dir):
    """MMR diversity re-ranking (k=8, lam=0.75) over deterministic
    per-query candidate buckets (vec_id % 20, 25 candidates each for
    queries 0..4): the DuckDB oracle replays the greedy selection in
    a recursive CTE carrying the selected-vector list — per-pair
    cosines rounded 6, the mmr objective UNROUNDED (identical IEEE
    ops on identical round-6 inputs — rounding it would hit exact
    half-boundaries), doc-id tie-breaks at every step, so the
    (rank, doc, mmr) sequence is bit-exact."""
    from beam_spark.operators.retrieval import MmrRerank

    emb = table(spark, sf_dir, "embeddings").df
    q = emb.filter("vec_id < 5").selectExpr("vec_id AS qid",
                                            "embedding AS qv")
    cand = (emb.join(q, F.expr("vec_id % 20") == F.col("qid"))
            .filter("vec_id <> qid")
            .selectExpr("qid AS query_id", "vec_id AS doc_id",
                        "qv", "embedding"))

    # score with the same numpy path the ANN operators use (round 6
    # matches DuckDB's list_cosine_similarity, the established gate
    # precedent)
    import numpy as np
    import pandas as pd

    def score(batches):
        for pdf in batches:
            a = np.array(list(pdf["qv"]), dtype=np.float64)
            b = np.array(list(pdf["embedding"]), dtype=np.float64)
            a = a / np.linalg.norm(a, axis=1, keepdims=True)
            b = b / np.linalg.norm(b, axis=1, keepdims=True)
            yield pd.DataFrame({
                "query_id": pdf["query_id"], "doc_id": pdf["doc_id"],
                "score": np.round((a * b).sum(axis=1), 6)})

    scored = cand.mapInPandas(
        score, schema="query_id long, doc_id long, score double")
    out = (PCollection(scored) | MmrRerank(
        emb, k=8, lam=0.75, query_col="query_id", doc_col="doc_id",
        score_col="score")).df
    return out.select("query_id", "doc_id", "rank", "mmr")


_TSB_SQL = """
WITH RECURSIVE ev AS (
  SELECT user_id,
         CASE WHEN event_type = 'purchase'
              THEN CAST(coalesce(value, 0) AS DOUBLE)
              ELSE CAST(0 AS DOUBLE) END AS d,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS idx
  FROM events),
s AS (
  SELECT user_id, idx,
         CASE WHEN d <> 0 THEN CAST(1 AS DOUBLE)
              ELSE CAST(0 AS DOUBLE) END AS p,
         CASE WHEN d <> 0 THEN d ELSE CAST(NULL AS DOUBLE) END AS z
  FROM ev WHERE idx = 1
  UNION ALL
  SELECT ev.user_id, ev.idx,
         CAST(0.25 AS DOUBLE) * (CASE WHEN ev.d <> 0
                                      THEN CAST(1 AS DOUBLE)
                                      ELSE CAST(0 AS DOUBLE) END)
           + CAST(0.75 AS DOUBLE) * s.p,
         CASE WHEN ev.d <> 0 THEN
           CASE WHEN s.z IS NULL THEN ev.d
                ELSE CAST(0.5 AS DOUBLE) * ev.d
                     + CAST(0.5 AS DOUBLE) * s.z END
         ELSE s.z END
  FROM s JOIN ev ON ev.user_id = s.user_id AND ev.idx = s.idx + 1),
fin AS (SELECT user_id, max(idx) AS n FROM ev GROUP BY user_id),
dems AS (SELECT user_id, count(*) AS demands FROM ev
         WHERE d <> 0 GROUP BY user_id)
SELECT f.user_id, CAST(f.n AS BIGINT) AS periods,
       CAST(dm.demands AS BIGINT) AS demands,
       s.z, s.p, s.p * s.z AS forecast
FROM fin f JOIN s ON s.user_id = f.user_id AND s.idx = f.n
JOIN dems dm ON dm.user_id = f.user_id"""


@query("q_ts_tsb", _TSB_SQL)
def q_tsb(spark, sf_dir):
    """TSB intermittent-demand forecast (alpha=0.5, beta=0.25) per
    user — probability updated EVERY period, size on demand periods —
    the oracle replays both recurrences over every event row in one
    recursive CTE, compared UNROUNDED."""
    from beam_spark.operators.stats import TsbForecast

    ev = table(spark, sf_dir, "events").df
    out = (PCollection(ev) | TsbForecast(
        "value", keys="user_id", order_by=["ts", "event_id"],
        demand_if="event_type = 'purchase'")).df
    return out.select("user_id", "periods", "demands", "z", "p",
                      "forecast")


def _hw_cte(rn_name: str, e_name: str, mul: bool) -> str:
    """The Holt-Winters recursive-CTE replay (alpha=0.5, beta=0.25,
    gamma=0.25, period 4) parameterized by CTE names and mode — the
    IDENTICAL float expressions as the q_ts_holt_winters{,_mul}
    oracles (additive: x - s / x - l deltas; multiplicative: x / s,
    x / l ratios), so two modes can share one WITH RECURSIVE."""
    op = "/" if mul else "-"
    init_s = ("xi -> xi / ((e.tot + r.v) / 4)" if mul
              else "xi -> xi - (e.tot + r.v) / 4")
    flt = ("value IS NOT NULL AND value > 0" if mul
           else "value IS NOT NULL")
    r, e = rn_name, e_name
    lnew = (f"CAST(0.5 AS DOUBLE) * (r.v {op} e.s[(r.rn - 1) % 4 + 1])"
            f"\n              + CAST(0.5 AS DOUBLE) * (e.l + e.b)")
    return f"""{r} AS (
  SELECT user_id, event_id, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE {flt}),
{e} AS (
  SELECT user_id, event_id, rn,
         [v] AS xs, v AS tot,
         CAST(NULL AS DOUBLE) AS l, CAST(NULL AS DOUBLE) AS b,
         CAST(NULL AS DOUBLE[]) AS s,
         CAST(NULL AS DOUBLE) AS outl, CAST(NULL AS DOUBLE) AS outb,
         CAST(NULL AS DOUBLE) AS outs
  FROM {r} WHERE rn = 1
  UNION ALL
  SELECT r.user_id, r.event_id, r.rn,
    CASE WHEN r.rn < 4 THEN list_concat(e.xs, [r.v]) ELSE e.xs END,
    CASE WHEN r.rn < 4 THEN e.tot + r.v ELSE e.tot END,
    CASE WHEN r.rn < 4 THEN CAST(NULL AS DOUBLE)
         WHEN r.rn = 4 THEN (e.tot + r.v) / 4
         ELSE {lnew} END,
    CASE WHEN r.rn < 4 THEN CAST(NULL AS DOUBLE)
         WHEN r.rn = 4 THEN CAST(0 AS DOUBLE)
         ELSE CAST(0.25 AS DOUBLE)
              * (({lnew}) - e.l)
              + CAST(0.75 AS DOUBLE) * e.b END,
    CASE WHEN r.rn < 4 THEN CAST(NULL AS DOUBLE[])
         WHEN r.rn = 4 THEN list_transform(
             list_concat(e.xs, [r.v]),
             {init_s})
         ELSE list_concat(list_concat(
             e.s[:(r.rn - 1) % 4],
             [CAST(0.25 AS DOUBLE)
              * (r.v {op} ({lnew}))
              + CAST(0.75 AS DOUBLE) * e.s[(r.rn - 1) % 4 + 1]]),
             e.s[(r.rn - 1) % 4 + 2:]) END,
    CASE WHEN r.rn <= 4 THEN CAST(NULL AS DOUBLE)
         ELSE {lnew} END,
    CASE WHEN r.rn <= 4 THEN CAST(NULL AS DOUBLE)
         ELSE CAST(0.25 AS DOUBLE)
              * (({lnew}) - e.l)
              + CAST(0.75 AS DOUBLE) * e.b END,
    CASE WHEN r.rn <= 4 THEN CAST(NULL AS DOUBLE)
         ELSE CAST(0.25 AS DOUBLE)
              * (r.v {op} ({lnew}))
              + CAST(0.75 AS DOUBLE) * e.s[(r.rn - 1) % 4 + 1] END
  FROM {e} e JOIN {r} r ON r.user_id = e.user_id AND r.rn = e.rn + 1)"""


_HW_FC_H_SQL = f"""WITH RECURSIVE
{_hw_cte("ra", "ea", mul=False)},
{_hw_cte("rm", "em", mul=True)}
SELECT 'add' AS mode, user_id, event_id,
       outl + 2 * outb + s[((rn + 1) % 4) + 1] AS fc_h2,
       outl + 5 * outb + s[(rn % 4) + 1] AS fc_h5
FROM ea
UNION ALL
SELECT 'mul' AS mode, user_id, event_id,
       (outl + 2 * outb) * s[((rn + 1) % 4) + 1] AS fc_h2,
       (outl + 5 * outb) * s[(rn % 4) + 1] AS fc_h5
FROM em"""


@query("q_ts_hw_forecast_h", _HW_FC_H_SQL)
def q_hw_forecast_h(spark, sf_dir):
    """h-step Holt-Winters forecasts (h=2 within the period, h=5
    wrapping past it — slot (rn%4)+1, the same seasonal h=1 consumes)
    for BOTH modes as tagged rows: x̂_{t+h|t} = l + h*b + s[(t+h)%m]
    (multiplicative: (l + h*b) * s[(t+h)%m]), derived in the oracle's
    final SELECT from the recursive ring buffer — compared UNROUNDED
    (int*double then adds: identical IEEE sequence both engines)."""
    from beam_spark.operators.stats import HoltWinters

    ev = table(spark, sf_dir, "events").df.filter("value IS NOT NULL")
    add = (PCollection(ev) | HoltWinters(
        "value", alpha=0.5, beta=0.25, gamma=0.25, period=4,
        keys="user_id", order_by=["ts", "event_id"],
        forecast_horizons=[2, 5])).df
    mul = (PCollection(ev.filter("value > 0")) | HoltWinters(
        "value", alpha=0.5, beta=0.25, gamma=0.25, period=4,
        keys="user_id", order_by=["ts", "event_id"],
        mode="multiplicative", forecast_horizons=[2, 5])).df
    return add.selectExpr(
        "'add' AS mode", "user_id", "event_id",
        "forecast_h2 AS fc_h2", "forecast_h5 AS fc_h5").unionByName(
        mul.selectExpr("'mul' AS mode", "user_id", "event_id",
                       "forecast_h2 AS fc_h2", "forecast_h5 AS fc_h5"))


def _forecast_eval_sql() -> str:
    return f"""WITH RECURSIVE
{_hw_cte("r", "e", mul=False)},
fc AS (SELECT e.user_id, e.rn,
              e.outl + e.outb + e.s[(e.rn % 4) + 1] AS fnext FROM e),
av AS (SELECT r.user_id, r.rn, r.v,
              lead(r.v) OVER (PARTITION BY r.user_id
                              ORDER BY r.rn) AS an FROM r),
j AS (SELECT av.user_id, av.an,
             CASE WHEN av.an IS NOT NULL AND fc.fnext IS NOT NULL
                  THEN av.an - fc.fnext END AS e2,
             av.an - lag(av.an) OVER (PARTITION BY av.user_id
                                      ORDER BY av.rn) AS ne
      FROM av JOIN fc ON fc.user_id = av.user_id AND fc.rn = av.rn)
SELECT user_id, count(e2) AS n,
       round(avg(abs(e2)), 6) AS mae,
       round(sqrt(avg(e2 * e2)), 6) AS rmse,
       round(avg(CASE WHEN an <> 0 THEN abs(e2 / an) END), 6) AS mape,
       round(avg(e2), 6) AS bias,
       round(CASE WHEN avg(abs(ne)) <> 0
                  THEN avg(abs(e2)) / avg(abs(ne)) END, 6) AS mase
FROM j GROUP BY user_id"""


@query("q_ts_forecast_eval", _forecast_eval_sql())
def q_forecast_eval(spark, sf_dir):
    """Backtest report for the Holt-Winters one-step forecast: pair
    forecast_next with the NEXT row's actual per user, then per-key
    MAE / RMSE / MAPE / bias / MASE (naive denominator = mean
    |consecutive diff| of the shifted actual series). The oracle
    chains the HW recursive replay, the lead/lag pairing, and the
    metric aggregation — ratios rounded 6."""
    from pyspark.sql import Window

    from beam_spark.operators.stats import ForecastEval, HoltWinters

    ev = table(spark, sf_dir, "events").df.filter("value IS NOT NULL")
    hw = (PCollection(ev) | HoltWinters(
        "value", alpha=0.5, beta=0.25, gamma=0.25, period=4,
        keys="user_id", order_by=["ts", "event_id"],
        emit_forecast=True)).df
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = hw.withColumn("actual_next",
                      F.lead(F.col("value").cast("double")).over(w))
    out = (PCollection(d) | ForecastEval(
        "actual_next", "forecast_next", keys="user_id",
        order_by=["ts", "event_id"])).df
    return out.select("user_id", "n", "mae", "rmse", "mape",
                      "bias", "mase")



@query("q_quality_winsorize", """
WITH b AS (SELECT quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25)
                    AS lo,
                  quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75)
                    AS hi
           FROM lineitem)
SELECT l_orderkey, l_linenumber,
       round(least(greatest(CAST(l_extendedprice AS DOUBLE), b.lo),
                   b.hi), 6) AS l_extendedprice_wins,
       CAST(CASE WHEN CAST(l_extendedprice AS DOUBLE) < b.lo THEN -1
                 WHEN CAST(l_extendedprice AS DOUBLE) > b.hi THEN 1
                 ELSE 0 END AS INT) AS l_extendedprice_clipped
FROM lineitem, b
""")
def q_winsorize(spark, sf_dir):
    """Winsorize l_extendedprice at the exact [p25, p75] (binary-
    exact fractions; the aggressive band makes both tails clip on
    every SF): Spark's exact interpolated percentile vs DuckDB's
    quantile_cont, clipped values rounded 6 (interpolation formulas
    differ at 1 ulp), clip flags exact."""
    from beam_spark.operators.quality import Winsorize

    li = table(spark, sf_dir, "lineitem").df
    out = (PCollection(li)
           | Winsorize("l_extendedprice", lower=0.25, upper=0.75)).df
    return out.select("l_orderkey", "l_linenumber",
                      "l_extendedprice_wins", "l_extendedprice_clipped")


@query("q_quality_robust_scale", """
WITH b AS (SELECT quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25)
                    AS lo,
                  quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5)
                    AS med,
                  quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75)
                    AS hi
           FROM lineitem)
SELECT l_orderkey, l_linenumber,
       round(CASE WHEN b.hi - b.lo <> 0 THEN
               (CAST(l_extendedprice AS DOUBLE) - b.med)
                 / (b.hi - b.lo) END, 6) AS l_extendedprice_scaled
FROM lineitem, b
""")
def q_robust_scale(spark, sf_dir):
    """Median/IQR robust scaling of l_extendedprice: exact
    interpolated [p25, p50, p75] vs DuckDB quantile_cont, the scaled
    value rounded 6 (identical (x - med) / (hi - lo) expression on
    1-ulp-close bounds)."""
    from beam_spark.operators.quality import RobustScale

    li = table(spark, sf_dir, "lineitem").df
    out = (PCollection(li) | RobustScale("l_extendedprice")).df
    return out.select("l_orderkey", "l_linenumber",
                      "l_extendedprice_scaled")


@query("q_dedup_blocking_quality", """
WITH recs AS (SELECT c_custkey AS id, c_nationkey AS nk,
                     c_mktsegment AS seg FROM customer),
cand AS (SELECT a.id AS i, b.id AS j FROM recs a JOIN recs b
         ON a.nk = b.nk AND a.id < b.id AND b.id - a.id <= 3),
truth AS (SELECT a.id AS i, b.id AS j FROM recs a JOIN recs b
          ON a.nk = b.nk AND a.seg = b.seg
             AND a.id < b.id AND b.id - a.id <= 6),
s AS (SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM cand) AS candidates,
  (SELECT CAST(count(*) AS BIGINT) FROM truth) AS truth,
  (SELECT CAST(count(*) AS BIGINT)
   FROM cand JOIN truth ON cand.i = truth.i AND cand.j = truth.j)
  AS matched,
  (SELECT CAST(count(*) AS BIGINT) FROM recs) AS n)
SELECT candidates, truth, matched,
       round(1 - CAST(candidates AS DOUBLE)
             / CAST((n * (n - 1)) // 2 AS DOUBLE), 6)
       AS reduction_ratio,
       round(CASE WHEN truth > 0
             THEN CAST(matched AS DOUBLE) / truth END, 6)
       AS pair_completeness,
       round(CASE WHEN candidates > 0
             THEN CAST(matched AS DOUBLE) / candidates END, 6)
       AS pair_quality
FROM s
""")
def q_blocking_quality(spark, sf_dir):
    """Blocking evaluation: the nation+key-proximity candidate set
    scored against a same-(nation, segment) gold rule — reduction
    ratio vs all C(n,2) pairs, pair completeness (blocking recall),
    pair quality (precision) — every count and ratio replayed by
    DuckDB (round 6)."""
    from beam_spark.operators.dedupe import BlockingQuality

    c = table(spark, sf_dir, "customer").df
    recs = c.selectExpr("c_custkey AS id", "c_nationkey AS nk",
                        "c_mktsegment AS seg")
    a = recs.selectExpr("id AS i", "nk AS nka", "seg AS sga")
    b = recs.selectExpr("id AS j", "nk AS nkb", "seg AS sgb")
    cand = (a.join(b, (F.col("nka") == F.col("nkb"))
                   & (F.col("i") < F.col("j"))
                   & (F.col("j") - F.col("i") <= 3))
            .select("i", "j"))
    truth = (a.join(b, (F.col("nka") == F.col("nkb"))
                    & (F.col("sga") == F.col("sgb"))
                    & (F.col("i") < F.col("j"))
                    & (F.col("j") - F.col("i") <= 6))
             .select("i", "j"))
    out = (PCollection(cand) | BlockingQuality(
        truth, total_records=recs.count())).df
    return out.select("candidates", "truth", "matched",
                      "reduction_ratio", "pair_completeness",
                      "pair_quality")


@query("q_dedup_jaro_winkler", """
WITH recs AS (SELECT c_custkey AS id, c_nationkey AS nk, c_name AS s
              FROM customer),
pairs AS (SELECT a.id AS i, b.id AS j, a.s AS sa, b.s AS sb
          FROM recs a JOIN recs b
            ON a.nk = b.nk AND a.id < b.id AND b.id - a.id <= 3)
SELECT i, j, round(jaro_similarity(sa, sb), 6) AS jaro,
       round(jaro_winkler_similarity(sa, sb), 6) AS jaro_winkler
FROM pairs
""")
def q_jaro_winkler(spark, sf_dir):
    """Jaro/Jaro-Winkler over nation-blocked customer-name pairs —
    the operator's from-scratch scorer value-matched against DuckDB's
    NATIVE jaro_similarity / jaro_winkler_similarity (independent C++
    implementation of the same 1990 parameterization; round 6)."""
    from beam_spark.operators.dedupe import JaroWinklerScore

    c = table(spark, sf_dir, "customer").df
    recs = c.selectExpr("c_custkey AS id", "c_nationkey AS nk",
                        "c_name AS s")
    a = recs.selectExpr("id AS i", "nk AS nka")
    b = recs.selectExpr("id AS j", "nk AS nkb")
    pairs = (a.join(b, (F.col("nka") == F.col("nkb"))
                    & (F.col("i") < F.col("j"))
                    & (F.col("j") - F.col("i") <= 3))
             .select("i", "j"))
    out = (PCollection(pairs) | JaroWinklerScore(
        recs, text_col="s", id_col="id")).df
    return out.select("i", "j", F.round("jaro", 6).alias("jaro"),
                      F.round("jaro_winkler", 6).alias("jaro_winkler"))


def _fs_em_oracle_sql(iters: int = 5) -> str:
    """Chained-CTE Fellegi-Sunter EM: the SAME fixed-iteration update
    the operator runs on its driver-side pattern table, one
    (E-step, M-step) CTE pair per round. Clamp bounds are the
    binary-exact 2^-20 / 1-2^-20; per-pattern likelihood products
    multiply in field order exactly like the operator (a NULL field
    multiplies by exactly 1.0 — bit-preserving); only the sums over
    the <= 27 patterns are order-free (ULP drift, absorbed by the
    round-6 output like the PageRank oracle's round-9)."""
    nf = 3
    head = """WITH recs AS (
  SELECT c_custkey AS id, c_nationkey AS nk, c_mktsegment AS f1,
         NULLIF(CAST(floor(c_acctbal / 1000) AS INT), 5) AS f2,
         CAST(length(c_name) % 3 AS INT) AS f3
  FROM customer),
pairs AS (
  SELECT a.id AS i, b.id AS j
  FROM recs a JOIN recs b
    ON a.nk = b.nk AND a.id < b.id AND b.id - a.id <= 5),
pg AS (
  SELECT
    CASE WHEN a.f1 IS NULL OR b.f1 IS NULL THEN NULL
         WHEN a.f1 = b.f1 THEN 1 ELSE 0 END AS g1,
    CASE WHEN a.f2 IS NULL OR b.f2 IS NULL THEN NULL
         WHEN a.f2 = b.f2 THEN 1 ELSE 0 END AS g2,
    CASE WHEN a.f3 IS NULL OR b.f3 IS NULL THEN NULL
         WHEN a.f3 = b.f3 THEN 1 ELSE 0 END AS g3
  FROM pairs p JOIN recs a ON p.i = a.id JOIN recs b ON p.j = b.id),
pat AS (SELECT g1, g2, g3, CAST(count(*) AS DOUBLE) AS n
        FROM pg GROUP BY g1, g2, g3),
it0 AS (SELECT CAST(0.875 AS DOUBLE) AS m1, CAST(0.875 AS DOUBLE) AS m2,
               CAST(0.875 AS DOUBLE) AS m3, CAST(0.125 AS DOUBLE) AS u1,
               CAST(0.125 AS DOUBLE) AS u2, CAST(0.125 AS DOUBLE) AS u3,
               CAST(0.125 AS DOUBLE) AS p),"""
    lo = "pow(CAST(2 AS DOUBLE), -20)"
    hi = "(1 - pow(CAST(2 AS DOUBLE), -20))"
    cte = [head]
    for k in range(1, iters + 1):
        mprod = " * ".join(
            f"(CASE WHEN g{i} IS NULL THEN CAST(1 AS DOUBLE) "
            f"WHEN g{i} = 1 THEN it.m{i} ELSE 1 - it.m{i} END)"
            for i in range(1, nf + 1))
        uprod = " * ".join(
            f"(CASE WHEN g{i} IS NULL THEN CAST(1 AS DOUBLE) "
            f"WHEN g{i} = 1 THEN it.u{i} ELSE 1 - it.u{i} END)"
            for i in range(1, nf + 1))
        cte.append(f"""e{k} AS (
  SELECT g1, g2, g3, n, pm / (pm + pu) AS w FROM (
    SELECT pat.g1, pat.g2, pat.g3, pat.n,
           it.p * {mprod} AS pm,
           (1 - it.p) * {uprod} AS pu
    FROM pat CROSS JOIN it{k - 1} it) x),""")
        sums = ["sum(n * w) AS tw", "sum(n) AS tn"]
        for i in range(1, nf + 1):
            sums += [
                f"coalesce(sum(CASE WHEN g{i} = 1 THEN n * w END), 0)"
                f" AS nm{i}",
                f"coalesce(sum(CASE WHEN g{i} IS NOT NULL "
                f"THEN n * w END), 0) AS dm{i}",
                f"coalesce(sum(CASE WHEN g{i} = 1 THEN n * (1 - w) "
                f"END), 0) AS nu{i}",
                f"coalesce(sum(CASE WHEN g{i} IS NOT NULL "
                f"THEN n * (1 - w) END), 0) AS du{i}"]
        params = ["s.tw / s.tn AS p"]
        for i in range(1, nf + 1):
            params += [
                f"CASE WHEN s.dm{i} > 0 THEN least(greatest("
                f"s.nm{i} / s.dm{i}, {lo}), {hi}) "
                f"ELSE prev.m{i} END AS m{i}",
                f"CASE WHEN s.du{i} > 0 THEN least(greatest("
                f"s.nu{i} / s.du{i}, {lo}), {hi}) "
                f"ELSE prev.u{i} END AS u{i}"]
        cte.append(f"""it{k} AS (
  SELECT {", ".join(params)}
  FROM (SELECT {", ".join(sums)} FROM e{k}) s
  CROSS JOIN it{k - 1} prev),""")
    cte[-1] = cte[-1].rstrip(",")
    tails = []
    for i, f in enumerate(["f1", "f2", "f3"], 1):
        tails.append(
            f"SELECT '{f}' AS field, round(m{i}, 6) AS m, "
            f"round(u{i}, 6) AS u, round(p, 6) AS p, "
            f"round(log2(m{i} / u{i}), 6) AS w_agree, "
            f"round(log2((1 - m{i}) / (1 - u{i})), 6) AS w_disagree "
            f"FROM it{iters}")
    return "\n".join(cte) + "\n" + "\nUNION ALL\n".join(tails)


@query("q_dedup_fs_em", _fs_em_oracle_sql())
def q_fs_em(spark, sf_dir):
    """Fellegi-Sunter EM from UNLABELED candidate pairs (Winkler
    1988): customers blocked by nation + key proximity, three
    agreement fields (mktsegment; an acctbal bucket with a planted
    NULL class via NULLIF; a name-length class) — m/u/p and the
    resulting log2 match weights replayed per EM round by DuckDB's
    chained-CTE oracle, compared at 6 dp."""
    from beam_spark.operators.dedupe import FellegiSunterEM

    c = table(spark, sf_dir, "customer").df
    recs = c.selectExpr(
        "c_custkey AS id", "c_nationkey AS nk", "c_mktsegment AS f1",
        "NULLIF(CAST(floor(c_acctbal / 1000) AS INT), 5) AS f2",
        "CAST(length(c_name) % 3 AS INT) AS f3")
    a = recs.selectExpr("id AS i", "nk AS nka")
    b = recs.selectExpr("id AS j", "nk AS nkb")
    pairs = (a.join(b, (F.col("nka") == F.col("nkb"))
                    & (F.col("i") < F.col("j"))
                    & (F.col("j") - F.col("i") <= 5))
             .select("i", "j"))
    out = (PCollection(pairs) | FellegiSunterEM(
        recs, ["f1", "f2", "f3"], id_col="id", iterations=5)).df
    return out.select("field", "m", "u", "p", "w_agree", "w_disagree")


@query("q_quality_benford", """
WITH v AS (
  SELECT regexp_extract(CAST(abs(CAST(o_totalprice AS DOUBLE))
                             AS VARCHAR), '[1-9]') AS d
  FROM orders WHERE o_totalprice IS NOT NULL),
c AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM v
      WHERE d <> '' GROUP BY d),
f AS (SELECT CAST(g AS INT) AS digit,
             coalesce(n, 0) AS n
      FROM generate_series(1, 9) s(g)
      LEFT JOIN c ON CAST(g AS VARCHAR) = c.d),
t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM f)
SELECT digit, n,
       round(CAST(n AS DOUBLE) / tot, 6) AS freq,
       round(log10(1 + CAST(1 AS DOUBLE) / digit), 6) AS expected,
       round(tot * pow(CAST(n AS DOUBLE) / tot
                       - log10(1 + CAST(1 AS DOUBLE) / digit), 2)
             / log10(1 + CAST(1 AS DOUBLE) / digit), 6) AS chi2_term
FROM f CROSS JOIN t
""")
def q_benford(spark, sf_dir):
    """Benford first-digit profile of order totals: digit counts from
    the double's round-trip string form (dodging the log10(10^k) =
    2.999... floor trap and covering the full double range), Benford
    expectations, and per-digit Pearson chi2 terms — DuckDB
    recomputes the digit extraction and every term (round 6)."""
    from beam_spark.operators.quality import BenfordProfile

    o = table(spark, sf_dir, "orders")
    out = (o | BenfordProfile("o_totalprice")).df
    return out.select("digit", "n", "freq", "expected", "chi2_term")


@query("q_quality_histogram", """
WITH x AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
           WHERE o_totalprice IS NOT NULL),
st AS (SELECT min(v) AS mn, max(v) AS mx FROM x),
b AS (SELECT CAST(CASE WHEN st.mx = st.mn THEN 0
         ELSE least(19, greatest(0, floor((x.v - st.mn)
                                          / ((st.mx - st.mn) / 20))))
         END AS INT) AS bin
      FROM x, st)
SELECT bin,
       round(st.mn + bin * (st.mx - st.mn) / 20, 6) AS bin_lo,
       round(st.mn + (bin + 1) * (st.mx - st.mn) / 20, 6) AS bin_hi,
       CAST(count(*) AS BIGINT) AS n
FROM b, st GROUP BY bin, st.mn, st.mx
""")
def q_histogram(spark, sf_dir):
    """20-bin fixed-width histogram of order totals: bin ids and edge
    arithmetic replayed exactly by DuckDB (edges rounded to 6 dp for
    the cross-engine compare; counts are exact integers)."""
    from beam_spark.operators.quality import Histogram

    out = (table(spark, sf_dir, "orders")
           | Histogram("o_totalprice", n_bins=20)).df
    return out.select("bin", F.round("bin_lo", 6).alias("bin_lo"),
                      F.round("bin_hi", 6).alias("bin_hi"), "n")


@query("q_ts_gapfill_locf", """
WITH b AS (SELECT user_id,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s
           FROM events GROUP BY 1, 2),
rng AS (SELECT user_id, min(bucket) AS mn, max(bucket) AS mx
        FROM b GROUP BY 1),
spine AS (SELECT user_id, unnest(range(mn, mx + 3600, 3600)) AS bucket
          FROM rng),
j AS (SELECT sp.user_id, sp.bucket, b.n, b.s,
             b.bucket IS NULL AS filled
      FROM spine sp
      LEFT JOIN b ON sp.user_id = b.user_id AND sp.bucket = b.bucket)
SELECT user_id, bucket,
       last_value(n IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n,
       last_value(s IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
       filled
FROM j
""")
def q_ts_gapfill(spark, sf_dir):
    """Hourly gap filling per user over events with locf: every bucket
    in each user's [min, max] hour range appears exactly once,
    generated rows are marked filled=true and carry the last earlier
    observation forward. Value sums use the decimal-cast pattern so
    both engines agree exactly."""
    from beam_spark.operators.group import GapFill

    ev = table(spark, sf_dir, "events")
    return (ev | GapFill(
        "ts", 3600,
        {"n": "CAST(count(*) AS BIGINT)",
         "s": "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)"},
        keys=["user_id"], fill="locf")).df


@query("q_ts_gapfill_interp", """
WITH b AS (SELECT user_id,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s
           FROM events GROUP BY 1, 2),
rng AS (SELECT user_id, min(bucket) AS mn, max(bucket) AS mx
        FROM b GROUP BY 1),
spine AS (SELECT user_id, unnest(range(mn, mx + 3600, 3600)) AS bucket
          FROM rng),
j AS (SELECT sp.user_id, sp.bucket, b.s, b.bucket IS NULL AS filled
      FROM spine sp
      LEFT JOIN b ON sp.user_id = b.user_id AND sp.bucket = b.bucket),
w AS (SELECT user_id, bucket, s, filled,
        last_value(CASE WHEN s IS NOT NULL THEN bucket END
                   IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
        last_value(s IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        first_value(CASE WHEN s IS NOT NULL THEN bucket END
                    IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY bucket
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb,
        first_value(s IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY bucket
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
      FROM j)
SELECT user_id, bucket,
       CASE WHEN s IS NOT NULL THEN s
            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
              pv + (nv - pv)
                   * ((bucket - pb) / CAST(nb - pb AS DOUBLE))
       END AS s,
       filled
FROM w
""")
def q_ts_gapfill_interp(spark, sf_dir):
    """Gap filling with LINEAR INTERPOLATION (time-weighted between
    the nearest observations): identical window + lerp op sequence in
    both engines over exact decimal-cast sums, so the doubles are
    bit-identical and compared unrounded."""
    from beam_spark.operators.group import GapFill

    ev = table(spark, sf_dir, "events")
    return (ev | GapFill(
        "ts", 3600,
        {"s": "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)"},
        keys=["user_id"], fill="interp")).df


@query("q_scd_type2_apply", """
WITH dim AS (SELECT c_custkey AS id, c_mktsegment AS seg,
                    CAST(0 AS BIGINT) AS ts, 0 AS src FROM customer),
ch AS (SELECT o_custkey AS id, o_orderpriority AS seg,
              CAST(o_orderkey AS BIGINT) AS ts, 1 AS src FROM orders),
u AS (SELECT * FROM dim UNION ALL SELECT * FROM ch),
e AS (SELECT *, lag(seg) OVER (PARTITION BY id ORDER BY ts, src, seg)
             AS prev FROM u),
eff AS (SELECT id, seg, ts, src FROM e
        WHERE prev IS NULL OR seg <> prev),
v AS (SELECT id, seg, ts AS valid_from,
             lead(ts) OVER (PARTITION BY id ORDER BY ts, src, seg)
             AS valid_to
      FROM eff)
SELECT id, seg, valid_from, valid_to FROM v
""")
def q_scd_apply(spark, sf_dir):
    """SCD Type-2 dimension maintenance, value-exact: every customer
    starts as a current row (mktsegment, valid_from 0); the orders
    stream replays as priority 'changes' keyed by customer with the
    order key as the version timestamp. No-op changes (same value
    consecutively) must NOT create versions; each effective change
    closes its predecessor at its timestamp. DuckDB replays the same
    window algebra."""
    from beam_spark.operators.scd import ScdType2Apply

    cust = table(spark, sf_dir, "customer").df.select(
        F.col("c_custkey").alias("id"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(0).cast("bigint").alias("valid_from"),
        F.lit(None).cast("bigint").alias("valid_to"))
    ch = table(spark, sf_dir, "orders").df.select(
        F.col("o_custkey").alias("id"),
        F.col("o_orderpriority").alias("seg"),
        F.col("o_orderkey").cast("bigint").alias("ts"))
    return (PCollection(ch) | ScdType2Apply(cust, key="id")).df


def _pagerank_oracle_sql(iters: int = 5, weighted: bool = False,
                         edges_sql: str | None = None) -> str:
    """Chained-CTE PageRank: the SAME fixed-iteration update the Spark
    operator runs, one CTE per round. Float association mirrors the
    operator exactly except per-group sum orders (in-edge contribution
    sums, and out-strength sums in weighted mode — error ~1e-19 per
    round; round(9) leaves a 1e9x margin). ``edges_sql``: override
    the edge-list SELECT (must yield src, dst [, w])."""
    if weighted:
        body = edges_sql or (
            "SELECT o_custkey AS src, l_partkey + 10000000 AS dst, "
            "CAST(l_quantity AS DOUBLE) AS w FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey")
        edges = f"WITH edges AS ({body}),"
        deg = ("deg AS (SELECT src, sum(w) AS d FROM edges "
               "GROUP BY src),")
        share = "sum(r.pr * e.w / deg.d)"
    else:
        body = edges_sql or (
            "SELECT o_custkey AS src, l_partkey + 10000000 AS dst "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
        edges = f"WITH edges AS ({body}),"
        deg = "deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),"
        share = "sum(r.pr / deg.d)"
    cte = [
        edges,
        "nodes AS (SELECT src AS node FROM edges "
        "UNION SELECT dst FROM edges),",
        deg,
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),",
        "r0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes, nn),",
    ]
    for i in range(1, iters + 1):
        p = f"r{i - 1}"
        cte.append(f"""r{i} AS (
  SELECT nd.node,
         (1 - CAST(0.85 AS DOUBLE)) * (1.0 / nn.n)
         + CAST(0.85 AS DOUBLE)
           * (COALESCE(s.m, 0) + dg.dm * (1.0 / nn.n))
         AS pr
  FROM nodes nd CROSS JOIN nn
  CROSS JOIN (SELECT COALESCE(sum(r.pr), 0) AS dm
              FROM {p} r LEFT JOIN deg ON r.node = deg.src
              WHERE deg.src IS NULL) dg
  LEFT JOIN (SELECT e.dst AS node, {share} AS m
             FROM edges e JOIN {p} r ON e.src = r.node
             JOIN deg ON e.src = deg.src GROUP BY e.dst) s
    ON nd.node = s.node),""")
    cte[-1] = cte[-1].rstrip(",")
    return ("\n".join(cte)
            + f"\nSELECT node, round(pr, 9) AS pr FROM r{iters}")


def _sssp_oracle_sql(rounds: int = 8,
                     e0_sql: str | None = None) -> str:
    """Chained-CTE Bellman-Ford: one relaxation round per CTE — the
    identical recurrence the Spark operator runs. No rounding: every
    candidate distance is the same per-hop float sum in both engines
    and min() is order-insensitive, so the doubles are bit-equal.
    ``e0_sql``: override the directed edge SELECT (src, dst, w) —
    the bidirectional union wraps it either way."""
    body = e0_sql or (
        "SELECT o_custkey AS src,\n"
        "       l_partkey + 10000000 AS dst,\n"
        "       CAST(l_quantity AS DOUBLE) AS w\n"
        "       FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
    cte = [f"""WITH e0 AS ({body}),
edges AS (SELECT src, dst, w FROM e0
          UNION ALL SELECT dst, src, w FROM e0),
d0 AS (SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS DOUBLE) AS dist),"""]
    for i in range(1, rounds + 1):
        p = f"d{i - 1}"
        cte.append(f"""d{i} AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM {p}
    UNION ALL
    SELECT e.dst AS node, d.dist + e.w AS dist
    FROM {p} d JOIN edges e ON e.src = d.node) GROUP BY node),""")
    cte[-1] = cte[-1].rstrip(",")
    return "\n".join(cte) + f"\nSELECT node, dist FROM d{rounds}"


def _kcore_oracle_sql(k: int = 5, rounds: int = 10) -> str:
    """Chained-CTE k-core peel: round r induces the edge set on round
    r-1's survivors and keeps nodes with degree >= k — exactly the
    operator's fixed_rounds mode (peeling is idempotent after
    convergence, so a fixed round count replays deterministically at
    any SF). Integer degrees: exact, no rounding."""
    # AS MATERIALIZED: without it DuckDB inlines `und` into every
    # round's joins and re-opens the parquet per reference — ~24
    # scans trips "Too many open files" inside a Spark-heavy process
    cte = ["""WITH raw AS (SELECT o_custkey AS s, o_orderkey % 200 AS d
             FROM orders),
und AS MATERIALIZED (SELECT DISTINCT least(s, d) AS a,
                            greatest(s, d) AS b
        FROM raw WHERE s <> d),
s0 AS (SELECT a AS node FROM und UNION SELECT b FROM und),"""]
    for r in range(1, rounds + 1):
        cte.append(f"""e{r} AS MATERIALIZED (SELECT e.a, e.b FROM und e
  JOIN s{r - 1} x ON e.a = x.node JOIN s{r - 1} y ON e.b = y.node),
s{r} AS (SELECT node FROM (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM e{r} UNION ALL SELECT b FROM e{r}) v
  GROUP BY node) g WHERE d >= {k}),""")
    cte.append(f"""fin AS (SELECT e.a, e.b FROM und e
  JOIN s{rounds} x ON e.a = x.node JOIN s{rounds} y ON e.b = y.node)""")
    return ("\n".join(cte)
            + f"""
SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
  SELECT a AS node FROM fin UNION ALL SELECT b FROM fin) v
GROUP BY node HAVING count(*) >= {k}""")


@query("q_graph_kcore", _kcore_oracle_sql())
def q_kcore(spark, sf_dir):
    """5-core of the customer/order-hash link graph via 10 fixed
    peeling rounds (the operator's deterministic-replay mode; DuckDB
    chains the identical induce-and-filter per round) — node set and
    in-core degrees exact."""
    from beam_spark.operators.graph import KCore

    o = table(spark, sf_dir, "orders").df
    edges = o.selectExpr("o_custkey AS src", "o_orderkey % 200 AS dst")
    out = (PCollection(edges) | KCore(5, fixed_rounds=10)).df
    return out.select("node", "degree")


def _label_prop_ctes(rounds: int = 4, weighted: bool = False) -> str:
    """The synchronous-LPA CTE chain (shared by the label-prop and
    modularity oracles): one CTE pair per round (neighbor-label
    counts, then per-node arg-max with the cnt DESC, lbl ASC
    tiebreak — the exact order-free min(struct(-cnt, lbl)) the Spark
    operator aggregates). Integer counts and bigint labels: exact.
    ``weighted`` sums INTEGRAL edge weights (o_orderkey % 7 + 1,
    parallel edges pre-summed per undirected pair) — integral-double
    sums are exact in any accumulation order, so still no rounding."""
    if weighted:
        cte = ["""WITH raw AS (SELECT o_custkey AS s, o_orderkey % 200 AS d,
             CAST(o_orderkey % 7 + 1 AS DOUBLE) AS w FROM orders),
und AS MATERIALIZED (SELECT least(s, d) AS a, greatest(s, d) AS b,
                            sum(w) AS w
        FROM raw WHERE s <> d GROUP BY 1, 2),
adj AS MATERIALIZED (SELECT a AS node, b AS nb, w FROM und
                     UNION ALL SELECT b, a, w FROM und),
l0 AS (SELECT DISTINCT node, node AS lbl FROM adj),"""]
        agg = "sum(adj.w)"
    else:
        cte = ["""WITH raw AS (SELECT o_custkey AS s, o_orderkey % 200 AS d
             FROM orders),
und AS MATERIALIZED (SELECT DISTINCT least(s, d) AS a,
                            greatest(s, d) AS b
        FROM raw WHERE s <> d),
adj AS MATERIALIZED (SELECT a AS node, b AS nb FROM und
                     UNION ALL SELECT b, a FROM und),
l0 AS (SELECT DISTINCT node, node AS lbl FROM adj),"""]
        agg = "count(*)"
    for r in range(1, rounds + 1):
        cte.append(f"""c{r} AS (SELECT adj.node, l.lbl,
         {agg} AS cnt
  FROM adj JOIN l{r - 1} l ON l.node = adj.nb
  GROUP BY adj.node, l.lbl),
l{r} AS (SELECT node, lbl FROM (
  SELECT node, lbl, row_number() OVER (
    PARTITION BY node ORDER BY cnt DESC, lbl) AS rn
  FROM c{r}) t WHERE rn = 1),""")
    cte[-1] = cte[-1].rstrip(",")
    return "\n".join(cte)


def _label_prop_oracle_sql(rounds: int = 4,
                           weighted: bool = False) -> str:
    return (_label_prop_ctes(rounds, weighted)
            + f"\nSELECT node, lbl AS community FROM l{rounds}")


@query("q_graph_label_prop_weighted",
       _label_prop_oracle_sql(rounds=4, weighted=True))
def q_label_prop_weighted(spark, sf_dir):
    """WEIGHTED synchronous label propagation (4 fixed rounds):
    neighbor labels vote by summed edge weight (o_orderkey % 7 + 1 —
    integral doubles, parallel edges pre-summed per pair, so every
    sum is exact in any accumulation order and the chained-CTE
    replay stays rounding-free)."""
    from beam_spark.operators.graph import LabelPropagation

    o = table(spark, sf_dir, "orders").df
    edges = o.selectExpr("o_custkey AS src", "o_orderkey % 200 AS dst",
                         "CAST(o_orderkey % 7 + 1 AS DOUBLE) AS w")
    out = (PCollection(edges)
           | LabelPropagation(fixed_rounds=4, weight="w")).df
    return out.select("node", "community")


_MODULARITY_SQL = _label_prop_ctes(4) + """,
lp AS (SELECT node, lbl AS c FROM l4),
mm AS (SELECT count(*) AS m FROM und),
degs AS (SELECT node, count(*) AS deg FROM (
  SELECT a AS node FROM und UNION ALL SELECT b FROM und) v
  GROUP BY node),
intra AS (SELECT la.c AS c, count(*) AS intra_edges
  FROM und e JOIN lp la ON la.node = e.a
             JOIN lp lb ON lb.node = e.b
  WHERE la.c = lb.c GROUP BY la.c),
per_c AS (SELECT lp.c, count(*) AS n_nodes,
                 sum(coalesce(degs.deg, 0)) AS degree_sum
  FROM lp LEFT JOIN degs ON degs.node = lp.node GROUP BY lp.c)
SELECT per_c.c AS community, CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(coalesce(intra.intra_edges, 0) AS BIGINT) AS intra_edges,
       CAST(degree_sum AS BIGINT) AS degree_sum,
       CAST(coalesce(intra.intra_edges, 0) AS DOUBLE) / mm.m
         - (CAST(degree_sum AS DOUBLE) / (CAST(2 AS DOUBLE) * mm.m))
           * (CAST(degree_sum AS DOUBLE) / (CAST(2 AS DOUBLE) * mm.m))
         AS contribution
FROM per_c LEFT JOIN intra ON intra.c = per_c.c CROSS JOIN mm"""


@query("q_graph_modularity", _MODULARITY_SQL)
def q_graph_modularity(spark, sf_dir):
    """Modularity report of the 4-round LPA partition of the link
    graph: per-community (n_nodes, intra_edges, degree_sum,
    contribution) — contributions are EXACT doubles (integer counts
    through identical division/square expressions, no accumulation
    order), so the report compares unrounded; the oracle chains the
    LPA replay CTEs and the modularity aggregation in one query."""
    from beam_spark.operators.graph import LabelPropagation, Modularity

    o = table(spark, sf_dir, "orders").df
    edges = o.selectExpr("o_custkey AS src", "o_orderkey % 200 AS dst")
    pc = PCollection(edges)
    com = (pc | LabelPropagation(fixed_rounds=4)).df
    out = (pc | Modularity(com)).df
    return out.select("community", "n_nodes", "intra_edges",
                      "degree_sum", "contribution")


@query("q_graph_label_prop", _label_prop_oracle_sql(rounds=4))
def q_label_prop(spark, sf_dir):
    """Deterministic synchronous label-propagation communities (4
    fixed rounds, min-label tiebreak) on the customer/order-hash link
    graph — fixed-round replay, so DuckDB chains the identical
    count-then-argmax per round and the (node, community) assignment
    is exact."""
    from beam_spark.operators.graph import LabelPropagation

    o = table(spark, sf_dir, "orders").df
    edges = o.selectExpr("o_custkey AS src", "o_orderkey % 200 AS dst")
    out = (PCollection(edges) | LabelPropagation(fixed_rounds=4)).df
    return out.select("node", "community")


@query("q_graph_triangles", """
WITH raw AS (SELECT o_custkey AS s, o_orderkey % 200 AS d FROM orders),
und AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
        FROM raw WHERE s <> d),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
        FROM (SELECT a AS node FROM und
              UNION ALL SELECT b FROM und) n GROUP BY node),
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
        JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
pn AS (SELECT node, CAST(count(*) AS BIGINT) AS t
       FROM (SELECT x AS node FROM tri
             UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri) v GROUP BY node)
SELECT deg.node, coalesce(pn.t, 0) AS triangles, deg.deg AS degree,
       round(CASE WHEN deg.deg >= 2
                  THEN (CAST(2 AS DOUBLE) * coalesce(pn.t, 0))
                       / (deg.deg * (deg.deg - 1))
                  ELSE CAST(0 AS DOUBLE) END, 6) AS clustering
FROM deg LEFT JOIN pn ON deg.node = pn.node
""")
def q_graph_triangles(spark, sf_dir):
    """Per-node triangle counts + local clustering coefficient
    (degree-ordered orientation, Schank & Wagner 2005) over the
    customer/order-hash link graph — DuckDB enumerates x<y<z
    triangles by brute three-way join; the operator's oriented wedge
    join must produce the identical per-node counts, degrees, and
    coefficients (exact integers; coefficient at round 6)."""
    from beam_spark.operators.graph import TriangleCount

    o = table(spark, sf_dir, "orders").df
    edges = o.selectExpr("o_custkey AS src",
                         "o_orderkey % 200 AS dst")
    out = (PCollection(edges) | TriangleCount()).df
    return out.select("node", "triangles", "degree", "clustering")


@query("q_graph_shortest_paths", _sssp_oracle_sql())
def q_graph_shortest_paths(spark, sf_dir):
    """Weighted single-source shortest paths from customer 1 over the
    BIDIRECTIONAL customer <-> part purchase graph (edge weight =
    line quantity): distributed Bellman-Ford relaxation with early
    exit, value-matched UNROUNDED against DuckDB's chained-CTE replay
    (8 rounds; a fixpoint reached earlier equals the deeper CTE by
    definition, so early exit cannot diverge)."""
    from beam_spark.operators.graph import ShortestPaths

    li = table(spark, sf_dir, "lineitem").df
    o = table(spark, sf_dir, "orders").df
    e0 = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
          .select(F.col("o_custkey").alias("src"),
                  (F.col("l_partkey") + 10000000).alias("dst"),
                  F.col("l_quantity").cast("double").alias("w")))
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                  "w"))
    out = (PCollection(edges) | ShortestPaths(
        [1], weight="w", iterations=8)).df
    return out.select("node", "dist")


def _sssp_pred_oracle_sql(rounds: int = 8) -> str:
    """Predecessor-carrying Bellman-Ford: the same chained-CTE replay
    with min over struct_pack(dist, pred) — lexicographic struct min
    is the identical tie rule in both engines, so dist AND pred are
    exact."""
    cte = ["""WITH e0 AS (SELECT o_custkey AS src,
       l_partkey + 10000000 AS dst,
       CAST(l_quantity AS DOUBLE) AS w
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
edges AS (SELECT src, dst, w FROM e0
          UNION ALL SELECT dst, src, w FROM e0),
d0 AS (SELECT CAST(1 AS BIGINT) AS node,
       struct_pack(dist := CAST(0 AS DOUBLE),
                   pred := CAST(1 AS BIGINT)) AS sp),"""]
    for i in range(1, rounds + 1):
        p = f"d{i - 1}"
        cte.append(f"""d{i} AS (
  SELECT node, min(sp) AS sp FROM (
    SELECT node, sp FROM {p}
    UNION ALL
    SELECT e.dst AS node,
           struct_pack(dist := d.sp.dist + e.w, pred := e.src) AS sp
    FROM {p} d JOIN edges e ON e.src = d.node) GROUP BY node),""")
    cte[-1] = cte[-1].rstrip(",")
    return ("\n".join(cte)
            + f"\nSELECT node, sp.dist AS dist, sp.pred AS pred"
            f" FROM d{rounds}")


@query("q_graph_shortest_paths_pred", _sssp_pred_oracle_sql())
def q_graph_shortest_paths_pred(spark, sf_dir):
    """Shortest paths WITH predecessors (path reconstruction): the
    struct-min tie rule (smallest distance, then smallest previous
    node) is lexicographic in both engines, so the predecessor tree —
    not just the distances — matches UNROUNDED."""
    from beam_spark.operators.graph import ShortestPaths

    li = table(spark, sf_dir, "lineitem").df
    o = table(spark, sf_dir, "orders").df
    e0 = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
          .select(F.col("o_custkey").alias("src"),
                  (F.col("l_partkey") + 10000000).alias("dst"),
                  F.col("l_quantity").cast("double").alias("w")))
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                  "w"))
    out = (PCollection(edges) | ShortestPaths(
        [1], weight="w", iterations=8, predecessors=True)).df
    return out.select("node", "dist", "pred")


@query("q_graph_pagerank", _pagerank_oracle_sql())
def q_graph_pagerank(spark, sf_dir):
    """Damped PageRank (5 fixed iterations, d=0.85) over the
    customer -> part purchase graph (lineitem x orders edges, part ids
    offset to disjoint node space) — the link-quality score of
    web-corpus curation, value-matched node-by-node against DuckDB's
    chained-CTE replay of the identical update."""
    from beam_spark.operators.graph import PageRank

    li = table(spark, sf_dir, "lineitem").df
    o = table(spark, sf_dir, "orders").df
    edges = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
             .select(F.col("o_custkey").alias("src"),
                     (F.col("l_partkey") + 10000000).alias("dst")))
    pr = (PCollection(edges) | PageRank(iterations=5)).df
    return pr.select("node", F.round("pr", 9).alias("pr"))


@query("q_graph_pagerank_weighted", _pagerank_oracle_sql(weighted=True))
def q_graph_pagerank_weighted(spark, sf_dir):
    """Weighted PageRank (5 iterations, d=0.85): rank distributes by
    out-strength share (edge weight = line quantity); DuckDB replays
    the identical update with sum-of-weights normalization."""
    from beam_spark.operators.graph import PageRank

    li = table(spark, sf_dir, "lineitem").df
    o = table(spark, sf_dir, "orders").df
    edges = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
             .select(F.col("o_custkey").alias("src"),
                     (F.col("l_partkey") + 10000000).alias("dst"),
                     F.col("l_quantity").cast("double").alias("w")))
    pr = (PCollection(edges) | PageRank(iterations=5, weight="w")).df
    return pr.select("node", F.round("pr", 9).alias("pr"))


def _ppr_oracle_sql(iters: int = 4) -> str:
    """Chained-CTE PERSONALIZED PageRank: restart mass (and dangling
    mass) land on the seed set proportionally to the normalized
    personalization vector instead of 1/N, and r0 IS the restart
    vector — exactly the operator's personalization branch. Same
    round(9) float posture as the generic oracle."""
    cte = ["""WITH edges AS (
  SELECT o_custkey AS src, l_partkey + 10000000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
pers AS (SELECT DISTINCT o_custkey AS node, CAST(1 AS DOUBLE) AS p
         FROM orders WHERE o_custkey % 37 = 0),
pt AS (SELECT CAST(sum(p) AS DOUBLE) AS t FROM pers),
rv AS (SELECT nd.node,
              COALESCE(pe.p / pt.t, CAST(0 AS DOUBLE)) AS r
       FROM nodes nd CROSS JOIN pt
       LEFT JOIN pers pe ON pe.node = nd.node),
r0 AS (SELECT node, r AS pr FROM rv),"""]
    for i in range(1, iters + 1):
        p = f"r{i - 1}"
        cte.append(f"""r{i} AS (
  SELECT rv.node,
         (1 - CAST(0.85 AS DOUBLE)) * rv.r
         + CAST(0.85 AS DOUBLE)
           * (COALESCE(s.m, 0) + dg.dm * rv.r)
         AS pr
  FROM rv
  CROSS JOIN (SELECT COALESCE(sum(r.pr), 0) AS dm
              FROM {p} r LEFT JOIN deg ON r.node = deg.src
              WHERE deg.src IS NULL) dg
  LEFT JOIN (SELECT e.dst AS node, sum(r.pr / deg.d) AS m
             FROM edges e JOIN {p} r ON e.src = r.node
             JOIN deg ON e.src = deg.src GROUP BY e.dst) s
    ON rv.node = s.node),""")
    cte[-1] = cte[-1].rstrip(",")
    return ("\n".join(cte)
            + f"\nSELECT node, round(pr, 9) AS pr FROM r{iters}"
            + "\nWHERE round(pr, 9) > 0")


@query("q_graph_pagerank_personalized", _ppr_oracle_sql())
def q_graph_ppr(spark, sf_dir):
    """Personalized PageRank (4 iterations, d=0.85, seeds = customers
    with custkey % 37 = 0) over the customer -> part purchase graph:
    restart AND dangling mass land on the seed vector, r0 is the
    restart vector, and nodes unreachable from the seeds (rank
    rounding to 0 at 9 dp) are filtered in BOTH engines — the
    topic-local authority score of host-biased corpus curation."""
    from beam_spark.operators.graph import PageRank

    li = table(spark, sf_dir, "lineitem").df
    o = table(spark, sf_dir, "orders").df
    edges = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
             .select(F.col("o_custkey").alias("src"),
                     (F.col("l_partkey") + 10000000).alias("dst")))
    seeds = (o.select(F.col("o_custkey").alias("node"))
             .where("o_custkey % 37 = 0").distinct()
             .withColumn("p", F.lit(1.0)))
    pr = (PCollection(edges) | PageRank(iterations=4,
                                        personalization=seeds)).df
    return (pr.select("node", F.round("pr", 9).alias("pr"))
            .where("round(pr, 9) > 0"))


_LINKS_EDGES_SQL = ("SELECT o_custkey AS src, "
                    "o_orderkey % 200 + 1000000 AS dst FROM orders")
_LINKS_E0_SQL = ("SELECT o_custkey AS src, "
                 "o_orderkey % 200 + 1000000 AS dst, "
                 "CAST(o_orderkey % 7 + 1 AS DOUBLE) AS w FROM orders")


def _hits_oracle_sql(iters: int, edges_sql: str) -> str:
    """Chained-CTE HITS replay: one (auth, hub) CTE pair per round,
    L1-normalized half-steps — the same fixed-round update the Spark
    operator runs; per-group float-sum order is the only cross-engine
    difference (round-9 output absorbs it, the PageRank margin)."""
    cte = [
        f"WITH e AS ({edges_sql}),",
        "n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),",
        "h0 AS (SELECT node, 1.0 / (SELECT CAST(count(*) AS DOUBLE) "
        "FROM n) AS h FROM n),",
    ]
    for i in range(1, iters + 1):
        p = f"h{i - 1}"
        cte.append(
            f"a{i}r AS (SELECT e.dst AS node, sum({p}.h) AS a "
            f"FROM e JOIN {p} ON {p}.node = e.src GROUP BY 1),")
        cte.append(f"a{i}n AS (SELECT sum(a) AS s FROM a{i}r),")
        cte.append(
            f"a{i} AS (SELECT n.node, COALESCE(r.a, 0) / a{i}n.s AS a "
            f"FROM n LEFT JOIN a{i}r r ON r.node = n.node "
            f"CROSS JOIN a{i}n),")
        cte.append(
            f"h{i}r AS (SELECT e.src AS node, sum(a{i}.a) AS h "
            f"FROM e JOIN a{i} ON a{i}.node = e.dst GROUP BY 1),")
        cte.append(f"h{i}n AS (SELECT sum(h) AS s FROM h{i}r),")
        cte.append(
            f"h{i} AS (SELECT n.node, COALESCE(r.h, 0) / h{i}n.s AS h "
            f"FROM n LEFT JOIN h{i}r r ON r.node = n.node "
            f"CROSS JOIN h{i}n),")
    body = "\n".join(cte).rstrip().rstrip(",")
    return (body
            + f"\nSELECT n.node, round(h{iters}.h, 9) AS hub, "
            f"round(a{iters}.a, 9) AS authority "
            f"FROM n JOIN h{iters} ON h{iters}.node = n.node "
            f"JOIN a{iters} ON a{iters}.node = n.node")


@query("q_graph_hits_links", _hits_oracle_sql(2, _LINKS_EDGES_SQL))
def q_graph_hits(spark, sf_dir):
    """HITS hubs/authorities (2 iterations, L1-normalized half-steps)
    on the compact customer -> order-hash link graph — same graph as
    q_graph_pagerank_links, chained-CTE oracle, round-9 outputs."""
    from beam_spark.operators.graph import Hits

    o = table(spark, sf_dir, "orders").df
    edges = o.selectExpr("o_custkey AS src",
                         "o_orderkey % 200 + 1000000 AS dst")
    return (PCollection(edges) | Hits(iterations=2)).df.select(
        "node", "hub", "authority")


@query("q_graph_pagerank_links",
       _pagerank_oracle_sql(iters=2, edges_sql=_LINKS_EDGES_SQL))
def q_graph_pagerank_links(spark, sf_dir):
    """PageRank (2 iterations, d=0.85) on the compact customer ->
    order-hash link graph (the triangle/k-core graph, dst offset to a
    disjoint node space) — the cheap gate-folded variant of
    q_graph_pagerank: ~8x fewer edges than the lineitem purchase
    graph, same operator, same chained-CTE oracle."""
    from beam_spark.operators.graph import PageRank

    o = table(spark, sf_dir, "orders").df
    edges = o.selectExpr("o_custkey AS src",
                         "o_orderkey % 200 + 1000000 AS dst")
    pr = (PCollection(edges) | PageRank(iterations=2)).df
    return pr.select("node", F.round("pr", 9).alias("pr"))


@query("q_graph_sssp_links",
       _sssp_oracle_sql(rounds=3, e0_sql=_LINKS_E0_SQL))
def q_graph_sssp_links(spark, sf_dir):
    """Weighted SSSP from customer 1 on the bidirectional compact
    link graph (weight = o_orderkey % 7 + 1 — integral doubles, so
    per-hop sums are exactly representable and min() is bit-equal in
    both engines); 3 relaxation rounds — fixed-round replay matches
    at any depth, and the dense bipartite graph is fully reached by
    round 3. The cheap gate-folded variant of
    q_graph_shortest_paths."""
    from beam_spark.operators.graph import ShortestPaths

    o = table(spark, sf_dir, "orders").df
    e0 = o.selectExpr("o_custkey AS src",
                      "o_orderkey % 200 + 1000000 AS dst",
                      "CAST(o_orderkey % 7 + 1 AS DOUBLE) AS w")
    edges = e0.unionByName(
        e0.selectExpr("dst AS src", "src AS dst", "w"))
    out = (PCollection(edges) | ShortestPaths(
        [1], weight="w", iterations=3)).df
    return out.select("node", "dist")


@query("q_stats_tdigest_rank_verdict", """
SELECT p_pct, TRUE AS ok FROM (VALUES (25), (50), (90), (99)) t(p_pct)
""")
def q_tdigest_rank_verdict(spark, sf_dir):
    """TDigestQuantiles accuracy contract as a verdict oracle: each
    estimated quantile's EMPIRICAL RANK (fraction of rows <= estimate,
    computed exactly in Spark) must sit within 0.02 of the target
    quantile — the t-digest rank-error bound at delta=100 with margin
    (measured max error ~0.005 mid-quantile, smaller at tails by
    design). DuckDB pins the contract TRUE per quantile."""
    from beam_spark.operators.stats import TDigestQuantiles

    li = table(spark, sf_dir, "lineitem").df
    qs = [0.25, 0.5, 0.9, 0.99]
    td = (PCollection(li) | TDigestQuantiles(
        "l_extendedprice", qs)).df
    ests = td.select(F.explode(F.array(*[
        F.struct(F.lit(int(q * 100)).alias("p_pct"),
                 F.col(TDigestQuantiles._qname(q)).alias("est"))
        for q in qs])).alias("e")).select("e.*")
    ranks = (li.select(F.col("l_extendedprice").alias("x"))
             .crossJoin(F.broadcast(ests))
             .groupBy("p_pct", "est")
             .agg((F.sum(F.when(F.col("x") <= F.col("est"), 1)
                         .otherwise(0)) / F.count(F.lit(1)))
                  .alias("rank")))
    return ranks.select(
        "p_pct",
        (F.abs(F.col("rank") - F.col("p_pct") / 100.0) <= 0.02)
        .alias("ok"))


@query("q_quality_ks_drift", """
WITH u AS (
  SELECT o_totalprice AS x,
         CASE WHEN o_orderkey % 2 = 0 THEN 0 ELSE 1 END AS s
  FROM orders),
counts AS (SELECT x,
                  sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS n1,
                  sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS n2
           FROM u GROUP BY x),
cum AS (SELECT x, sum(n1) OVER (ORDER BY x) AS c1,
               sum(n2) OVER (ORDER BY x) AS c2 FROM counts),
tot AS (SELECT sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS na,
               sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS nb FROM u),
d AS (SELECT max(abs(CAST(c1 AS DOUBLE) / na - CAST(c2 AS DOUBLE) / nb))
             AS dd,
             CAST(max(na) AS BIGINT) AS n_ref,
             CAST(max(nb) AS BIGINT) AS n_cur
      FROM cum, tot),
pv AS (SELECT dd, n_ref, n_cur,
              (sqrt(CAST(n_ref AS DOUBLE) * n_cur / (n_ref + n_cur))
               + 0.12
               + 0.11 / sqrt(CAST(n_ref AS DOUBLE) * n_cur
                             / (n_ref + n_cur))) * dd AS lam
       FROM d)
SELECT round(dd, 6) AS ks_stat,
       round(CASE WHEN lam < 0.3 THEN CAST(1 AS DOUBLE)
         ELSE least(CAST(1 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
           2 * (SELECT sum(CASE WHEN j % 2 = 1 THEN 1.0 ELSE -1.0 END
                           * exp(-2 * (j * lam) * j * lam))
                FROM range(1, 21) t(j)))) END, 6) AS p_value,
       n_ref, n_cur
FROM pv
""")
def q_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift: even-keyed orders'
    o_totalprice as reference vs odd-keyed as current, exact mode —
    the cumulative window runs over the distinct-value AGGREGATE and
    D/p are recomputed value-exactly by DuckDB (integer cumulative
    counts make D bit-identical; the Smirnov 20-term series uses the
    same left-to-right association in both engines)."""
    from beam_spark.operators.quality import KsDrift

    orders = table(spark, sf_dir, "orders").df
    ref = orders.filter("o_orderkey % 2 = 0")
    cur = orders.filter("o_orderkey % 2 = 1")
    return (PCollection(cur) | KsDrift(ref, "o_totalprice")).df


@query("q_ann_pq_recall", """
SELECT vec_id AS query_id, TRUE AS ok
FROM embeddings WHERE vec_id < 10
""")
def q_ann_pq_recall(spark, sf_dir):
    """Product-quantization ANN (Jegou et al. 2011) recall verdict:
    PQ codes + ADC scan + exact rerank must recover >= 3 of the exact
    top-5 neighbors for every query (measured min recall across SFs is
    0.8 with m=4, ks=256, rerank_factor=40 — threshold 0.6 leaves a
    full-hit margin). Verdict-pattern oracle: PQ is lossy by design,
    so the pinned expectation is the recall CONTRACT, not the ranking
    values (the exact-rerank scores themselves are exact cosines)."""
    from beam_spark.operators.similarity import (BruteForceCosineTopK,
                                                 PqCosineTopK)

    emb = table(spark, sf_dir, "embeddings").df.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        .alias("embedding"))
    q = emb.filter("vec_id < 10")
    pq = (PCollection(emb) | PqCosineTopK(
        q, k=5, m=4, ks=256, rerank_factor=40)).df
    bf = (PCollection(emb) | BruteForceCosineTopK(q, k=5)).df
    hits = (pq.join(bf, on=["query_id", "nbr_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hits")))
    qids = q.select(F.col("vec_id").alias("query_id"))
    return (qids.join(hits, on="query_id", how="left")
            .select("query_id",
                    (F.coalesce(F.col("n_hits"), F.lit(0)) >= 3)
                    .alias("ok")))


@query("q_retrieval_bm25f_topk", r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents),
fld AS (
  SELECT doc_id, 'title' AS f, t[1:5] AS ft,
         CAST(3.0 AS DOUBLE) AS w, CAST(0.5 AS DOUBLE) AS b FROM toks
  UNION ALL
  SELECT doc_id, 'body', t[6:len(t)],
         CAST(1.0 AS DOUBLE), CAST(0.75 AS DOUBLE) FROM toks),
post AS (SELECT doc_id, f, w, b, len(ft) AS dl, term, count(*) AS tf
         FROM (SELECT doc_id, f, w, b, ft, unnest(ft) AS term FROM fld)
         GROUP BY doc_id, f, w, b, dl, term),
avgdl AS (SELECT f, avg(len(ft)) AS avgdl FROM fld GROUP BY f),
wtf AS (SELECT doc_id, term,
               sum(p.w * p.tf / (1 - p.b + p.b * p.dl / a.avgdl)) AS wtf
        FROM post p JOIN avgdl a USING (f)
        GROUP BY doc_id, term),
stats AS (SELECT count(*) AS N FROM toks),
dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM post
        GROUP BY term),
qt AS (SELECT doc_id AS query_id, unnest(list_distinct(t)) AS term
       FROM toks WHERE doc_id < 5),
scored AS (
  SELECT qt.query_id, w2.doc_id,
         round(sum(ln(1 + (s.N - d.df + 0.5) / (d.df + 0.5))
                   * (w2.wtf / (1.5 + w2.wtf))), 6) AS score
  FROM wtf w2 JOIN qt ON w2.term = qt.term
  JOIN dfq d ON w2.term = d.term CROSS JOIN stats s
  GROUP BY qt.query_id, w2.doc_id),
r AS (SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank
      FROM scored)
SELECT query_id, doc_id, rank, score FROM r WHERE rank <= 5
""")
def q_bm25f_topk(spark, sf_dir):
    """BM25F multi-field retrieval (Robertson et al. 2004): title =
    first 5 tokens (weight 3.0, b 0.5), body = the rest (weight 1.0,
    b 0.75) — saturation applied once to the combined weighted tf,
    document-level idf, per-field avgdl. Binary-exact weight/b
    literals; k1=1.5; every doc has >=10 tokens at all SFs so the body
    field is never empty."""
    from beam_spark.operators.retrieval import Bm25fTopK

    docs = table(spark, sf_dir, "documents").df
    split = F.split(F.lower(F.trim("text")), r"\s+")
    fielded = docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(split, 1, 5)).alias("title"),
        F.concat_ws(" ", F.slice(
            split, 6, F.greatest(F.size(split) - 5, F.lit(0))))
        .alias("body"))
    queries_df = docs.filter("doc_id < 5").selectExpr(
        "doc_id AS query_id", "text")
    return (PCollection(fielded) | Bm25fTopK(
        queries_df, {"title": (3.0, 0.5), "body": (1.0, 0.75)},
        k=5, k1=1.5)).df


@query("q_retrieval_bm25f_analyzers", r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents),
fld AS (
  SELECT doc_id, 'title' AS f,
         list_filter(string_split_regex(
             lower(upper(array_to_string(t[1:5], ','))), '[^a-z0-9]+'),
           x -> x <> '') AS ft,
         CAST(3.0 AS DOUBLE) AS w, CAST(0.5 AS DOUBLE) AS b FROM toks
  UNION ALL
  SELECT doc_id, 'body', t[6:len(t)],
         CAST(1.0 AS DOUBLE), CAST(0.75 AS DOUBLE) FROM toks),
post AS (SELECT doc_id, f, w, b, len(ft) AS dl, term, count(*) AS tf
         FROM (SELECT doc_id, f, w, b, ft, unnest(ft) AS term FROM fld)
         GROUP BY doc_id, f, w, b, dl, term),
avgdl AS (SELECT f, avg(len(ft)) AS avgdl FROM fld GROUP BY f),
wtf AS (SELECT doc_id, term,
               sum(p.w * p.tf / (1 - p.b + p.b * p.dl / a.avgdl)) AS wtf
        FROM post p JOIN avgdl a USING (f)
        GROUP BY doc_id, term),
stats AS (SELECT count(*) AS N FROM toks),
dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM post
        GROUP BY term),
qt AS (SELECT doc_id AS query_id, unnest(list_distinct(t)) AS term
       FROM toks WHERE doc_id < 5),
scored AS (
  SELECT qt.query_id, w2.doc_id,
         round(sum(ln(1 + (s.N - d.df + 0.5) / (d.df + 0.5))
                   * (w2.wtf / (1.5 + w2.wtf))), 6) AS score
  FROM wtf w2 JOIN qt ON w2.term = qt.term
  JOIN dfq d ON w2.term = d.term CROSS JOIN stats s
  GROUP BY qt.query_id, w2.doc_id),
r AS (SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank
      FROM scored)
SELECT query_id, doc_id, rank, score FROM r WHERE rank <= 5
""")
def q_bm25f_analyzers(spark, sf_dir):
    """BM25F with PER-FIELD ANALYZERS: the title field is synthesized
    as an UPPERCASED comma-joined string and analyzed with the
    punctuation-robust 'alnum' analyzer (lowercase + split on
    non-alphanumeric runs), while the body keeps the whitespace
    analyzer — whitespace tokenization of the title would produce
    joined junk tokens and zero title contribution, so a value-exact
    match proves the per-field analyzer path end to end."""
    from beam_spark.operators.retrieval import Bm25fTopK

    docs = table(spark, sf_dir, "documents").df
    split = F.split(F.lower(F.trim("text")), r"\s+")
    fielded = docs.select(
        "doc_id",
        F.upper(F.concat_ws(",", F.slice(split, 1, 5))).alias("title"),
        F.concat_ws(" ", F.slice(
            split, 6, F.greatest(F.size(split) - 5, F.lit(0))))
        .alias("body"))
    queries_df = docs.filter("doc_id < 5").selectExpr(
        "doc_id AS query_id", "text")
    return (PCollection(fielded) | Bm25fTopK(
        queries_df, {"title": (3.0, 0.5, "alnum"),
                     "body": (1.0, 0.75)},
        k=5, k1=1.5)).df


@query("q_retrieval_phrase_positional", r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents),
post AS (SELECT doc_id, unnest(t) AS term,
                unnest(range(0, len(t))) AS pos
         FROM toks),
qre AS (SELECT doc_id AS query_id, t[1:2] AS p
        FROM toks WHERE doc_id < 3),
qt AS (SELECT query_id, len(p) AS plen, unnest(p) AS term,
              unnest(range(0, len(p))) AS off
       FROM qre),
starts AS (SELECT qt.query_id, post.doc_id, qt.plen,
                  post.pos - qt.off AS s, qt.off
           FROM post JOIN qt USING (term)),
hits AS (SELECT query_id, doc_id, plen, s,
                count(DISTINCT off) AS h
         FROM starts GROUP BY query_id, doc_id, plen, s)
SELECT query_id, doc_id, count(*) AS n_occurrences
FROM hits WHERE h = plen GROUP BY query_id, doc_id
""")
def q_phrase_positional(spark, sf_dir):
    """PositionalPhraseMatch — the large-query-set phrase path: a
    (doc, term, position) postings index joined ON THE TERM (no query
    broadcast, no per-query corpus scan); a start is an occurrence iff
    every phrase offset matched there. Counts ALL starts (overlapping
    included) — presence agrees with the zero-shuffle PhraseMatch,
    asserted in pytest. Same queries as q_retrieval_phrase_match."""
    from beam_spark.operators.retrieval import PositionalPhraseMatch

    docs = table(spark, sf_dir, "documents").df
    phrases = docs.filter("doc_id < 3").select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(F.split(F.lower(F.trim("text")), r"\s+"),
                                 1, 2)).alias("phrase"))
    return (PCollection(docs) | PositionalPhraseMatch(phrases)).df


@query("q_retrieval_phrase_rarest",
       _REGISTRY["q_retrieval_phrase_positional"][1])
def q_phrase_rarest(spark, sf_dir):
    """PositionalPhraseMatch with the rarest-term-first plan: candidate
    starts come from ONLY the lowest-df phrase term's posting list
    (document frequencies of the phrase terms ride in a broadcast
    frame), other offsets verified by one keyed (term, doc, pos)
    equijoin. Same oracle as the all-terms plan — the optimizations
    must be invisible in the result."""
    from beam_spark.operators.retrieval import PositionalPhraseMatch

    docs = table(spark, sf_dir, "documents").df
    phrases = docs.filter("doc_id < 3").select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(F.split(F.lower(F.trim("text")), r"\s+"),
                                 1, 2)).alias("phrase"))
    return (PCollection(docs)
            | PositionalPhraseMatch(phrases, anchor="rarest")).df


@query("q_ml_bpe_tokenize", None)
def q_bpe_tokenize(spark, sf_dir):
    """Real BPE tokenization: merges trained on the corpus's own
    word-frequency table (bounded driver artifact, deterministic
    lex tie-break), applied distributed. No SQL oracle — BPE's
    iterative merge loop is not SQL-expressible; correctness is
    pytest-verified against the Sennrich worked example and a
    driver-side sequential model (tests/test_ml.py)."""
    from beam_spark.ml.bpe import BpeEncode, train_bpe
    from beam_spark.pcollection import PCollection

    docs = table(spark, sf_dir, "documents").df
    merges = train_bpe(docs, n_merges=100)
    out = (PCollection(docs) | BpeEncode(merges)).df
    return out.select("doc_id", "n_bpe_tokens")


@query("q_quality_outliers_curriculum", """
WITH b AS (SELECT quantile_cont(value, 0.25) AS q1,
                  quantile_cont(value, 0.75) AS q3,
                  quantile_cont(-value, [0.125, 0.25, 0.375, 0.5,
                                         0.625, 0.75, 0.875]) AS cb
           FROM events),
f AS (SELECT e.event_id, e.value, b.cb,
             CAST(CASE WHEN e.value < b.q1 - 1.5 * (b.q3 - b.q1)
                         OR e.value > b.q3 + 1.5 * (b.q3 - b.q1)
                   THEN 1 ELSE 0 END AS INT) AS value_outlier
      FROM events e CROSS JOIN b)
SELECT event_id, value_outlier,
       CAST(CASE WHEN value IS NULL THEN 8 ELSE
         1 + (CASE WHEN -value > cb[1] THEN 1 ELSE 0 END)
           + (CASE WHEN -value > cb[2] THEN 1 ELSE 0 END)
           + (CASE WHEN -value > cb[3] THEN 1 ELSE 0 END)
           + (CASE WHEN -value > cb[4] THEN 1 ELSE 0 END)
           + (CASE WHEN -value > cb[5] THEN 1 ELSE 0 END)
           + (CASE WHEN -value > cb[6] THEN 1 ELSE 0 END)
           + (CASE WHEN -value > cb[7] THEN 1 ELSE 0 END)
       END AS INT) AS bucket
FROM f
""")
def q_outliers_curriculum(spark, sf_dir):
    """Tukey-fence outlier flags (exact interpolated quartiles, one agg
    pass, zero-shuffle flagging) + curriculum tiers on events.value —
    quantile-boundary buckets (one percentile pass + zero-shuffle
    assignment; no window, no single-partition stage)."""
    from beam_spark.operators.quality import (CurriculumBuckets,
                                              FlagOutliers)

    out = (table(spark, sf_dir, "events")
           | FlagOutliers("value")
           | CurriculumBuckets("value", id_col="event_id", n_buckets=8))
    return out.df.select("event_id", "value_outlier",
                         F.col("bucket").cast("int").alias("bucket"))


@query("q_dedup_ngram_jaccard_pairs", _JACCARD_ORACLE)
def q_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram-shingle jaccard near-dup pairs (threshold 0.6):
    explode->join-on-shingle->pair counts. The exact verifier; quadratic
    only within shared shingles."""
    from beam_spark.operators.dedupe import NgramJaccardPairs

    return (table(spark, sf_dir, "documents")
            | NgramJaccardPairs(threshold=0.6)).df


@query("q_dedup_containment_pairs", """
WITH sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM documents),
p AS (SELECT a.doc_id AS i, b.doc_id AS j,
        CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / len(a.shingles) AS containment
      FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
      WHERE len(a.shingles) > 0 AND len(b.shingles) > 0)
SELECT i, j, containment FROM p WHERE containment >= 0.5
""".replace("{_SHINGLES}", _SHINGLES))
def q_dedup_containment_pairs(spark, sf_dir):
    """Asymmetric shingle-containment near-dup pairs (threshold 0.5,
    ordered — c(i in j) and c(j in i) emit independently): the
    doc-inside-doc signal symmetric jaccard misses. Exact verifier
    posture: same brute-force oracle shape as the jaccard family,
    containment UNROUNDED (one int/int division)."""
    from beam_spark.operators.dedupe import ContainmentPairs

    return (table(spark, sf_dir, "documents")
            | ContainmentPairs(threshold=0.5)).df


@query("q_dedup_jaccard_prefix_join", _JACCARD_ORACLE)
def q_jaccard_prefix(spark, sf_dir):
    """EXACT jaccard pairs via AllPairs/PPJoin prefix filtering —
    candidates only from each doc's rarest shingles + length filter,
    exact array_intersect verify. Same brute-force oracle as the
    quadratic path: equality proves the prefix pruning loses no pair
    (recall 1.0 by construction, unlike LSH). order='df' (rarest
    shingles first): on this corpus the df-ordered prefix emits ~8x
    fewer candidates than lex order (hot shingles never join),
    measured 3.5s vs 8.1s one-shot at sf0.1."""
    from beam_spark.operators.dedupe import JaccardPrefixJoin

    return (table(spark, sf_dir, "documents")
            | JaccardPrefixJoin(threshold=0.6, order="df")).df


@query("q_dedup_record_linkage_score", """
WITH p AS (SELECT c_custkey AS i, c_custkey + 1 AS j FROM customer
           WHERE c_custkey + 1 IN (SELECT c_custkey FROM customer))
SELECT p.i, p.j,
  round(
    CASE WHEN a.c_nationkey IS NULL OR b.c_nationkey IS NULL THEN 0
         WHEN a.c_nationkey = b.c_nationkey THEN log2(0.9 / 0.04)
         ELSE log2(0.1 / 0.96) END
    + CASE WHEN a.c_mktsegment IS NULL OR b.c_mktsegment IS NULL
           THEN 0
           WHEN a.c_mktsegment = b.c_mktsegment THEN log2(0.75 / 0.2)
           ELSE log2(0.25 / 0.8) END, 6) AS weight,
  CAST((CASE WHEN a.c_nationkey = b.c_nationkey THEN 1 ELSE 0 END)
     + (CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END)
     AS INT) AS n_agree
FROM p JOIN customer a ON a.c_custkey = p.i
       JOIN customer b ON b.c_custkey = p.j
""")
def q_record_linkage_score(spark, sf_dir):
    """Fellegi-Sunter match weights over consecutive-custkey candidate
    pairs, compared on nation (m=0.9, u=0.04) and market segment
    (m=0.75, u=0.2): the operator injects driver-computed log2 weight
    literals, the oracle recomputes them with DuckDB's log2 — the
    <= 1-ulp libm divergence is absorbed by the repo-wide round(6)."""
    from beam_spark.operators.dedupe import RecordLinkageScore

    c = table(spark, sf_dir, "customer").df
    pairs = (c.selectExpr("c_custkey AS i", "c_custkey + 1 AS j")
             .join(c.selectExpr("c_custkey AS j"), on="j",
                   how="leftsemi"))
    out = (PCollection(pairs) | RecordLinkageScore(
        c, {"c_nationkey": (0.9, 0.04), "c_mktsegment": (0.75, 0.2)},
        id_col="c_custkey")).df
    return out.select("i", "j", "weight", "n_agree")


@query("q_dedup_minhash_lsh_pairs", _JACCARD_ORACLE)
def q_minhash_lsh(spark, sf_dir):
    """MinHash(128 perms)+LSH(16 bands x 8 rows) candidates, exact-jaccard
    verified — the 100 TB dedup path. Oracle caveat: LSH is a recall
    filter. At 16x8 the per-pair collision prob is 1-(1-s^8)^16 — ~0.24
    at s=0.6 (the threshold), ~1-1.2e-4 at s=0.9, and only >=1-1e-7 for
    s>=0.945. The exact-jaccard oracle matches because (a) the testdata's
    planted near-dups all have jaccard >= 0.9 (verified across SFs) and
    (b) the permutations are seed-deterministic, so the realized candidate
    set is reproducible, and exact-jaccard verification removes false
    positives. A future testdata pair with borderline similarity
    (0.6 <= s < ~0.9) could legitimately miss — that would be an LSH
    recall property, not an engine bug."""
    from beam_spark.operators.dedupe import MinHashLSH

    return (table(spark, sf_dir, "documents")
            | MinHashLSH(bands=16, rows_per_band=8, threshold=0.6)).df


@query("q_dedup_simhash_pairs", None)
def q_simhash(spark, sf_dir):
    """SimHash-64 near-dup pairs (hamming <= 3) via chunk-pigeonhole
    bucketing. xxhash64-based (the scale default) — xxhash64 has no
    DuckDB twin, so no SQL oracle HERE; the identical pair machinery is
    fully value-oracled by q_dedup_simhash_pairs_md5 below, and
    plant-recall is asserted in pytest."""
    from beam_spark.operators.dedupe import SimHashNearDupPairs

    return (table(spark, sf_dir, "documents")
            | SimHashNearDupPairs(max_distance=3)).df


_SIMHASH_FP_CTE = f"""
tok AS (SELECT doc_id, {_TOK} AS w FROM documents),
u AS (SELECT doc_id, unnest(list_distinct(w)) AS t, w FROM tok),
h AS (SELECT doc_id,
        CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS h1,
        CAST(('0x' || substr(md5(t), 9, 8)) AS BIGINT) AS h2,
        len(list_filter(w, x -> x = t)) AS wt
      FROM u),
bits AS (SELECT doc_id, b.b AS b,
           SUM(CASE WHEN (CASE WHEN b.b < 32 THEN (h1 >> b.b) & 1
                          ELSE (h2 >> (b.b - 32)) & 1 END) = 1
               THEN wt ELSE -wt END) AS vote
         FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS b) b
         GROUP BY doc_id, b.b),
fp AS (SELECT doc_id,
  CAST(SUM(CASE WHEN vote > 0 AND b < 32 THEN (CAST(1 AS BIGINT) << b)
      ELSE 0 END) AS BIGINT) AS fp_lo,
  CAST(SUM(CASE WHEN vote > 0 AND b >= 32
      THEN (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS fp_hi
FROM bits GROUP BY doc_id)"""


@query("q_dedup_simhash_pairs_md5", f"""
WITH {_SIMHASH_FP_CTE}
SELECT a.doc_id AS i, b.doc_id AS j,
       CAST(bit_count(xor(a.fp_lo, b.fp_lo))
            + bit_count(xor(a.fp_hi, b.fp_hi)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp_lo, b.fp_lo))
      + bit_count(xor(a.fp_hi, b.fp_hi)) <= 3
""")
def q_simhash_pairs_md5(spark, sf_dir):
    """SimHash pairs in the portable md5-hash mode: the FULL pipeline
    (fingerprint votes -> pigeonhole chunks -> candidate join ->
    bit_count verify) value-oracled end to end — DuckDB recomputes the
    identical fingerprints from md5 and takes ALL pairs, so candidate
    generation completeness is verified too (any pair the pigeonhole
    bucketing missed would hash-mismatch)."""
    from beam_spark.operators.dedupe import SimHashNearDupPairs

    return (table(spark, sf_dir, "documents")
            | SimHashNearDupPairs(max_distance=3, hash_fn="md5")).df


@query("q_text_quality_scores", f"""
WITH t AS (SELECT doc_id, text, {_TOK} AS toks FROM documents)
SELECT doc_id,
       len(toks) AS n_tokens,
       CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
         / greatest(length(text), 1) AS punct_ratio,
       CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
         / greatest(length(text), 1) AS alpha_ratio,
       CAST(len(list_intersect(toks,
            ['the','and','of','to','a','in','is','that','it','for'])) AS DOUBLE)
         / greatest(len(toks), 1) AS stopword_ratio
FROM t
""")
def q_quality(spark, sf_dir):
    """Quality-scoring features (length/punct/stopword ratios)."""
    from beam_spark.operators.text import (alpha_ratio, punct_ratio,
                                           stopword_ratio,
                                           token_count_whitespace)

    df = table(spark, sf_dir, "documents").df
    return df.select(
        "doc_id",
        token_count_whitespace("text").alias("n_tokens"),
        punct_ratio("text").alias("punct_ratio"),
        alpha_ratio("text").alias("alpha_ratio"),
        stopword_ratio("text").alias("stopword_ratio"))


@query("q_text_langid", f"""
WITH t AS (SELECT doc_id, text, {_TOK} AS toks FROM documents),
v AS (SELECT doc_id,
        len(list_intersect(toks, ['the','and','of','to','a','in','is','that','it','for'])) AS v_en,
        len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein','mit','auf','zu'])) AS v_de,
        len(list_intersect(toks, ['le','la','les','et','est','un','une','dans','pour','que'])) AS v_fr,
        len(list_intersect(toks, ['el','la','los','las','y','es','un','una','en','por'])) AS v_es
      FROM t)
SELECT doc_id,
       CASE WHEN v_en >= greatest(v_de, v_fr, v_es) THEN 'en'
            WHEN v_de >= greatest(v_fr, v_es) THEN 'de'
            WHEN v_fr >= v_es THEN 'fr'
            ELSE 'es' END AS lang_pred
FROM v
""")
def q_langid(spark, sf_dir):
    """Stopword-vote language ID (deterministic argmax, fixed tie order).
    The synthetic corpus is same-vocabulary across langs, so this checks
    the operator's determinism; detection accuracy is pytest-checked on
    real multilingual samples."""
    from beam_spark.operators.text import LanguageId

    out = (table(spark, sf_dir, "documents") | LanguageId())
    return out.df.select("doc_id", "lang_pred")


@query("q_embedding_neardup_pairs", """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS i, b.vec_id AS j,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.35
""")
def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, exact (brute strategy) — vectors
    cast to double before the fold so both engines accumulate doubles."""
    from beam_spark.operators.similarity import EmbeddingNearDupPairs
    from beam_spark.pcollection import PCollection

    emb = table(spark, sf_dir, "embeddings").df.select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"))
    return (PCollection(emb)
            | EmbeddingNearDupPairs(threshold=0.35, strategy="brute")).df


@query("q_semdedup_clusters", """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
seeds AS (SELECT vec_id AS sid, v AS sv FROM e ORDER BY vec_id LIMIT 8),
assign AS (
  SELECT vec_id, v, sid AS cluster_id FROM (
    SELECT e.vec_id, e.v, s.sid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_cosine_similarity(e.v, s.sv) DESC,
                                       s.sid) AS rn
    FROM e CROSS JOIN seeds s) t
  WHERE rn = 1)
SELECT a.vec_id, a.cluster_id,
       CAST(CASE WHEN count(b.vec_id) > 0 THEN 1 ELSE 0 END AS INT) AS is_dup
FROM assign a LEFT JOIN assign b
  ON b.cluster_id = a.cluster_id AND b.vec_id < a.vec_id
 AND list_cosine_similarity(a.v, b.v) >= 0.35
GROUP BY a.vec_id, a.cluster_id
""")
def q_semdedup(spark, sf_dir):
    """SemDeDup (arXiv:2303.09540): coarse-cluster the embedding space,
    mark points with cosine >= t to an earlier same-cluster point as
    duplicates. Deterministic seed-centroid mode (the oracle-replicable
    pure function of the data); the quadratic scan never leaves a
    cluster."""
    from beam_spark.operators.similarity import SemDeDup
    from beam_spark.pcollection import PCollection

    emb = table(spark, sf_dir, "embeddings").df.select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"))
    return (PCollection(emb)
            | SemDeDup(n_clusters=8, threshold=0.35)).df


@query("q_semdedup_lloyd_verdict", """
SELECT vec_id, TRUE AS ok FROM embeddings""")
def q_semdedup_lloyd(spark, sf_dir):
    """SemDeDup in lloyd_iters mode: the refined centroids are a numpy
    artifact DuckDB cannot replicate, so the oracle is the SPEC as a
    verdict — for every vector, is_dup=1 iff an earlier same-cluster
    vector has cosine >= t (both directions re-derived here from the
    operator's own cluster assignment + raw embeddings). Any
    correctness drift in the dup scan flips a row to FALSE and
    hash-mismatches."""
    from beam_spark.operators.similarity import SemDeDup, cosine, norm
    from beam_spark.pcollection import PCollection

    emb = table(spark, sf_dir, "embeddings").df.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        .alias("embedding"))
    res = (PCollection(emb)
           | SemDeDup(n_clusters=8, threshold=0.35, lloyd_iters=2)).df
    vec = emb.withColumn("nrm", norm(F.col("embedding")))
    r = (res.join(vec, on="vec_id")
         .select("vec_id", "cluster_id", "is_dup",
                 F.col("embedding").alias("v"), "nrm"))
    a = r.select(F.col("vec_id").alias("i"), "cluster_id", "is_dup",
                 F.col("v").alias("vi"), F.col("nrm").alias("ni"))
    b = r.select(F.col("vec_id").alias("j"), "cluster_id",
                 F.col("v").alias("vj"), F.col("nrm").alias("nj"))
    wit = (a.join(b, on="cluster_id")
           .filter((F.col("j") < F.col("i"))
                   & (cosine(F.col("vi"), F.col("vj"),
                             F.col("ni"), F.col("nj")) >= 0.35))
           .select("i").distinct().withColumn("__w", F.lit(1)))
    return (a.select("i", "is_dup")
            .join(wit, on="i", how="left")
            .select(F.col("i").alias("vec_id"),
                    ((F.col("is_dup") == 1)
                     == F.col("__w").isNotNull()).alias("ok")))


@query("q_ann_bruteforce_topk", """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
s AS (SELECT q.vec_id AS query_id, e.vec_id AS nbr_id,
             list_cosine_similarity(q.v, e.v) AS c
      FROM q JOIN e ON q.vec_id <> e.vec_id),
r AS (SELECT query_id, nbr_id, c,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY c DESC, nbr_id) AS rank
      FROM s)
SELECT query_id, nbr_id, rank, round(c, 6) AS cosine FROM r WHERE rank <= 5
""")
def q_ann_brute(spark, sf_dir):
    """Brute-force cosine top-k (exact ANN baseline): broadcast query set,
    single corpus scan, per-query TakeOrdered."""
    from beam_spark.operators.similarity import BruteForceCosineTopK
    from beam_spark.pcollection import PCollection

    emb = table(spark, sf_dir, "embeddings").df.select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"))
    queries_df = emb.filter("vec_id < 10")
    return (PCollection(emb)
            | BruteForceCosineTopK(queries_df, k=5)).df


@query("q_cluster_dbscan_customers", """
WITH RECURSIVE
p AS (SELECT c_custkey AS id,
             CAST(c_acctbal AS DOUBLE) / 1000 AS x,
             CAST(c_nationkey AS DOUBLE) AS y
      FROM customer WHERE c_custkey % 10 = 0
        AND c_acctbal IS NOT NULL AND c_nationkey IS NOT NULL),
e AS (SELECT a.id AS i, b.id AS j
      FROM p a JOIN p b ON a.id <> b.id
      WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
            <= CAST(0.0625 AS DOUBLE)),
nc AS (SELECT i AS id, CAST(count(*) AS BIGINT) AS n
       FROM e GROUP BY 1),
cores AS (SELECT id FROM nc WHERE n + 1 >= 3),
ce AS (SELECT e.i, e.j FROM e
       JOIN cores a ON a.id = e.i JOIN cores b ON b.id = e.j
       WHERE e.i < e.j),
sym AS (SELECT i AS a, j AS b FROM ce UNION SELECT j, i FROM ce),
reach(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b),
comp AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY 1),
ca AS (SELECT c.id, COALESCE(comp.comp, c.id) AS cluster
       FROM cores c LEFT JOIN comp ON comp.id = c.id),
border AS (SELECT e.i AS id, min(ca.cluster) AS cluster
           FROM e JOIN ca ON ca.id = e.j
           WHERE e.i NOT IN (SELECT id FROM cores)
           GROUP BY 1),
asg AS (SELECT id, cluster, TRUE AS is_core FROM ca
        UNION ALL SELECT id, cluster, FALSE FROM border)
SELECT p.id, asg.cluster, COALESCE(asg.is_core, FALSE) AS is_core
FROM p LEFT JOIN asg ON asg.id = p.id
""")
def q_cluster_dbscan_customers(spark, sf_dir):
    """Grid DBSCAN (eps 0.25 dyadic — the squared threshold 0.0625 is
    an exact double in both engines; min_pts 3) over the c_custkey%10
    customer slice in (acctbal/1000, nationkey) space: 3^2 adjacent-
    cell probe join, exact squared distances, star-CC cluster ids,
    min-cluster border attachment; DuckDB replays the neighbor graph
    directly (O(n^2) on the slice) + recursive-CTE closure."""
    from beam_spark.operators.similarity import DbscanClusters

    cust = table(spark, sf_dir, "customer").df.where(
        "c_custkey % 10 = 0").selectExpr(
        "c_custkey AS id",
        "CAST(c_acctbal AS DOUBLE) / 1000 AS x",
        "CAST(c_nationkey AS DOUBLE) AS y")
    return (PCollection(cust)
            | DbscanClusters(["x", "y"], eps=0.25, min_pts=3)).df


def _lsh_dbscan_oracle_sql(dim: int = 64, bands: int = 8,
                           rows_per_band: int = 2, w: float = 2.25,
                           eps: float = 1.125, min_pts: int = 3,
                           seed: int = 7, slice_mod: int = 8) -> str:
    """DuckDB replay of DbscanClustersLsh on the embeddings table:
    the SAME seed-deterministic projection literals
    (similarity.lsh_projections) drive per-band bucket keys with the
    IDENTICAL left-assoc per-dimension sum chain the Spark plan
    builds, candidates verify on the identical exact-distance chain,
    and the DBSCAN tail (cores -> recursive-CTE closure -> borders)
    is the grid component's oracle rooted on the LSH pair set."""
    from beam_spark.operators.similarity import lsh_projections

    a, b = lsh_projections(dim, bands, rows_per_band, w, seed)

    def dlit(x):
        return f"CAST({x!r} AS DOUBLE)"

    band_selects = []
    for band in range(bands):
        keys = []
        for r in range(rows_per_band):
            s = "CAST(0 AS DOUBLE)"
            for i in range(dim):
                s += f" + v[{i + 1}] * {dlit(a[band][r][i])}"
            keys.append(
                f"CAST(floor(({s} + {dlit(b[band][r])}) / {dlit(w)}) "
                f"AS BIGINT) AS k{r}")
        band_selects.append(
            f"SELECT id, v, {band} AS band, {', '.join(keys)} FROM p")
    k_sql = "\nUNION ALL\n".join(band_selects)
    d2 = "CAST(0 AS DOUBLE)"
    for i in range(dim):
        d2 += (f" + (x.v[{i + 1}] - y.v[{i + 1}])"
               f" * (x.v[{i + 1}] - y.v[{i + 1}])")
    on_keys = " AND ".join(f"y.k{r} = x.k{r}"
                           for r in range(rows_per_band))
    return f"""
WITH RECURSIVE
p AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id % {slice_mod} = 0
        AND embedding IS NOT NULL),
k AS ({k_sql}),
e AS (SELECT DISTINCT x.id AS i, y.id AS j
      FROM k x JOIN k y ON y.band = x.band AND {on_keys}
      WHERE x.id <> y.id AND {d2} <= {dlit(eps * eps)}),
nc AS (SELECT i AS id, CAST(count(*) AS BIGINT) AS n
       FROM e GROUP BY 1),
cores AS (SELECT id FROM nc WHERE n + 1 >= {min_pts}),
ce AS (SELECT e.i, e.j FROM e
       JOIN cores a ON a.id = e.i JOIN cores b ON b.id = e.j
       WHERE e.i < e.j),
sym AS (SELECT i AS a, j AS b FROM ce UNION SELECT j, i FROM ce),
reach(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON s.a = r.b),
comp AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY 1),
ca AS (SELECT c.id, COALESCE(comp.comp, c.id) AS cluster
       FROM cores c LEFT JOIN comp ON comp.id = c.id),
border AS (SELECT e.i AS id, min(ca.cluster) AS cluster
           FROM e JOIN ca ON ca.id = e.j
           WHERE e.i NOT IN (SELECT id FROM cores)
           GROUP BY 1),
asg AS (SELECT id, cluster, TRUE AS is_core FROM ca
        UNION ALL SELECT id, cluster, FALSE FROM border)
SELECT p.id, asg.cluster, COALESCE(asg.is_core, FALSE) AS is_core
FROM p LEFT JOIN asg ON asg.id = p.id
"""


@query("q_cluster_dbscan_lsh_embeddings", _lsh_dbscan_oracle_sql())
def q_cluster_dbscan_lsh(spark, sf_dir):
    """High-dimensional DBSCAN over the 64-dim embeddings (vec_id%8
    slice — r15: was %3/~16s, the registry's heaviest component; the
    cost decomposes as ~5s fixed driver-side planning + a pair-volume
    term, so the slice trims the quadratic term under the ~8s budget
    while the gate fold in q_dedup_pairs_suite keeps a second config
    driver-visible) via p-stable LSH candidate pairs (8 bands x 2
    rows, w=2.25, eps=1.125 — both dyadic, min_pts=3): bucket keys
    and exact verify distances are fixed-order per-dimension double
    chains, so the realized approximate candidate set — and the full
    cluster assignment built on it — replays exactly in DuckDB.
    Corpus caveat: the testdata embeddings are near-uniform random
    (pair contrast ~1.2x), where NO LSH family can prune — candidate
    volume here tracks all-pairs, hence the slice; on real embedding
    corpora (neighbors at 2x+ contrast) the band join prunes. The
    recall-vs-exact floor is pytest-asserted at d=2."""
    from beam_spark.operators.similarity import DbscanClustersLsh

    emb = table(spark, sf_dir, "embeddings").df.where(
        "vec_id % 8 = 0").selectExpr("vec_id AS id", "embedding")
    return (PCollection(emb)
            | DbscanClustersLsh("embedding", eps=1.125, min_pts=3,
                                bands=8, rows_per_band=2,
                                seed=7)).df


@query("q_ann_knn_classify", """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  CAST(vec_id % 7 AS VARCHAR) AS lbl FROM embeddings),
q AS (SELECT vec_id, v FROM e WHERE vec_id < 20),
s AS (SELECT q.vec_id AS query_id, e.vec_id AS nbr_id, e.lbl,
             list_cosine_similarity(q.v, e.v) AS c
      FROM q JOIN e ON q.vec_id <> e.vec_id),
r AS (SELECT query_id, nbr_id, lbl,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY c DESC, nbr_id) AS INT) AS rank
      FROM s),
v AS (SELECT query_id, lbl, CAST(count(*) AS BIGINT) AS votes,
             min(rank) AS best_rank
      FROM r WHERE rank <= 5 GROUP BY 1, 2),
p AS (SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY votes DESC, best_rank, lbl) AS rr FROM v)
SELECT query_id, lbl AS predicted, votes, best_rank
FROM p WHERE rr = 1
""")
def q_ann_knn_classify(spark, sf_dir):
    """5-NN cosine classification of the first 20 vectors against the
    vec_id%7-labeled corpus — brute top-k (the exact baseline the
    ANN gate value-checks), vocabulary-bounded label join,
    integer-exact (votes, best_rank, label) argmax; DuckDB replays
    neighbors and vote end-to-end."""
    from beam_spark.operators.similarity import KNeighborsClassify

    emb = table(spark, sf_dir, "embeddings").df.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        .alias("embedding"),
        (F.col("vec_id") % 7).cast("string").alias("label"))
    queries_df = emb.filter("vec_id < 20")
    return (PCollection(emb)
            | KNeighborsClassify(queries_df, k=5)).df


@query("q_ann_lsh_topk", None)
def q_ann_lsh(spark, sf_dir):
    """Hyperplane-LSH bucketed ANN (the scale path): recall vs brute force
    asserted in pytest."""
    from beam_spark.operators.similarity import LshCosineTopK
    from beam_spark.pcollection import PCollection

    emb = table(spark, sf_dir, "embeddings").df.select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"))
    queries_df = emb.filter("vec_id < 10")
    # 4 planes + 1-bit multi-probe: on this near-uniform random corpus the
    # neighbor angles are wide (~65 deg), so few planes + probing is the
    # right trade; on real embedding corpora (neighbors cos>0.8) more
    # planes sharpen buckets. Recall vs brute is pytest-asserted.
    return (PCollection(emb)
            | LshCosineTopK(queries_df, k=5, n_planes=4)).df


@query("q_multimodal_image_features", None)
def q_multimodal(spark, sf_dir):
    """Multimodal plumbing: binary payload column -> Arrow-batched decode
    (stubbed) -> metadata + feature vector. Schema/batching/partitioning
    are real; the codec is a deterministic fake (no media libs here)."""
    from beam_spark.operators.multimodal import (DecodeImageMetadata,
                                                 ExtractImageFeatures,
                                                 make_assets_from_documents)
    from beam_spark.pcollection import PCollection

    assets = make_assets_from_documents(table(spark, sf_dir, "documents").df)
    out = (PCollection(assets)
           | DecodeImageMetadata()
           | ExtractImageFeatures(dim=16))
    return out.df.select("asset_id", "media_type", "width", "height", "features")


# --------------------------------------------------------------------------
# M5 — ParDo/DoFn UDF surface in the gate: an arbitrary-Python per-element
# transform whose semantics are still SQL-checkable.
# --------------------------------------------------------------------------

@query("q_pardo_json_props", """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       event_type
FROM events WHERE event_type <> 'error'
""")
def q_pardo_json(spark, sf_dir):
    """ParDo slow path end-to-end: Python json.loads per element inside
    Arrow batches (the DoFn bundle), checked against DuckDB's JSON
    extraction. Hot-path equivalent would be F.get_json_object."""
    import json

    from beam_spark.operators.pardo import DoFn, ParDo

    class ExtractProps(DoFn):
        def process(self, el):
            if el["event_type"] == "error":
                return
            yield {"event_id": el["event_id"],
                   "k": json.loads(el["props"]).get("k"),
                   "event_type": el["event_type"]}

    # fan_out: the Python json.loads bundle otherwise runs on the
    # scan's single task (single-row-group input); per-row pure
    ev = table(spark, sf_dir, "events")
    out = (ev.with_df(fan_out(ev.df))
           | ParDo(ExtractProps(),
                   output_schema="event_id: long, k: long, event_type: string"))
    return out.df


# --------------------------------------------------------------------------
# M7 — SQL surface in the gate: SqlTransform with the Beam TUMBLE TVF
# dialect rewritten to native window().
# --------------------------------------------------------------------------

@query("q_sql_asof_join", """
WITH v AS (SELECT user_id, ts, event_id FROM events
           WHERE event_type = 'view' AND user_id IS NOT NULL),
p AS (SELECT user_id, ts AS pts,
             CAST(max(event_id) AS BIGINT) AS p_event,
             max(value) AS p_value
      FROM events
      WHERE event_type = 'purchase' AND value IS NOT NULL
        AND user_id IS NOT NULL
      GROUP BY user_id, ts)
SELECT v1.user_id, v1.event_id, v1.ts, p1.p_event, p1.p_value
FROM v v1 ASOF LEFT JOIN p p1
ON v1.user_id = p1.user_id AND v1.ts >= p1.pts
""")
def q_sql_asof_join(spark, sf_dir):
    """ASOF LEFT JOIN through SqlTransform: the dialect pre-pass
    executes the AsOfJoin operator (union + last-value window — no
    pairwise range join) and flattens the alias-qualified references;
    the oracle runs DuckDB's NATIVE ASOF JOIN on the same join spec.
    The right side is deduped per (user_id, ts) so the latest-match
    winner is engine-independent."""
    from beam_spark.sql import SqlTransform

    ev = table(spark, sf_dir, "events").df
    v = ev.filter("event_type = 'view' AND user_id IS NOT NULL") \
        .select("user_id", "ts", "event_id")
    p = (ev.filter("event_type = 'purchase' AND value IS NOT NULL "
                   "AND user_id IS NOT NULL")
         .groupBy("user_id", F.col("ts").alias("pts"))
         .agg(F.max("event_id").cast("long").alias("p_event"),
              F.max("value").alias("p_value")))
    out = ({"v": PCollection(v), "p": PCollection(p)} | SqlTransform(
        "SELECT v1.user_id, v1.event_id, v1.ts, p1.p_event, "
        "p1.p_value FROM v v1 ASOF LEFT JOIN p p1 "
        "ON v1.user_id = p1.user_id AND v1.ts >= p1.pts"))
    return out.df


@query("q_sql_qualify_topn", """
SELECT o_orderpriority, o_orderkey, o_totalprice,
       row_number() OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice DESC, o_orderkey) AS rn
FROM orders
QUALIFY rn <= 3
""")
def q_sql_qualify(spark, sf_dir):
    """QUALIFY clause through SqlTransform: Spark has no QUALIFY, so
    the dialect pre-pass rewrites it into the subquery+flag form
    (SELECT * EXCEPT(__qualify) ... WHERE __qualify); the oracle runs
    DuckDB's NATIVE QUALIFY on the identical query text — a genuine
    cross-dialect conformance check, not a replay."""
    from beam_spark.sql import SqlTransform

    orders = table(spark, sf_dir, "orders")
    out = ({"orders": orders} | SqlTransform("""
SELECT o_orderpriority, o_orderkey, o_totalprice,
       row_number() OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice DESC, o_orderkey) AS rn
FROM orders
QUALIFY rn <= 3"""))
    return out.df


@query("q_sql_tumble_hourly", f"""
SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
       COUNT(*) AS n, {dsum(_EVENT_VAL, 'total')}
FROM events GROUP BY window_start
""")
def q_sql_tumble(spark, sf_dir):
    """Beam SQL windowing TVF through SqlTransform: the TUMBLE TVF is
    rewritten to Spark's window() (BeamAggregationRule.java:121-180
    mapping done as a dialect pre-pass)."""
    from beam_spark.sql import SqlTransform

    events = table(spark, sf_dir, "events")
    out = ({"events": events} | SqlTransform(f"""
        SELECT window_start, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        GROUP BY window_start"""))
    return out.df


# --------------------------------------------------------------------------
# M8 — ML/LLM pipeline module (SURVEY §2.12): RunInference batching,
# chunking, TFIDF, feature scaling.
# --------------------------------------------------------------------------

@query("q_ml_chunk_documents", f"""
WITH t AS (SELECT doc_id, {_TOK} AS w FROM documents),
c AS (SELECT doc_id,
             unnest(list_transform(
               range(0, greatest(CAST(ceil((len(w) - 64) / 56.0) AS BIGINT), 0) + 1),
               k -> struct_pack(
                 chunk_index := k,
                 chunk_text := array_to_string(w[k*56+1 : k*56+64], ' '),
                 n_chunk_tokens := len(w[k*56+1 : k*56+64])))) AS ch
      FROM t)
SELECT doc_id,
       doc_id || '#' || (ch.chunk_index) AS chunk_id,
       ch.chunk_index AS chunk_index,
       ch.chunk_text AS chunk_text,
       ch.n_chunk_tokens AS n_chunk_tokens
FROM c WHERE ch.n_chunk_tokens > 0
""")
def q_ml_chunk(spark, sf_dir):
    """RAG chunking (64-token windows, 8-token overlap): tokenize once,
    enumerate chunk starts, slice+join, explode — all JVM-side."""
    from beam_spark.ml.chunking import ChunkText

    return (table(spark, sf_dir, "documents")
            | ChunkText(chunk_tokens=64, overlap_tokens=8)).df


@query("q_ml_tfidf_top_terms", """
WITH tok AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
             FROM documents),
terms AS (SELECT doc_id, len(w) AS n_tokens, unnest(w) AS term FROM tok),
tf AS (SELECT doc_id, n_tokens, term, COUNT(*) AS tf_count
       FROM terms GROUP BY doc_id, n_tokens, term),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.term, tf.tf_count, df.df,
       (CAST(tf.tf_count AS DOUBLE) / tf.n_tokens)
         * (ln((1.0 + n.n_docs) / (1.0 + df.df)) + 1.0) AS tfidf
FROM tf, df, n WHERE tf.term = df.term AND tf.doc_id < 20
""")
def q_ml_tfidf(spark, sf_dir):
    """TFIDF (tft.py TFIDF): per-term document frequency broadcast back
    onto per-doc term counts. Restricted to doc_id < 20 to keep the gate
    output bounded."""
    from beam_spark.ml.transforms import TFIDF
    from beam_spark.pcollection import PCollection

    docs = table(spark, sf_dir, "documents")
    out = (docs | TFIDF()).df
    return out.filter("doc_id < 20")


@query("q_ml_runinference_fake", None)
def q_ml_runinference(spark, sf_dir):
    """RunInference plumbing with the deterministic fake handler: model
    loaded once per worker (share token), Arrow-batched, rows-only check
    (determinism asserted in pytest)."""
    from beam_spark.ml.inference import DeterministicFakeHandler, RunInference

    return (table(spark, sf_dir, "documents")
            | RunInference(DeterministicFakeHandler(), "text",
                           output_col="score", batch_size=128)).df


@query("q_ml_scale_bucketize", f"""
WITH s AS (SELECT min(c_acctbal) AS lo, max(c_acctbal) AS hi FROM customer)
SELECT c_custkey,
       (c_acctbal - s.lo) / (s.hi - s.lo) AS c_acctbal_scaled
FROM customer, s
""")
def q_ml_scale(spark, sf_dir):
    """ScaleTo01 (tft.py ScaleToMinMax family): fitted min/max artifact
    applied as a literal fold."""
    from beam_spark.ml.transforms import ScaleTo01

    out = (table(spark, sf_dir, "customer") | ScaleTo01("c_acctbal"))
    return out.df.select("c_custkey", "c_acctbal_scaled")


# --------------------------------------------------------------------------
# M9 — TPC-H-shape breadth (adapted to the TESTDATA columns): scalar
# subqueries, EXISTS, HAVING, CASE aggregation, OR-predicate joins,
# year() grouping — the relational surface the reference's TPC-DS corpus
# exercises (SURVEY §5).
# --------------------------------------------------------------------------

@query("q6_forecast_revenue", f"""
SELECT {dsum(f"{dec('l_extendedprice')} * {dec('l_discount', 4, 2)}", 'revenue')}
FROM lineitem
WHERE l_shipdate >= CAST('1996-01-01' AS TIMESTAMP)
  AND l_shipdate < CAST('1997-01-01' AS TIMESTAMP)
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""")
def q6(spark, sf_dir):
    """TPC-H Q6: pure scan-filter-aggregate; every predicate pushes to
    the parquet scan."""
    from beam_spark.operators.group import CombineGlobally

    out = (
        table(spark, sf_dir, "lineitem")
        | Filter("l_shipdate >= CAST('1996-01-01' AS TIMESTAMP) AND "
                 "l_shipdate < CAST('1997-01-01' AS TIMESTAMP) AND "
                 "l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24")
        | CombineGlobally(revenue=F.expr(
            f"CAST(SUM({dec('l_extendedprice')} * {dec('l_discount', 4, 2)}) AS DOUBLE)"))
    )
    return out.df


@query("q4_order_priority_exists", """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= CAST('1996-07-01' AS TIMESTAMP)
  AND o_orderdate < CAST('1996-10-01' AS TIMESTAMP)
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""")
def q4(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS -> left-semi join, then agg."""
    from beam_spark.operators.join import Join

    orders = (table(spark, sf_dir, "orders")
              | Filter("o_orderdate >= CAST('1996-07-01' AS TIMESTAMP) AND "
                       "o_orderdate < CAST('1996-10-01' AS TIMESTAMP)"))
    li = table(spark, sf_dir, "lineitem").df
    out = (orders
           | Join(li, condition=(F.col("o_orderkey") == F.col("l_orderkey"))
                  & (F.col("l_shipdate") > F.col("o_orderdate")), how="semi")
           | CombinePerKey("o_orderpriority", order_count="count(*)"))
    return out.df


@query("q10_returned_items", f"""
SELECT c_custkey, c_name, {dsum(_REVENUE, 'revenue')}, n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= CAST('1997-01-01' AS TIMESTAMP)
  AND o_orderdate < CAST('1997-04-01' AS TIMESTAMP)
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
""")
def q10(spark, sf_dir):
    from beam_spark.operators.join import Join
    from beam_spark.operators.sort import TopK

    out = (
        table(spark, sf_dir, "customer")
        | Join(table(spark, sf_dir, "orders").df,
               condition=F.col("c_custkey") == F.col("o_custkey"))
        | Filter("o_orderdate >= CAST('1997-01-01' AS TIMESTAMP) AND "
                 "o_orderdate < CAST('1997-04-01' AS TIMESTAMP)")
        | Join(table(spark, sf_dir, "lineitem").df.filter("l_returnflag = 'R'"),
               condition=F.col("o_orderkey") == F.col("l_orderkey"))
        | Join(table(spark, sf_dir, "nation").df,
               condition=F.col("c_nationkey") == F.col("n_nationkey"),
               broadcast=True)
        | CombinePerKey("c_custkey", "c_name", "n_name",
                        revenue=F.expr(f"CAST(SUM({_REVENUE}) AS DOUBLE)"))
        | TopK(20, "revenue desc", "c_custkey")
    )
    return out.df.select("c_custkey", "c_name", "revenue", "n_name")


@query("q7_volume_shipping_nation_pairs", f"""
SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
       year(o_orderdate) AS o_year, {dsum(_REVENUE, 'revenue')}
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY cust_nation, supp_nation, o_year
""")
def q7(spark, sf_dir):
    """TPC-H Q7 shape: same dim joined twice under different roles."""
    from beam_spark.operators.join import Join

    n1 = table(spark, sf_dir, "nation").df.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("cust_nation"))
    n2 = table(spark, sf_dir, "nation").df.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation"))
    # o_year is a computed key: GroupBy with named keys
    from beam_spark.operators.group import GroupBy

    out2 = (
        table(spark, sf_dir, "customer")
        | Join(table(spark, sf_dir, "orders").df,
               condition=F.col("c_custkey") == F.col("o_custkey"))
        | Join(table(spark, sf_dir, "lineitem").df,
               condition=F.col("o_orderkey") == F.col("l_orderkey"))
        | Join(table(spark, sf_dir, "supplier").df,
               condition=F.col("l_suppkey") == F.col("s_suppkey"))
        | Join(n1, condition=F.col("c_nationkey") == F.col("n1_key"), broadcast=True)
        | Join(n2, condition=F.col("s_nationkey") == F.col("n2_key"), broadcast=True)
        | Filter("cust_nation <> supp_nation")
        | GroupBy("cust_nation", "supp_nation", o_year="year(o_orderdate)")
          .aggregate_field(f"CAST(SUM({_REVENUE}) AS DOUBLE)", None, "revenue")
    )
    return out2.df


@query("q14_promo_revenue", f"""
SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                             THEN {_REVENUE} ELSE CAST(0 AS DECIMAL(26,4)) END) AS DOUBLE)
             / CAST(SUM({_REVENUE}) AS DOUBLE) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= CAST('1997-01-01' AS TIMESTAMP)
  AND l_shipdate < CAST('1997-02-01' AS TIMESTAMP)
""")
def q14(spark, sf_dir):
    """TPC-H Q14 shape: CASE inside aggregate, ratio of exact sums."""
    from beam_spark.operators.join import Join
    from beam_spark.operators.group import CombineGlobally

    out = (
        table(spark, sf_dir, "lineitem")
        | Filter("l_shipdate >= CAST('1997-01-01' AS TIMESTAMP) AND "
                 "l_shipdate < CAST('1997-02-01' AS TIMESTAMP)")
        | Join(table(spark, sf_dir, "part").df,
               condition=F.col("l_partkey") == F.col("p_partkey"), broadcast=True)
        | CombineGlobally(promo_pct=F.expr(
            f"100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REVENUE} "
            f"ELSE CAST(0 AS DECIMAL(26,4)) END) AS DOUBLE) "
            f"/ CAST(SUM({_REVENUE}) AS DOUBLE)"))
    )
    return out.df


@query("q18_large_volume_customers", f"""
SELECT c_custkey, c_name, o_orderkey, {dsum(dec('l_quantity'), 'total_qty')}
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_custkey, c_name, o_orderkey
HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250
""")
def q18(spark, sf_dir):
    """TPC-H Q18 shape: HAVING over a grouped join (post-agg filter)."""
    from beam_spark.operators.join import Join

    out = (
        table(spark, sf_dir, "customer")
        | Join(table(spark, sf_dir, "orders").df,
               condition=F.col("c_custkey") == F.col("o_custkey"))
        | Join(table(spark, sf_dir, "lineitem").df,
               condition=F.col("o_orderkey") == F.col("l_orderkey"))
        | CombinePerKey("c_custkey", "c_name", "o_orderkey",
                        total_qty=F.expr(
                            f"CAST(SUM({dec('l_quantity')}) AS DOUBLE)"))
        | Filter("total_qty > 250")
    )
    return out.df


@query("q19_or_predicate_join", f"""
SELECT {dsum(_REVENUE, 'revenue')}
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 10)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 20)
   OR (p_type = 'PROMO' AND p_size BETWEEN 20 AND 50 AND l_quantity < 15)
""")
def q19(spark, sf_dir):
    """TPC-H Q19 shape: disjunctive predicates over a join."""
    from beam_spark.operators.join import Join
    from beam_spark.operators.group import CombineGlobally

    out = (
        table(spark, sf_dir, "lineitem")
        | Join(table(spark, sf_dir, "part").df,
               condition=F.col("l_partkey") == F.col("p_partkey"), broadcast=True)
        | Filter("(p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 10) OR "
                 "(p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 20) OR "
                 "(p_type = 'PROMO' AND p_size BETWEEN 20 AND 50 AND l_quantity < 15)")
        | CombineGlobally(revenue=F.expr(f"CAST(SUM({_REVENUE}) AS DOUBLE)"))
    )
    return out.df


@query("q22_global_sales_opportunity", f"""
SELECT c_nationkey, COUNT(*) AS numcust,
       {dsum(dec('c_acctbal'), 'totacctbal')}
FROM customer
WHERE c_acctbal > (SELECT CAST(SUM({dec('c_acctbal')}) AS DOUBLE) / COUNT(*)
                   FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
""")
def q22(spark, sf_dir):
    """TPC-H Q22 shape: scalar subquery (exact decimal mean) + anti join."""
    from beam_spark.operators.join import Join

    cust = table(spark, sf_dir, "customer")
    avg_bal = cust.df.filter("c_acctbal > 0").agg(
        F.expr(f"CAST(SUM({dec('c_acctbal')}) AS DOUBLE) / COUNT(*)")).first()[0]
    out = (
        cust
        | Filter(F.col("c_acctbal") > F.lit(avg_bal))
        | Join(table(spark, sf_dir, "orders").df.select("o_custkey"),
               condition=F.col("c_custkey") == F.col("o_custkey"), how="anti")
        | CombinePerKey("c_nationkey",
                        numcust="count(*)",
                        totacctbal=F.expr(
                            f"CAST(SUM({dec('c_acctbal')}) AS DOUBLE)"))
    )
    return out.df


@query("q2_min_cost_supplier", f"""
WITH eu_supp AS (SELECT s_suppkey, s_name FROM supplier
                 JOIN nation ON s_nationkey = n_nationkey
                 JOIN region ON n_regionkey = r_regionkey
                 WHERE r_name = 'EUROPE'),
offers AS (SELECT l_partkey, l_suppkey,
                  MIN({dec('l_extendedprice')}) AS min_price
           FROM lineitem GROUP BY l_partkey, l_suppkey),
best AS (SELECT o.l_partkey AS bp, MIN(o.min_price) AS best_price
         FROM offers o JOIN eu_supp s ON o.l_suppkey = s.s_suppkey
         GROUP BY o.l_partkey)
SELECT p_partkey, s_name, CAST(b.best_price AS DOUBLE) AS min_cost
FROM part
JOIN best b ON p_partkey = b.bp
JOIN offers o ON o.l_partkey = p_partkey AND o.min_price = b.best_price
JOIN eu_supp s ON o.l_suppkey = s.s_suppkey
WHERE p_size = 15
""")
def q2(spark, sf_dir):
    """TPC-H Q2 shape (adapted — no partsupp table in TESTDATA, so
    lineitem stands in as the part-supplier offer relation): correlated
    MIN subquery = per-part best price re-joined on equality. Ties emit
    every minimal supplier, exactly like Q2."""
    from beam_spark.operators.join import Join

    eu_supp = (table(spark, sf_dir, "supplier")
               | Join(table(spark, sf_dir, "nation").df,
                      condition=F.col("s_nationkey") == F.col("n_nationkey"),
                      broadcast=True)
               | Join(table(spark, sf_dir, "region").df,
                      condition=F.col("n_regionkey") == F.col("r_regionkey"),
                      broadcast=True)
               | Filter("r_name = 'EUROPE'")
               | Select("s_suppkey", "s_name"))
    # push the p_size predicate BELOW both aggregations: a broadcast
    # semi-join keeps only the ~2% of lineitem rows whose part survives,
    # so the per-(part,supplier) and per-part groupBys aggregate 50x
    # less data — the late-filter version would aggregate everything and
    # discard 98% at the end (the classic 100 TB scale smell). Values
    # are identical: per-part aggregates are independent across parts.
    sized = (table(spark, sf_dir, "part") | Filter("p_size = 15"))
    offers = (table(spark, sf_dir, "lineitem")
              | Join(sized.df.select(F.col("p_partkey").alias("__pk")),
                     condition=F.col("l_partkey") == F.col("__pk"),
                     how="semi", broadcast=True)
              | CombinePerKey("l_partkey", "l_suppkey",
                              min_price=F.expr(f"MIN({dec('l_extendedprice')})")))
    offers.persist()
    best = (offers
            | Join(eu_supp.df, condition=F.col("l_suppkey") == F.col("s_suppkey"),
                   how="semi")
            | CombinePerKey("l_partkey", best_price=F.min("min_price")))
    out = (sized
           | Join(best.df.select(F.col("l_partkey").alias("bp"), "best_price"),
                  condition=F.col("p_partkey") == F.col("bp"))
           | Join(offers.df.select(F.col("l_partkey").alias("op"),
                                   F.col("l_suppkey").alias("os"), "min_price"),
                  condition=(F.col("op") == F.col("p_partkey"))
                  & (F.col("min_price") == F.col("best_price")))
           | Join(eu_supp.df, condition=F.col("os") == F.col("s_suppkey"),
                  broadcast=True)
           | Select("p_partkey", "s_name",
                    F.col("best_price").cast("double").alias("min_cost")))
    return out.df


@query("q9_profit_by_nation_year", f"""
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       {dsum(_REVENUE, 'sum_profit')}
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON o_orderkey = l_orderkey
JOIN part ON p_partkey = l_partkey
WHERE p_type = 'PROMO'
GROUP BY n_name, year(o_orderdate)
""")
def q9(spark, sf_dir):
    """TPC-H Q9 shape (adapted: p_type filter stands in for the p_name
    LIKE predicate; profit = discounted revenue — no supplycost column):
    5-way join, computed grouping keys."""
    from beam_spark.operators.group import GroupBy
    from beam_spark.operators.join import Join

    out = (
        table(spark, sf_dir, "lineitem")
        | Join(table(spark, sf_dir, "supplier").df,
               condition=F.col("l_suppkey") == F.col("s_suppkey"), broadcast=True)
        | Join(table(spark, sf_dir, "nation").df,
               condition=F.col("s_nationkey") == F.col("n_nationkey"), broadcast=True)
        | Join(table(spark, sf_dir, "orders").df,
               condition=F.col("o_orderkey") == F.col("l_orderkey"))
        | Join(table(spark, sf_dir, "part").df.filter("p_type = 'PROMO'"),
               condition=F.col("p_partkey") == F.col("l_partkey"), broadcast=True)
        | GroupBy(nation="n_name", o_year="year(o_orderdate)")
          .aggregate_field(f"CAST(SUM({_REVENUE}) AS DOUBLE)", None, "sum_profit")
    )
    return out.df


@query("q20_promo_quantity_suppliers", f"""
WITH sq AS (SELECT l_suppkey, {dsum(dec('l_quantity'), 'promo_qty')}
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_type = 'PROMO'
              AND l_shipdate >= CAST('1997-01-01' AS TIMESTAMP)
              AND l_shipdate < CAST('1998-01-01' AS TIMESTAMP)
            GROUP BY l_suppkey)
SELECT s_name, promo_qty
FROM supplier
JOIN sq ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND promo_qty > 50
""")
def q20(spark, sf_dir):
    """TPC-H Q20 shape (adapted): suppliers of a nation whose shipped
    quantity of filtered parts over a year exceeds a threshold — the
    nested-EXISTS chain becomes pre-agg + joins."""
    from beam_spark.operators.join import Join

    sq = (table(spark, sf_dir, "lineitem")
          | Join(table(spark, sf_dir, "part").df.filter("p_type = 'PROMO'"),
                 condition=F.col("l_partkey") == F.col("p_partkey"),
                 broadcast=True)
          | Filter("l_shipdate >= CAST('1997-01-01' AS TIMESTAMP) AND "
                   "l_shipdate < CAST('1998-01-01' AS TIMESTAMP)")
          | CombinePerKey("l_suppkey", promo_qty=F.expr(
              f"CAST(SUM({dec('l_quantity')}) AS DOUBLE)")))
    out = (table(spark, sf_dir, "supplier")
           | Join(sq.df, condition=F.col("s_suppkey") == F.col("l_suppkey"))
           | Join(table(spark, sf_dir, "nation").df,
                  condition=F.col("s_nationkey") == F.col("n_nationkey"),
                  broadcast=True)
           | Join(table(spark, sf_dir, "region").df,
                  condition=F.col("n_regionkey") == F.col("r_regionkey"),
                  broadcast=True)
           | Filter("r_name = 'ASIA' AND promo_qty > 50")
           | Select("s_name", "promo_qty"))
    return out.df


# --------------------------------------------------------------------------
# M10 — MATCH_RECOGNIZE (CEP): row-pattern matching per key
# (BeamMatchRel.java + NFA.java semantics, re-implemented as a per-key
# applyInPandas matcher).
# --------------------------------------------------------------------------

@query("q_cep_views_then_purchase", """
WITH e AS (SELECT user_id, event_id, event_type, value,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events),
m AS (SELECT *,
             max(CASE WHEN event_type <> 'view' THEN rn END)
               OVER (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_nonview
      FROM e)
SELECT user_id, event_id AS purchase_event_id,
       rn - 1 - COALESCE(prev_nonview, 0) AS n_views,
       value AS purchase_value
FROM m
WHERE event_type = 'purchase' AND rn - 1 - COALESCE(prev_nonview, 0) >= 1
""")
def q_cep(spark, sf_dir):
    """Pattern V+ P per user in event-time order: every purchase preceded
    by an unbroken run of views, with the run length as a measure.
    Oracle: run-length reformulation with window functions."""
    from beam_spark.operators.cep import MatchRecognize, vectorized

    out = (
        table(spark, sf_dir, "events")
        | MatchRecognize(
            partition_by="user_id",
            order_by=["ts", "event_id"],
            pattern=[("V", "+"), ("P", "1")],
            defines={"V": vectorized(lambda pdf: pdf["event_type"] == "view"),
                     "P": vectorized(
                         lambda pdf: pdf["event_type"] == "purchase")},
            measures={
                "purchase_event_id": lambda m: m[-1][1]["event_id"],
                "n_views": lambda m: sum(1 for s, _ in m if s == "V"),
                "purchase_value": lambda m: m[-1][1]["value"],
            },
            output_schema=("user_id long, purchase_event_id long, "
                           "n_views long, purchase_value double"))
    )
    return out.df


@query("q_anomaly_zscore_events", f"""
WITH s AS (SELECT event_type,
                  CAST(SUM({_EVENT_VAL}) AS DOUBLE) / COUNT(*) AS mean_v,
                  sqrt(CAST(SUM({_EVENT_VAL} * {_EVENT_VAL}) AS DOUBLE) / COUNT(*)
                       - (CAST(SUM({_EVENT_VAL}) AS DOUBLE) / COUNT(*))
                         * (CAST(SUM({_EVENT_VAL}) AS DOUBLE) / COUNT(*))) AS std_v
           FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type,
       (e.value - s.mean_v) / s.std_v AS zscore,
       abs((e.value - s.mean_v) / s.std_v) > 2.5 AS is_anomaly
FROM events e JOIN s ON e.event_type = s.event_type
""")
def q_anomaly(spark, sf_dir):
    """AnomalyDetection z-score ensemble member (ml/anomaly/transforms.py:
    53): per-group exact moments broadcast back onto the stream."""
    from beam_spark.ml.anomaly import ZScoreDetector

    out = (table(spark, sf_dir, "events")
           | ZScoreDetector("value", "event_type", threshold=2.5))
    return out.df.select("event_id", "event_type", "zscore", "is_anomaly")


# Composed oracle for the end-to-end LLM dataprep pipeline: each CTE
# mirrors one verified stage (QualityScore filter -> ExactDedup keep set
# -> MinHashLSH near-dup losers [exact-jaccard oracle. The REAL LSH
# guarantee at 16 bands x 8 rows is probabilistic: measured planted
# pairs sit at jaccard 0.90-0.99 (min 0.90 at sf0.01), where the
# per-pair miss probability (1-s^8)^16 is ~1.2e-4 at s=0.90 — NOT
# negligible over many pairs. The gate is exact anyway because the
# permutations are seed-deterministic: the realized candidate set is a
# pure function of the data, re-verified against the exact-jaccard
# oracle at each SF. Fresh testdata with pairs near s=0.9 could
# legitimately miss under a different seed — an LSH recall property,
# not an engine bug] ->
# ChunkText). The fake embedding is unit-norm by construction, so the
# scalar probes are deterministic: dim=32, round(sq_norm, 4)=1.0.
_PIPELINE_SQL = f"""
WITH q AS (
  SELECT doc_id, text,
         len({_TOK}) AS n_tokens,
         CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS punct_ratio,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS alpha_ratio
  FROM documents),
s AS (
  SELECT doc_id, text FROM q
  WHERE least(n_tokens / 100.0, 1.0) * 0.4
        + (1 - least(punct_ratio * 5, 1.0)) * 0.3
        + least(alpha_ratio * 1.25, 1.0) * 0.3 > 0.3),
keep AS (
  SELECT MIN(doc_id) AS doc_id
  FROM (SELECT doc_id, md5(array_to_string({_TOK}, ' ')) AS m FROM s)
  GROUP BY m),
sh AS (SELECT doc_id, {_SHINGLES} AS shingles FROM s),
losers AS (
  SELECT DISTINCT b.doc_id AS doc_id
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(a.shingles) > 0 AND len(b.shingles) > 0
    AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / (len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles))) >= 0.6),
clean AS (
  SELECT s.doc_id, s.text FROM s
  WHERE s.doc_id IN (SELECT doc_id FROM keep)
    AND s.doc_id NOT IN (SELECT doc_id FROM losers)),
t AS (SELECT doc_id, {_TOK} AS w FROM clean),
c AS (SELECT doc_id,
             unnest(list_transform(
               range(0, greatest(CAST(ceil((len(w) - 64) / 56.0) AS BIGINT), 0) + 1),
               k -> struct_pack(
                 chunk_index := k,
                 n_chunk_tokens := len(w[k*56+1 : k*56+64])))) AS ch
      FROM t)
SELECT doc_id,
       doc_id || '#' || (ch.chunk_index) AS chunk_id,
       ch.chunk_index AS chunk_index,
       ch.n_chunk_tokens AS n_chunk_tokens,
       CAST(32 AS INTEGER) AS embedding_dim,
       CAST(1.0 AS DOUBLE) AS embedding_sq_norm
FROM c WHERE ch.n_chunk_tokens > 0
"""


@query("q_pipeline_llm_dataprep", _PIPELINE_SQL)
def q_pipeline(spark, sf_dir):
    """End-to-end training-data prep: quality-filter -> exact-dedup
    survivors -> near-dup removal (minhash pairs, drop higher doc_id) ->
    chunk -> embed (RunInference batching). One composed DAG — Catalyst
    sees the whole lineage; rows-only gate, shape asserted in pytest."""
    from beam_spark.ml.chunking import ChunkText
    from beam_spark.ml.inference import FakeTextEmbeddingHandler, RunInference
    from beam_spark.operators.dedupe import ExactDedup, MinHashLSH
    from beam_spark.operators.join import Join
    from beam_spark.operators.text import QualityScore

    docs = table(spark, sf_dir, "documents")
    scored = docs | QualityScore() | Filter("quality_score > 0.3")
    scored.persist()

    # exact-dup survivors
    keep = (scored | ExactDedup()).df.select(F.col("keep_id").alias("doc_id"))
    # near-dup losers (higher id of each pair)
    neardup_losers = (scored | MinHashLSH(threshold=0.6)).df.select(
        F.col("j").alias("doc_id")).distinct()

    clean = (scored
             | Join(keep, on="doc_id", how="semi")
             | Join(neardup_losers, on="doc_id", how="anti"))
    chunks = clean | ChunkText(chunk_tokens=64, overlap_tokens=8)
    embedded = chunks | RunInference(FakeTextEmbeddingHandler(dim=32),
                                     "chunk_text", output_col="embedding",
                                     output_type="array<float>",
                                     batch_size=256)
    # scalar probes instead of the raw vector: the driver canonicalizes
    # rows-only outputs too and cannot hash arrays (round-1 failure mode)
    return embedded.df.select(
        "doc_id", "chunk_id", "chunk_index", "n_chunk_tokens",
        F.size("embedding").alias("embedding_dim"),
        F.round(F.aggregate("embedding", F.lit(0.0),
                            lambda a, x: a + x.cast("double") * x), 4)
        .alias("embedding_sq_norm"))


@query("q_group_into_batches_sorted", """
WITH s AS (SELECT user_id, list(value ORDER BY value, event_id) AS vals
           FROM events GROUP BY user_id),
c AS (SELECT user_id,
             unnest(list_transform(range(0, (len(vals) - 1) // 50 + 1),
                    i -> struct_pack(batch_index := i,
                                     batch := vals[i*50+1 : i*50+50]))) AS b
      FROM s)
SELECT user_id, b.batch_index AS batch_index, b.batch AS batch FROM c
""")
def q_gib(spark, sf_dir):
    """GroupIntoBatches (bounded): values sorted for determinism, sliced
    into 50-element chunks JVM-side."""
    df = (table(spark, sf_dir, "events").df
          .groupBy("user_id")
          .agg(F.expr("transform(sort_array(collect_list(struct(value, event_id))),"
                      " x -> x.value)").alias("vals")))
    out = df.select(
        "user_id",
        F.explode(F.expr(
            "transform(sequence(0, (size(vals) - 1) div 50), "
            "i -> struct(i AS batch_index, slice(vals, i * 50 + 1, 50) AS batch))"
        )).alias("b"))
    return out.select("user_id", F.col("b.batch_index").alias("batch_index"),
                      F.col("b.batch").alias("batch"))


@query("q_group_into_batches_bytes", """
WITH r AS (SELECT user_id, ts, event_id,
                  COALESCE(event_type, '') AS v FROM events),
c AS (SELECT user_id, v, ts, event_id,
        sum(strlen(v)) OVER w - strlen(v) AS ce
      FROM r WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT user_id, CAST(ce // 64 AS INT) AS batch_index,
       list(v ORDER BY ts, event_id) AS batch
FROM c GROUP BY user_id, CAST(ce // 64 AS INT)
""")
def q_gib_bytes(spark, sf_dir):
    """GroupIntoBatches by BYTE budget (ofByteSize parity, 64-byte
    cap over event types per user in event order): the
    exclusive-cumulative floor rule replayed as a DuckDB window —
    batch ids AND batch contents row-exact."""
    from beam_spark.streaming.core import GroupIntoBatches

    ev = table(spark, sf_dir, "events").df.selectExpr(
        "user_id", "ts", "event_id",
        "COALESCE(event_type, '') AS v")
    out = (PCollection(ev) | GroupIntoBatches(
        "user_id", None, "v", max_bytes=64,
        order_by=["ts", "event_id"])).df
    return out.select("user_id", "batch_index", "batch")


@query("q_partition_split_union", """
SELECT 0 AS part, event_id FROM events WHERE event_id % 3 = 0
UNION ALL SELECT 1 AS part, event_id FROM events WHERE event_id % 3 = 1
UNION ALL SELECT 2 AS part, event_id FROM events WHERE event_id % 3 = 2
""")
def q_partition(spark, sf_dir):
    """Partition (core.py:3809) round-trip: split into 3 then re-union
    with the part tag — single upstream computation (persisted)."""
    from beam_spark.operators.core import Partition
    from beam_spark.operators.setops import UnionAll

    parts = (table(spark, sf_dir, "events")
             | Select("event_id")
             | Partition("event_id % 3", 3))
    tagged = [p.with_df(p.df.select(F.lit(i).alias("part"), "event_id"))
              for i, p in enumerate(parts)]
    out = tagged[0]
    for t in tagged[1:]:
        out = out | UnionAll(t)
    return out.df


@query("q8_market_share", f"""
SELECT year(o_orderdate) AS o_year,
       CAST(SUM(CASE WHEN n_name = 'CHINA' THEN {_REVENUE}
                     ELSE CAST(0 AS DECIMAL(26,4)) END) AS DOUBLE)
         / CAST(SUM({_REVENUE}) AS DOUBLE) AS mkt_share
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_year
""")
def q8(spark, sf_dir):
    """TPC-H Q8 shape: market-share ratio of conditional to total exact
    sums per year."""
    from beam_spark.operators.group import GroupBy
    from beam_spark.operators.join import Join

    out = (
        table(spark, sf_dir, "lineitem")
        | Join(table(spark, sf_dir, "supplier").df,
               condition=F.col("l_suppkey") == F.col("s_suppkey"), broadcast=True)
        | Join(table(spark, sf_dir, "nation").df,
               condition=F.col("s_nationkey") == F.col("n_nationkey"), broadcast=True)
        | Join(table(spark, sf_dir, "orders").df,
               condition=F.col("l_orderkey") == F.col("o_orderkey"))
        | GroupBy(o_year="year(o_orderdate)")
          .aggregate_field(
              f"CAST(SUM(CASE WHEN n_name = 'CHINA' THEN {_REVENUE} "
              f"ELSE CAST(0 AS DECIMAL(26,4)) END) AS DOUBLE) "
              f"/ CAST(SUM({_REVENUE}) AS DOUBLE)", None, "mkt_share")
    )
    return out.df


@query("q12_priority_by_status", """
SELECT l_linestatus,
       COUNT(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
         AS high_line_count,
       COUNT(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
         AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= CAST('1997-01-01' AS TIMESTAMP)
  AND l_shipdate < CAST('1998-01-01' AS TIMESTAMP)
GROUP BY l_linestatus
""")
def q12(spark, sf_dir):
    """TPC-H Q12 shape: conditional dual counts (count_if pair)."""
    from beam_spark.operators.combiners import count_if
    from beam_spark.operators.join import Join

    out = (
        table(spark, sf_dir, "orders")
        | Join(table(spark, sf_dir, "lineitem").df
               .filter("l_shipdate >= CAST('1997-01-01' AS TIMESTAMP) AND "
                       "l_shipdate < CAST('1998-01-01' AS TIMESTAMP)"),
               condition=F.col("o_orderkey") == F.col("l_orderkey"))
        | CombinePerKey(
            "l_linestatus",
            high_line_count=count_if("o_orderpriority IN ('1-URGENT', '2-HIGH')"),
            low_line_count=count_if("o_orderpriority NOT IN ('1-URGENT', '2-HIGH')"))
    )
    return out.df


@query("q16_supplier_count_by_part", """
SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_size IN (1, 10, 20, 30, 40, 50)
GROUP BY p_brand, p_size
""")
def q16(spark, sf_dir):
    """TPC-H Q16 shape: COUNT(DISTINCT) with a pushed-down IN filter."""
    from beam_spark.operators.join import Join

    out = (
        table(spark, sf_dir, "part")
        | Filter("p_size IN (1, 10, 20, 30, 40, 50)")
        | Join(table(spark, sf_dir, "lineitem").df,
               condition=F.col("p_partkey") == F.col("l_partkey"))
        | CombinePerKey("p_brand", "p_size",
                        supplier_cnt=F.count_distinct(F.col("l_suppkey")))
    )
    return out.df


@query("q11_important_stock", f"""
WITH pv AS (SELECT l_partkey, {dsum(_REVENUE, 'part_value')}
            FROM lineitem GROUP BY l_partkey),
tot AS (SELECT CAST(SUM({_REVENUE}) AS DOUBLE) AS total FROM lineitem)
SELECT l_partkey, part_value FROM pv, tot
WHERE part_value > total * 0.001
""")
def q11(spark, sf_dir):
    """TPC-H Q11 shape: HAVING against a scalar fraction of the global sum."""
    li = table(spark, sf_dir, "lineitem")
    total = li.df.agg(F.expr(f"CAST(SUM({_REVENUE}) AS DOUBLE)")).first()[0]
    out = (li
           | CombinePerKey("l_partkey",
                           part_value=F.expr(f"CAST(SUM({_REVENUE}) AS DOUBLE)"))
           | Filter(F.col("part_value") > F.lit(total) * 0.001))
    return out.df


@query("q15_top_supplier", f"""
WITH rev AS (SELECT l_suppkey, {dsum(_REVENUE, 'total_revenue')}
             FROM lineitem
             WHERE l_shipdate >= CAST('1997-01-01' AS TIMESTAMP)
               AND l_shipdate < CAST('1997-04-01' AS TIMESTAMP)
             GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
""")
def q15(spark, sf_dir):
    """TPC-H Q15 shape: view + MAX scalar subquery (exact doubles, so the
    equality is engine-stable)."""
    from beam_spark.operators.join import Join

    rev = (table(spark, sf_dir, "lineitem")
           | Filter("l_shipdate >= CAST('1997-01-01' AS TIMESTAMP) AND "
                    "l_shipdate < CAST('1997-04-01' AS TIMESTAMP)")
           | CombinePerKey("l_suppkey",
                           total_revenue=F.expr(f"CAST(SUM({_REVENUE}) AS DOUBLE)")))
    rev.persist()
    mx = rev.df.agg(F.max("total_revenue")).first()[0]
    out = (table(spark, sf_dir, "supplier")
           | Join(rev.df, condition=F.col("s_suppkey") == F.col("l_suppkey"))
           | Filter(F.col("total_revenue") == F.lit(mx))
           | Select("s_suppkey", "s_name", "total_revenue"))
    return out.df


# --------------------------------------------------------------------------
# M11 — Nexmark-shape event queries (BASELINE comparability: the reference
# publishes Nexmark throughput; these adapt Q5/Q7 shapes to the events
# table).
# --------------------------------------------------------------------------

@query("q_nexmark5_hot_users", f"""
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t FROM events),
w AS (SELECT user_id,
             time_bucket(INTERVAL '15 minutes', t) - k * (INTERVAL '15 minutes')
               AS window_start
      FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
      WHERE t >= time_bucket(INTERVAL '15 minutes', t) - k * (INTERVAL '15 minutes')
        AND t <  time_bucket(INTERVAL '15 minutes', t) - k * (INTERVAL '15 minutes')
               + INTERVAL '1 hour'),
c AS (SELECT window_start, user_id, COUNT(*) AS n
      FROM w GROUP BY window_start, user_id),
r AS (SELECT *, row_number() OVER (PARTITION BY window_start
                                   ORDER BY n DESC, user_id) AS rk
      FROM c)
SELECT window_start, user_id, n FROM r WHERE rk <= 3
""")
def q_nexmark5(spark, sf_dir):
    """Nexmark Q5 shape (hot items): sliding 1h/15m windows, top-3 users
    per window by activity. Sliding explode -> grouped count -> windowed
    rank; the count shuffle carries per-(window,user) partials."""
    from beam_spark.operators.sort import TopKPerKey
    from beam_spark.operators.window import SlidingWindows, WindowInto

    out = (
        table(spark, sf_dir, "events")
        | WindowInto(SlidingWindows(3600, 900), ts_col="ts")
        | CombinePerKey("user_id", n="count(*)")
        | TopKPerKey("__window", 3, "n desc", "user_id")
    )
    return out.df.select(F.col("__window.start").alias("window_start"),
                         "user_id", "n")


@query("q_nexmark7_max_value_per_window", """
WITH e AS (SELECT event_id, user_id, value,
                  time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
                    AS window_start
           FROM events),
r AS (SELECT *, row_number() OVER (PARTITION BY window_start
                                   ORDER BY value DESC, event_id) AS rk
      FROM e)
SELECT window_start, event_id, user_id, value FROM r WHERE rk = 1
""")
def q_nexmark7(spark, sf_dir):
    """Nexmark Q7 shape (highest bid per window): per fixed window the
    single max-value event — max_by on (value, event_id), one aggregate,
    no sort."""
    from beam_spark.operators.window import FixedWindows, WindowInto

    pc = (table(spark, sf_dir, "events")
          | WindowInto(FixedWindows(3600), ts_col="ts"))
    df = (pc.df.groupBy("__window")
          .agg(F.max_by(F.struct("event_id", "user_id", "value"),
                        F.struct(F.col("value"), F.col("event_id"))).alias("m")))
    return df.select(F.col("__window.start").alias("window_start"),
                     F.col("m.event_id").alias("event_id"),
                     F.col("m.user_id").alias("user_id"),
                     F.col("m.value").alias("value"))


@query("q_nexmark0_passthrough", """
SELECT event_id, user_id, event_type, value FROM events
""")
def q_nexmark0(spark, sf_dir):
    """Nexmark Q0 (passthrough: serialization floor)."""
    return (table(spark, sf_dir, "events")
            | Select("event_id", "user_id", "event_type", "value")).df


@query("q_nexmark1_currency_map", f"""
SELECT event_id, user_id,
       CAST({dec('value', 18, 6)} * CAST(0.89 AS DECIMAL(4,2)) AS DOUBLE)
         AS eur_value
FROM events
""")
def q_nexmark1(spark, sf_dir):
    """Nexmark Q1 (currency conversion Map): exact decimal multiply."""
    from beam_spark.operators.core import Map

    out = (table(spark, sf_dir, "events")
           | Map("event_id", "user_id",
                 f"CAST({dec('value', 18, 6)} * CAST(0.89 AS DECIMAL(4,2)) "
                 "AS DOUBLE) AS eur_value"))
    return out.df


@query("q_nexmark2_filter", """
SELECT event_id, user_id FROM events
WHERE user_id % 5 = 0 AND event_type = 'click'
""")
def q_nexmark2(spark, sf_dir):
    """Nexmark Q2 (selection filter)."""
    return (table(spark, sf_dir, "events")
            | Filter("user_id % 5 = 0 AND event_type = 'click'")
            | Select("event_id", "user_id")).df


@query("q_nexmark9_winning_values", """
WITH o AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, value,
                  event_id FROM events),
s AS (SELECT user_id, t, value, event_id,
             CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
                       >= 600000000 OR lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
                       IS NULL THEN 1 ELSE 0 END AS brk
      FROM o),
g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM s)
SELECT user_id, MIN(t) AS window_start_us,
       MAX(CAST(value AS DECIMAL(18,6)))::DOUBLE AS winning_value,
       COUNT(*) AS n_bids
FROM g GROUP BY user_id, sid
""")
def q_nexmark9(spark, sf_dir):
    """Nexmark Q9 shape (WinningBids: CUSTOM MERGING WINDOWS): per user,
    expiry windows [t, t+10min) merged on overlap — executed through the
    generic CustomMergingWindowFn/MergeCustomWindows machinery (NOT the
    built-in Sessions operator), which this query gives a full oracle:
    overlap-merge of [t, t+gap) windows is gaps-and-islands with a
    strict-< 600 s gap."""
    from beam_spark.operators.window import (MergeCustomWindows,
                                             OverlapMergingWindowFn)

    gap_us = 600 * 1_000_000

    def assign(row):
        t_us = int(row["ts"].timestamp() * 1_000_000)
        return (t_us, t_us + gap_us)

    def assign_batch(pdf):
        starts = pdf["ts"].astype("int64") // 1000  # ns -> us
        return starts, starts + gap_us

    # assign_expr lifts the whole operator into Catalyst: assignment is
    # an expression and the overlap-merge compiles to the gaps-and-
    # islands window-function plan (one shuffle on user_id, no Python).
    # assign/assign_batch stay as the documented fallbacks for
    # non-expressible assignments.
    fn = OverlapMergingWindowFn(
        assign, assign_batch,
        assign_expr=("unix_micros(ts)",
                     f"unix_micros(ts) + {gap_us}"))
    pc = (table(spark, sf_dir, "events")
          | MergeCustomWindows(fn, "user_id"))
    out = (pc.df.groupBy("user_id", "__window")
           .agg(F.expr("CAST(MAX(CAST(value AS DECIMAL(18,6))) AS DOUBLE)")
                .alias("winning_value"),
                F.count("*").alias("n_bids"),
                F.min(F.unix_micros("ts")).alias("window_start_us")))
    return out.select("user_id", "window_start_us", "winning_value",
                      "n_bids")


@query("q_nexmark10_sharded_log", """
SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type, COUNT(*) AS n
FROM events GROUP BY window_start, event_type
""")
def q_nexmark10(spark, sf_dir):
    """Nexmark Q10 shape (log to sharded files): write events
    hive-partitioned by window (Nexmark Q10 shards its log files by
    window, not by every attribute), read the files back, count per
    (window, type) — verifying the dynamic-destination layout
    round-trips.

    Scale notes (the two small-files killers, both hit here in round 4):

    * Hash-repartition on the destination key BEFORE ``partitionBy`` —
      otherwise every input task opens a writer for every destination
      (tasks x destinations files; at 1000 executors that is a file
      explosion and a handle storm). Beam's WriteFiles pre-groups by
      destination the same way (a GroupByKey on (destination, shard);
      sdks/python/apache_beam/io/filebasedsink.py).
    * Pin the shuffle partition count. AQE's size-based planner sees a
      tiny shuffle and splits ``repartition(cols)`` into one near-empty
      task per destination (720 task commits ~= 67s at sf0.1); a fixed
      count keeps task-commit overhead proportional to the cluster, and
      each destination still lands in exactly one task.
    """
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    base = _os.path.join(_tempfile.gettempdir(), "beam_spark_nexmark10",
                         _os.path.basename(sf_dir.rstrip("/")))
    _shutil.rmtree(base, ignore_errors=True)
    ev = table(spark, sf_dir, "events").df.select(
        "event_id", "event_type", "ts",
        F.date_trunc("hour", "ts").alias("window_start"))
    n_shuffle = batch_shuffle_partitions(spark)
    # 720 hourly destinations = 720 task-commit renames: committer v2
    # skips the job-commit re-rename, and the summary/_SUCCESS files
    # are pure overhead at one file per destination (measured ~9% off
    # the write at sf0.1; scoped set/restore keeps the session clean)
    hconf = {
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version":
            "2",
        "spark.hadoop.parquet.enable.summary-metadata": "false",
        "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs":
            "false",
    }
    saved = {k: spark.conf.get(k, None) for k in hconf}
    for k, v in hconf.items():
        spark.conf.set(k, v)
    try:
        (ev.repartition(n_shuffle, "window_start")
         .write.mode("overwrite").partitionBy("window_start")
         .parquet(base))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # explicit schema (partition column included) skips footer-based
    # inference over the 720-file tree (measured ~8% off the read)
    back = spark.read.schema(
        "event_id bigint, event_type string, ts timestamp, "
        "window_start timestamp").parquet(base)
    return (back.groupBy("window_start", "event_type")
            .agg(F.count("*").alias("n")))


@query("q_nexmark3_signup_purchases", """
WITH s AS (SELECT user_id, event_id AS signup_event_id,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events WHERE event_type = 'signup')
SELECT p.user_id, s.signup_event_id, p.event_id AS purchase_event_id,
       p.value AS purchase_value
FROM events p JOIN s ON p.user_id = s.user_id AND s.rn = 1
WHERE p.event_type = 'purchase'
""")
def q_nexmark3(spark, sf_dir):
    """Nexmark Q3 shape (filtered incremental join person x auction):
    every purchase joined to the user's FIRST signup — the
    state-per-key join Beam implements with a stateful DoFn; batch form
    is first-event extraction (max_by shape) + equi-join."""
    from beam_spark.operators.combiners import Latest
    from beam_spark.operators.join import Join

    ev = table(spark, sf_dir, "events")
    first_signup = (
        ev.df.filter("event_type = 'signup'")
        .groupBy("user_id")
        .agg(F.min_by("event_id", F.struct(F.col("ts"), F.col("event_id")))
             .alias("signup_event_id")))
    out = (ev
           | Filter("event_type = 'purchase'")
           | Join(first_signup, on="user_id", broadcast=True))
    return out.df.select("user_id", "signup_event_id",
                         F.col("event_id").alias("purchase_event_id"),
                         F.col("value").alias("purchase_value"))


@query("q_nexmark4_avg_winning_value", f"""
WITH w AS (SELECT event_type,
                  time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
                    AS window_start,
                  MAX({_EVENT_VAL}) AS win_value
           FROM events GROUP BY event_type, window_start)
SELECT event_type,
       CAST(SUM(win_value) AS DOUBLE) / COUNT(*) AS avg_winning_value
FROM w GROUP BY event_type
""")
def q_nexmark4(spark, sf_dir):
    """Nexmark Q4 shape (avg winning bid per category over closed
    auction windows): two-level aggregation — per (type, hour) max,
    then exact mean of the maxima per type."""
    from beam_spark.operators.window import FixedWindows, WindowInto

    pc = (table(spark, sf_dir, "events")
          | WindowInto(FixedWindows(3600), ts_col="ts")
          | CombinePerKey("event_type",
                          win_value=F.expr(f"MAX({_EVENT_VAL})")))
    out = (pc.with_df(pc.df.drop("__window"), window_col=None)
           | CombinePerKey("event_type", avg_winning_value=F.expr(
               "CAST(SUM(win_value) AS DOUBLE) / COUNT(*)")))
    return out.df


@query("q_nexmark6_avg_last10_per_user", """
WITH p AS (SELECT user_id, value,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events WHERE event_type = 'purchase')
SELECT user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
         AS avg_last10
FROM p WHERE rn <= 10 GROUP BY user_id
""")
def q_nexmark6(spark, sf_dir):
    """Nexmark Q6 shape (avg selling price of each seller's last 10
    closed auctions): per-key bounded history — windowed row_number
    then exact mean."""
    from beam_spark.operators.sort import TopKPerKey

    out = (table(spark, sf_dir, "events")
           | Filter("event_type = 'purchase'")
           | TopKPerKey("user_id", 10, "ts desc", "event_id desc")
           | CombinePerKey("user_id", avg_last10=F.expr(
               "CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)")))
    return out.df


@query("q_nexmark8_new_user_purchases", """
WITH first_seen AS (SELECT user_id,
                           time_bucket(INTERVAL '1 hour',
                                       MIN(CAST(ts AS TIMESTAMP)))
                             AS first_window
                    FROM events GROUP BY user_id),
p AS (SELECT user_id,
             time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
               AS window_start,
             COUNT(*) AS n_purchases
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, window_start)
SELECT p.window_start, p.user_id, p.n_purchases
FROM p JOIN first_seen f
  ON p.user_id = f.user_id AND p.window_start = f.first_window
""")
def q_nexmark8(spark, sf_dir):
    """Nexmark Q8 shape (monitor new users: persons who joined in window
    W and acted in W): windowed first-appearance semi-join."""
    from beam_spark.operators.join import Join
    from beam_spark.operators.window import FixedWindows, WindowInto

    ev = table(spark, sf_dir, "events")
    # first event's hourly window per user
    first_seen = (ev.df.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
                  .select("user_id",
                          F.window("first_ts", "1 hour").getField("start")
                          .alias("first_window")))
    purchases = (ev
                 | Filter("event_type = 'purchase'")
                 | WindowInto(FixedWindows(3600), ts_col="ts")
                 | CombinePerKey("user_id", n_purchases="count(*)"))
    windowed = purchases.df.select(
        F.col("__window.start").alias("window_start"), "user_id",
        "n_purchases")
    out = (windowed
           .join(first_seen.withColumnRenamed("user_id", "fs_user"),
                 on=[windowed.user_id == F.col("fs_user"),
                     windowed.window_start == F.col("first_window")])
           .select("window_start", "user_id", "n_purchases"))
    return out


@query("q_ann_ivf_topk", None)
def q_ann_ivf(spark, sf_dir):
    """IVF-flat ANN (coarse-quantizer inverted lists, nprobe probing) —
    the FAISS-style scale path; recall vs brute asserted in pytest."""
    from beam_spark.operators.similarity import IvfCosineTopK
    from beam_spark.pcollection import PCollection

    emb = table(spark, sf_dir, "embeddings").df.select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"))
    queries_df = emb.filter("vec_id < 10")
    return (PCollection(emb)
            | IvfCosineTopK(queries_df, k=5, n_lists=8, nprobe=4)).df


@query("q13_customer_order_distribution", """
WITH c AS (SELECT c_custkey, COUNT(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           GROUP BY c_custkey)
SELECT c_count, COUNT(*) AS custdist FROM c GROUP BY c_count
""")
def q13(spark, sf_dir):
    """TPC-H Q13 shape: distribution of counts (two-level aggregation
    over a left join)."""
    from beam_spark.operators.join import Join

    out = (
        table(spark, sf_dir, "customer")
        | Join(table(spark, sf_dir, "orders").df,
               condition=F.col("c_custkey") == F.col("o_custkey"), how="left")
        | CombinePerKey("c_custkey", c_count=F.count("o_orderkey"))
        | CombinePerKey("c_count", custdist="count(*)")
    )
    return out.df


@query("q17_small_quantity_revenue", f"""
WITH pa AS (SELECT l_partkey AS pk,
                   0.5 * CAST(SUM({dec('l_quantity')}) AS DOUBLE) / COUNT(*)
                     AS half_avg_qty
            FROM lineitem GROUP BY l_partkey)
SELECT {dsum(dec('l_extendedprice'), 'small_qty_revenue')}
FROM lineitem JOIN pa ON l_partkey = pk
WHERE l_quantity < half_avg_qty
""")
def q17(spark, sf_dir):
    """TPC-H Q17 shape: correlated per-part scalar (avg qty) as a
    pre-aggregated join side (exact mean -> engine-stable comparison)."""
    from beam_spark.operators.group import CombineGlobally
    from beam_spark.operators.join import Join

    li = table(spark, sf_dir, "lineitem")
    pa = (li | CombinePerKey(
        "l_partkey",
        half_avg_qty=F.expr(
            f"0.5 * CAST(SUM({dec('l_quantity')}) AS DOUBLE) / COUNT(*)"))
    ).df.select(F.col("l_partkey").alias("pk"), "half_avg_qty")
    out = (li
           | Join(pa, condition=F.col("l_partkey") == F.col("pk"))
           | Filter(F.col("l_quantity") < F.col("half_avg_qty"))
           | CombineGlobally(small_qty_revenue=F.expr(
               f"CAST(SUM({dec('l_extendedprice')}) AS DOUBLE)")))
    return out.df


@query("q21_waiting_orders", """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s_name
""")
def q21(spark, sf_dir):
    """TPC-H Q21 shape: chained EXISTS / NOT EXISTS against the same
    table under different aliases -> semi + anti joins on composite
    conditions."""
    from beam_spark.operators.join import Join

    li = table(spark, sf_dir, "lineitem").df
    l1 = li.select(F.col("l_orderkey"), F.col("l_suppkey"), F.col("l_shipdate"))
    l2 = li.select(F.col("l_orderkey").alias("l2_ok"),
                   F.col("l_suppkey").alias("l2_sk"))
    l3 = li.select(F.col("l_orderkey").alias("l3_ok"),
                   F.col("l_suppkey").alias("l3_sk"),
                   F.col("l_shipdate").alias("l3_sd"))
    out = (
        PCollection(l1)
        | Join(l2, condition=(F.col("l_orderkey") == F.col("l2_ok"))
               & (F.col("l_suppkey") != F.col("l2_sk")), how="semi")
        | Join(l3, condition=(F.col("l_orderkey") == F.col("l3_ok"))
               & (F.col("l_suppkey") != F.col("l3_sk"))
               & (F.col("l3_sd") > F.col("l_shipdate")), how="anti")
        | Join(table(spark, sf_dir, "orders").df.filter("o_orderstatus = 'F'"),
               condition=F.col("l_orderkey") == F.col("o_orderkey"))
        | Join(table(spark, sf_dir, "supplier").df,
               condition=F.col("l_suppkey") == F.col("s_suppkey"), broadcast=True)
        | CombinePerKey("s_name", numwait="count(*)")
    )
    return out.df


@query("q_unnest_token_counts", f"""
SELECT term, COUNT(*) AS n
FROM (SELECT unnest({_TOK}) AS term FROM documents) t
GROUP BY term
ORDER BY n DESC, term LIMIT 20
""")
def q_unnest(spark, sf_dir):
    """UNNEST / cross-apply (BeamUncollectRel/BeamUnnestRel -> explode):
    wordcount over the corpus, top-20."""
    from beam_spark.operators.sort import TopK
    from beam_spark.operators.text import tokens

    pc = table(spark, sf_dir, "documents")
    exploded = pc.with_df(
        pc.df.select(F.explode(tokens("text")).alias("term")))
    out = (exploded
           | CombinePerKey("term", n="count(*)")
           | TopK(20, "n desc", "term"))
    return out.df


@query("q_values_literal_join", """
SELECT v.r_name, r.r_regionkey
FROM (VALUES ('ASIA'), ('EUROPE')) AS v(r_name)
JOIN region r USING (r_name)
""")
def q_values(spark, sf_dir):
    """VALUES literal source (BeamValuesRel -> createDataFrame) joined
    against a table."""
    from beam_spark.operators.core import Create
    from beam_spark.operators.join import Join
    from beam_spark.pcollection import Pipeline

    vals = (Pipeline(spark)
            | Create([{"r_name": "ASIA"}, {"r_name": "EUROPE"}]))
    out = vals | Join(table(spark, sf_dir, "region").df, on="r_name")
    return out.df.select("r_name", "r_regionkey")


@query("q_cep_sql_match_recognize", """
WITH e AS (SELECT user_id, event_id, event_type, value,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events),
m AS (SELECT *,
             max(CASE WHEN event_type <> 'view' THEN rn END)
               OVER (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_nonview
      FROM e)
SELECT user_id, rn - 1 - COALESCE(prev_nonview, 0) AS n_views,
       value AS purchase_value
FROM m
WHERE event_type = 'purchase' AND rn - 1 - COALESCE(prev_nonview, 0) >= 1
""")
def q_cep_sql(spark, sf_dir):
    """The same V+ P pattern expressed as MATCH_RECOGNIZE SQL text,
    parsed by sql_match.py and executed by the CEP operator."""
    from beam_spark.sql import SqlTransform

    events = table(spark, sf_dir, "events")
    out = ({"events": events} | SqlTransform("""
        SELECT user_id, n_views, purchase_value
        FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES COUNT(V.event_id) AS n_views,
                   LAST(P.value) AS purchase_value
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (V+ P)
          DEFINE V AS V.event_type = 'view',
                 P AS P.event_type = 'purchase'
        )"""))
    return out.df


_CEP_ALT_ORACLE = """
WITH e AS (SELECT user_id, event_id, event_type, value,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events),
m AS (SELECT *,
             max(CASE WHEN event_type <> 'view' THEN rn END)
               OVER (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_nonview
      FROM e)
SELECT user_id,
       CASE event_type WHEN 'click' THEN 'C' ELSE 'P' END AS sym,
       event_id AS end_event_id,
       rn - 1 - COALESCE(prev_nonview, 0) AS n_views,
       value AS end_value
FROM m
WHERE event_type IN ('click', 'purchase')
  AND rn - 1 - COALESCE(prev_nonview, 0) >= 2
"""


_CEP_WITHIN_ORACLE = """
WITH e AS (SELECT user_id, event_id, event_type, value, ts,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events),
m AS (SELECT *,
             max(CASE WHEN event_type <> 'view' THEN rn END)
               OVER (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_nonview
      FROM e),
p AS (SELECT user_id, event_id, value, ts, rn,
             COALESCE(prev_nonview, 0) + 1 AS run_start_rn
      FROM m WHERE event_type = 'purchase')
SELECT p.user_id, p.event_id AS pev,
       (SELECT COUNT(*) FROM e v
        WHERE v.user_id = p.user_id
          AND v.rn BETWEEN p.run_start_rn AND p.rn - 1
          AND epoch_ms(p.ts) - epoch_ms(v.ts) <= 120000) AS n_views,
       p.value AS purchase_value
FROM p
WHERE (SELECT COUNT(*) FROM e v
       WHERE v.user_id = p.user_id
         AND v.rn BETWEEN p.run_start_rn AND p.rn - 1
         AND epoch_ms(p.ts) - epoch_ms(v.ts) <= 120000) >= 1
"""


@query("q_cep_within_funnel", _CEP_WITHIN_ORACLE)
def q_cep_within(spark, sf_dir):
    """Time-boxed funnel: V+ P WITHIN 2 minutes. The matcher slides the
    start forward past views too old for the window, so n_views counts
    only the suffix of the view run inside [p.ts - 2min, p.ts] — the
    oracle reproduces that with a correlated run-suffix count."""
    from beam_spark.operators.cep import MatchRecognize, vectorized

    out = (
        table(spark, sf_dir, "events")
        | MatchRecognize(
            partition_by="user_id",
            order_by=["ts", "event_id"],
            pattern=[("V", "+"), ("P", "1")],
            defines={"V": vectorized(lambda pdf: pdf["event_type"] == "view"),
                     "P": vectorized(
                         lambda pdf: pdf["event_type"] == "purchase")},
            measures={
                "pev": lambda m: m[-1][1]["event_id"],
                "n_views": lambda m: sum(1 for s, _ in m if s == "V"),
                "purchase_value": lambda m: m[-1][1]["value"],
            },
            output_schema=("user_id long, pev long, n_views long, "
                           "purchase_value double"),
            within="2 minutes"))
    return out.df


@query("q_cep_alternation_api", _CEP_ALT_ORACLE)
def q_cep_alt_api(spark, sf_dir):
    """Alternation + bounded quantifier through the python API: pattern
    V{2,} (C|P) — at least two views then a click OR a purchase, with
    the matched alternative surfaced as a measure (the label the
    backtracking matcher assigned). Oracle: run-length reformulation,
    sym derived from the end row's event_type (alternatives are
    disjoint, so label == type)."""
    from beam_spark.operators.cep import MatchRecognize, vectorized

    out = (
        table(spark, sf_dir, "events")
        | MatchRecognize(
            partition_by="user_id",
            order_by=["ts", "event_id"],
            pattern=[("V", (2, None)), (("C", "P"), "1")],
            defines={"V": vectorized(lambda pdf: pdf["event_type"] == "view"),
                     "C": vectorized(lambda pdf: pdf["event_type"] == "click"),
                     "P": vectorized(
                         lambda pdf: pdf["event_type"] == "purchase")},
            measures={
                "sym": lambda m: m[-1][0],
                "end_event_id": lambda m: m[-1][1]["event_id"],
                "n_views": lambda m: sum(1 for s, _ in m if s == "V"),
                "end_value": lambda m: m[-1][1]["value"],
            },
            output_schema=("user_id long, sym string, end_event_id long, "
                           "n_views long, end_value double"))
    )
    return out.df


@query("q_cep_alternation_sql", _CEP_ALT_ORACLE)
def q_cep_alt_sql(spark, sf_dir):
    """The same V{2,} (C|P) pattern as MATCH_RECOGNIZE SQL text:
    alternation group, bounded quantifier, CLASSIFIER() measure, and
    per-alternative LAST() measures coalesced in the outer query."""
    from beam_spark.sql import SqlTransform

    events = table(spark, sf_dir, "events")
    out = ({"events": events} | SqlTransform("""
        SELECT user_id, sym, COALESCE(c_eid, p_eid) AS end_event_id,
               n_views, COALESCE(c_val, p_val) AS end_value
        FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES CLASSIFIER() AS sym,
                   COUNT(V.event_id) AS n_views,
                   LAST(C.event_id) AS c_eid,
                   LAST(P.event_id) AS p_eid,
                   LAST(C.value) AS c_val,
                   LAST(P.value) AS p_val
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (V{2,} (C|P))
          DEFINE V AS V.event_type = 'view',
                 C AS C.event_type = 'click',
                 P AS P.event_type = 'purchase'
        )"""))
    return out.df


# Oracle for PATTERN (S D+) / SUBSET U = (S, D) /
# DEFINE D AS view AND value < FIRST(S.value): a match is a signup
# followed by the maximal contiguous run of views cheaper than the
# signup, length >= 1. Matches cannot overlap (a signup is never
# consumed as D — D requires 'view' — so SKIP PAST LAST ROW resumes
# before the next signup), which is what makes the greedy semantics
# expressible as a per-signup run computation. stop_rn = first row
# failing D (null-safe: a NULL value fails D.value < s.value and breaks
# the run, matching the matcher's NULL-never-matches masks).
_CEP_SUBSET_ORACLE = """
WITH e AS (SELECT user_id, event_id, event_type, value,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events),
b AS (SELECT s.user_id, s.rn, s.event_id, s.value,
             COALESCE((SELECT MIN(x.rn) FROM e x
                       WHERE x.user_id = s.user_id AND x.rn > s.rn
                         AND (x.event_type <> 'view' OR x.value IS NULL
                              OR s.value IS NULL OR x.value >= s.value)),
                      (SELECT MAX(x.rn) + 1 FROM e x
                       WHERE x.user_id = s.user_id)) AS stop_rn
      FROM e s WHERE s.event_type = 'signup')
SELECT b.user_id, b.event_id AS signup_event_id,
       b.stop_rn - b.rn - 1 AS n_cheap,
       b.stop_rn - b.rn AS n_span,
       (SELECT x.value FROM e x
        WHERE x.user_id = b.user_id AND x.rn = b.stop_rn - 1) AS last_cheap
FROM b WHERE b.stop_rn - b.rn >= 2
"""


_ASOF_ORACLE = """
WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
           FROM events WHERE event_type = 'purchase'),
s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             max(event_id) AS signup_event_id,
             arg_max(value, event_id) AS signup_value
      FROM events WHERE event_type = 'signup'
      GROUP BY user_id, ts)
SELECT p.user_id, p.event_id AS purchase_event_id,
       epoch_us(p.ts) AS t_us, s.signup_event_id, s.signup_value
FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
"""


@query("q_asof_join_purchase_signup", _ASOF_ORACLE)
def q_asof_join(spark, sf_dir):
    """As-of join (time-series point lookup): each purchase picks the
    LATEST signup at-or-before it per user — executed with the
    union + last-value-window plan (ONE shuffle on the key, no per-key
    range cross-product, no Python). Oracle: DuckDB's native
    ASOF LEFT JOIN. Right side deduped to unique (user, ts) by max
    event id so both engines pick the same row on timestamp ties."""
    from beam_spark.operators.join import AsOfJoin

    ev = table(spark, sf_dir, "events").df
    purchases = (ev.filter("event_type = 'purchase'")
                 .select("user_id", "event_id", "ts", "value"))
    signups = (ev.filter("event_type = 'signup'")
               .groupBy("user_id", "ts")
               .agg(F.max("event_id").alias("signup_event_id"),
                    F.max_by("value", "event_id").alias("signup_value")))
    out = (PCollection(purchases)
           | AsOfJoin(signups, on="user_id", left_ts="ts"))
    return out.df.select(
        "user_id", F.col("event_id").alias("purchase_event_id"),
        F.unix_micros("ts").alias("t_us"),
        "signup_event_id", "signup_value")


_INTERVAL_ORACLE = """
WITH p AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t
           FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, event_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS t
      FROM events WHERE event_type = 'click')
SELECT p.user_id, p.event_id AS purchase_event_id,
       c.event_id AS click_event_id, c.value AS click_value
FROM p JOIN c ON p.user_id = c.user_id
             AND c.t BETWEEN p.t - 3600000000 AND p.t
"""


@query("q_interval_join_clicks_before_purchase", _INTERVAL_ORACLE)
def q_interval_join(spark, sf_dir):
    """Interval join (Flink-style bounded time join): every click of
    the same user within the hour before each purchase. Both sides
    bucket by the window width and join on (key, bucket) — fan-in is
    bounded by rows-per-bucket instead of the per-key cross product a
    naive range theta-join computes. Oracle: the plain SQL range join."""
    from beam_spark.operators.join import IntervalJoin

    ev = table(spark, sf_dir, "events").df
    purchases = (ev.filter("event_type = 'purchase'")
                 .select("user_id", "event_id", "ts"))
    clicks = (ev.filter("event_type = 'click'")
              .select("user_id",
                      F.col("event_id").alias("click_event_id"),
                      F.col("value").alias("click_value"), "ts"))
    out = (PCollection(purchases)
           | IntervalJoin(clicks, on="user_id", left_ts="ts",
                          right_ts="ts", lower=-3600, upper=0))
    return out.df.select(
        "user_id", F.col("event_id").alias("purchase_event_id"),
        "click_event_id", "click_value")


@query("q_cep_subset_first_last_sql", _CEP_SUBSET_ORACLE)
def q_cep_subset_sql(spark, sf_dir):
    """SUBSET + FIRST/LAST-in-DEFINE through the SQL front-end: pattern
    S D+ where D's predicate references the match state (every D row
    cheaper than the FIRST S row), with a SUBSET union variable U=(S,D)
    aggregated in MEASURES. FIRST/LAST in DEFINE compile to a
    match-state ctx predicate the backtracking matcher evaluates on top
    of the vectorized masks (Define.ctx_fn)."""
    from beam_spark.sql import SqlTransform

    events = table(spark, sf_dir, "events")
    out = ({"events": events} | SqlTransform("""
        SELECT user_id, signup_event_id, n_cheap, n_span, last_cheap
        FROM events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES FIRST(S.event_id) AS signup_event_id,
                   COUNT(D.event_id) AS n_cheap,
                   COUNT(U.event_id) AS n_span,
                   LAST(D.value) AS last_cheap
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (S D+)
          SUBSET U = (S, D)
          DEFINE S AS S.event_type = 'signup',
                 D AS D.event_type = 'view' AND D.value < FIRST(S.value)
        )"""))
    return out.df


@query("q_cep_subset_first_last_api", _CEP_SUBSET_ORACLE)
def q_cep_subset_api(spark, sf_dir):
    """The same S D+ / SUBSET / FIRST(S.value) query through the python
    API: the match-state condition is a ``ctx_fn`` on the D define
    (cols, pos, acc) -> bool, and the SUBSET measure is an ordinary
    measure over the (symbol, row) pairs."""
    from beam_spark.operators.cep import MatchRecognize, vectorized

    def d_ctx(cols, pos, acc):
        firsts = [i for s, i in acc if s == "S"]
        if not firsts:
            return False
        v, t = cols["value"][pos], cols["value"][firsts[0]]
        return v is not None and t is not None and v < t

    out = (
        table(spark, sf_dir, "events")
        | MatchRecognize(
            partition_by="user_id",
            order_by=["ts", "event_id"],
            pattern=[("S", "1"), ("D", "+")],
            defines={
                "S": vectorized(lambda pdf: pdf["event_type"] == "signup"),
                "D": vectorized(lambda pdf: pdf["event_type"] == "view",
                                ctx_fn=d_ctx)},
            measures={
                "signup_event_id": lambda m: next(
                    r["event_id"] for s, r in m if s == "S"),
                "n_cheap": lambda m: sum(1 for s, _ in m if s == "D"),
                "n_span": lambda m: len(m),  # U = (S, D) spans the match
                "last_cheap": lambda m: [r["value"] for s, r in m
                                         if s == "D"][-1],
            },
            output_schema=("user_id long, signup_event_id long, "
                           "n_cheap long, n_span long, last_cheap double"))
    )
    return out.df


# --------------------------------------------------------------------------
# M12 — scalar/collection SQL conformance in the gate, mirroring the
# BeamSqlDsl test families (SURVEY §5): arrays/maps, datetime extraction,
# conditionals.
# --------------------------------------------------------------------------

@query("q_array_ops_tokens", f"""
WITH t AS (SELECT doc_id, {_TOK} AS toks FROM documents)
SELECT doc_id,
       len(toks) AS cardinality,
       toks[1] AS first_token,
       toks[len(toks)] AS last_token,
       array_to_string(list_sort(list_distinct(toks[1:2])), ',') AS head_sorted
FROM t
""")
def q_array_ops(spark, sf_dir):
    """Array operator family (BeamSqlDsl arrays: CARDINALITY, ELEMENT,
    slicing): expressed on the token array."""
    from beam_spark.operators.text import tokens

    df = table(spark, sf_dir, "documents").df
    t = tokens("text")
    return df.select(
        "doc_id",
        F.size(t).alias("cardinality"),
        F.element_at(t, 1).alias("first_token"),
        F.element_at(t, F.size(t)).alias("last_token"),
        F.array_join(F.sort_array(F.array_distinct(F.slice(t, 1, 2))), ",")
         .alias("head_sorted"))


@query("q_datetime_functions", """
SELECT year(o_orderdate) AS y, quarter(o_orderdate) AS q,
       month(o_orderdate) AS m, dayofweek(o_orderdate) + 1 AS dow,  -- duckdb 0=Sunday vs Spark 1=Sunday
       COUNT(*) AS n,
       CAST(MAX(date_diff('day', CAST('1995-01-01' AS TIMESTAMP), o_orderdate))
            AS BIGINT) AS max_days_since_epoch_start
FROM orders GROUP BY y, q, m, dow
""")
def q_datetime(spark, sf_dir):
    """Datetime extraction family (EXTRACT/YEAR/QUARTER/MONTH/DAYOFWEEK/
    TIMESTAMPDIFF) — all native; DAYOFWEEK is 1=Sunday in both engines."""
    df = table(spark, sf_dir, "orders").df
    return (df.groupBy(
        F.year("o_orderdate").alias("y"),
        F.quarter("o_orderdate").alias("q"),
        F.month("o_orderdate").alias("m"),
        F.dayofweek("o_orderdate").alias("dow"))
        .agg(F.count("*").alias("n"),
             F.max(F.expr(
                 "timestampdiff(DAY, CAST('1995-01-01' AS TIMESTAMP), o_orderdate)"))
             .cast("long").alias("max_days_since_epoch_start")))


@query("q_conditional_functions", """
SELECT o_orderkey,
       CASE WHEN o_totalprice > 150000 THEN 'big'
            WHEN o_totalprice > 50000 THEN 'mid'
            ELSE 'small' END AS size_tier,
       COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_label,
       IF(o_orderpriority = '1-URGENT', 1, 0) AS is_urgent
FROM orders
""")
def q_conditionals(spark, sf_dir):
    """Conditional scalar family (CASE/COALESCE/NULLIF/IF)."""
    df = table(spark, sf_dir, "orders").df
    return df.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 150000, "big")
         .when(F.col("o_totalprice") > 50000, "mid")
         .otherwise("small").alias("size_tier"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open"))
         .alias("status_label"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
         .alias("is_urgent"))


# ---------------------------------------------------------------------------
# round 12 session 3: link prediction / privacy / regression / rank tests
# ---------------------------------------------------------------------------

@query("q_graph_link_prediction", """
WITH raw AS (SELECT o_custkey AS s, o_orderkey % 500 + 1000000 AS d
             FROM orders),
und AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
        FROM raw WHERE s <> d),
adj AS (SELECT a AS node, b AS nbr FROM und
        UNION ALL SELECT b, a FROM und),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
        FROM adj GROUP BY node),
ctr AS (SELECT adj.node AS w, adj.nbr, deg.deg AS wdeg
        FROM adj JOIN deg ON deg.node = adj.node
        WHERE deg.deg <= 64),
pairs AS (SELECT w1.nbr AS a, w2.nbr AS b,
                 CAST(count(*) AS BIGINT) AS cn,
                 sum(1.0 / ln(w1.wdeg)) AS aa,
                 sum(1.0 / w1.wdeg) AS ra
          FROM ctr w1 JOIN ctr w2 ON w2.w = w1.w
            AND w1.nbr < w2.nbr
          GROUP BY 1, 2),
cand AS (SELECT p.* FROM pairs p
         WHERE NOT EXISTS (SELECT 1 FROM und
                           WHERE und.a = p.a AND und.b = p.b)
           AND p.cn >= 2)
SELECT c.a, c.b, c.cn AS common_neighbors,
       round(CAST(c.cn AS DOUBLE) / (da.deg + db.deg - c.cn), 9)
         AS jaccard,
       round(c.aa, 9) AS adamic_adar,
       round(c.ra, 9) AS resource_alloc,
       CAST(da.deg * db.deg AS BIGINT) AS pref_attachment
FROM cand c
JOIN deg da ON da.node = c.a
JOIN deg db ON db.node = c.b
""")
def q_graph_link_prediction(spark, sf_dir):
    """Link-prediction battery (common-neighbors / Jaccard /
    Adamic-Adar / resource-allocation / preferential-attachment,
    Liben-Nowell & Kleinberg 2003) over the sparse customer <->
    order-hash link graph, pruned to pairs with >= 2 shared
    neighbors and wedge centers capped at degree 64 (non-binding at
    sf0.001/sf0.01 where max degree is ~30; at sf1 the FIXED 500-node
    hash space densifies to degree ~3000, and the cap is what keeps
    the wedge join bounded — the operator's documented skew control,
    replayed in the oracle) — DuckDB replays the capped wedge join +
    anti-join verbatim; integer scores exact, float sums at round 9."""
    from beam_spark.operators.graph import LinkPrediction

    o = table(spark, sf_dir, "orders").df
    edges = o.selectExpr("o_custkey AS src",
                         "o_orderkey % 500 + 1000000 AS dst")
    out = (PCollection(edges)
           | LinkPrediction(min_common=2, max_neighbor_degree=64)).df
    return out.select("a", "b", "common_neighbors", "jaccard",
                      "adamic_adar", "resource_alloc",
                      "pref_attachment")


@query("q_privacy_k_anonymity", """
WITH cls AS (SELECT c_nationkey, c_mktsegment,
                    CAST(count(*) AS BIGINT) AS class_size,
                    CAST(count(DISTINCT c_acctbal) AS BIGINT) AS ds
             FROM customer GROUP BY 1, 2)
SELECT CAST(10 AS INT) AS k_threshold,
       CAST(sum(class_size) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_classes,
       min(class_size) AS k_anonymity,
       CAST(count(CASE WHEN class_size < 10 THEN 1 END) AS BIGINT)
         AS classes_below_k,
       CAST(coalesce(sum(CASE WHEN class_size < 10
                              THEN class_size END), 0) AS BIGINT)
         AS rows_below_k,
       round(CAST(coalesce(sum(CASE WHEN class_size < 10
                                    THEN class_size END), 0) AS DOUBLE)
             / CAST(sum(class_size) AS DOUBLE), 9) AS pct_rows_below_k,
       min(ds) AS l_diversity
FROM cls
""")
def q_privacy_k_anonymity(spark, sf_dir):
    """k-anonymity + distinct l-diversity audit of customer with
    quasi-identifiers (nationkey, mktsegment) and sensitive acctbal —
    exact class-size reaggregation, one report row; DuckDB replays
    the two-level aggregation verbatim."""
    from beam_spark.operators.quality import KAnonymity

    c = table(spark, sf_dir, "customer")
    return (c | KAnonymity(["c_nationkey", "c_mktsegment"],
                           sensitive="c_acctbal", k=10)).df


@query("q_stats_linear_fit", """
WITH b AS (SELECT l_returnflag,
                  CAST(l_quantity AS DECIMAL(19,6)) AS x,
                  CAST(l_extendedprice AS DECIMAL(19,6)) AS y
           FROM lineitem
           WHERE l_quantity IS NOT NULL
             AND l_extendedprice IS NOT NULL),
a AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(y * y) AS DOUBLE) AS syy
      FROM b GROUP BY 1)
SELECT l_returnflag, n,
       round(CASE WHEN n*sxx - sx*sx <> 0
                  THEN (n*sxy - sx*sy) / (n*sxx - sx*sx) END, 9)
         AS slope,
       round(CASE WHEN n*sxx - sx*sx <> 0
                  THEN (sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx)
                       / n END, 9) AS intercept,
       round(CASE WHEN n*sxx - sx*sx <> 0 AND n*syy - sy*sy <> 0
                  THEN ((n*sxy - sx*sy) * (n*sxy - sx*sy))
                       / ((n*sxx - sx*sx) * (n*syy - sy*sy)) END, 9)
         AS r2
FROM a
""")
def q_stats_linear_fit(spark, sf_dir):
    """Per-returnflag OLS fit of extendedprice on quantity — exact
    decimal moment sums (order-free), closed forms evaluated in
    double with identical operation order in both engines, round 9.
    (DuckDB casts to DECIMAL(19,6) — hugeint storage — because its
    18-digit decimals multiply in int64 and overflow; Spark stays at
    18,6 whose product is exact at 37,12. Same rationals either way.)"""
    from beam_spark.operators.stats import LinearFit

    li = table(spark, sf_dir, "lineitem")
    return (li | LinearFit("l_quantity", "l_extendedprice",
                           keys="l_returnflag")).df


@query("q_stats_mannwhitney_u", """
WITH f AS (SELECT value AS v,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                    AS ia
           FROM events
           WHERE value IS NOT NULL
             AND event_type IN ('purchase', 'view')),
cnt AS (SELECT v, CAST(sum(ia) AS BIGINT) AS ca,
               CAST(sum(1 - ia) AS BIGINT) AS cb
        FROM f GROUP BY v),
rk AS (SELECT *, ca + cb AS t,
              CAST(coalesce(sum(ca + cb) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS cum
       FROM cnt),
a AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
             CAST(sum(cb) AS BIGINT) AS nb,
             CAST(sum(ca * (2*cum + t + 1)) AS BIGINT) AS ra2,
             CAST(sum(t*t*t - t) AS BIGINT) AS ties
      FROM rk),
d AS (SELECT na, nb,
             (CAST(ra2 AS DOUBLE)
              - CAST(na AS DOUBLE) * CAST(na + 1 AS DOUBLE)) / 2.0
               AS ua,
             CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
             CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) AS n,
             CAST(ties AS DOUBLE) AS tiesd
      FROM a),
s AS (SELECT *,
             nad * nbd / 2.0 AS mu,
             CASE WHEN n >= 2.0
                  THEN nad * nbd / 12.0
                       * ((n + 1.0) - tiesd / (n * (n - 1.0)))
                  ELSE CAST(0 AS DOUBLE) END AS sig2
      FROM d)
SELECT na, nb, round(ua, 9) AS u_a,
       round(nad * nbd - ua, 9) AS u_b,
       round(CASE WHEN na > 0 AND nb > 0
                  THEN ua / (nad * nbd) END, 9) AS auc_a,
       round(CASE WHEN sig2 > 0.0
                  THEN (ua - mu) / sqrt(sig2) END, 9) AS z
FROM s
""")
def q_stats_mannwhitney_u(spark, sf_dir):
    """Mann-Whitney U with tie correction: purchase vs view event
    values — integer-exact doubled midranks over the distinct-value
    frame; the oracle replays rank construction and the z/auc double
    arithmetic in identical order."""
    from beam_spark.operators.quality import MannWhitneyU

    ev = table(spark, sf_dir, "events").df.where(
        F.col("event_type").isin(["purchase", "view"]))
    return (PCollection(ev)
            | MannWhitneyU("value", "event_type", "purchase")).df


@query("q_rfm_segmentation", """
WITH ent AS (SELECT o_custkey AS entity,
                    max(CAST(o_orderdate AS DATE)) AS last_d,
                    CAST(count(*) AS BIGINT) AS frequency,
                    sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS monetary
             FROM orders
             WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
             GROUP BY 1),
sc AS (SELECT entity,
              CAST(date_diff('day', last_d, DATE '1999-01-01')
                   AS BIGINT) AS recency_days,
              frequency, monetary,
              CAST(ntile(5) OVER (ORDER BY
                date_diff('day', last_d, DATE '1999-01-01') DESC,
                entity) AS INT) AS r_score,
              CAST(ntile(5) OVER (ORDER BY frequency ASC, entity)
                   AS INT) AS f_score,
              CAST(ntile(5) OVER (ORDER BY monetary ASC, entity)
                   AS INT) AS m_score
       FROM ent)
SELECT entity, recency_days, frequency, monetary,
       r_score, f_score, m_score,
       CAST(100*r_score + 10*f_score + m_score AS INT) AS rfm_cell,
       CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champions'
            WHEN r_score >= 3 AND f_score >= 3 THEN 'loyal'
            WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
            WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
            WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
            ELSE 'regular' END AS segment
FROM sc
""")
def q_rfm_segmentation(spark, sf_dir):
    """RFM scoring of customers from the orders log (as_of 1999-01-01,
    5 bins, entity-id tie-broken ntile orderings) — DuckDB replays the
    aggregation + the three deterministic ntile windows + the segment
    CASE verbatim; monetary is an exact decimal sum."""
    from beam_spark.operators.analytics import RfmSegmentation

    o = table(spark, sf_dir, "orders")
    return (o | RfmSegmentation("o_custkey", "o_orderdate",
                                "o_totalprice",
                                as_of="1999-01-01")).df


@query("q_kmv_overlap_matrix", """
WITH dh AS (SELECT DISTINCT o_orderpriority AS g,
                   CAST(('0x' || substr(md5(CAST(o_custkey AS
                     VARCHAR)), 1, 15)) AS BIGINT) AS h
            FROM orders
            WHERE o_custkey IS NOT NULL
              AND o_orderpriority IS NOT NULL),
sk AS (SELECT g, h FROM (
         SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h)
           AS r FROM dh) WHERE r <= 256),
pg AS (SELECT g, CAST(count(*) AS BIGINT) AS ku, max(h) AS hk
       FROM sk GROUP BY g),
prs AS (SELECT a.g AS ga, b.g AS gb FROM pg a JOIN pg b ON a.g < b.g),
mg AS (SELECT ga, gb, h, max(ia) AS ia, max(ib) AS ib FROM (
         SELECT p.ga, p.gb, s.h, 1 AS ia, 0 AS ib
         FROM prs p JOIN sk s ON s.g = p.ga
         UNION ALL
         SELECT p.ga, p.gb, s.h, 0, 1
         FROM prs p JOIN sk s ON s.g = p.gb)
       GROUP BY 1, 2, 3),
tu AS (SELECT ga, gb, CAST(count(*) AS BIGINT) AS ku_u,
              max(h) AS hk_u,
              CAST(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS nb
       FROM (SELECT *, row_number() OVER (PARTITION BY ga, gb
               ORDER BY h) AS r FROM mg) WHERE r <= 256
       GROUP BY 1, 2),
row1 AS (SELECT tu.*, pa.ku AS ku_a, pa.hk AS hk_a,
                pb.ku AS ku_b, pb.hk AS hk_b
         FROM tu JOIN pg pa ON pa.g = tu.ga
                 JOIN pg pb ON pb.g = tu.gb),
s AS (SELECT *,
        CASE WHEN ku_a < 256 THEN CAST(ku_a AS DOUBLE)
             ELSE CAST(ku_a - 1 AS DOUBLE) / (CAST(hk_a AS DOUBLE)
                  / CAST(1152921504606846976 AS DOUBLE)) END AS ea,
        CASE WHEN ku_b < 256 THEN CAST(ku_b AS DOUBLE)
             ELSE CAST(ku_b - 1 AS DOUBLE) / (CAST(hk_b AS DOUBLE)
                  / CAST(1152921504606846976 AS DOUBLE)) END AS eb,
        CASE WHEN ku_u < 256 THEN CAST(ku_u AS DOUBLE)
             ELSE CAST(ku_u - 1 AS DOUBLE) / (CAST(hk_u AS DOUBLE)
                  / CAST(1152921504606846976 AS DOUBLE)) END AS eu
      FROM row1),
f AS (SELECT *,
        CASE WHEN ku_u < 256 THEN CAST(nb AS DOUBLE)
             ELSE CAST(nb AS DOUBLE) / CAST(ku_u AS DOUBLE) * eu
        END AS ei
      FROM s)
SELECT ga AS group_a, gb AS group_b, CAST(256 AS INT) AS k,
       ku_a, ku_b, ku_u,
       round(ea, 6) AS est_a, round(eb, 6) AS est_b,
       round(eu, 6) AS est_union, round(ei, 6) AS est_intersection,
       round(CASE WHEN eu > 0 THEN ei / eu
             ELSE CAST(0 AS DOUBLE) END, 6) AS jaccard_est
FROM f
""")
def q_kmv_overlap_matrix(spark, sf_dir):
    """Pairwise KMV overlap matrix of customer sets across the five
    order priorities (k=256: exact at sf0.001, estimator path at
    sf0.01) — 10 unordered pairs, oracle replays sketch construction,
    pair merge, and estimators verbatim."""
    from beam_spark.operators.stats import KmvOverlapMatrix

    o = table(spark, sf_dir, "orders")
    return (o | KmvOverlapMatrix("o_custkey", "o_orderpriority",
                                 k=256)).df


@query("q_embedding_covariance", """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
           FROM embeddings WHERE vec_id % 5 = 0),
idx AS (SELECT i FROM generate_series(1, 64) t(i)),
x AS (SELECT e.vec_id, idx.i - 1 AS i, e.v[idx.i] AS xi FROM e, idx),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
s AS (SELECT i, sum(xi) AS s FROM x GROUP BY i),
g AS (SELECT a.i AS i, b.i AS j, sum(a.xi * b.xi) AS g
      FROM x a JOIN x b ON b.vec_id = a.vec_id
      GROUP BY 1, 2)
SELECT CAST(g.i AS INT) AS i, CAST(g.j AS INT) AS j,
       round((g.g - sa.s * sb.s / n.n) / (n.n - 1), 6) AS cov
FROM g CROSS JOIN n
JOIN s sa ON sa.i = g.i
JOIN s sb ON sb.i = g.j
""")
def q_embedding_covariance(spark, sf_dir):
    """Full 64x64 sample covariance of a deterministic embedding
    subsample (vec_id % 5 = 0) via the partial-Gram batch pass —
    DuckDB replays it as a row-level explode + self-join; batch-vs-row
    float-sum order is the only difference, absorbed at round 6."""
    from beam_spark.operators.similarity import CovarianceMatrix

    emb = table(spark, sf_dir, "embeddings").df.where(
        "vec_id % 5 = 0").select(
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        .alias("embedding"))
    out = (PCollection(emb) | CovarianceMatrix()).df
    return out.select("i", "j", F.round("cov", 6).alias("cov"))


@query("q_multiple_test_correction", """
WITH t AS (SELECT DISTINCT user_id,
                  CAST((user_id * 37) % 1009 + 1 AS DOUBLE) / 1009.0
                    AS p
           FROM events WHERE user_id IS NOT NULL),
r AS (SELECT *, CAST(count(*) OVER () AS DOUBLE) AS m,
             CAST(row_number() OVER (ORDER BY p, user_id) AS DOUBLE)
               AS rk
      FROM t),
adj AS (SELECT user_id, p,
               least(m * p, CAST(1 AS DOUBLE)) AS pbonf,
               least(max((m - rk + 1.0) * p) OVER (ORDER BY rk
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 CAST(1 AS DOUBLE)) AS pholm,
               least(min(m * p / rk) OVER (ORDER BY rk DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 CAST(1 AS DOUBLE)) AS pbh
        FROM r)
SELECT user_id, p,
       round(pbonf, 9) AS p_bonferroni,
       round(pholm, 9) AS p_holm,
       round(pbh, 9) AS p_bh,
       pbonf <= 0.05 AS reject_bonferroni,
       pholm <= 0.05 AS reject_holm,
       pbh <= 0.05 AS reject_bh
FROM adj
""")
def q_multiple_test_correction(spark, sf_dir):
    """Bonferroni / Holm / Benjamini-Hochberg corrections over one
    deterministic p-value per user (integer-derived, so both engines
    see identical doubles) — the oracle replays the rank windows and
    running min/max verbatim; reject flags at alpha = 0.05.

    Note the rounding asymmetry: reject flags compare the UNROUNDED
    adjusted p in both engines (the operator does too — round 9 is
    only the display column)."""
    from beam_spark.operators.quality import MultipleTestCorrection

    ev = table(spark, sf_dir, "events").df
    t = (ev.where("user_id IS NOT NULL")
         .select("user_id").distinct()
         .withColumn("p", ((F.col("user_id") * 37) % 1009 + 1)
                     .cast("double") / 1009.0))
    out = (PCollection(t)
           | MultipleTestCorrection(
               "p", methods=("bonferroni", "holm", "bh"),
               tie_break="user_id")).df
    return out


_TEXTRANK_EDGES_SQL = """
WITH tt AS (SELECT list_filter({_TOK}, x -> len(x) >= 2) AS toks
            FROM documents WHERE text IS NOT NULL),
bp AS (SELECT least(toks[i], toks[i+1]) AS a,
              greatest(toks[i], toks[i+1]) AS b
       FROM tt, unnest(range(1, len(toks))) AS u(i)
       WHERE toks[i] <> toks[i+1]),
pc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM bp
       GROUP BY a, b HAVING count(*) >= 5)
SELECT a AS src, b AS dst, CAST(c AS DOUBLE) AS w FROM pc
UNION ALL
SELECT b, a, CAST(c AS DOUBLE) FROM pc
""".replace("{_TOK}", _TOK)


@query("q_textrank_terms",
       _pagerank_oracle_sql(iters=2, weighted=True,
                            edges_sql=_TEXTRANK_EDGES_SQL))
def q_textrank_terms(spark, sf_dir):
    """TextRank keyword scores over documents (min pair count 5,
    min token length 2, weighted PageRank, 2 iterations) — the
    co-occurrence graph builds identically in both engines and the
    chained-CTE weighted-pagerank oracle replays the recurrence."""
    from beam_spark.operators.text import TextRank

    docs = table(spark, sf_dir, "documents")
    out = (docs | TextRank("text", min_count=5, min_token_len=2,
                           iterations=2)).df
    return out.select("node", "pr")


@query("q_stats_welch_ttest", """
WITH b AS (SELECT l_linestatus,
                  CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS ia,
                  CAST(l_extendedprice AS DECIMAL(19,6)) AS x
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL
             AND l_returnflag IN ('A', 'R')),
a AS (SELECT l_linestatus,
             CAST(sum(ia) AS BIGINT) AS na,
             CAST(sum(1 - ia) AS BIGINT) AS nb,
             CAST(sum(CASE WHEN ia = 1 THEN x END) AS DOUBLE) AS sa,
             CAST(sum(CASE WHEN ia = 0 THEN x END) AS DOUBLE) AS sb,
             CAST(sum(CASE WHEN ia = 1 THEN x * x END) AS DOUBLE)
               AS ssa,
             CAST(sum(CASE WHEN ia = 0 THEN x * x END) AS DOUBLE)
               AS ssb
      FROM b GROUP BY 1),
m AS (SELECT l_linestatus, na, nb,
             sa / na AS ma, sb / nb AS mb,
             CASE WHEN na >= 2
                  THEN (ssa - sa * sa / na) / (na - 1.0) END AS va,
             CASE WHEN nb >= 2
                  THEN (ssb - sb * sb / nb) / (nb - 1.0) END AS vb,
             CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd
      FROM a),
s AS (SELECT *, va / nad + vb / nbd AS se2,
             ((nad - 1.0) * va + (nbd - 1.0) * vb)
               / (nad + nbd - 2.0) AS sp2
      FROM m)
SELECT l_linestatus, na, nb,
       round(CASE WHEN na >= 1 THEN ma END, 9) AS mean_a,
       round(CASE WHEN nb >= 1 THEN mb END, 9) AS mean_b,
       round(CASE WHEN na >= 1 AND nb >= 1 THEN ma - mb END, 9)
         AS mean_diff,
       round(CASE WHEN se2 > 0.0
                  THEN (ma - mb) / sqrt(se2) END, 9) AS t,
       round(CASE WHEN se2 > 0.0
                  THEN (se2 * se2)
                       / ((va / nad) * (va / nad) / (nad - 1.0)
                          + (vb / nbd) * (vb / nbd) / (nbd - 1.0))
             END, 9) AS df,
       round(CASE WHEN sp2 > 0.0
                  THEN (ma - mb) / sqrt(sp2) END, 9) AS cohens_d
FROM s
""")
def q_stats_welch_ttest(spark, sf_dir):
    """Welch t-test of extendedprice, returnflag A vs R per
    linestatus — exact decimal conditional sums; t/df/cohens_d double
    closed forms replayed in identical order (DuckDB decimals widened
    to 19,6 for hugeint products, the LinearFit convention)."""
    from beam_spark.operators.quality import TwoSampleTTest

    li = table(spark, sf_dir, "lineitem").df.where(
        F.col("l_returnflag").isin(["A", "R"]))
    return (PCollection(li)
            | TwoSampleTTest("l_extendedprice", "l_returnflag", "A",
                             keys="l_linestatus")).df


@query("q_mahalanobis_outliers_2d", """
WITH e AS (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x0,
                  CAST(embedding[2] AS DOUBLE) AS x1
           FROM embeddings WHERE embedding IS NOT NULL),
a AS (SELECT CAST(count(*) AS BIGINT) AS n,
             sum(x0) AS s0, sum(x1) AS s1,
             sum(x0 * x0) AS g00, sum(x0 * x1) AS g01,
             sum(x1 * x1) AS g11 FROM e),
c AS (SELECT n, s0 / n AS m0, s1 / n AS m1,
             (g00 - s0 * s0 / n) / (n - 1) AS c00,
             (g01 - s0 * s1 / n) / (n - 1) AS c01,
             (g11 - s1 * s1 / n) / (n - 1) AS c11 FROM a),
p AS (SELECT *, c00 * c11 - c01 * c01 AS det FROM c)
SELECT e.vec_id,
       round((c11 * (x0 - m0) * (x0 - m0)
              - 2 * c01 * (x0 - m0) * (x1 - m1)
              + c00 * (x1 - m1) * (x1 - m1)) / det, 6)
         AS mahalanobis_sq
FROM e CROSS JOIN p
""")
def q_mahalanobis_outliers_2d(spark, sf_dir):
    """Squared Mahalanobis distance on the first two embedding dims —
    at d=2 the covariance inverse has a closed form, so DuckDB can
    replay the whole operator path (fit + score) exactly; the numpy
    LU inverse differs from the adjugate formula only at float noise,
    absorbed at round 6."""
    from beam_spark.operators.quality import MahalanobisOutliers

    emb = table(spark, sf_dir, "embeddings").df.select(
        "vec_id",
        F.expr("slice(transform(embedding, x -> CAST(x AS DOUBLE)), "
               "1, 2)").alias("embedding"))
    return (PCollection(emb) | MahalanobisOutliers()).df


@query("q_ts_lag_features", """
WITH pre AS (SELECT l_suppkey % 20 AS k, l_orderkey AS ord,
                    sum(CAST(l_quantity AS DECIMAL(9,2))) AS sv
             FROM lineitem GROUP BY 1, 2),
b AS (SELECT k, ord, CAST(sv AS DOUBLE) AS v,
             CAST(sv AS DECIMAL(9,2)) AS xd FROM pre),
w AS (SELECT k, ord, v,
             lag(v, 1) OVER pk AS lag_1,
             lag(v, 2) OVER pk AS lag_2,
             lag(v, 3) OVER pk AS lag_3,
             CAST(count(xd) OVER tr AS DOUBLE) AS cnt,
             CAST(sum(xd) OVER tr AS DOUBLE) AS s,
             CAST(sum(xd * xd) OVER tr AS DOUBLE) AS ss
      FROM b
      WINDOW pk AS (PARTITION BY k ORDER BY ord),
             tr AS (PARTITION BY k ORDER BY ord
                    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
SELECT k, ord, v, lag_1, lag_2, lag_3,
       round(CASE WHEN cnt >= 1.0 THEN s / cnt END, 9)
         AS roll_mean_7,
       round(CASE WHEN cnt >= 2.0
                  THEN sqrt((ss - s * s / cnt) / (cnt - 1.0)) END, 9)
         AS roll_std_7,
       round(v - lag_1, 9) AS delta,
       round(CASE WHEN lag_1 <> 0.0
                  THEN (v - lag_1) / lag_1 END, 9) AS pct_change
FROM w
""")
def q_ts_lag_features(spark, sf_dir):
    """Leakage-safe lag/rolling feature block (lags 1-3, trailing-7
    mean/std excluding the current row) per supplier-hash series of
    per-order QUANTITY — the series pre-aggregates on (key, orderkey)
    so the window ordering is total (raw lineitem has duplicate
    (orderkey, linenumber) pairs, which make ROWS frames
    order-ambiguous across engines), and it uses scale-2 quantities
    so every decimal sum's unscaled integer stays under 2^53: the
    decimal -> double cast is then a SINGLE correctly-rounded step in
    both engines (at scale 12 / 1e10 magnitude the int128 double-
    rounds differently in DuckDB than Spark's BigDecimal — found the
    hard way); closed forms in double, replayed verbatim."""
    from beam_spark.operators.stats import LagFeatures

    li = (table(spark, sf_dir, "lineitem").df
          .selectExpr("l_suppkey % 20 AS k", "l_orderkey AS ord",
                      "CAST(l_quantity AS DECIMAL(9,2)) AS xd")
          .groupBy("k", "ord")
          .agg(F.sum("xd").cast("decimal(9,2)").alias("v")))
    out = (PCollection(li)
           | LagFeatures("v", "ord", keys="k", lags=3, window=7,
                         cast_to="decimal(9,2)")).df
    return out.select("k", "ord", F.col("v").cast("double").alias("v"),
                      "lag_1", "lag_2", "lag_3", "roll_mean_7",
                      "roll_std_7", "delta", "pct_change")


@query("q_ml_target_encode", """
WITH base AS (SELECT l_orderkey, l_linenumber, l_returnflag,
                     CAST(l_quantity AS DECIMAL(9,2)) AS yd,
                     CAST(l_quantity AS DOUBLE) AS y
              FROM lineitem),
per AS (SELECT l_returnflag AS cat,
               CAST(sum(yd) AS DOUBLE) AS s,
               CAST(count(yd) AS BIGINT) AS n
        FROM base WHERE yd IS NOT NULL GROUP BY 1),
g AS (SELECT CAST(sum(yd) AS DOUBLE)
             / CAST(count(yd) AS DOUBLE) AS gm
      FROM base WHERE yd IS NOT NULL)
SELECT b.l_orderkey, b.l_linenumber, b.l_returnflag, b.y AS l_quantity,
       round((p.s + 10.0 * g.gm) / (CAST(p.n AS DOUBLE) + 10.0), 9)
         AS flag_enc,
       round(CASE WHEN b.y IS NOT NULL
                    AND CAST(p.n AS DOUBLE) - 1.0 + 10.0 > 0.0
                  THEN (p.s - b.y + 10.0 * g.gm)
                       / (CAST(p.n AS DOUBLE) - 1.0 + 10.0) END, 9)
         AS flag_enc_loo
FROM base b
JOIN per p ON p.cat = b.l_returnflag
CROSS JOIN g
""")
def q_ml_target_encode(spark, sf_dir):
    """Smoothed target encoding (m=10) of returnflag against quantity,
    plain and leave-one-out — scale-2 decimal sums (unscaled ints
    < 2^53, single-rounded double casts), fixed-order doubles,
    round 9."""
    from beam_spark.ml.transforms import TargetEncode

    li = table(spark, sf_dir, "lineitem").df.selectExpr(
        "l_orderkey", "l_linenumber", "l_returnflag",
        "CAST(l_quantity AS DOUBLE) AS l_quantity")
    enc = (PCollection(li)
           | TargetEncode("l_returnflag", "l_quantity", m=10.0,
                          out_col="flag_enc", cast_to="decimal(9,2)"))
    out = (enc | TargetEncode("l_returnflag", "l_quantity", m=10.0,
                              loo=True, out_col="flag_enc_loo",
                              cast_to="decimal(9,2)")).df
    return out.select("l_orderkey", "l_linenumber", "l_returnflag",
                      "l_quantity", "flag_enc", "flag_enc_loo")


@query("q_concentration_supplier_volume", """
WITH unit AS (SELECT l_returnflag AS flag, l_suppkey,
                     sum(CAST(l_quantity AS DECIMAL(9,2))) AS x
              FROM lineitem GROUP BY 1, 2),
rk AS (SELECT flag, CAST(x AS DECIMAL(18,6)) AS x,
              row_number() OVER (PARTITION BY flag ORDER BY x) AS i
       FROM unit WHERE x >= 0),
a AS (SELECT flag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(i * x) AS DOUBLE) AS six,
             CAST(max(x) AS DOUBLE) AS mx,
             sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS sxx
      FROM rk GROUP BY 1),
ng AS (SELECT flag,
              CAST(sum(CASE WHEN x < 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_negative
       FROM unit GROUP BY 1)
SELECT a.flag, a.n, ng.n_negative, a.sx AS total,
       round(CASE WHEN a.sx > 0.0
                  THEN (2.0 * six - (CAST(n AS DOUBLE) + 1.0) * sx)
                       / (CAST(n AS DOUBLE) * sx) END, 9) AS gini,
       round(CASE WHEN a.sx > 0.0 THEN sxx / (sx * sx) END, 9) AS hhi,
       round(CASE WHEN a.sx > 0.0 THEN mx / sx END, 9) AS top_share
FROM a JOIN ng ON ng.flag = a.flag
""")
def q_concentration_supplier_volume(spark, sf_dir):
    """Gini / HHI / top-share concentration of per-supplier quantity
    volume within each returnflag — tied volumes make sum(i*x)
    rank-order-invariant, so row_number needs no tie-break; scale-2
    decimal sums, fixed-order double ratios, round 9."""
    from beam_spark.operators.quality import ConcentrationReport

    unit = (table(spark, sf_dir, "lineitem").df
            .groupBy(F.col("l_returnflag").alias("flag"), "l_suppkey")
            .agg(F.sum(F.col("l_quantity").cast("decimal(9,2)"))
                 .alias("x")))
    out = (PCollection(unit)
           | ConcentrationReport("x", keys="flag",
                                 cast_to="decimal(18,6)")).df
    return out


@query("q_stats_anova_quantity", """
WITH per AS (SELECT l_linestatus, l_returnflag,
                    CAST(count(*) AS BIGINT) AS n,
                    sum(CAST(l_quantity AS DECIMAL(9,2))) AS s,
                    sum(CAST(l_quantity AS DECIMAL(9,2))
                        * CAST(l_quantity AS DECIMAL(9,2))) AS ss
             FROM lineitem
             WHERE l_quantity IS NOT NULL
               AND l_returnflag IS NOT NULL
             GROUP BY 1, 2),
a AS (SELECT l_linestatus,
             CAST(sum(n) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k,
             sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                 / CAST(n AS DOUBLE)) AS sgs,
             CAST(sum(s) AS DOUBLE) AS stot,
             CAST(sum(ss) AS DOUBLE) AS sstot
      FROM per GROUP BY 1),
d AS (SELECT *, CAST(n AS DOUBLE) AS nd, CAST(k AS DOUBLE) AS kd,
             stot * stot / CAST(n AS DOUBLE) AS corr
      FROM a),
e AS (SELECT *, sgs - corr AS ssb, sstot - corr - (sgs - corr) AS ssw
      FROM d)
SELECT l_linestatus, n, k AS n_groups,
       round(CASE WHEN k >= 2 AND nd > kd AND ssw > 0.0
                  THEN (ssb / (kd - 1.0)) / (ssw / (nd - kd)) END, 9)
         AS f_stat,
       CAST(k - 1 AS BIGINT) AS df_between,
       CAST(n - k AS BIGINT) AS df_within,
       round(CASE WHEN ssb + ssw > 0.0
                  THEN ssb / (ssb + ssw) END, 9) AS eta_sq
FROM e
""")
def q_stats_anova_quantity(spark, sf_dir):
    """One-way ANOVA of quantity across returnflags per linestatus —
    decimal-exact group moments, sum-of-squares identities in double
    (cross-group float-sum order absorbed at round 9)."""
    from beam_spark.operators.quality import OneWayAnova

    li = table(spark, sf_dir, "lineitem")
    return (li | OneWayAnova("l_quantity", "l_returnflag",
                             keys="l_linestatus",
                             cast_to="decimal(9,2)")).df


@query("q_stats_proportions_srm", """
WITH f AS (SELECT user_id % 4 AS slice,
                  event_type = 'purchase' AS ia,
                  CAST(value > 1.0 AS BIGINT) AS suc
           FROM events
           WHERE event_type IN ('purchase', 'view')
             AND value IS NOT NULL AND user_id IS NOT NULL),
a AS (SELECT slice,
             CAST(sum(CASE WHEN ia THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN ia THEN 0 ELSE 1 END) AS BIGINT)
               AS n_b,
             CAST(sum(CASE WHEN ia THEN suc ELSE 0 END) AS BIGINT)
               AS pos_a,
             CAST(sum(CASE WHEN ia THEN 0 ELSE suc END) AS BIGINT)
               AS pos_b
      FROM f GROUP BY 1),
d AS (SELECT *, CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
             CAST(pos_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
             CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
             CAST(pos_a + pos_b AS DOUBLE)
               / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pool
      FROM a),
e AS (SELECT *,
             pool * (1.0 - pool) * (1.0 / na + 1.0 / nb) AS se2,
             (na + nb) * 0.5 AS ea, (na + nb) * 0.5 AS eb
      FROM d)
SELECT slice, n_a, n_b, pos_a, pos_b,
       round(CASE WHEN n_a > 0 THEN pa END, 9) AS p_a,
       round(CASE WHEN n_b > 0 THEN pb END, 9) AS p_b,
       round(CASE WHEN n_a > 0 AND n_b > 0 AND se2 > 0.0
                  THEN (pa - pb) / sqrt(se2) END, 9) AS z,
       round(CASE WHEN n_a > 0 AND n_b > 0
                  THEN (na - ea) * (na - ea) / ea
                       + (nb - eb) * (nb - eb) / eb END, 9)
         AS srm_chi2
FROM e
""")
def q_stats_proportions_srm(spark, sf_dir):
    """Two-proportion z (pooled SE) + sample-ratio-mismatch chi-square
    per user slice: purchase-vs-view conversion (value > 1) — exact
    integer counts, fixed-order double closed forms."""
    from beam_spark.operators.quality import ProportionsZTest

    ev = (table(spark, sf_dir, "events").df
          .where(F.col("event_type").isin(["purchase", "view"])
                 & F.col("user_id").isNotNull())
          .selectExpr("user_id % 4 AS slice", "event_type",
                      "value > 1.0 AS suc"))
    return (PCollection(ev)
            | ProportionsZTest("suc", "event_type", "purchase",
                               keys="slice")).df


@query("q_ml_naive_bayes_lang", """
WITH tr AS (SELECT lang AS label, text FROM documents
            WHERE doc_id % 2 = 0 AND lang IS NOT NULL
              AND text IS NOT NULL),
trt AS (SELECT label, unnest(list_filter({_TOK}, x -> x <> ''))
          AS token FROM tr),
wc AS (SELECT label, token, CAST(count(*) AS BIGINT) AS cnt
       FROM trt GROUP BY 1, 2),
vocab AS (SELECT DISTINCT token FROM wc),
vs AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
tot AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS tok_c
        FROM wc GROUP BY 1),
grid AS (SELECT t.label, v.token,
           CAST(ln((CAST(coalesce(wc.cnt, 0) AS DOUBLE) + 1.0)
                / (CAST(t.tok_c AS DOUBLE)
                   + 1.0 * CAST(vs.v AS DOUBLE)))
                AS DECIMAL(16,9)) AS lp
         FROM tot t CROSS JOIN vocab v CROSS JOIN vs
         LEFT JOIN wc ON wc.label = t.label AND wc.token = v.token),
pr AS (SELECT label, CAST(count(*) AS BIGINT) AS n_c
       FROM tr GROUP BY 1),
prn AS (SELECT CAST(sum(n_c) AS BIGINT) AS n FROM pr),
priors AS (SELECT label,
             CAST(ln(CAST(n_c AS DOUBLE) / CAST(n AS DOUBLE))
                  AS DECIMAL(16,9)) AS lprior
           FROM pr CROSS JOIN prn),
te AS (SELECT doc_id, text FROM documents
       WHERE doc_id % 2 = 1 AND text IS NOT NULL),
tet AS (SELECT doc_id, unnest(list_filter({_TOK}, x -> x <> ''))
          AS token FROM te),
dc AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS cnt
       FROM tet GROUP BY 1, 2),
sc AS (SELECT d.doc_id, g.label,
          sum(CAST(d.cnt AS DECIMAL(9,0)) * g.lp) AS s,
          CAST(sum(d.cnt) AS BIGINT) AS known
       FROM dc d JOIN grid g ON g.token = d.token GROUP BY 1, 2),
fin AS (SELECT sc.doc_id, sc.label,
           round(CAST(sc.s + p.lprior AS DOUBLE), 9) AS score,
           sc.known
        FROM sc JOIN priors p ON p.label = sc.label),
rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         ORDER BY score DESC, label) AS r FROM fin)
SELECT doc_id, label AS predicted, score, known AS n_known_tokens
FROM rk WHERE r = 1
""".replace("{_TOK}", _TOK))
def q_ml_naive_bayes_lang(spark, sf_dir):
    """Multinomial Naive Bayes language routing: fit on even doc_ids
    (label = lang), classify odd doc_ids — counts exact, per-term ln
    cast to decimal(16,9) BEFORE the per-doc sum (order-free), argmax
    on the rounded score with label tie-break; DuckDB replays fit and
    predict end-to-end."""
    from beam_spark.ml.naive_bayes import NaiveBayesClassify

    docs = table(spark, sf_dir, "documents").df
    train = docs.where("doc_id % 2 = 0")
    test = docs.where("doc_id % 2 = 1")
    return (PCollection(test)
            | NaiveBayesClassify(train, "lang", "doc_id")).df


def _logistic_oracle_sql(iters: int = 3, lr: str = "0.5") -> str:
    """Chained-CTE replay of LogisticFit's full-batch GD on the
    lineitem returnflag task: one gradient CTE + one weight CTE per
    iteration — the identical quantized-term sums and plain-double
    weight updates the operator runs (ml/logistic.py docstring)."""
    feats = ["x1", "x2", "x3"]
    cte = ["""WITH data AS (
  SELECT CAST(l_returnflag = 'A' AS DOUBLE) AS y,
         CAST(l_quantity AS DOUBLE) / 64.0 AS x1,
         CAST(l_discount AS DOUBLE) AS x2,
         CAST(l_tax AS DOUBLE) AS x3
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
    AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM data),
w0 AS (SELECT CAST(0 AS DOUBLE) AS w0, CAST(0 AS DOUBLE) AS w1,
              CAST(0 AS DOUBLE) AS w2, CAST(0 AS DOUBLE) AS w3),"""]
    for t in range(1, iters + 1):
        p = ("1.0 / (1.0 + exp(-(w.w0 + w.w1 * d.x1 + w.w2 * d.x2 "
             "+ w.w3 * d.x3)))")
        gsums = ",\n    ".join(
            [f"sum(CAST(({p} - d.y) * 1.0 / nn.n AS DECIMAL(16,9))) "
             f"AS g0"]
            + [f"sum(CAST(({p} - d.y) * d.{f} / nn.n "
               f"AS DECIMAL(16,9))) AS g{j}"
               for j, f in enumerate(feats, start=1)])
        cte.append(f"""g{t} AS (
  SELECT {gsums}
  FROM data d CROSS JOIN w{t - 1} w CROSS JOIN nn),""")
        wcols = ", ".join(
            f"w.w{j} - {lr} * CAST(g.g{j} AS DOUBLE) AS w{j}"
            for j in range(4))
        cte.append(f"""w{t} AS (SELECT {wcols}
  FROM w{t - 1} w CROSS JOIN g{t} g),""")
    cte[-1] = cte[-1].rstrip(",")
    return ("\n".join(cte) + f"""
SELECT 'intercept' AS term, round(w0, 9) AS weight FROM w{iters}
UNION ALL SELECT 'x1', round(w1, 9) FROM w{iters}
UNION ALL SELECT 'x2', round(w2, 9) FROM w{iters}
UNION ALL SELECT 'x3', round(w3, 9) FROM w{iters}""")


@query("q_ml_logistic_fit", _logistic_oracle_sql())
def q_ml_logistic_fit(spark, sf_dir):
    """Logistic regression trained by 3 full-batch GD passes (lr 0.5)
    on lineitem: P(returnflag = 'A') from quantity/64 (dyadic scale —
    exact doubles), discount, tax — gradients are order-free decimal
    sums, weights plain doubles; DuckDB replays training end-to-end
    via chained CTEs, weights compared at round 9."""
    from beam_spark.ml.logistic import LogisticFit

    li = table(spark, sf_dir, "lineitem").df.selectExpr(
        "l_returnflag = 'A' AS y",
        "CAST(l_quantity AS DOUBLE) / 64.0 AS x1",
        "CAST(l_discount AS DOUBLE) AS x2",
        "CAST(l_tax AS DOUBLE) AS x3")
    out = (PCollection(li)
           | LogisticFit(["x1", "x2", "x3"], "y", iterations=3,
                         lr=0.5)).df
    return out.select("term", F.round("weight", 9).alias("weight"))


_AB_PIPELINE_SQL = """
WITH unit AS (
  SELECT user_id, user_id % 2 AS arm,
    CAST(sum(CASE WHEN event_type = 'purchase'
             THEN CAST(value AS DECIMAL(18,6))
             ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS y,
    CAST(sum(CASE WHEN event_type = 'view'
             THEN CAST(value AS DECIMAL(18,6))
             ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS x
  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
cm AS (SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS DECIMAL(19,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS DECIMAL(19,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST(x AS DECIMAL(19,6))
                  * CAST(x AS DECIMAL(19,6))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(x AS DECIMAL(19,6))
                  * CAST(y AS DECIMAL(19,6))) AS DOUBLE) AS sxy
       FROM unit WHERE x IS NOT NULL AND y IS NOT NULL),
cs AS (SELECT n,
         CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0
              THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
                   / (CAST(n AS DOUBLE) * sxx - sx * sx)
              ELSE CAST(0 AS DOUBLE) END AS theta,
         sx / CAST(n AS DOUBLE) AS xbar
       FROM cm),
adj AS (SELECT u.user_id, u.arm, u.y,
               round(u.y - cs.theta * (u.x - cs.xbar), 6) AS y_adj
        FROM unit u CROSS JOIN cs),
wb AS (SELECT CASE WHEN arm = 0 THEN 1 ELSE 0 END AS ia,
              CAST(y_adj AS DECIMAL(19,6)) AS x
       FROM adj WHERE y_adj IS NOT NULL AND arm IN (0, 1)),
wa AS (SELECT CAST(sum(ia) AS BIGINT) AS na,
              CAST(sum(1 - ia) AS BIGINT) AS nb,
              CAST(sum(CASE WHEN ia = 1 THEN x END) AS DOUBLE) AS sa,
              CAST(sum(CASE WHEN ia = 0 THEN x END) AS DOUBLE) AS sb,
              CAST(sum(CASE WHEN ia = 1 THEN x * x END) AS DOUBLE)
                AS ssa,
              CAST(sum(CASE WHEN ia = 0 THEN x * x END) AS DOUBLE)
                AS ssb
       FROM wb),
wm AS (SELECT na, nb, sa / na AS ma, sb / nb AS mb,
              CASE WHEN na >= 2
                   THEN (ssa - sa * sa / na) / (na - 1.0) END AS va,
              CASE WHEN nb >= 2
                   THEN (ssb - sb * sb / nb) / (nb - 1.0) END AS vb,
              CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd
       FROM wa),
ws AS (SELECT *, va / nad + vb / nbd AS se2 FROM wm),
welch AS (SELECT
    round(CASE WHEN se2 > 0.0 THEN (ma - mb) / sqrt(se2) END, 9) AS t,
    round(CASE WHEN se2 > 0.0
               THEN (se2 * se2)
                    / ((va / nad) * (va / nad) / (nad - 1.0)
                       + (vb / nbd) * (vb / nbd) / (nbd - 1.0))
          END, 9) AS df,
    round(CASE WHEN na >= 1 AND nb >= 1 THEN ma - mb END, 9)
      AS mean_diff,
    na, nb, nad, nbd
  FROM ws),
mf AS (SELECT y AS v, CASE WHEN arm = 0 THEN 1 ELSE 0 END AS ia
       FROM unit WHERE y IS NOT NULL AND arm IN (0, 1)),
mc AS (SELECT v, CAST(sum(ia) AS BIGINT) AS ca,
              CAST(sum(1 - ia) AS BIGINT) AS cb
       FROM mf GROUP BY v),
mr AS (SELECT *, ca + cb AS t,
              CAST(coalesce(sum(ca + cb) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS cum
       FROM mc),
ma_ AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
               CAST(sum(cb) AS BIGINT) AS nb,
               CAST(sum(ca * (2*cum + t + 1)) AS BIGINT) AS ra2,
               CAST(sum(t*t*t - t) AS BIGINT) AS ties
        FROM mr),
md AS (SELECT na, nb,
              (CAST(ra2 AS DOUBLE)
               - CAST(na AS DOUBLE) * CAST(na + 1 AS DOUBLE)) / 2.0
                AS ua,
              CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
              CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) AS n,
              CAST(ties AS DOUBLE) AS tiesd
       FROM ma_),
ms AS (SELECT *, nad * nbd / 2.0 AS mu,
              CASE WHEN n >= 2.0
                   THEN nad * nbd / 12.0
                        * ((n + 1.0) - tiesd / (n * (n - 1.0)))
                   ELSE CAST(0 AS DOUBLE) END AS sig2
       FROM md),
mwu AS (SELECT round(ua, 9) AS u_a,
               round(CASE WHEN sig2 > 0.0
                          THEN (ua - mu) / sqrt(sig2) END, 9) AS z,
               round(CASE WHEN na > 0 AND nb > 0
                          THEN ua / (nad * nbd) END, 9) AS auc_a,
               na, nb
        FROM ms),
srm AS (SELECT nad, nbd,
               (nad + nbd) / 2.0 AS e
        FROM (SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                          AS DOUBLE) AS nad,
                     CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                          AS DOUBLE) AS nbd
              FROM unit))
SELECT 'theta' AS op, 'global' AS k, round(cs.theta, 9) AS v1,
       CAST(cs.n AS DOUBLE) AS v2, CAST(0 AS DOUBLE) AS v3,
       CAST(0 AS DOUBLE) AS v4
FROM cs
UNION ALL SELECT 'welch', 'arm0_vs_1', t, df, mean_diff,
  CAST(na + nb AS DOUBLE) FROM welch
UNION ALL SELECT 'mwu', 'arm0_vs_1', u_a, z, auc_a,
  CAST(na + nb AS DOUBLE) FROM mwu
UNION ALL SELECT 'srm', 'counts', nad, nbd,
  ((nad - e) * (nad - e)) / e + ((nbd - e) * (nbd - e)) / e,
  CAST(0 AS DOUBLE) FROM srm
"""


@query("q_pipeline_ab_analysis", _AB_PIPELINE_SQL)
def q_pipeline_ab_analysis(spark, sf_dir):
    """End-to-end experiment readout as ONE composed DAG (the
    examples/experiment_analysis.py loop): per-user unit aggregation
    (purchase spend vs view-spend covariate, exact decimal sums) ->
    CUPED variance reduction -> Welch t on the ADJUSTED metric +
    Mann-Whitney U on the raw metric + sample-ratio-mismatch
    chi-square on the assignment counts. Composition is the point:
    the t-test consumes CUPED's output inside the same lineage, and
    DuckDB replays the whole chain."""
    from beam_spark.operators.quality import (Cuped, MannWhitneyU,
                                              TwoSampleTTest)

    dec = "decimal(18,6)"
    ev = table(spark, sf_dir, "events").df.where("user_id IS NOT NULL")
    unit = (ev.groupBy("user_id")
            .agg(F.sum(F.when(F.col("event_type") == "purchase",
                              F.col("value").cast(dec))
                       .otherwise(F.lit(0).cast(dec)))
                 .cast("double").alias("y"),
                 F.sum(F.when(F.col("event_type") == "view",
                              F.col("value").cast(dec))
                       .otherwise(F.lit(0).cast(dec)))
                 .cast("double").alias("x"))
            .withColumn("arm", F.col("user_id") % 2)
            # unit feeds CUPED (which references it again internally),
            # the MWU leg and the SRM counts — unmaterialized, the
            # events aggregation replays ~5x inside the union. One
            # eager localCheckpoint; the sums are exact decimals.
            .localCheckpoint(eager=True))
    adj = (PCollection(unit) | Cuped("y", "x")).df
    welch = (PCollection(adj)
             | TwoSampleTTest("y_adj", "arm", 0, 1,
                              cast_to="decimal(19,6)")).df
    mwu = (PCollection(unit) | MannWhitneyU("y", "arm", 0, 1)).df
    theta = (adj.agg(F.max("theta").alias("theta"),
                     F.count(F.lit(1)).cast("long").alias("n")))
    cnts = unit.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("double").alias("nad"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("double").alias("nbd"))
    e = (F.col("nad") + F.col("nbd")) / F.lit(2.0)
    zero = "CAST(0 AS DOUBLE)"
    return (theta.selectExpr(
        "'theta' AS op", "'global' AS k", "theta AS v1",
        "CAST(n AS DOUBLE) AS v2", f"{zero} AS v3", f"{zero} AS v4")
        .unionByName(welch.selectExpr(
            "'welch' AS op", "'arm0_vs_1' AS k", "t AS v1",
            "df AS v2", "mean_diff AS v3",
            "CAST(na + nb AS DOUBLE) AS v4"))
        .unionByName(mwu.selectExpr(
            "'mwu' AS op", "'arm0_vs_1' AS k", "u_a AS v1", "z AS v2",
            "auc_a AS v3", "CAST(na + nb AS DOUBLE) AS v4"))
        .unionByName(cnts.select(
            F.lit("srm").alias("op"), F.lit("counts").alias("k"),
            F.col("nad").alias("v1"), F.col("nbd").alias("v2"),
            (((F.col("nad") - e) * (F.col("nad") - e)) / e
             + ((F.col("nbd") - e) * (F.col("nbd") - e)) / e)
            .alias("v3"), F.lit(0.0).alias("v4"))))


def _gbm_oracle_sql(rounds: int = 3, lr: str = "0.5") -> str:
    """Chained-CTE replay of GradientBoostedStumps' full training run
    on the lineitem price task — melt/histogram/prefix-window/argmax
    per round, split choice included; prefix sums quantize to scale 6
    before the double cast (keeps decimal->double single-rounded in
    both engines at any row count; ml/gbm.py docstring)."""
    feats = ["x1", "x2", "x3"]
    melt = lambda src: "\n    UNION ALL ".join(
        f"SELECT '{f}' AS f, {f} AS v, y, p FROM {src}" for f in feats)
    case_f = ("CASE b.f " + " ".join(
        f"WHEN '{f}' THEN d.{f}" for f in feats) + " END")
    cte = ["""WITH data AS (
  SELECT CAST(l_extendedprice AS DOUBLE) / 65536 AS y,
         CAST(l_quantity AS DOUBLE) AS x1,
         CAST(l_discount AS DOUBLE) AS x2,
         CAST(l_tax AS DOUBLE) AS x3
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
f0t AS (SELECT CAST(CAST(sum(CAST(y AS DECIMAL(16,9)))
                         AS DECIMAL(28,6)) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS f0 FROM data),
d0 AS (SELECT y, x1, x2, x3, f0 AS p FROM data CROSS JOIN f0t),"""]
    for t in range(1, rounds + 1):
        cte.append(f"""m{t} AS (
  SELECT f, v, CAST(y - p AS DECIMAL(16,9)) AS r FROM (
    {melt(f"d{t - 1}")})),
h{t} AS (SELECT f, v, sum(r) AS s FROM m{t} GROUP BY 1, 2),
hc{t} AS (SELECT f, v, CAST(count(*) AS BIGINT) AS c
          FROM m{t} GROUP BY 1, 2),
w{t} AS (SELECT h.f, h.v, h.s, hc.c,
           sum(h.s) OVER (PARTITION BY h.f ORDER BY h.v) AS cs,
           CAST(sum(hc.c) OVER (PARTITION BY h.f ORDER BY h.v)
                AS BIGINT) AS cn,
           sum(h.s) OVER (PARTITION BY h.f) AS ts,
           CAST(sum(hc.c) OVER (PARTITION BY h.f) AS BIGINT) AS tn,
           max(h.v) OVER (PARTITION BY h.f) AS vmax
         FROM h{t} h JOIN hc{t} hc ON hc.f = h.f AND hc.v = h.v),
g{t} AS (SELECT f, v,
           CAST(CAST(cs AS DECIMAL(28,6)) AS DOUBLE) AS sl, cn,
           CAST(CAST(ts - cs AS DECIMAL(28,6)) AS DOUBLE) AS sr,
           tn - cn AS nr,
           CAST(CAST(ts AS DECIMAL(28,6)) AS DOUBLE) AS st, tn
         FROM w{t} WHERE v < vmax),
b{t} AS (SELECT f, v,
           sl / CAST(cn AS DOUBLE) AS wl,
           sr / CAST(nr AS DOUBLE) AS wr
         FROM g{t}
         ORDER BY round(sl * sl / CAST(cn AS DOUBLE)
                        + sr * sr / CAST(nr AS DOUBLE)
                        - st * st / CAST(tn AS DOUBLE), 9) DESC,
                  f, v
         LIMIT 1),
d{t} AS (SELECT d.y, d.x1, d.x2, d.x3,
           d.p + {lr} * CASE WHEN {case_f} <= b.v
                             THEN b.wl ELSE b.wr END AS p
         FROM d{t - 1} d CROSS JOIN b{t} b),""")
    cte[-1] = cte[-1].rstrip(",")
    finals = ["""
SELECT 0 AS round, '' AS feature, CAST(NULL AS DOUBLE) AS threshold,
       round(f0, 6) AS left_value, round(f0, 6) AS right_value
FROM f0t"""]
    for t in range(1, rounds + 1):
        finals.append(
            f"SELECT {t}, f, v, round(wl, 6), round(wr, 6) FROM b{t}")
    return "\n".join(cte) + "\nUNION ALL ".join(finals)


@query("q_ml_gbm_stumps", _gbm_oracle_sql())
def q_ml_gbm_stumps(spark, sf_dir):
    """Gradient-boosted least-squares stumps (3 rounds, lr 0.5) on
    lineitem: predict extendedprice/65536 (dyadic scale — exact
    doubles) from the quantized quantity/discount/tax features —
    residual terms as order-free decimal(16,9) sums, scale-6
    quantized prefix sums, round-9 argmax with (feature, threshold)
    tie-break; DuckDB replays training end-to-end via chained CTEs,
    split choice included. Leaves compared at round 6, NOT 9: the
    per-row double->decimal(16,9) residual cast is a shortest-repr
    HALF_UP in Spark but a full-binary-expansion round in DuckDB, so
    a value whose short decimal form ties exactly at the 1e-9 grid
    can flip one 1e-9 term (observed once at sf0.001: 7e-9 leaf
    drift by round 3); round 6 absorbs the drift, the split CHOICE
    is still value-checked."""
    from beam_spark.ml.gbm import GradientBoostedStumps

    li = table(spark, sf_dir, "lineitem").df.selectExpr(
        "CAST(l_extendedprice AS DOUBLE) / 65536 AS y",
        "CAST(l_quantity AS DOUBLE) AS x1",
        "CAST(l_discount AS DOUBLE) AS x2",
        "CAST(l_tax AS DOUBLE) AS x3")
    out = (PCollection(li)
           | GradientBoostedStumps(["x1", "x2", "x3"], "y",
                                   rounds=3, lr=0.5)).df
    return out.select(
        "round", "feature", "threshold",
        F.round("left_value", 6).alias("left_value"),
        F.round("right_value", 6).alias("right_value"))


def _ml_training_pipeline_sql() -> str:
    """Chained-CTE replay of the FULL composed training flow
    (examples/ml_training.py): NB routing accuracy + logistic GD on
    the l_orderkey%20 slice + classifier metrics on the fitted scores
    + isotonic calibration of the round-2 reliability frame. Scores
    quantize at round 6 immediately after the sigmoid so every
    downstream rank/metric sees bit-identical inputs in both
    engines; the minimax isotonic characterization and midrank AUC
    are the q_isotonic_calibration / q_classifier_metrics oracles
    verbatim, re-rooted on the composed scored frame."""
    logit = _logistic_oracle_sql().replace(
        "WHERE l_returnflag IS NOT NULL",
        "WHERE l_orderkey % 20 = 0 AND l_returnflag IS NOT NULL")
    prefix = logit[:logit.rindex("SELECT 'intercept'")].rstrip()
    # routing slice: classify doc_id%4=1 (half the odd docs) with the
    # UNCHANGED %2=0-trained model — the per-gate time-budget lever;
    # the full %2=1 routing stays oracled in q_ml_naive_bayes_lang
    nb_sql = _REGISTRY["q_ml_naive_bayes_lang"][1].replace(
        "WHERE doc_id % 2 = 1 AND text IS NOT NULL",
        "WHERE doc_id % 4 = 1 AND text IS NOT NULL")
    return f"""{prefix},
nb AS ({nb_sql}),
nbacc AS (
  SELECT avg(CAST(nb.predicted = d.lang AS DOUBLE)) AS acc,
         CAST(count(*) AS BIGINT) AS n_routed
  FROM nb JOIN documents d ON d.doc_id = nb.doc_id),
scored AS (
  SELECT d.y,
         round(1.0 / (1.0 + exp(-(w.w0 + w.w1 * d.x1 + w.w2 * d.x2
                                  + w.w3 * d.x3))), 6) AS s
  FROM data d CROSS JOIN w3 w),
mper AS (SELECT s, CAST(count(*) AS BIGINT) AS cnt,
                CAST(sum(y) AS BIGINT) AS pos
         FROM scored GROUP BY s),
mrk AS (SELECT s, cnt, pos,
          coalesce(sum(cnt) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
                                  PRECEDING AND 1 PRECEDING), 0)
            AS below
        FROM mper),
mrs AS (SELECT CAST(sum(pos * (2 * below + cnt + 1)) AS BIGINT)
          AS rs2 FROM mrk),
mcl AS (SELECT least(greatest(s, CAST(1e-15 AS DOUBLE)),
                     CAST(1 AS DOUBLE) - CAST(1e-15 AS DOUBLE)) AS p,
               s, y
        FROM scored),
mtot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS n_pos,
         sum(CAST(CASE WHEN y = 1 THEN -ln(p)
                       ELSE -ln(CAST(1 AS DOUBLE) - p)
                  END AS DECIMAL(28,12))) AS ll,
         sum(CAST((p - CAST(y AS DOUBLE)) * (p - CAST(y AS DOUBLE))
                  AS DECIMAL(28,12))) AS br,
         CAST(sum(CASE WHEN s >= CAST(0.5 AS DOUBLE) AND y = 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN s >= CAST(0.5 AS DOUBLE) AND y = 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN s < CAST(0.5 AS DOUBLE) AND y = 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM mcl),
met AS (SELECT
          CASE WHEN n_pos > 0 AND n - n_pos > 0 THEN
            CAST(rs2 - n_pos * (n_pos + 1) AS DOUBLE)
              / CAST(2 * n_pos * (n - n_pos) AS DOUBLE) END AS auc,
          round(CAST(ll AS DOUBLE) / n, 6) AS logloss,
          round(CAST(br AS DOUBLE) / n, 6) AS brier,
          tp, fp, fn,
          CASE WHEN 2 * tp + fp + fn > 0 THEN
            CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
          END AS f1
        FROM mtot CROSS JOIN mrs),
ib AS (SELECT round(s, 2) AS score, y FROM scored),
ig AS (SELECT score, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(y) AS BIGINT) AS n_pos FROM ib GROUP BY score),
iord AS (SELECT *, row_number() OVER (ORDER BY score) AS rn FROM ig),
icum AS (SELECT rn, score, n, n_pos,
           CAST(sum(n) OVER (ORDER BY rn) AS BIGINT) AS cn,
           CAST(sum(n_pos) OVER (ORDER BY rn) AS BIGINT) AS cp
         FROM iord),
iseg AS (SELECT i.rn AS ri, j.rn AS rj,
           CAST(j.cp - i.cp + i.n_pos AS DOUBLE)
             / CAST(j.cn - i.cn + i.n AS DOUBLE) AS m
         FROM icum i JOIN icum j ON j.rn >= i.rn),
iinn AS (SELECT k.rn AS rn, sg.ri AS ri, min(sg.m) AS im
         FROM icum k JOIN iseg sg ON sg.ri <= k.rn AND sg.rj >= k.rn
         GROUP BY k.rn, sg.ri),
ifit AS (SELECT rn, max(im) AS calibrated FROM iinn GROUP BY rn)
SELECT 'nb_acc' AS op, 'route' AS k, acc AS v1,
       CAST(n_routed AS DOUBLE) AS v2, CAST(0 AS DOUBLE) AS v3
FROM nbacc
UNION ALL SELECT 'weight', 'intercept', round(w0, 9),
  CAST(0 AS DOUBLE), CAST(0 AS DOUBLE) FROM w3
UNION ALL SELECT 'weight', 'x1', round(w1, 9), CAST(0 AS DOUBLE),
  CAST(0 AS DOUBLE) FROM w3
UNION ALL SELECT 'weight', 'x2', round(w2, 9), CAST(0 AS DOUBLE),
  CAST(0 AS DOUBLE) FROM w3
UNION ALL SELECT 'weight', 'x3', round(w3, 9), CAST(0 AS DOUBLE),
  CAST(0 AS DOUBLE) FROM w3
UNION ALL SELECT 'metrics', 'summary', auc, logloss, brier FROM met
UNION ALL SELECT 'confusion', 'summary', CAST(tp AS DOUBLE),
  CAST(fp AS DOUBLE), f1 FROM met
UNION ALL
SELECT 'iso', CAST(CAST(round(c.score * 100, 0) AS BIGINT)
                   AS VARCHAR),
       CAST(c.n AS DOUBLE), CAST(c.n_pos AS DOUBLE), f.calibrated
FROM icum c JOIN ifit f ON f.rn = c.rn
UNION ALL
SELECT 'nb', CAST(doc_id AS VARCHAR) || '|' || predicted,
       score, CAST(n_known_tokens AS DOUBLE), CAST(0 AS DOUBLE)
FROM nb
"""


@query("q_pipeline_ml_training", _ml_training_pipeline_sql())
def q_pipeline_ml_training(spark, sf_dir):
    """End-to-end train-inside-Spark pipeline (examples/
    ml_training.py, composed into ONE value-oracled DAG): NB language
    routing of the doc_id%4=1 docs (model fit on the %2=0 half) with
    held-out accuracy; a logistic quality head trained by 3 GD passes
    on the l_orderkey%20 lineitem slice (the identical
    quantized-gradient replay as q_ml_logistic_fit, reduced per the
    gate time budget); midrank-AUC/logloss/Brier/F1 on the fitted
    scores (round 6 at the sigmoid so both engines rank bit-identical
    inputs); isotonic (PAVA) calibration of the round-2 reliability
    frame, oracled via the minimax characterization. Composition is
    where operator-level correctness quietly breaks (column
    collisions, persist scoping) — this gate sees the whole lineage."""
    from beam_spark.ml.logistic import LogisticFit
    from beam_spark.ml.naive_bayes import NaiveBayesClassify
    from beam_spark.operators.quality import (BinaryClassifierMetrics,
                                              IsotonicCalibration)

    docs = table(spark, sf_dir, "documents").df
    train = docs.where("doc_id % 2 = 0")
    test = docs.where("doc_id % 4 = 1")

    # routed feeds both the accuracy aggregate and the output 'nb'
    # rows; metrics feeds two projections — unmaterialized, the NB
    # inference and the classifier-metrics pipelines are each planned
    # and executed twice inside the union (78-Exchange plan). One
    # eager localCheckpoint each materializes the identical frame
    # once; every downstream aggregate is exact-integer/decimal.
    # The NB-routing chain and the logistic->metrics->isotonic chain
    # are independent DAGs, built as two members.
    def _nb_branch():
        routed = (PCollection(test)
                  | NaiveBayesClassify(train, "lang", "doc_id")
                  ).df.localCheckpoint(eager=True)
        acc = (routed.join(docs.select("doc_id", "lang"), "doc_id")
               .agg(F.avg((F.col("predicted") == F.col("lang"))
                          .cast("double")).alias("acc"),
                    F.count(F.lit(1)).cast("long").alias("n_routed")))
        return routed, acc

    def _logistic_branch():
        feats = table(spark, sf_dir, "lineitem").df.where(
            "l_orderkey % 20 = 0").selectExpr(
            "l_returnflag = 'A' AS y",
            "CAST(l_quantity AS DOUBLE) / 64.0 AS x1",
            "CAST(l_discount AS DOUBLE) AS x2",
            "CAST(l_tax AS DOUBLE) AS x3")
        fit = LogisticFit(["x1", "x2", "x3"], "y", iterations=3, lr=0.5)
        weights = (PCollection(feats) | fit).df
        clean = feats.where("y IS NOT NULL AND x1 IS NOT NULL AND "
                            "x2 IS NOT NULL AND x3 IS NOT NULL")
        scored = clean.select(
            F.col("y").cast("int").alias("label"),
            F.round(fit.decision_column(), 6).alias("s"))
        metrics = (PCollection(scored)
                   | BinaryClassifierMetrics("s", "label")
                   ).df.localCheckpoint(eager=True)
        iso = (PCollection(scored.selectExpr("round(s, 2) AS score",
                                             "label AS yl"))
               | IsotonicCalibration("score", "yl")).df
        return weights, metrics, iso

    (routed, acc), (weights, metrics, iso) = build_members(
        [_nb_branch, _logistic_branch])

    zero = "CAST(0 AS DOUBLE)"
    return (acc.selectExpr(
        "'nb_acc' AS op", "'route' AS k", "acc AS v1",
        "CAST(n_routed AS DOUBLE) AS v2", f"{zero} AS v3")
        .unionByName(weights.selectExpr(
            "'weight' AS op", "term AS k", "round(weight, 9) AS v1",
            f"{zero} AS v2", f"{zero} AS v3"))
        .unionByName(metrics.selectExpr(
            "'metrics' AS op", "'summary' AS k", "auc AS v1",
            "logloss AS v2", "brier AS v3"))
        .unionByName(metrics.selectExpr(
            "'confusion' AS op", "'summary' AS k",
            "CAST(tp AS DOUBLE) AS v1", "CAST(fp AS DOUBLE) AS v2",
            "f1 AS v3"))
        .unionByName(iso.selectExpr(
            "'iso' AS op",
            "CAST(CAST(round(score * 100, 0) AS BIGINT) AS STRING)"
            " AS k",
            "CAST(n AS DOUBLE) AS v1", "CAST(n_pos AS DOUBLE) AS v2",
            "calibrated AS v3"))
        .unionByName(routed.selectExpr(
            "'nb' AS op",
            "CAST(doc_id AS STRING) || '|' || predicted AS k",
            "score AS v1", "CAST(n_known_tokens AS DOUBLE) AS v2",
            f"{zero} AS v3")))


@query("q_text_kn_perplexity", """
WITH tr AS (SELECT list_filter({_TOK}, x -> x <> '') AS t
            FROM documents WHERE doc_id % 2 = 0
              AND text IS NOT NULL),
trb AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM (
          SELECT unnest(list_transform(range(1, len(t)),
            i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
          FROM tr WHERE len(t) >= 2)),
cab AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cab
        FROM trb GROUP BY 1, 2),
ctx AS (SELECT w1, CAST(sum(cab) AS BIGINT) AS ca,
               CAST(count(*) AS BIGINT) AS n1fw
        FROM cab GROUP BY 1),
cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p
         FROM cab GROUP BY 1),
consts AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM cab) AS B,
         (SELECT CAST(count(*) AS BIGINT) FROM cont) AS Vc,
         (SELECT CAST(count(DISTINCT w) AS BIGINT) FROM
            (SELECT unnest(t) AS w FROM tr)) AS V),
te AS (SELECT doc_id, list_filter({_TOK}, x -> x <> '') AS t
       FROM documents WHERE doc_id % 2 = 1 AND text IS NOT NULL),
teb AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(t)),
            i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
          FROM te WHERE len(t) >= 2)),
sc AS (SELECT teb.doc_id,
         CAST(-ln(
           CASE WHEN ctx.ca IS NOT NULL THEN
             greatest(CAST(coalesce(cab.cab, 0) AS DOUBLE)
                      - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
               / CAST(ctx.ca AS DOUBLE)
             + (CAST(0.75 AS DOUBLE) * CAST(ctx.n1fw AS DOUBLE)
                / CAST(ctx.ca AS DOUBLE))
               * (greatest(CAST(coalesce(cont.n1p, 0) AS DOUBLE)
                           - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
                    / CAST(c.B AS DOUBLE)
                  + (CAST(0.75 AS DOUBLE) * CAST(c.Vc AS DOUBLE)
                     / CAST(c.B AS DOUBLE))
                    * (CAST(1 AS DOUBLE)
                       / CAST(c.V + 1 AS DOUBLE)))
           ELSE
             greatest(CAST(coalesce(cont.n1p, 0) AS DOUBLE)
                      - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
               / CAST(c.B AS DOUBLE)
             + (CAST(0.75 AS DOUBLE) * CAST(c.Vc AS DOUBLE)
                / CAST(c.B AS DOUBLE))
               * (CAST(1 AS DOUBLE) / CAST(c.V + 1 AS DOUBLE))
           END) AS DECIMAL(16,9)) AS nl
       FROM teb
       LEFT JOIN cab ON cab.w1 = teb.w1 AND cab.w2 = teb.w2
       LEFT JOIN ctx ON ctx.w1 = teb.w1
       LEFT JOIN cont ON cont.w2 = teb.w2
       CROSS JOIN consts c),
pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_events,
              round(CAST(sum(nl) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE), 6) AS nll
       FROM sc GROUP BY 1)
SELECT d.doc_id, COALESCE(p.n_events, 0) AS n_events, p.nll,
       round(exp(p.nll), 6) AS ppl
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
LEFT JOIN pd p ON p.doc_id = d.doc_id
""".replace("{_TOK}", _TOK))
def q_text_kn_perplexity(spark, sf_dir):
    """Interpolated Kneser-Ney bigram perplexity (D=0.75): fit on
    even doc_ids, score odd doc_ids — exact integer count tables,
    fixed-order double probabilities, per-event -ln quantized to
    decimal(16,9) before the per-doc sum (the NaiveBayes convention),
    nll round 6, ppl = exp of the ROUNDED nll; DuckDB replays fit
    and scoring end-to-end."""
    from beam_spark.operators.text import KneserNeyPerplexity

    docs = table(spark, sf_dir, "documents").df
    train = docs.where("doc_id % 2 = 0")
    test = docs.where("doc_id % 2 = 1")
    out = (PCollection(test)
           | KneserNeyPerplexity(train)).df
    return out.select("doc_id", "n_events", "nll", "ppl")


@query("q_text_kn3_perplexity", """
WITH tr AS (SELECT list_filter({_TOK}, x -> x <> '') AS t
            FROM documents WHERE doc_id % 2 = 0
              AND text IS NOT NULL),
tr3 AS (SELECT p.w1 AS w1, p.w2 AS w2, p.w3 AS w3 FROM (
          SELECT unnest(list_transform(range(1, len(t) - 1),
            i -> struct_pack(w1 := t[i], w2 := t[i+1],
                             w3 := t[i+2]))) AS p
          FROM tr WHERE len(t) >= 3)),
c3 AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c3
       FROM tr3 GROUP BY 1, 2, 3),
ctx3 AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS ca3,
                CAST(count(*) AS BIGINT) AS n1fw3
         FROM c3 GROUP BY 1, 2),
cb AS (SELECT w2, w3, CAST(count(*) AS BIGINT) AS cbc
       FROM c3 GROUP BY 1, 2),
ctx2 AS (SELECT w2, CAST(sum(cbc) AS BIGINT) AS cbt,
                CAST(count(*) AS BIGINT) AS n1fw2
         FROM cb GROUP BY 1),
cu AS (SELECT w3, CAST(count(*) AS BIGINT) AS cuc
       FROM cb GROUP BY 1),
consts AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM cb) AS B2,
         (SELECT CAST(count(*) AS BIGINT) FROM cu) AS Vc,
         (SELECT CAST(count(DISTINCT w) AS BIGINT) FROM
            (SELECT unnest(t) AS w FROM tr)) AS V),
te AS (SELECT doc_id, list_filter({_TOK}, x -> x <> '') AS t
       FROM documents WHERE doc_id % 2 = 1 AND text IS NOT NULL),
te3 AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2, p.w3 AS w3 FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
            i -> struct_pack(w1 := t[i], w2 := t[i+1],
                             w3 := t[i+2]))) AS p
          FROM te WHERE len(t) >= 3)),
sc AS (SELECT te3.doc_id,
         CAST(-ln(
           CASE WHEN ctx3.ca3 IS NOT NULL THEN
             greatest(CAST(coalesce(c3.c3, 0) AS DOUBLE)
                      - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
               / CAST(ctx3.ca3 AS DOUBLE)
             + (CAST(0.75 AS DOUBLE) * CAST(ctx3.n1fw3 AS DOUBLE)
                / CAST(ctx3.ca3 AS DOUBLE))
               * (CASE WHEN ctx2.cbt IS NOT NULL THEN
                    greatest(CAST(coalesce(cb.cbc, 0) AS DOUBLE)
                             - CAST(0.75 AS DOUBLE),
                             CAST(0 AS DOUBLE))
                      / CAST(ctx2.cbt AS DOUBLE)
                    + (CAST(0.75 AS DOUBLE)
                       * CAST(ctx2.n1fw2 AS DOUBLE)
                       / CAST(ctx2.cbt AS DOUBLE))
                      * (greatest(CAST(coalesce(cu.cuc, 0) AS DOUBLE)
                                  - CAST(0.75 AS DOUBLE),
                                  CAST(0 AS DOUBLE))
                           / CAST(c.B2 AS DOUBLE)
                         + (CAST(0.75 AS DOUBLE)
                            * CAST(c.Vc AS DOUBLE)
                            / CAST(c.B2 AS DOUBLE))
                           * (CAST(1 AS DOUBLE)
                              / CAST(c.V + 1 AS DOUBLE)))
                  ELSE
                    greatest(CAST(coalesce(cu.cuc, 0) AS DOUBLE)
                             - CAST(0.75 AS DOUBLE),
                             CAST(0 AS DOUBLE))
                      / CAST(c.B2 AS DOUBLE)
                    + (CAST(0.75 AS DOUBLE) * CAST(c.Vc AS DOUBLE)
                       / CAST(c.B2 AS DOUBLE))
                      * (CAST(1 AS DOUBLE)
                         / CAST(c.V + 1 AS DOUBLE))
                  END)
           WHEN ctx2.cbt IS NOT NULL THEN
             greatest(CAST(coalesce(cb.cbc, 0) AS DOUBLE)
                      - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
               / CAST(ctx2.cbt AS DOUBLE)
             + (CAST(0.75 AS DOUBLE) * CAST(ctx2.n1fw2 AS DOUBLE)
                / CAST(ctx2.cbt AS DOUBLE))
               * (greatest(CAST(coalesce(cu.cuc, 0) AS DOUBLE)
                           - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
                    / CAST(c.B2 AS DOUBLE)
                  + (CAST(0.75 AS DOUBLE) * CAST(c.Vc AS DOUBLE)
                     / CAST(c.B2 AS DOUBLE))
                    * (CAST(1 AS DOUBLE) / CAST(c.V + 1 AS DOUBLE)))
           ELSE
             greatest(CAST(coalesce(cu.cuc, 0) AS DOUBLE)
                      - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
               / CAST(c.B2 AS DOUBLE)
             + (CAST(0.75 AS DOUBLE) * CAST(c.Vc AS DOUBLE)
                / CAST(c.B2 AS DOUBLE))
               * (CAST(1 AS DOUBLE) / CAST(c.V + 1 AS DOUBLE))
           END) AS DECIMAL(16,9)) AS nl
       FROM te3
       LEFT JOIN c3 ON c3.w1 = te3.w1 AND c3.w2 = te3.w2
                   AND c3.w3 = te3.w3
       LEFT JOIN ctx3 ON ctx3.w1 = te3.w1 AND ctx3.w2 = te3.w2
       LEFT JOIN cb ON cb.w2 = te3.w2 AND cb.w3 = te3.w3
       LEFT JOIN ctx2 ON ctx2.w2 = te3.w2
       LEFT JOIN cu ON cu.w3 = te3.w3
       CROSS JOIN consts c),
pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_events,
              round(CAST(sum(nl) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE), 6) AS nll
       FROM sc GROUP BY 1)
SELECT d.doc_id, COALESCE(p.n_events, 0) AS n_events, p.nll,
       round(exp(p.nll), 6) AS ppl
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
LEFT JOIN pd p ON p.doc_id = d.doc_id
""".replace("{_TOK}", _TOK))
def q_text_kn3_perplexity(spark, sf_dir):
    """Interpolated Kneser-Ney TRIGRAM perplexity (D=0.75, Chen &
    Goodman recursion — lower orders from CONTINUATION counts of the
    trigram table): fit on even doc_ids, score odd doc_ids. Same
    determinism contract as the bigram component (exact integer
    counts, fixed-order doubles, per-event -ln quantized to
    decimal(16,9), nll round 6, ppl = exp of the ROUNDED nll);
    DuckDB replays fit and the full 3-level backoff end-to-end."""
    from beam_spark.operators.text import KneserNeyPerplexity

    docs = table(spark, sf_dir, "documents").df
    train = docs.where("doc_id % 2 = 0")
    test = docs.where("doc_id % 2 = 1")
    out = (PCollection(test)
           | KneserNeyPerplexity(train, order=3)).df
    return out.select("doc_id", "n_events", "nll", "ppl")


@query("q_ml_feature_hasher", """
WITH base AS (SELECT doc_id, lang,
                     CAST(n_chars % 10 AS BIGINT) AS bucket
              FROM documents),
h AS (SELECT doc_id,
        CAST(('0x' || substr(md5('lang=' || CAST(lang AS VARCHAR)),
                             1, 8)) AS BIGINT) % 16 AS i1,
        1 - 2 * (CAST(('0x' || substr(md5('lang='
                 || CAST(lang AS VARCHAR)), 9, 1)) AS BIGINT) % 2)
          AS s1,
        CAST(('0x' || substr(md5('bucket='
             || CAST(bucket AS VARCHAR)), 1, 8)) AS BIGINT) % 16
          AS i2,
        1 - 2 * (CAST(('0x' || substr(md5('bucket='
                 || CAST(bucket AS VARCHAR)), 9, 1)) AS BIGINT) % 2)
          AS s2
      FROM base)
SELECT doc_id,
       list_transform(range(0, 16), i ->
         CAST(coalesce(CASE WHEN i1 = i THEN s1 ELSE 0 END, 0)
              + coalesce(CASE WHEN i2 = i THEN s2 ELSE 0 END, 0)
              AS DOUBLE)) AS hashed
FROM h
""")
def q_ml_feature_hasher(spark, sf_dir):
    """Hashing-trick featurization of (lang, n_chars%10) into a
    16-dim signed count vector — md5-derived index/sign per feature
    (replayable, unlike xxhash), signed sums keep collisions
    unbiased; DuckDB rebuilds the identical vectors via a
    range/list_transform lambda."""
    from beam_spark.ml.transforms import FeatureHasher

    docs = table(spark, sf_dir, "documents").df.selectExpr(
        "doc_id", "lang", "CAST(n_chars % 10 AS BIGINT) AS bucket")
    out = (PCollection(docs)
           | FeatureHasher(["lang", "bucket"], n_features=16)).df
    return out.select("doc_id", "hashed")


def _leakage_split_oracle_sql() -> str:
    """Replays LeakageSafeSplit on the exact-dedup content groups:
    cumulative split uppers accumulate in PYTHON floats on both
    sides (repr-exact literals here), bucket = md5(group) % 10000,
    round-before-cast boundaries (the HashSample convention)."""
    fr = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    hi = 0.0
    cases = []
    for name, f in fr:
        hi += f
        cases.append(
            f"WHEN bk < CAST(round(CAST('{hi!r}' AS DOUBLE) "
            f"* 10000) AS BIGINT) THEN '{name}'")
    return f"""
WITH fp AS (SELECT doc_id,
              md5(array_to_string({{_TOK}}, ' ')) AS content_md5
            FROM documents),
b AS (SELECT doc_id, content_md5,
        CAST(('0x' || substr(md5(content_md5), 1, 8)) AS BIGINT)
          % 10000 AS bk
      FROM fp)
SELECT doc_id, content_md5,
       CASE WHEN content_md5 IS NULL THEN NULL
            {' '.join(cases)}
            ELSE NULL END AS split
FROM b
""".replace("{_TOK}", _TOK)


@query("q_dedup_leakage_safe_split", _leakage_split_oracle_sql())
def q_dedup_leakage_safe_split(spark, sf_dir):
    """Leakage-safe 80/10/10 split of documents by their exact-dedup
    content group — every byte-identical duplicate lands in the SAME
    split (naive id-hash splitting puts near-dups on both sides of
    train/test, re-creating the contamination decontamination
    removes); md5-bucket assignment is reproducible across engines,
    retries, partitionings and scale factors."""
    from beam_spark.operators.combiners import LeakageSafeSplit
    from beam_spark.operators.text import Fingerprint

    fp = (table(spark, sf_dir, "documents") | Fingerprint()).df.select(
        "doc_id", "content_md5")
    out = (PCollection(fp)
           | LeakageSafeSplit("content_md5",
                              {"train": 0.8, "val": 0.1,
                               "test": 0.1})).df
    return out.select("doc_id", "content_md5", "split")


def _iforest_oracle_sql(trees: int = 4, depth: int = 4,
                        mod: int = 4, seed: int = 7,
                        norm_n: int = 256,
                        group: str | None = None) -> str:
    """Chained-CTE replay of IsolationForest TRAINING + scoring on
    events (features f0 = value, f1 = user_id % 97): per depth, node
    min/max/count stats -> md5-derived split feature and threshold
    (the identical integer-grid u and lo + u*(hi-lo) chain) ->
    advance; leaves carry c(n) computed with ln() in-engine (the
    <=1-ulp libm divergence vs the Spark side's python-literal c
    sits far below the round-6 grid). Scoring descends every row
    through the replayed splits with the same left-assoc tree-sum.

    ``group`` (r15): SQL expression over events (e.g. 'event_type')
    replaying per-GROUP forests — the group key joins every node key
    and salts every md5 seed exactly as the operator does; with
    group=None the emitted SQL is byte-identical to the r14 text
    (regression-pinned in tests)."""
    gamma = "CAST('0.5772156649015329' AS DOUBLE)"

    def md5i(expr8):
        return f"CAST(('0x' || substr(md5({expr8}), 1, 8)) AS BIGINT)"

    def c_adj(n):
        return (f"CASE WHEN {n} <= 1 THEN CAST(0 AS DOUBLE) "
                f"WHEN {n} = 2 THEN CAST(1 AS DOUBLE) "
                f"ELSE CAST(2 AS DOUBLE) * (ln(CAST({n} - 1 AS "
                f"DOUBLE)) + {gamma}) - CAST(2 AS DOUBLE) "
                f"* CAST({n} - 1 AS DOUBLE) / CAST({n} AS DOUBLE) "
                f"END")

    # grouped fragments — all collapse to "" / base text when group
    # is None so the ungrouped SQL stays byte-identical
    gsel = "g, " if group else ""            # leading column in selects
    gby = "g, " if group else ""             # leading GROUP BY key
    gseed = "g || ':' || " if group else ""  # md5 seed salt
    fkey = (f"'{seed}:' || {gseed}CAST(t AS VARCHAR) || ':' || "
            f"CAST(node AS VARCHAR) || ':f'")
    ukey = (f"'{seed}:' || {gseed}CAST(t AS VARCHAR) || ':' || "
            f"CAST(node AS VARCHAR) || ':u'")
    bgseed = "b.g || ':' || " if group else ""
    skey = (f"'{seed}:' || {bgseed}"
            f"CAST(u.t AS VARCHAR) || ':' || "
            f"CAST(b.event_id AS VARCHAR)")
    base_g = (f",\n       CAST({group} AS VARCHAR) AS g" if group
              else "")
    base_gw = f" AND {group} IS NOT NULL" if group else ""
    sg = ", s.g" if group else ""
    rg = ", r.g" if group else ""
    bg = ", b.g" if group else ""
    jg_s = " AND sp.g = s.g" if group else ""
    jg_r = " AND sp.g = r.g" if group else ""
    jg_lv = " AND lv.g = r.g" if group else ""
    ctes = [f"""base AS (SELECT event_id,
       CAST(value AS DOUBLE) AS f0,
       CAST(user_id % 97 AS DOUBLE) AS f1{base_g}
FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL{base_gw})""",
            f"""trees AS (SELECT unnest(range(0, {trees})) AS t)""",
            f"""s0 AS (SELECT b.event_id, b.f0, b.f1{bg}, u.t,
       CAST(1 AS BIGINT) AS node
FROM base b, trees u
WHERE {md5i(skey)} % {mod} = 0)"""]
    st_gby = "1, 2, 3" if group else "1, 2"
    lv_parts = []
    for d in range(depth):
        ctes.append(f"""st{d} AS (SELECT {gsel}t, node,
  CAST(count(*) AS BIGINT) AS n,
  min(f0) AS lo0, max(f0) AS hi0, min(f1) AS lo1, max(f1) AS hi1
FROM s{d} GROUP BY {st_gby})""")
        ctes.append(f"""sp{d} AS (SELECT {gsel}t, node, n, fidx, lo, hi,
  lo + uu * (hi - lo) AS thr, (n <= 1 OR lo = hi) AS term
FROM (SELECT {gsel}t, node, n, fidx,
        CASE fidx WHEN 0 THEN lo0 ELSE lo1 END AS lo,
        CASE fidx WHEN 0 THEN hi0 ELSE hi1 END AS hi,
        CAST({md5i(ukey)} % 1000000 AS DOUBLE)
          / CAST(1000000 AS DOUBLE) AS uu
      FROM (SELECT *, {md5i(fkey)} % 2 AS fidx FROM st{d})))""")
        lv_parts.append(
            f"SELECT {gsel}t, node, {d} AS d, n FROM sp{d} WHERE term")
        ctes.append(f"""s{d + 1} AS (SELECT s.event_id, s.f0, s.f1{sg},
  s.t, s.node * 2 + CASE WHEN (CASE sp.fidx WHEN 0 THEN s.f0
    ELSE s.f1 END) > sp.thr THEN 1 ELSE 0 END AS node
FROM s{d} s JOIN sp{d} sp
  ON sp.t = s.t AND sp.node = s.node{jg_s} AND NOT sp.term)""")
    lv_parts.append(
        f"SELECT {gsel}t, node, {depth} AS d, CAST(count(*) AS BIGINT) AS n "
        f"FROM s{depth} GROUP BY {st_gby}")
    ctes.append(f"lv_all AS (SELECT {gsel}t, node, d, n, "
                + c_adj("n") + " AS c_adj FROM ("
                + "\nUNION ALL\n".join(lv_parts) + "))")
    ctes.append(f"""r0 AS (SELECT b.event_id, b.f0, b.f1{bg}, u.t,
  CAST(1 AS BIGINT) AS node, CAST(NULL AS DOUBLE) AS h
FROM base b, trees u)""")
    for d in range(depth):
        ctes.append(f"""r{d + 1} AS (SELECT r.event_id, r.f0, r.f1{rg},
  r.t,
  CASE WHEN r.h IS NOT NULL THEN r.node
       WHEN sp.node IS NULL THEN r.node
       ELSE r.node * 2 + CASE WHEN (CASE sp.fidx WHEN 0 THEN r.f0
            ELSE r.f1 END) > sp.thr THEN 1 ELSE 0 END END AS node,
  CASE WHEN r.h IS NOT NULL THEN r.h
       WHEN sp.node IS NULL THEN CAST({d} AS DOUBLE)
            + coalesce(lv.c_adj, CAST(0 AS DOUBLE))
       ELSE NULL END AS h
FROM r{d} r
LEFT JOIN (SELECT * FROM sp{d} WHERE NOT term) sp
  ON sp.t = r.t AND sp.node = r.node{jg_r}
LEFT JOIN lv_all lv ON lv.t = r.t AND lv.node = r.node{jg_lv})""")
    ctes.append(f"""fin AS (SELECT r.event_id, r.t,
  CASE WHEN r.h IS NOT NULL THEN r.h
       ELSE CAST({depth} AS DOUBLE)
            + coalesce(lv.c_adj, CAST(0 AS DOUBLE)) END AS h
FROM r{depth} r LEFT JOIN lv_all lv
  ON lv.t = r.t AND lv.node = r.node{jg_lv})""")
    tree_sum = "max(CASE WHEN t = 0 THEN h END)"
    for t in range(1, trees):
        tree_sum = f"({tree_sum} + max(CASE WHEN t = {t} THEN h END))"
    ctes.append(f"""agg AS (SELECT event_id,
  {tree_sum} / CAST('{float(trees)!r}' AS DOUBLE) AS h_avg
FROM fin GROUP BY 1)""")
    cn = c_adj(str(norm_n))
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT e.event_id, round(a.h_avg, 6) AS iforest_h,
       round(power(CAST(2 AS DOUBLE), (-a.h_avg) / ({cn})), 6)
         AS iforest_score
FROM events e LEFT JOIN agg a ON a.event_id = e.event_id""")


@query("q_ml_isolation_forest", _iforest_oracle_sql())
def q_ml_isolation_forest(spark, sf_dir):
    """Isolation-forest anomaly scores over events (features: value,
    user_id%97; 4 trees, depth 4, md5 quarter-sample per tree, seed
    7) — TRAINING replayed in DuckDB per depth (node stats ->
    md5-derived feature/threshold -> advance), scoring descends the
    replayed splits; h and score compared at round 6 (ln() runs
    in-engine on the oracle side, python-literal on the Spark side —
    <=1-ulp, far below the grid)."""
    from beam_spark.ml.iforest import IsolationForest

    ev = table(spark, sf_dir, "events").df.selectExpr(
        "event_id",
        "CAST(value AS DOUBLE) AS x1",
        "CAST(user_id % 97 AS DOUBLE) AS x2")
    out = (PCollection(ev)
           | IsolationForest(["x1", "x2"], id_col="event_id",
                             trees=4, depth=4, sample_mod=4,
                             seed=7)).df
    return out.select("event_id", "iforest_h", "iforest_score")


def _iforest_oblique_oracle_sql(trees: int = 2, depth: int = 3,
                                mod: int = 4, seed: int = 7,
                                norm_n: int = 256) -> str:
    """Chained-CTE replay of the EXTENDED (oblique) isolation forest:
    node hyperplane slopes come from the SAME python helper the
    operator uses (`iforest.oblique_direction` — md5 Box-Muller
    round-6 literals, the lsh_projections convention) emitted as a
    VALUES table; per depth, node min/max of the left-assoc projection
    chain (a0*f0) + (a1*f1) -> the identical integer-grid threshold ->
    advance; scoring descends the replayed hyperplanes."""
    from beam_spark.ml.iforest import oblique_direction

    gamma = "CAST('0.5772156649015329' AS DOUBLE)"

    def md5i(expr8):
        return f"CAST(('0x' || substr(md5({expr8}), 1, 8)) AS BIGINT)"

    def c_adj(n):
        return (f"CASE WHEN {n} <= 1 THEN CAST(0 AS DOUBLE) "
                f"WHEN {n} = 2 THEN CAST(1 AS DOUBLE) "
                f"ELSE CAST(2 AS DOUBLE) * (ln(CAST({n} - 1 AS "
                f"DOUBLE)) + {gamma}) - CAST(2 AS DOUBLE) "
                f"* CAST({n} - 1 AS DOUBLE) / CAST({n} AS DOUBLE) "
                f"END")

    def dlit(x):
        return f"CAST({x!r} AS DOUBLE)"

    dir_rows = []
    for t in range(trees):
        for node in range(1, 1 << depth):
            a = oblique_direction(f"{seed}:{t}:{node}:", 2)
            dir_rows.append(
                f"({t}, {node}, {dlit(a[0])}, {dlit(a[1])})")
    ukey = (f"'{seed}:' || CAST(t AS VARCHAR) || ':' || "
            f"CAST(node AS VARCHAR) || ':u'")
    skey = (f"'{seed}:' || CAST(u.t AS VARCHAR) || ':' || "
            f"CAST(b.event_id AS VARCHAR)")
    proj_s = "((d.a0 * s.f0) + (d.a1 * s.f1))"
    proj_r = "((d.a0 * r.f0) + (d.a1 * r.f1))"
    ctes = [f"""base AS (SELECT event_id,
       CAST(value AS DOUBLE) AS f0,
       CAST(user_id % 97 AS DOUBLE) AS f1
FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL)""",
            f"""trees AS (SELECT unnest(range(0, {trees})) AS t)""",
            "dirs AS (SELECT * FROM (VALUES\n  "
            + ",\n  ".join(dir_rows)
            + ") AS v(t, node, a0, a1))",
            f"""s0 AS (SELECT b.event_id, b.f0, b.f1, u.t,
       CAST(1 AS BIGINT) AS node
FROM base b, trees u
WHERE {md5i(skey)} % {mod} = 0)"""]
    lv_parts = []
    for d in range(depth):
        ctes.append(f"""st{d} AS (SELECT s.t, s.node,
  CAST(count(*) AS BIGINT) AS n,
  min({proj_s}) AS lo, max({proj_s}) AS hi
FROM s{d} s JOIN dirs d ON d.t = s.t AND d.node = s.node
GROUP BY 1, 2)""")
        ctes.append(f"""sp{d} AS (SELECT t, node, n, lo, hi,
  lo + uu * (hi - lo) AS thr, (n <= 1 OR lo = hi) AS term
FROM (SELECT *, CAST({md5i(ukey)} % 1000000 AS DOUBLE)
        / CAST(1000000 AS DOUBLE) AS uu
      FROM st{d}))""")
        lv_parts.append(
            f"SELECT t, node, {d} AS d, n FROM sp{d} WHERE term")
        ctes.append(f"""s{d + 1} AS (SELECT s.event_id, s.f0, s.f1,
  s.t, s.node * 2 + CASE WHEN {proj_s} > sp.thr
    THEN 1 ELSE 0 END AS node
FROM s{d} s JOIN sp{d} sp
  ON sp.t = s.t AND sp.node = s.node AND NOT sp.term
JOIN dirs d ON d.t = s.t AND d.node = s.node)""")
    lv_parts.append(
        f"SELECT t, node, {depth} AS d, CAST(count(*) AS BIGINT) AS n "
        f"FROM s{depth} GROUP BY 1, 2")
    ctes.append("lv_all AS (SELECT t, node, d, n, "
                + c_adj("n") + " AS c_adj FROM ("
                + "\nUNION ALL\n".join(lv_parts) + "))")
    ctes.append("""r0 AS (SELECT b.event_id, b.f0, b.f1, u.t,
  CAST(1 AS BIGINT) AS node, CAST(NULL AS DOUBLE) AS h
FROM base b, trees u)""")
    for d in range(depth):
        ctes.append(f"""r{d + 1} AS (SELECT r.event_id, r.f0, r.f1,
  r.t,
  CASE WHEN r.h IS NOT NULL THEN r.node
       WHEN sp.node IS NULL THEN r.node
       ELSE r.node * 2 + CASE WHEN {proj_r} > sp.thr
            THEN 1 ELSE 0 END END AS node,
  CASE WHEN r.h IS NOT NULL THEN r.h
       WHEN sp.node IS NULL THEN CAST({d} AS DOUBLE)
            + coalesce(lv.c_adj, CAST(0 AS DOUBLE))
       ELSE NULL END AS h
FROM r{d} r
LEFT JOIN (SELECT * FROM sp{d} WHERE NOT term) sp
  ON sp.t = r.t AND sp.node = r.node
LEFT JOIN dirs d ON d.t = r.t AND d.node = r.node
LEFT JOIN lv_all lv ON lv.t = r.t AND lv.node = r.node)""")
    ctes.append(f"""fin AS (SELECT r.event_id, r.t,
  CASE WHEN r.h IS NOT NULL THEN r.h
       ELSE CAST({depth} AS DOUBLE)
            + coalesce(lv.c_adj, CAST(0 AS DOUBLE)) END AS h
FROM r{depth} r LEFT JOIN lv_all lv
  ON lv.t = r.t AND lv.node = r.node)""")
    tree_sum = "max(CASE WHEN t = 0 THEN h END)"
    for t in range(1, trees):
        tree_sum = f"({tree_sum} + max(CASE WHEN t = {t} THEN h END))"
    ctes.append(f"""agg AS (SELECT event_id,
  {tree_sum} / CAST('{float(trees)!r}' AS DOUBLE) AS h_avg
FROM fin GROUP BY 1)""")
    cn = c_adj(str(norm_n))
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT e.event_id, round(a.h_avg, 6) AS iforest_h,
       round(power(CAST(2 AS DOUBLE), (-a.h_avg) / ({cn})), 6)
         AS iforest_score
FROM events e LEFT JOIN agg a ON a.event_id = e.event_id""")


@query("q_ml_isolation_forest_oblique", _iforest_oblique_oracle_sql())
def q_ml_isolation_forest_oblique(spark, sf_dir):
    """EXTENDED isolation forest (Hariri et al. 2019) over events:
    each node cuts on a random oblique hyperplane — md5 Box-Muller
    round-6 slope literals shared verbatim between the Spark plan and
    the DuckDB VALUES table — removing the axis-parallel ghost-region
    artifacts of standard iForest; training replayed per depth with
    node min/max of the identical left-assoc projection chain."""
    from beam_spark.ml.iforest import IsolationForest

    ev = table(spark, sf_dir, "events").df.selectExpr(
        "event_id",
        "CAST(value AS DOUBLE) AS x1",
        "CAST(user_id % 97 AS DOUBLE) AS x2")
    out = (PCollection(ev)
           | IsolationForest(["x1", "x2"], id_col="event_id",
                             trees=2, depth=3, sample_mod=4,
                             seed=7, oblique=True)).df
    return out.select("event_id", "iforest_h", "iforest_score")


@query("q_ml_isolation_forest_groups",
       _iforest_oracle_sql(trees=2, depth=3, group="event_type"))
def q_ml_isolation_forest_groups(spark, sf_dir):
    """Per-GROUP isolation forests (r15, NEXT backlog #3): one
    independent forest per event_type — the multi-tenant anomaly
    surface, where a value that is normal for 'purchase' is anomalous
    for 'click'. Same aggregation-round fit with the group key joined
    onto every node key and group-salted md5 seeds; scoring adds one
    when-branch per group around the zero-shuffle when-trees. The
    DuckDB oracle replays the grouped training with the identical
    salt (generator regression-pinned byte-identical at group=None)."""
    from beam_spark.ml.iforest import IsolationForest

    ev = table(spark, sf_dir, "events").df.selectExpr(
        "event_id", "event_type",
        "CAST(value AS DOUBLE) AS x1",
        "CAST(user_id % 97 AS DOUBLE) AS x2")
    out = (PCollection(ev)
           | IsolationForest(["x1", "x2"], id_col="event_id",
                             group_col="event_type",
                             trees=2, depth=3, sample_mod=4,
                             seed=7)).df
    return out.select("event_id", "iforest_h", "iforest_score")


@query("q_anomaly_robust_ensemble", f"""
WITH ev AS (SELECT event_id, event_type, CAST(value AS DOUBLE) AS v
            FROM events WHERE value IS NOT NULL),
zs AS (SELECT event_type,
              CAST(SUM({_EVENT_VAL}) AS DOUBLE) / COUNT(*) AS mean_v,
              sqrt(CAST(SUM({_EVENT_VAL} * {_EVENT_VAL}) AS DOUBLE)
                     / COUNT(*)
                   - (CAST(SUM({_EVENT_VAL}) AS DOUBLE) / COUNT(*))
                     * (CAST(SUM({_EVENT_VAL}) AS DOUBLE) / COUNT(*)))
                AS std_v
       FROM events WHERE value IS NOT NULL GROUP BY event_type),
md AS (SELECT event_type, quantile_cont(v, 0.5) AS med,
              quantile_cont(v, [0.25, 0.75]) AS q
       FROM ev GROUP BY event_type),
mad AS (SELECT ev.event_type,
               quantile_cont(abs(ev.v - md.med), 0.5) AS mad
        FROM ev JOIN md ON md.event_type = ev.event_type
        GROUP BY ev.event_type),
sc AS (SELECT ev.event_id, ev.event_type,
         abs((CAST(0.6745 AS DOUBLE) * (ev.v - md.med))
             / greatest(mad.mad, CAST(1e-9 AS DOUBLE)))
           AS robust_zscore,
         abs((ev.v - zs.mean_v) / zs.std_v) > CAST(3 AS DOUBLE)
           AS is_z,
         abs((CAST(0.6745 AS DOUBLE) * (ev.v - md.med))
             / greatest(mad.mad, CAST(1e-9 AS DOUBLE)))
           > CAST(3 AS DOUBLE) AS is_robust,
         (ev.v < md.q[1] - CAST(1.5 AS DOUBLE) * (md.q[2] - md.q[1])
          OR ev.v > md.q[2] + CAST(1.5 AS DOUBLE) * (md.q[2] - md.q[1]))
           AS is_iqr
       FROM ev
       JOIN zs ON zs.event_type = ev.event_type
       JOIN md ON md.event_type = ev.event_type
       JOIN mad ON mad.event_type = ev.event_type)
SELECT event_id, event_type, robust_zscore, is_z, is_robust, is_iqr,
       (CAST(coalesce(is_z, FALSE) AS INT)
        + CAST(coalesce(is_robust, FALSE) AS INT)
        + CAST(coalesce(is_iqr, FALSE) AS INT)) * 2 > 3 AS vote
FROM sc
""")
def q_anomaly_robust_ensemble(spark, sf_dir):
    """Three-detector anomaly ensemble per event type — moment
    z-score, robust (median/MAD) z-score, IQR fences — combined by
    MajorityVote (the reference's aggregations.py surface). The
    robust score and every flag replay exactly: interpolated medians
    match quantile_cont (the exact-percentile gates' property) and
    the score is one fixed-order double chain."""
    from beam_spark.ml.anomaly import (AnomalyVote, IQRDetector,
                                       RobustZScoreDetector,
                                       ZScoreDetector)

    ev = table(spark, sf_dir, "events").df.where(
        "value IS NOT NULL").selectExpr(
        "event_id", "event_type", "CAST(value AS DOUBLE) AS value")
    z = (PCollection(ev)
         | ZScoreDetector("value", "event_type", 3.0)).df.select(
        "event_id", F.col("is_anomaly").alias("is_z"))
    r = (PCollection(ev)
         | RobustZScoreDetector("value", "event_type", 3.0)).df.select(
        "event_id", "robust_zscore",
        F.col("is_anomaly").alias("is_robust"))
    i = (PCollection(ev)
         | IQRDetector("value", "event_type", 1.5)).df.select(
        "event_id", F.col("is_anomaly").alias("is_iqr"))
    joined = (ev.select("event_id", "event_type")
              .join(z, "event_id").join(r, "event_id")
              .join(i, "event_id"))
    out = (PCollection(joined)
           | AnomalyVote(["is_z", "is_robust", "is_iqr"],
                         out_col="vote", rule="majority")).df
    return out.select("event_id", "event_type", "robust_zscore",
                      "is_z", "is_robust", "is_iqr", "vote")


def _mi_rank_oracle_sql() -> str:
    """DuckDB replay of MutualInformationRank on documents: per
    feature, joint counts -> exact-count entropies with the identical
    decimal(28,12) term quantization -> MI = H(X) + H(Y) - H(X,Y)."""
    feats = [("source", "f_source"), ("bucket", "f_bucket"),
             ("band", "f_band")]

    def ent(src, n_src, group):
        p = f"(CAST(cc AS DOUBLE) / CAST(n AS DOUBLE))"
        return (f"(SELECT CAST(sum(CAST(-({p} * log2({p})) "
                f"AS DECIMAL(28,12))) AS DOUBLE) FROM "
                f"(SELECT {group}, CAST(sum(c) AS BIGINT) AS cc "
                f"FROM {src} GROUP BY {group}) CROSS JOIN {n_src})")

    blocks, finals = [], []
    for name, col in feats:
        blocks.append(
            f"j_{name} AS (SELECT {col} AS x, y, "
            f"CAST(count(*) AS BIGINT) AS c FROM base "
            f"WHERE {col} IS NOT NULL GROUP BY 1, 2)")
        blocks.append(
            f"n_{name} AS (SELECT CAST(sum(c) AS BIGINT) AS n "
            f"FROM j_{name})")
        hx = ent(f"j_{name}", f"n_{name}", "x")
        hy = ent(f"j_{name}", f"n_{name}", "y")
        hxy = ent(f"j_{name}", f"n_{name}", "x, y")
        finals.append(
            f"SELECT '{name}' AS feature, n, "
            f"round({hx}, 9) AS h_feature, "
            f"round({hy}, 9) AS h_label, "
            f"round({hx} + {hy} - {hxy}, 9) AS mi FROM n_{name}")
    return ("WITH base AS (SELECT lang AS y, source AS f_source, "
            "CAST(n_chars % 10 AS VARCHAR) AS f_bucket, "
            "CAST(n_chars // 1000 AS VARCHAR) AS f_band "
            "FROM documents WHERE lang IS NOT NULL),\n"
            + ",\n".join(blocks) + "\n"
            + "\nUNION ALL\n".join(finals))


@query("q_quality_mi_feature_rank", _mi_rank_oracle_sql())
def q_quality_mi_feature_rank(spark, sf_dir):
    """Mutual-information feature ranking against the lang label —
    three document metadata features (source, n_chars%10 bucket,
    n_chars DIV 1000 band) scored in one melt pass; exact-count
    entropies with decimal(28,12) term sums, round 9."""
    from beam_spark.operators.quality import MutualInformationRank

    docs = table(spark, sf_dir, "documents").df.selectExpr(
        "lang", "source",
        "CAST(n_chars % 10 AS STRING) AS bucket",
        "CAST(n_chars DIV 1000 AS STRING) AS band")
    return (PCollection(docs)
            | MutualInformationRank(["source", "bucket", "band"],
                                    "lang")).df


@query("q_stats_ams_f2", """
WITH base AS (SELECT event_type AS g, CAST(user_id AS VARCHAR) AS v
              FROM events WHERE user_id IS NOT NULL),
ex AS (SELECT g, v, u.j FROM base,
       (SELECT unnest(range(0, 64)) AS j) u),
cells AS (SELECT g, j,
            CAST(sum(1 - 2 * (CAST(('0x' || substr(
                md5(CAST(j AS VARCHAR) || ':' || v), 1, 1))
                AS BIGINT) % 2)) AS BIGINT) AS z,
            CAST(count(*) AS BIGINT) AS n
          FROM ex GROUP BY 1, 2),
est AS (SELECT g, CAST(sum(z * z) AS DOUBLE)
                  / CAST(64 AS DOUBLE) AS f2_estimate,
               CAST(max(n) AS BIGINT) AS n
        FROM cells GROUP BY 1),
ext AS (SELECT g, CAST(sum(c * c) AS BIGINT) AS f2_exact FROM
          (SELECT g, v, CAST(count(*) AS BIGINT) AS c
           FROM base GROUP BY 1, 2) GROUP BY 1)
SELECT e.g AS event_type, e.f2_estimate, e.n, x.f2_exact
FROM est e JOIN ext x ON x.g = e.g
""")
def q_stats_ams_f2(spark, sf_dir):
    """AMS second-frequency-moment sketch (64 cells) of user_id per
    event type, alongside the exact F2 — the estimate is
    deterministic (md5-derived +-1 signs), so DuckDB recomputes the
    IDENTICAL integer cell sums and the value check is exact; the
    accuracy band rides as a verdict row in the approx gate."""
    from beam_spark.operators.stats import AmsF2Sketch

    ev = table(spark, sf_dir, "events").df.selectExpr(
        "event_type", "user_id")
    est = (PCollection(ev)
           | AmsF2Sketch("user_id", counters=64,
                         keys="event_type")).df
    exact = (ev.where("user_id IS NOT NULL")
             .groupBy("event_type", "user_id")
             .agg(F.count(F.lit(1)).cast("long").alias("c"))
             .groupBy("event_type")
             .agg(F.sum(F.col("c") * F.col("c")).cast("long")
                  .alias("f2_exact")))
    return est.join(exact, "event_type").select(
        "event_type", "f2_estimate", "n", "f2_exact")


@query("q_stats_ddsketch_quantiles", """
WITH base AS (SELECT event_type AS k, CAST(value AS DOUBLE) AS x
              FROM events WHERE value IS NOT NULL),
np AS (SELECT k, CAST(sum(CASE WHEN x <= 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_nonpos
       FROM base GROUP BY 1),
cnt AS (SELECT k,
          CAST(ceil(ln(x) / CAST('0.020000666706669435' AS DOUBLE))
               AS BIGINT) AS b,
          CAST(count(*) AS BIGINT) AS c
        FROM base WHERE x > 0 GROUP BY 1, 2),
cum AS (SELECT k, b,
          CAST(sum(c) OVER (PARTITION BY k ORDER BY b
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum,
          CAST(sum(c) OVER (PARTITION BY k) AS BIGINT) AS n
        FROM cnt),
cand AS (SELECT k, qq.q, min(b) AS bs, max(n) AS n
         FROM cum, (SELECT unnest([CAST(0.25 AS DOUBLE),
                                   CAST(0.5 AS DOUBLE),
                                   CAST(0.95 AS DOUBLE)]) AS q) qq
         WHERE CAST(cum AS DOUBLE)
               > CAST(floor(qq.q * CAST(n - 1 AS DOUBLE)) AS DOUBLE)
         GROUP BY 1, 2)
SELECT c.k AS event_type, c.q,
       round(CAST(2 AS DOUBLE)
             * power(CAST('1.02020202020202' AS DOUBLE), bs)
             / CAST('2.02020202020202' AS DOUBLE), 6) AS estimate,
       c.n, np.n_nonpos
FROM cand c JOIN np ON np.k = c.k
""")
def q_stats_ddsketch_quantiles(spark, sf_dir):
    """DDSketch relative-error quantiles (alpha=0.01) of event value
    per event type — one log-bucket groupBy, cumulative window, first
    bucket past the rank target; ln(gamma) precomputed driver-side
    and shipped to BOTH engines as a string-parsed literal (bare
    17-digit numerics parse as >2^53-unscaled decimals); estimate
    round 6."""
    from beam_spark.operators.stats import DdSketchQuantiles

    ev = table(spark, sf_dir, "events").df.selectExpr(
        "event_type", "value")
    out = (PCollection(ev)
           | DdSketchQuantiles("value", quantiles=(0.25, 0.5, 0.95),
                               alpha=0.01, keys="event_type")).df
    return out.select("event_type", "q", "estimate", "n", "n_nonpos")


@query("q_stats_bootstrap_ci", """
WITH base AS (SELECT event_type AS k, event_id AS id,
                CAST(CAST(value AS DOUBLE) AS DECIMAL(16,9)) AS xd
              FROM events WHERE value IS NOT NULL),
drawn AS (
  SELECT k, xd, b,
    CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || ':'
                         || CAST(b AS VARCHAR)), 1, 8)) AS BIGINT)
      % 1000000 AS uu
  FROM base, (SELECT unnest(range(0, 100)) AS b) u),
weighted AS (
  SELECT k, b, xd,
    CASE WHEN uu < 367879 THEN 0 WHEN uu < 735758 THEN 1
         WHEN uu < 919698 THEN 2 WHEN uu < 981011 THEN 3
         WHEN uu < 996340 THEN 4 WHEN uu < 999405 THEN 5
         WHEN uu < 999916 THEN 6 WHEN uu < 999989 THEN 7
         WHEN uu < 999998 THEN 8 ELSE 9 END AS w
  FROM drawn),
rs AS (SELECT k, b, sum(xd * w) AS s, CAST(sum(w) AS BIGINT) AS n
       FROM weighted GROUP BY 1, 2),
ranked AS (SELECT k, b,
             CAST(CAST(s AS DECIMAL(28,6)) AS DOUBLE)
               / CAST(n AS DOUBLE) AS m,
             row_number() OVER (PARTITION BY k
               ORDER BY CAST(CAST(s AS DECIMAL(28,6)) AS DOUBLE)
                        / CAST(n AS DOUBLE), b) AS r
           FROM rs WHERE n > 0),
ci AS (SELECT k, max(CASE WHEN r = 3 THEN m END) AS lo,
              max(CASE WHEN r = 98 THEN m END) AS hi
       FROM ranked GROUP BY 1),
fl AS (SELECT k,
           CAST(CAST(sum(xd) AS DECIMAL(28,6)) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS mean,
           CAST(count(*) AS BIGINT) AS n
         FROM base GROUP BY 1)
SELECT f.k AS event_type, round(f.mean, 9) AS mean,
       round(c.lo, 9) AS ci_lo, round(c.hi, 9) AS ci_hi, f.n,
       CAST(100 AS INT) AS b_resamples
FROM fl f JOIN ci c ON c.k = f.k
""")
def q_stats_bootstrap_ci(spark, sf_dir):
    """Poisson-bootstrap 95% CI of the mean event value per event
    type (B=100) — hash-deterministic Poisson(1) weights from
    integer-grid inverse-CDF thresholds, exact decimal resample
    sums (scale-6 quantized), exact order-statistic percentiles;
    DuckDB replays every draw."""
    from beam_spark.operators.stats import BootstrapCI

    ev = table(spark, sf_dir, "events").df.selectExpr(
        "event_type", "event_id", "value")
    out = (PCollection(ev)
           | BootstrapCI("value", id_col="event_id", b=100,
                         alpha=0.05, keys="event_type")).df
    return out.select("event_type", "mean", "ci_lo", "ci_hi", "n",
                      "b_resamples")


def _binseg_oracle_sql(rounds: int = 2, min_size: int = 3) -> str:
    """Chained-CTE replay of ChangepointBinSeg on the user_id%10
    events slice: per round, segment-windowed decimal prefix sums,
    scale-6-quantized gains, per-key argmax, segment relabel."""
    def d6(x):
        return f"CAST(CAST({x} AS DECIMAL(28,6)) AS DOUBLE)"

    cte = ["""WITH base AS (
  SELECT user_id,
         CAST(CAST(value AS DOUBLE) AS DECIMAL(16,9)) AS xd,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id % 10 = 0 AND value IS NOT NULL),
r0 AS (SELECT user_id, rn, xd, CAST(0 AS BIGINT) AS seg FROM base),"""]
    for t in range(1, rounds + 1):
        cte.append(f"""s{t} AS (
  SELECT user_id, rn, seg,
    sum(xd) OVER (PARTITION BY user_id, seg ORDER BY rn
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
    CAST(count(*) OVER (PARTITION BY user_id, seg ORDER BY rn
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS BIGINT) AS cn,
    sum(xd) OVER (PARTITION BY user_id, seg) AS ts,
    CAST(count(*) OVER (PARTITION BY user_id, seg) AS BIGINT) AS tn
  FROM r{t - 1}),
c{t} AS (
  SELECT user_id, rn, seg,
    round({d6('cs')} * {d6('cs')} / CAST(cn AS DOUBLE)
          + {d6('ts - cs')} * {d6('ts - cs')}
            / CAST(tn - cn AS DOUBLE)
          - {d6('ts')} * {d6('ts')} / CAST(tn AS DOUBLE), 6) AS g
  FROM s{t} WHERE cn >= {min_size} AND tn - cn >= {min_size}),
b{t} AS (
  SELECT user_id, CAST(rn AS BIGINT) AS position, seg, g
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
          ORDER BY g DESC, rn) AS b
        FROM c{t} WHERE g > CAST(0 AS DOUBLE))
  WHERE b = 1),
r{t} AS (
  SELECT r.user_id, r.rn, r.xd,
    CASE WHEN b.position IS NOT NULL AND r.seg = b.seg
              AND r.rn > b.position
         THEN b.position ELSE r.seg END AS seg
  FROM r{t - 1} r LEFT JOIN b{t} b ON b.user_id = r.user_id),""")
    cte[-1] = cte[-1].rstrip(",")
    finals = [f"SELECT user_id, CAST({t} AS INT) AS cp_round, "
              f"position, g AS gain FROM b{t}"
              for t in range(1, rounds + 1)]
    return "\n".join(cte) + "\n" + "\nUNION ALL ".join(finals)


@query("q_ts_changepoints_binseg", _binseg_oracle_sql())
def q_ts_changepoints_binseg(spark, sf_dir):
    """Binary-segmentation mean-shift changepoints (2 rounds,
    min_size 3) of each user_id%10 event-value series — decimal
    prefix sums per segment, scale-6-quantized sums before the double
    cast, per-key argmax on (round-6 gain DESC, position); DuckDB
    replays both rounds including the segment relabeling."""
    from beam_spark.operators.stats import ChangepointBinSeg

    ev = table(spark, sf_dir, "events").df.where("user_id % 10 = 0")
    out = (PCollection(ev)
           | ChangepointBinSeg("value", keys="user_id",
                               order_by=["ts", "event_id"],
                               k=2, min_size=3)).df
    return out.select("user_id", "cp_round", "position", "gain")


@query("q_ts_kalman_local_level", """
WITH RECURSIVE r AS (
  SELECT user_id, event_id, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events),
e AS (
  SELECT user_id, event_id, rn,
         v AS level,
         CASE WHEN v IS NULL THEN NULL
              ELSE CAST(1.0 AS DOUBLE) END AS pvar,
         CAST(NULL AS DOUBLE) AS kgain
  FROM r WHERE rn = 1
  UNION ALL
  SELECT r.user_id, r.event_id, r.rn,
         CASE WHEN e.level IS NULL AND r.v IS NULL THEN NULL
              WHEN e.level IS NULL THEN r.v
              WHEN r.v IS NULL THEN e.level
              ELSE e.level
                   + ((e.pvar + CAST(0.25 AS DOUBLE))
                      / ((e.pvar + CAST(0.25 AS DOUBLE))
                         + CAST(1.0 AS DOUBLE)))
                     * (r.v - e.level) END,
         CASE WHEN e.level IS NULL AND r.v IS NULL THEN NULL
              WHEN e.level IS NULL THEN CAST(1.0 AS DOUBLE)
              WHEN r.v IS NULL THEN e.pvar + CAST(0.25 AS DOUBLE)
              ELSE (CAST(1.0 AS DOUBLE)
                    - ((e.pvar + CAST(0.25 AS DOUBLE))
                       / ((e.pvar + CAST(0.25 AS DOUBLE))
                          + CAST(1.0 AS DOUBLE))))
                   * (e.pvar + CAST(0.25 AS DOUBLE)) END,
         CASE WHEN e.level IS NULL OR r.v IS NULL THEN NULL
              ELSE (e.pvar + CAST(0.25 AS DOUBLE))
                   / ((e.pvar + CAST(0.25 AS DOUBLE))
                      + CAST(1.0 AS DOUBLE)) END
  FROM e JOIN r ON r.user_id = e.user_id AND r.rn = e.rn + 1)
SELECT user_id, event_id, level, pvar, kgain FROM e
""")
def q_ts_kalman_local_level(spark, sf_dir):
    """Per-user local-level Kalman filter of event values (q=0.25,
    r=1.0 — dyadic): the Python recurrence and DuckDB's recursive-CTE
    replay perform the IDENTICAL IEEE op sequence on identical
    parquet doubles, so level/variance/gain compare UNROUNDED (the
    EWMA convention); missing observations predict through (P += q,
    gain NULL)."""
    from beam_spark.operators.stats import KalmanLocalLevel

    ev = table(spark, sf_dir, "events")
    out = (ev | KalmanLocalLevel("value", keys="user_id",
                                 order_by=["ts", "event_id"],
                                 q=0.25, r=1.0)).df
    return out.select("user_id", "event_id", "level", "pvar", "kgain")


@query("q_ts_cross_correlation", """
WITH pre AS (SELECT l_suppkey % 10 AS k, l_orderkey AS ord,
                    sum(CAST(l_quantity AS DECIMAL(9,2))) AS x,
                    CAST(count(*) AS BIGINT) AS y
             FROM lineitem GROUP BY 1, 2),
lagged AS (SELECT k, ord, CAST(x AS DECIMAL(9,2)) AS x,
                  CAST(y AS DECIMAL(9,0)) AS y,
                  u.l AS lag
           FROM pre, unnest([-3, -2, -1, 0, 1, 2, 3]) AS u(l)),
shifted AS (SELECT k, lag, x,
                   CASE WHEN lag >= 0
                        THEN lead(y, greatest(lag, 0)) OVER
                             (PARTITION BY k, lag ORDER BY ord)
                        ELSE lag(y, greatest(-lag, 0)) OVER
                             (PARTITION BY k, lag ORDER BY ord)
                   END AS yl
            FROM lagged),
a AS (SELECT k, lag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(yl) AS DOUBLE) AS sy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(yl * yl) AS DOUBLE) AS syy,
             CAST(sum(x * yl) AS DOUBLE) AS sxy
      FROM shifted WHERE x IS NOT NULL AND yl IS NOT NULL
      GROUP BY 1, 2),
d AS (SELECT *, CAST(n AS DOUBLE) AS nd,
             CAST(n AS DOUBLE) * sxx - sx * sx AS dx,
             CAST(n AS DOUBLE) * syy - sy * sy AS dy
      FROM a)
SELECT k, CAST(lag AS INT) AS lag, n,
       round(CASE WHEN n >= 2 AND dx > 0.0 AND dy > 0.0
                  THEN (nd * sxy - sx * sy)
                       / (sqrt(dx) * sqrt(dy)) END, 9) AS r
FROM d
""")
def q_ts_cross_correlation(spark, sf_dir):
    """Cross-correlation (lags -3..3) between per-order quantity and
    line count over supplier-hash series — unique-key pre-aggregated
    ordering (the lag-features lesson), scale-2/0 decimal moments,
    fixed-order Pearson in double, round 9."""
    from beam_spark.operators.stats import CrossCorrelation

    li = (table(spark, sf_dir, "lineitem").df
          .selectExpr("l_suppkey % 10 AS k", "l_orderkey AS ord",
                      "CAST(l_quantity AS DECIMAL(9,2)) AS xd")
          .groupBy("k", "ord")
          .agg(F.sum("xd").cast("decimal(9,2)").alias("x"),
               F.count(F.lit(1)).cast("long").alias("y")))
    out = (PCollection(li)
           | CrossCorrelation("x", "y", "ord", keys="k", max_lag=3,
                              cast_to_x="decimal(9,2)",
                              cast_to_y="decimal(9,0)")).df
    return out.select("k", F.col("lag").cast("int").alias("lag"),
                      "n", "r")


@query("q_ml_conformal_interval", """
WITH cal AS (SELECT abs(CAST(l_extendedprice AS DOUBLE)
                        - CAST(l_quantity AS DOUBLE)
                          * CAST(3000 AS DOUBLE)) AS res
             FROM lineitem
             WHERE l_orderkey % 2 = 0
               AND l_extendedprice IS NOT NULL
               AND l_quantity IS NOT NULL),
rk AS (SELECT res, row_number() OVER (ORDER BY res) AS r,
              count(*) OVER () AS n
       FROM cal),
q AS (SELECT res AS qv FROM rk
      WHERE r = ceil(CAST(n + 1 AS DOUBLE) * CAST(0.9 AS DOUBLE))),
sc AS (SELECT l_orderkey, l_linenumber,
              CAST(l_quantity AS DOUBLE) * CAST(3000 AS DOUBLE)
                AS pred
       FROM lineitem WHERE l_orderkey % 2 = 1)
SELECT sc.l_orderkey, sc.l_linenumber, sc.pred,
       sc.pred - q.qv AS lower, sc.pred + q.qv AS upper
FROM sc LEFT JOIN q ON TRUE
""")
def q_ml_conformal_interval(spark, sf_dir):
    """Split-conformal 90% bands for a toy linear predictor
    (pred = 3000 * quantity) — calibration residuals from even
    orderkeys, scored frame odd; the quantile is the exact
    ceil((n+1)*0.9)-th order statistic (double ceil, identical
    expression both engines), intervals plain double arithmetic."""
    from beam_spark.operators.quality import ConformalInterval

    li = table(spark, sf_dir, "lineitem").df
    cal = li.where("l_orderkey % 2 = 0").selectExpr(
        "CAST(l_quantity AS DOUBLE) * CAST(3000 AS DOUBLE) AS pred",
        "CAST(l_extendedprice AS DOUBLE) AS actual")
    sc = li.where("l_orderkey % 2 = 1").selectExpr(
        "l_orderkey", "l_linenumber",
        "CAST(l_quantity AS DOUBLE) * CAST(3000 AS DOUBLE) AS pred")
    out = (PCollection(sc)
           | ConformalInterval(cal, "pred", "actual", alpha=0.1)).df
    return out.select("l_orderkey", "l_linenumber", "pred",
                      "lower", "upper")


@query("q_ab_cuped_adjustment", """
WITH base AS (SELECT l_orderkey, l_linenumber, l_returnflag,
                     CAST(l_extendedprice AS DOUBLE) AS y,
                     CAST(l_quantity AS DOUBLE) AS x,
                     CAST(l_extendedprice AS DECIMAL(12,2)) AS yd,
                     CAST(l_quantity AS DECIMAL(9,2)) AS xd
              FROM lineitem
              WHERE l_quantity IS NOT NULL
                AND l_extendedprice IS NOT NULL),
m AS (SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xd) AS DOUBLE) AS sx,
             CAST(sum(yd) AS DOUBLE) AS sy,
             CAST(sum(xd * xd) AS DOUBLE) AS sxx,
             CAST(sum(xd * yd) AS DOUBLE) AS sxy
      FROM base GROUP BY 1),
s AS (SELECT l_returnflag,
             CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0
                  THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
                       / (CAST(n AS DOUBLE) * sxx - sx * sx)
                  ELSE CAST(0 AS DOUBLE) END AS theta,
             sx / CAST(n AS DOUBLE) AS xbar
      FROM m)
SELECT b.l_orderkey, b.l_linenumber, b.l_returnflag,
       round(b.y - s.theta * (b.x - s.xbar), 6) AS y_adj,
       round(s.theta, 9) AS theta
FROM base b JOIN s ON s.l_returnflag = b.l_returnflag
""")
def q_ab_cuped_adjustment(spark, sf_dir):
    """CUPED adjustment of extendedprice with quantity as covariate,
    theta fit per returnflag stratum — decimal-exact moments (scale
    2/4: unscaled sums < 2^53 at the comparison SFs), fixed-order
    double adjustment, round 9."""
    from beam_spark.operators.quality import Cuped

    li = table(spark, sf_dir, "lineitem")
    out = (li | Cuped("l_extendedprice", "l_quantity",
                      keys="l_returnflag",
                      cast_to_x="decimal(9,2)",
                      cast_to_y="decimal(12,2)")).df
    return out.select("l_orderkey", "l_linenumber", "l_returnflag",
                      "y_adj", "theta")


@query("q_survival_nelson_aalen", """
WITH pu AS (SELECT user_id,
              epoch_us(min(ts)) / CAST(1000000 AS DOUBLE) AS t0,
              epoch_us(coalesce(min(CASE WHEN event_type = 'purchase'
                                    THEN ts END), max(ts)))
                / CAST(1000000 AS DOUBLE) AS t1,
              CASE WHEN min(CASE WHEN event_type = 'purchase'
                            THEN ts END) IS NOT NULL
                   THEN 1 ELSE 0 END AS e
            FROM events WHERE user_id IS NOT NULL
            GROUP BY user_id),
base AS (SELECT t1 - t0 AS t, e FROM pu),
per AS (SELECT t, CAST(sum(e) AS BIGINT) AS d_events,
               CAST(sum(1 - e) AS BIGINT) AS c_censored
        FROM base GROUP BY t),
ar AS (SELECT *, sum(d_events + c_censored) OVER () AS N,
              coalesce(sum(d_events + c_censored)
                       OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                             PRECEDING AND 1 PRECEDING), 0) AS lft
       FROM per),
s AS (SELECT t, CAST(N - lft AS BIGINT) AS n_risk, d_events,
             c_censored,
        sum(CAST(CAST(d_events AS DOUBLE)
                 / CAST(N - lft AS DOUBLE) AS DECIMAL(28,12)))
          OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS H
      FROM ar)
SELECT t, n_risk, d_events, c_censored,
       round(CAST(H AS DOUBLE), 6) AS cum_hazard,
       round(exp(-CAST(H AS DOUBLE)), 6) AS survival_fh
FROM s WHERE d_events > 0
""")
def q_survival_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative hazard (+ Fleming-Harrington survival)
    on the same time-to-first-purchase construction as the
    Kaplan-Meier component — exact d/n ratios summed as time-ordered
    decimals, round 6."""
    from beam_spark.operators.stats import NelsonAalen

    ev = table(spark, sf_dir, "events").df.where("user_id IS NOT NULL")
    pu = ev.groupBy("user_id").agg(
        F.min("ts").alias("__t0"),
        F.max("ts").alias("__tl"),
        F.min(F.when(F.col("event_type") == "purchase",
                     F.col("ts"))).alias("__tp"))
    base = pu.select(
        (F.coalesce(F.col("__tp"), F.col("__tl")).cast("double")
         - F.col("__t0").cast("double")).alias("duration"),
        F.col("__tp").isNotNull().cast("int").alias("event"))
    out = (PCollection(base) | NelsonAalen("duration", "event")).df
    return out.select("t", "n_risk", "d_events", "c_censored",
                      "cum_hazard", "survival_fh")


@query("q_retrieval_query_likelihood", r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x != '') AS t
  FROM documents),
dlen AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
post AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         FROM (SELECT doc_id, unnest(t) AS term FROM toks)
         GROUP BY 1, 2),
cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM post
       GROUP BY 1),
cs AS (SELECT CAST(sum(cf) AS BIGINT) AS C FROM cf),
qt AS (SELECT query_id, term, CAST(count(*) AS BIGINT) AS qtf
       FROM (SELECT doc_id AS query_id, unnest(t) AS term
             FROM toks WHERE doc_id < 3)
       GROUP BY 1, 2),
grid AS (SELECT q.query_id, q.term, q.qtf, c.cf, cs.C,
                d.doc_id, d.dl, coalesce(p.tf, 0) AS tf
         FROM qt q JOIN cf c ON c.term = q.term CROSS JOIN cs
         CROSS JOIN dlen d
         LEFT JOIN post p ON p.term = q.term
           AND p.doc_id = d.doc_id),
sc AS (SELECT query_id, doc_id,
         round(CAST(sum(CAST(qtf AS DECIMAL(9,0))
           * CAST(ln((CAST(tf AS DOUBLE)
                      + CAST(2000 AS DOUBLE)
                        * (CAST(cf AS DOUBLE) / CAST(C AS DOUBLE)))
                     / (CAST(dl AS DOUBLE) + CAST(2000 AS DOUBLE)))
               AS DECIMAL(16,9))) AS DOUBLE), 6) AS score
       FROM grid GROUP BY 1, 2),
r AS (SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank
      FROM sc)
SELECT query_id, doc_id, rank, score FROM r WHERE rank <= 5
""")
def q_retrieval_query_likelihood(spark, sf_dir):
    """Dirichlet query-likelihood retrieval (mu=2000), top-5 docs for
    3 query documents — every document scores against every query
    term (the smoothed-miss-mass construction); per-term ln decimals
    times integer query tf give order-free exact sums; rank on the
    rounded score with doc-id tie-break."""
    from beam_spark.operators.retrieval import QueryLikelihoodTopK

    docs = table(spark, sf_dir, "documents").df
    queries_df = docs.where("doc_id < 3").selectExpr(
        "doc_id AS query_id", "text")
    out = (PCollection(docs)
           | QueryLikelihoodTopK(queries_df, k=5)).df
    return out.select("query_id", "doc_id", "rank", "score")


@query("q_retrieval_pl2_topk", r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x != '') AS t
  FROM documents),
st AS (SELECT CAST(count(*) AS BIGINT) AS N, avg(len(t)) AS avgdl
       FROM toks),
post AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, term,
                CAST(count(*) AS BIGINT) AS tf
         FROM (SELECT doc_id, t, unnest(t) AS term FROM toks)
         GROUP BY 1, 2, 3),
cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM post
       GROUP BY 1),
qt AS (SELECT query_id, term, CAST(count(*) AS BIGINT) AS qtf
       FROM (SELECT doc_id AS query_id, unnest(t) AS term
             FROM toks WHERE doc_id < 3)
       GROUP BY 1, 2),
sc AS (SELECT q.query_id, p.doc_id, q.qtf,
         CAST(p.tf AS DOUBLE)
           * log2(CAST(1 AS DOUBLE)
                  + CAST(1 AS DOUBLE) * st.avgdl
                    / CAST(p.dl AS DOUBLE)) AS tfn,
         CAST(c.cf AS DOUBLE) / CAST(st.N AS DOUBLE) AS lam
       FROM qt q JOIN cf c ON c.term = q.term
       JOIN post p ON p.term = q.term
       CROSS JOIN st),
tv AS (SELECT query_id, doc_id,
         CAST(qtf AS DECIMAL(9,0)) * CAST(
           (CAST(1 AS DOUBLE) / (tfn + CAST(1 AS DOUBLE)))
           * (tfn * log2(tfn / lam)
              + (lam - tfn) * CAST('1.4426950408889634' AS DOUBLE)
              + CAST(0.5 AS DOUBLE)
                * log2(CAST('6.283185307179586' AS DOUBLE) * tfn))
           AS DECIMAL(16,9)) AS v
       FROM sc),
ag AS (SELECT query_id, doc_id,
              round(CAST(sum(v) AS DOUBLE), 6) AS score
       FROM tv GROUP BY 1, 2),
r AS (SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank
      FROM ag)
SELECT query_id, doc_id, rank, score FROM r WHERE rank <= 5
""")
def q_retrieval_pl2_topk(spark, sf_dir):
    """DFR PL2 retrieval (c=1.0), top-5 docs for 3 query documents —
    Terrier's default divergence-from-randomness model, completing
    the BM25/QL lexical triad; per-term values quantize to
    decimal(16,9) times integer query tf (order-free sums), rank on
    the rounded score with doc-id tie-break. The log2(e) and 2*pi
    constants ride as STRING-parsed double literals in the oracle (a
    bare 17-digit numeric literal parses as a decimal whose unscaled
    integer exceeds 2^53 — the documented double-rounding trap)."""
    from beam_spark.operators.retrieval import Pl2TopK

    docs = table(spark, sf_dir, "documents").df
    queries_df = docs.where("doc_id < 3").selectExpr(
        "doc_id AS query_id", "text")
    out = (PCollection(docs) | Pl2TopK(queries_df, k=5, c=1.0)).df
    return out.select("query_id", "doc_id", "rank", "score")


@query("q_stats_robust_location", """
WITH base AS (SELECT l_returnflag AS k,
                     CAST(l_quantity AS DOUBLE) AS v,
                     CAST(l_quantity AS DECIMAL(18,6)) AS xd
              FROM lineitem WHERE l_quantity IS NOT NULL),
rk AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY v) AS r,
              count(*) OVER (PARTITION BY k) AS n
       FROM base),
agg AS (SELECT k, CAST(max(n) AS BIGINT) AS n,
               CAST(sum(xd) AS DOUBLE) AS sx,
               CAST(sum(CASE WHEN r > floor(CAST(n AS DOUBLE) * 0.1)
                              AND r <= n - floor(CAST(n AS DOUBLE)
                                                 * 0.1)
                             THEN xd END) AS DOUBLE) AS stx,
               CAST(sum(CASE WHEN r > floor(CAST(n AS DOUBLE) * 0.1)
                              AND r <= n - floor(CAST(n AS DOUBLE)
                                                 * 0.1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS tn
        FROM rk GROUP BY k),
med AS (SELECT k, CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS med
        FROM rk
        WHERE r = floor((n + 1) / 2) OR r = floor((n + 2) / 2)
        GROUP BY k),
dev AS (SELECT b.k, abs(b.v - m.med) AS dv
        FROM base b JOIN med m ON m.k = b.k),
drk AS (SELECT k, dv, row_number() OVER (PARTITION BY k ORDER BY dv)
               AS r, count(*) OVER (PARTITION BY k) AS n
        FROM dev),
mad AS (SELECT k, CAST(sum(CAST(dv AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS mad
        FROM drk
        WHERE r = floor((n + 1) / 2) OR r = floor((n + 2) / 2)
        GROUP BY k)
SELECT a.k, a.n,
       round(a.sx / CAST(a.n AS DOUBLE), 9) AS mean,
       round(CASE WHEN a.tn > 0
                  THEN a.stx / CAST(a.tn AS DOUBLE) END, 9)
         AS trimmed_mean,
       round(m.med, 9) AS median,
       round(d.mad, 9) AS mad
FROM agg a JOIN med m ON m.k = a.k JOIN mad d ON d.k = a.k
""")
def q_stats_robust_location(spark, sf_dir):
    """Exact trimmed mean (10% each end), median, and MAD of quantity
    per returnflag — rank-window constructions whose results are
    tie-permutation invariant, decimal sums, single divisions at
    round 9 (quantity magnitude is in the safe round zone)."""
    from beam_spark.operators.quality import RobustLocation

    li = table(spark, sf_dir, "lineitem").df.selectExpr(
        "l_returnflag AS k", "CAST(l_quantity AS DOUBLE) AS v")
    return (PCollection(li)
            | RobustLocation("v", keys="k", trim=0.1)).df


@query("q_ab_diff_in_diff", """
WITH base AS (SELECT l_linestatus,
                     l_returnflag = 'A' AS t,
                     l_orderkey % 2 = 0 AS p,
                     CAST(l_quantity AS DECIMAL(9,2)) AS md
              FROM lineitem
              WHERE l_quantity IS NOT NULL
                AND l_returnflag IN ('A', 'R')),
a AS (SELECT l_linestatus,
        CAST(sum(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS BIGINT)
          AS n_tpre,
        CAST(sum(CASE WHEN t AND p THEN 1 ELSE 0 END) AS BIGINT)
          AS n_tpost,
        CAST(sum(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END)
             AS BIGINT) AS n_cpre,
        CAST(sum(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS BIGINT)
          AS n_cpost,
        CAST(sum(CASE WHEN t AND NOT p THEN md END) AS DOUBLE)
          AS s_tpre,
        CAST(sum(CASE WHEN t AND p THEN md END) AS DOUBLE) AS s_tpost,
        CAST(sum(CASE WHEN NOT t AND NOT p THEN md END) AS DOUBLE)
          AS s_cpre,
        CAST(sum(CASE WHEN NOT t AND p THEN md END) AS DOUBLE)
          AS s_cpost
      FROM base GROUP BY 1),
m AS (SELECT *,
        s_tpre / CAST(n_tpre AS DOUBLE) AS m_tpre,
        s_tpost / CAST(n_tpost AS DOUBLE) AS m_tpost,
        s_cpre / CAST(n_cpre AS DOUBLE) AS m_cpre,
        s_cpost / CAST(n_cpost AS DOUBLE) AS m_cpost
      FROM a)
SELECT l_linestatus, n_tpre, n_tpost, n_cpre, n_cpost,
       round(CASE WHEN n_tpre > 0 THEN m_tpre END, 6) AS mean_tpre,
       round(CASE WHEN n_tpost > 0 THEN m_tpost END, 6) AS mean_tpost,
       round(CASE WHEN n_cpre > 0 THEN m_cpre END, 6) AS mean_cpre,
       round(CASE WHEN n_cpost > 0 THEN m_cpost END, 6) AS mean_cpost,
       round(CASE WHEN n_tpre > 0 AND n_tpost > 0 AND n_cpre > 0
                   AND n_cpost > 0
                  THEN (m_tpost - m_tpre) - (m_cpost - m_cpre)
             END, 6) AS did
FROM m
""")
def q_ab_diff_in_diff(spark, sf_dir):
    """Difference-in-differences of quantity per linestatus: treat =
    returnflag A (vs R), post = even orderkey — one conditional
    decimal-sum pass; cell means and did in fixed-order double,
    round 6."""
    from beam_spark.operators.quality import DiffInDiff

    li = (table(spark, sf_dir, "lineitem").df
          .where(F.col("l_returnflag").isin(["A", "R"]))
          .selectExpr("l_linestatus", "l_quantity",
                      "l_returnflag = 'A' AS t",
                      "l_orderkey % 2 = 0 AS p"))
    return (PCollection(li)
            | DiffInDiff("l_quantity", "t", "p", keys="l_linestatus",
                         cast_to="decimal(9,2)")).df


@query("q_ml_information_gain_split", """
WITH base AS (SELECT l_linestatus AS k,
                     CAST(l_quantity AS DOUBLE) AS v,
                     CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END
                       AS y
              FROM lineitem
              WHERE l_quantity IS NOT NULL
                AND l_returnflag IS NOT NULL),
cnt AS (SELECT k, v, CAST(count(*) AS BIGINT) AS c,
               CAST(sum(y) AS BIGINT) AS p
        FROM base GROUP BY 1, 2),
cum AS (SELECT *, sum(c) OVER (PARTITION BY k) AS n,
               sum(p) OVER (PARTITION BY k) AS pos,
               sum(c) OVER (PARTITION BY k ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS nle,
               sum(p) OVER (PARTITION BY k ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS ple
        FROM cnt),
g AS (SELECT k, v, n, pos, nle, ple,
        CAST(n AS DOUBLE) AS nd, CAST(pos AS DOUBLE) AS posd,
        CAST(nle AS DOUBLE) AS nled, CAST(ple AS DOUBLE) AS pled
      FROM cum),
sc AS (SELECT k, v, n, nle, ple, pos,
        round(CASE WHEN nle < n THEN
          (CASE WHEN posd / nd > 0.0 AND posd / nd < 1.0
                THEN -((posd / nd) * log2(posd / nd)
                       + (1.0 - posd / nd) * log2(1.0 - posd / nd))
                ELSE 0.0 END)
          - (nled / nd) *
            (CASE WHEN pled / nled > 0.0 AND pled / nled < 1.0
                  THEN -((pled / nled) * log2(pled / nled)
                         + (1.0 - pled / nled)
                           * log2(1.0 - pled / nled))
                  ELSE 0.0 END)
          - (CASE WHEN nd - nled > 0.0 THEN ((nd - nled) / nd) *
              (CASE WHEN (posd - pled) / (nd - nled) > 0.0
                     AND (posd - pled) / (nd - nled) < 1.0
                    THEN -(((posd - pled) / (nd - nled))
                           * log2((posd - pled) / (nd - nled))
                           + (1.0 - (posd - pled) / (nd - nled))
                             * log2(1.0 - (posd - pled)
                                    / (nd - nled)))
                    ELSE 0.0 END)
             ELSE 0.0 END)
        ELSE 0.0 END, 9) AS gain
       FROM g),
best AS (SELECT *, row_number() OVER (PARTITION BY k
           ORDER BY gain DESC, v) AS r FROM sc)
SELECT k, v AS split_value, gain, n, nle AS n_le, ple AS pos_le,
       CAST(n - nle AS BIGINT) AS n_gt,
       CAST(pos - ple AS BIGINT) AS pos_gt
FROM best WHERE r = 1
""")
def q_ml_information_gain_split(spark, sf_dir):
    """Optimal decision-stump threshold on quantity vs returnflag-A
    per linestatus — exact cumulative counts over the distinct-value
    frame, fixed-order double entropies, argmax on round-9 gain with
    smallest-threshold tie-break."""
    from beam_spark.ml.logistic import InformationGainSplit

    li = table(spark, sf_dir, "lineitem").df.selectExpr(
        "l_linestatus AS k", "CAST(l_quantity AS DOUBLE) AS v",
        "l_returnflag = 'A' AS y")
    out = (PCollection(li)
           | InformationGainSplit("v", "y", keys="k")).df
    return out.select("k", "split_value", "gain", "n", "n_le",
                      "pos_le", "n_gt", "pos_gt")


@query("q_ml_woe_iv", """
WITH base AS (SELECT o_orderpriority AS category,
                     CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
                       AS y
              FROM orders
              WHERE o_orderpriority IS NOT NULL
                AND o_orderstatus IS NOT NULL),
per AS (SELECT category, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS pos
        FROM base GROUP BY 1),
per2 AS (SELECT *, CAST(n - pos AS BIGINT) AS neg FROM per),
tot AS (SELECT CAST(sum(pos) AS BIGINT) AS gp,
               CAST(sum(neg) AS BIGINT) AS gn FROM per2)
SELECT category, per2.n, pos, neg,
       round(ln(((CAST(pos AS DOUBLE) + 0.5)
                 / (CAST(gp AS DOUBLE) + 1.0))
                / ((CAST(neg AS DOUBLE) + 0.5)
                   / (CAST(gn AS DOUBLE) + 1.0))), 9) AS woe
FROM per2 CROSS JOIN tot
""")
def q_ml_woe_iv(spark, sf_dir):
    """Weight of evidence of order priority against finished status
    (alpha = 0.5 Laplace) — exact counts, one fixed-order double ln
    per category, round 9."""
    from beam_spark.ml.transforms import WoeIv

    o = table(spark, sf_dir, "orders").df.selectExpr(
        "o_orderpriority", "o_orderstatus = 'F' AS y")
    return (PCollection(o)
            | WoeIv("o_orderpriority", "y", alpha=0.5)).df


@query("q_embedding_mean_pool", """
WITH ex AS (SELECT label, u.i - 1 AS dim,
                   CAST(embedding[u.i] AS DOUBLE) AS x
            FROM embeddings, unnest(range(1, len(embedding) + 1))
              AS u(i)
            WHERE embedding IS NOT NULL),
cells AS (SELECT label, dim, sum(x) AS s,
                 CAST(count(*) AS BIGINT) AS c
          FROM ex GROUP BY 1, 2),
pk AS (SELECT label, min(c) AS n,
              list(round(s / CAST(c AS DOUBLE), 9) ORDER BY dim)
                AS centroid
       FROM cells GROUP BY label)
SELECT label, CAST(n AS BIGINT) AS n, centroid FROM pk
""")
def q_embedding_mean_pool(spark, sf_dir):
    """Per-label mean-pooled embedding centroid — (label, dim) cell
    sums (the KMeans update shape), per-dim means round 9, arrays
    re-assembled in dim order in both engines."""
    from beam_spark.operators.similarity import MeanPoolEmbeddings

    emb = table(spark, sf_dir, "embeddings")
    return (emb | MeanPoolEmbeddings("label")).df


@query("q_embedding_nearest_centroid", """
WITH tr AS (SELECT label, embedding FROM embeddings
            WHERE embedding IS NOT NULL AND vec_id % 2 = 0),
ex AS (SELECT label, u.i - 1 AS dim,
              CAST(embedding[u.i] AS DOUBLE) AS x
       FROM tr, unnest(range(1, len(embedding) + 1)) AS u(i)),
cells AS (SELECT label, dim, sum(x) AS s,
                 CAST(count(*) AS BIGINT) AS c
          FROM ex GROUP BY 1, 2),
cent AS (SELECT label, dim, round(s / CAST(c AS DOUBLE), 9) AS m
         FROM cells),
cnorm AS (SELECT label, sqrt(sum(m * m)) AS nr FROM cent
          GROUP BY label),
te AS (SELECT vec_id, label AS true_label, u.i - 1 AS dim,
              CAST(embedding[u.i] AS DOUBLE) AS x
       FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
       WHERE embedding IS NOT NULL AND vec_id % 2 = 1),
tnorm AS (SELECT vec_id, sqrt(sum(x * x)) AS nr FROM te
          GROUP BY vec_id),
dots AS (SELECT t.vec_id, t.true_label, c.label,
                sum(t.x * c.m) AS dp
         FROM te t JOIN cent c ON c.dim = t.dim
         GROUP BY 1, 2, 3),
sc AS (SELECT d.vec_id, d.true_label, d.label,
              round(d.dp / (tn.nr * cn.nr), 6) AS cosine
       FROM dots d JOIN tnorm tn ON tn.vec_id = d.vec_id
       JOIN cnorm cn ON cn.label = d.label),
best AS (SELECT *, row_number() OVER (PARTITION BY vec_id
           ORDER BY cosine DESC, label) AS r FROM sc)
SELECT vec_id, CAST(label AS INT) AS predicted,
       CAST(true_label AS INT) AS true_label, cosine
FROM best WHERE r = 1
""")
def q_embedding_nearest_centroid(spark, sf_dir):
    """Nearest-centroid classification of held-out embeddings (odd
    vec_ids) against per-label MeanPoolEmbeddings centroids fit on
    even vec_ids — a pure composition of existing operators: round-9
    centroids, round-6 cosines, label tie-break; DuckDB replays both
    stages. The per-(vector, label) dot products here use the
    explode-join formulation so the oracle is row-identical; the
    production path for large corpora is BruteForceCosineTopK against
    the centroid frame."""
    from beam_spark.operators.similarity import MeanPoolEmbeddings

    emb = table(spark, sf_dir, "embeddings").df.where(
        "embedding IS NOT NULL").select(
        "vec_id", "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        .alias("embedding"))
    cents = (PCollection(emb.where("vec_id % 2 = 0"))
             | MeanPoolEmbeddings("label")).df
    from beam_spark.operators.similarity import dot, norm

    test = emb.where("vec_id % 2 = 1").select(
        "vec_id", F.col("label").alias("true_label"), "embedding")
    joined = test.crossJoin(
        F.broadcast(cents.select(F.col("label"),
                                 F.col("centroid"))))
    cos = F.round(dot(F.col("embedding"), F.col("centroid"))
                  / (norm(F.col("embedding"))
                     * norm(F.col("centroid"))), 6)
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.desc("__cos"), F.col("label"))
    out = (joined.withColumn("__cos", cos)
           .withColumn("__r", F.row_number().over(w))
           .where(F.col("__r") == 1)
           .select("vec_id", F.col("label").cast("int")
                   .alias("predicted"),
                   F.col("true_label").cast("int").alias("true_label"),
                   F.col("__cos").alias("cosine")))
    return out


@query("q_ab_power_analysis", """
WITH a AS (SELECT l_returnflag AS k,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(l_quantity AS DECIMAL(9,2)))
                       AS DOUBLE) AS s,
                  CAST(sum(CAST(l_quantity AS DECIMAL(9,2))
                           * CAST(l_quantity AS DECIMAL(9,2)))
                       AS DOUBLE) AS ss
           FROM lineitem WHERE l_quantity IS NOT NULL
           GROUP BY 1),
d AS (SELECT k, n, CAST(n AS DOUBLE) AS nd, s / CAST(n AS DOUBLE)
        AS mean,
             CASE WHEN n >= 2
                  THEN (ss - s * s / CAST(n AS DOUBLE))
                       / (CAST(n AS DOUBLE) - 1.0) END AS var
      FROM a),
m AS (SELECT *, CASE WHEN var >= 0.0
                     THEN (1.959963984540054 + 0.8416212335729143)
                          * sqrt(2.0 * var / (nd / 2.0)) END AS mde
      FROM d)
SELECT k, n, round(mean, 6) AS mean, round(var, 6) AS var,
       round(mde, 6) AS mde_abs,
       round(CASE WHEN mean <> 0.0 THEN mde / abs(mean) END, 9)
         AS mde_rel,
       CAST(ceil((1.959963984540054 + 0.8416212335729143)
                 * (1.959963984540054 + 0.8416212335729143)
                 * 2.0 * var / (CAST(1 AS DOUBLE)
                                * CAST(1 AS DOUBLE))) AS BIGINT)
         AS n_per_arm_required
FROM m
""")
def q_ab_power_analysis(spark, sf_dir):
    """MDE + required-n sizing of quantity per returnflag (alpha 0.05
    two-sided, power 0.80, target effect 1.0 unit) — decimal moments,
    fixed z literals, fixed-order doubles."""
    from beam_spark.operators.quality import PowerAnalysis

    li = table(spark, sf_dir, "lineitem").df.selectExpr(
        "l_returnflag AS k", "l_quantity")
    return (PCollection(li)
            | PowerAnalysis("l_quantity", keys="k",
                            target_effect=1.0,
                            cast_to="decimal(9,2)")).df


@query("q_survival_log_rank", """
WITH pu AS (SELECT user_id, user_id % 2 = 0 AS grp_a,
              epoch_us(min(ts)) / CAST(1000000 AS DOUBLE) AS t0,
              epoch_us(coalesce(min(CASE WHEN event_type = 'purchase'
                                    THEN ts END), max(ts)))
                / CAST(1000000 AS DOUBLE) AS t1,
              CASE WHEN min(CASE WHEN event_type = 'purchase'
                            THEN ts END) IS NOT NULL
                   THEN 1 ELSE 0 END AS e
            FROM events WHERE user_id IS NOT NULL
            GROUP BY user_id),
base AS (SELECT t1 - t0 AS t, e,
                CASE WHEN grp_a THEN 1 ELSE 0 END AS a
         FROM pu),
per AS (SELECT t, CAST(sum(e * a) AS BIGINT) AS d1,
               CAST(sum(e) AS BIGINT) AS d,
               CAST(sum(a) AS BIGINT) AS m1,
               CAST(count(*) AS BIGINT) AS m
        FROM base GROUP BY t),
ar AS (SELECT *, sum(m1) OVER () AS N1, sum(m) OVER () AS N,
              coalesce(sum(m1) OVER (ORDER BY t ROWS BETWEEN
                UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS l1,
              coalesce(sum(m) OVER (ORDER BY t ROWS BETWEEN
                UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS l
       FROM per),
ev AS (SELECT CAST(N1 - l1 AS DOUBLE) AS n1,
              CAST(N - l AS DOUBLE) AS n,
              CAST(d AS DOUBLE) AS dd, CAST(d1 AS DOUBLE) AS dd1,
              d1, d, N - l AS ni
       FROM ar WHERE d > 0),
tot AS (SELECT
          sum(CAST(dd1 - dd * n1 / n AS DECIMAL(28,12))) AS oe,
          sum(CAST(CASE WHEN ni > 1
                        THEN dd * (n1 / n) * (1.0 - n1 / n)
                             * (n - dd) / (n - 1.0)
                        ELSE CAST(0 AS DOUBLE) END
                   AS DECIMAL(28,12))) AS v,
          CAST(sum(d1) AS BIGINT) AS events_a,
          CAST(sum(d) - sum(d1) AS BIGINT) AS events_b
        FROM ev),
sz AS (SELECT CAST(sum(a) AS BIGINT) AS n_a,
              CAST(sum(1 - a) AS BIGINT) AS n_b FROM base)
SELECT n_a, n_b, events_a, events_b,
       round(CASE WHEN CAST(v AS DOUBLE) > 0.0
                  THEN CAST(oe AS DOUBLE) / sqrt(CAST(v AS DOUBLE))
             END, 9) AS z,
       round(CASE WHEN CAST(v AS DOUBLE) > 0.0
                  THEN (CAST(oe AS DOUBLE) * CAST(oe AS DOUBLE))
                       / CAST(v AS DOUBLE) END, 9) AS chi2
FROM sz CROSS JOIN tot
""")
def q_survival_log_rank(spark, sf_dir):
    """Log-rank test of time-to-first-purchase between even and odd
    user ids — per-event-time O-E and variance terms as fixed-order
    doubles cast to decimals before the sum (order-free), exact
    at-risk construction shared with the KM component."""
    from beam_spark.operators.stats import LogRankTest

    ev = table(spark, sf_dir, "events").df.where("user_id IS NOT NULL")
    pu = ev.groupBy("user_id").agg(
        F.min("ts").alias("__t0"),
        F.max("ts").alias("__tl"),
        F.min(F.when(F.col("event_type") == "purchase",
                     F.col("ts"))).alias("__tp"))
    base = pu.select(
        (F.coalesce(F.col("__tp"), F.col("__tl")).cast("double")
         - F.col("__t0").cast("double")).alias("duration"),
        F.col("__tp").isNotNull().cast("int").alias("event"),
        (F.col("user_id") % 2 == 0).alias("grp"))
    return (PCollection(base)
            | LogRankTest("duration", "event", "grp", True)).df
