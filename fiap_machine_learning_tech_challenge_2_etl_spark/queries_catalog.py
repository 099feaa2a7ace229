"""Named query catalog: the driver-facing correctness surface.

Each entry pairs a Spark DataFrame query (``(spark, sf_dir) -> DataFrame``)
with an equivalent ANSI-SQL string DuckDB runs on the same parquet — the
oracle-differential test strategy (SURVEY.md section 5). Conventions that
make cross-engine value-hashing stable:

* every computed column is aliased identically on both sides;
* floating-point aggregates over DETERMINISTIC orders (rolling frames)
  are rounded to 6 decimals; aggregates whose summation order is
  engine-dependent are either summed as integer cents
  (``CAST(round(x*100) AS BIGINT)`` — exact in both engines) or rounded
  to few decimals;
* dates/timestamps surfaced as formatted strings where formatting
  matters; DuckDB's ``sum(BIGINT)`` (which returns HUGEINT) is cast back
  to BIGINT.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fiap_machine_learning_tech_challenge_2_etl_spark.operators import cleaning as C
from fiap_machine_learning_tech_challenge_2_etl_spark.operators import windows as W
from fiap_machine_learning_tech_challenge_2_etl_spark.plans.pipeline import (
    flagship_events_pipeline,
)
from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import load_testdata

SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def _register(name: str, sql: str | None = None):
    def deco(fn):
        SPARK_QUERIES[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_testdata(spark, sf_dir, [name])[name]


# NOTE on oracle SQL below: events.ts is nanosecond-precision in parquet;
# Spark reads it truncated to micros (see sources.parquet.load_testdata), so
# every oracle ORDER BY on ts wraps it in CAST(ts AS TIMESTAMP) (DuckDB
# TIMESTAMP_NS -> TIMESTAMP, same truncation) to keep tiebreaks identical.


# ==========================================================================
# Reference surface (SURVEY.md section 2)
# ==========================================================================


# Shared by the flagship query's oracle and the CLI-runner round-trip
# (queries_roundtrip.runner_batch_roundtrip aggregates over this result).
_FLAGSHIP_SQL = """
WITH e AS (
  SELECT *, CAST(ts AS DATE) AS event_date,
         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
), d AS (
  SELECT * FROM e WHERE rn = 1
), w AS (
  SELECT user_id, event_date, event_type, value,
    avg(value)    OVER win AS mean_raw,
    median(value) OVER win AS med_raw,
    stddev(value) OVER win AS std_raw,
    max(value)    OVER win AS max_value_7d,
    min(value)    OVER win AS min_value_7d,
    min(event_date) OVER (PARTITION BY user_id) AS initial_d,
    sum(value)    OVER (PARTITION BY event_date, event_type) AS tot_raw
  FROM d
  WINDOW win AS (PARTITION BY user_id ORDER BY event_date, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT user_id, strftime(event_date, '%Y-%m-%d') AS event_date, event_type, value,
  round(mean_raw, 6) AS mean_value_7d,
  round(med_raw, 6)  AS median_value_7d,
  round(std_raw, 6)  AS std_value_7d,
  max_value_7d, min_value_7d,
  strftime(initial_d, '%Y-%m-%d') AS initial_date,
  round(tot_raw, 6)  AS total_value_type_day
FROM w
"""


@_register("flagship_pipeline", sql=_FLAGSHIP_SQL)
def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1/EP3 — the full reference clean->window pipeline over events."""
    return flagship_events_pipeline(spark, sf_dir)


@_register(
    "select_filter_project",
    sql="""
SELECT event_id, user_id, event_type,
       CAST(value AS DOUBLE) AS value_d,
       strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date
FROM events
WHERE event_type IS NOT NULL AND value > 50.0
""",
)
def q_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/F1/C1/C5 — projection + predicate (pushed to the parquet scan)."""
    e = _t(spark, sf_dir, "events")
    out = C.require_keys(e, ["event_type"]).filter(F.col("value") > 50.0)
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("value").cast("double").alias("value_d"),
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("event_date"),
    )


@_register(
    "distinct_rows",
    sql="""
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
""",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 — full-row distinct (reference etl/etl.py:49) on a projection."""
    o = _t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority")
    return C.distinct_rows(o)


@_register(
    "fill_defaults",
    sql="""
SELECT event_id,
  coalesce(nullif(event_type, 'error'), 'UNKNOWN') AS event_type_filled,
  coalesce(CASE WHEN value < 10.0 THEN NULL ELSE value END, 0.0) AS value_filled
FROM events
""",
)
def q_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1/N2 — typed default fill (reference etl/etl.py:50-62); nulls are
    injected deterministically on both sides to exercise the fill."""
    e = _t(spark, sf_dir, "events")
    dirty = e.select(
        "event_id",
        F.nullif(F.col("event_type"), F.lit("error")).alias("event_type_filled"),
        F.when(F.col("value") < 10.0, None).otherwise(F.col("value")).alias(
            "value_filled"
        ),
    )
    return C.fill_defaults(dirty, {"event_type_filled": "UNKNOWN", "value_filled": 0.0})


@_register(
    "sanitize_numeric",
    sql="""
SELECT l_orderkey, l_linenumber,
  CAST(replace(replace(CAST(l_extendedprice AS VARCHAR), '.', ','), ',', '.') AS DOUBLE)
    AS price_normalized,
  CAST(regexp_replace(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) || '.000',
                      '[^0-9-]', '', 'g') AS BIGINT) AS qty_digits
FROM lineitem
""",
)
def q_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3/N4 — decimal-comma normalization + digit extraction
    (reference etl/transform_1.py:67,71). Dirty strings are manufactured
    from clean numerics identically on both sides."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.regexp_replace(F.col("l_extendedprice").cast("string"), r"\.", ",").alias(
            "price_dirty"
        ),
        F.concat(
            F.col("l_quantity").cast("long").cast("string"), F.lit(".000")
        ).alias("qty_dirty"),
    )
    out = C.normalize_decimal_comma(li, "price_dirty", output="price_normalized")
    out = C.digits_to_long(out, "qty_dirty", output="qty_digits")
    return out.select("l_orderkey", "l_linenumber", "price_normalized", "qty_digits")


@_register(
    "dedup_keep_first",
    sql="""
SELECT event_id, user_id, strftime(event_date, '%Y-%m-%d') AS event_date, value
FROM (
  SELECT event_id, user_id, CAST(ts AS DATE) AS event_date, value,
         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
  FROM events
) WHERE rn = 1
""",
)
def q_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2/W3/F2 — keyed dedup keeping first by a deterministic order
    (fixes the reference's monotonically_increasing_id order,
    etl/transform_1.py:82-84)."""
    e = _t(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    out = C.dedup_keep_first(e, keys=["user_id", "event_date"], order_by=["ts", "event_id"])
    return out.select(
        "event_id",
        "user_id",
        F.date_format("event_date", "yyyy-MM-dd").alias("event_date"),
        "value",
    )


@_register(
    "moving_average",
    sql="""
SELECT event_id, user_id, value,
  round(avg(value) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS avg_value_7
FROM events
""",
)
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — 7-row trailing moving average (reference etl/etl.py:70-76)."""
    e = _t(spark, sf_dir, "events")
    out = W.moving_average(
        e, value="value", keys=["user_id"], order_by=["ts", "event_id"], n=7
    )
    return out.select(
        "event_id", "user_id", "value", F.round("avg_value_7", 6).alias("avg_value_7")
    )


@_register(
    "group_total",
    sql="""
SELECT event_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date, event_type,
  round(sum(value) OVER (PARTITION BY CAST(ts AS DATE), event_type), 6)
    AS total_value_type_day
FROM events
""",
)
def q_group_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — whole-partition total attached to detail rows
    (reference etl/etl.py:78-83)."""
    e = _t(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    out = W.group_total(
        e, value="value", keys=["event_date", "event_type"], output="total_value_type_day"
    )
    return out.select(
        "event_id",
        F.date_format("event_date", "yyyy-MM-dd").alias("event_date"),
        "event_type",
        F.round("total_value_type_day", 6).alias("total_value_type_day"),
    )


@_register(
    "rolling_stats",
    sql="""
SELECT event_id, user_id, value,
  round(avg(value)    OVER win, 6) AS mean_value_7,
  round(median(value) OVER win, 6) AS median_value_7,
  round(stddev(value) OVER win, 6) AS std_value_7,
  max(value) OVER win AS max_value_7,
  min(value) OVER win AS min_value_7
FROM events
WINDOW win AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
)
def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 — trailing-7 stat bundle {mean, exact median, stddev, max, min}
    (reference etl/transform_1.py:93-99; exact median replaces
    percentile_approx for oracle parity — both variants exposed in the
    operator)."""
    e = _t(spark, sf_dir, "events")
    out = W.rolling_stats(
        e,
        value="value",
        keys=["user_id"],
        order_by=["ts", "event_id"],
        n=7,
        suffix="_value_7",
    )
    return out.select(
        "event_id",
        "user_id",
        "value",
        F.round("mean_value_7", 6).alias("mean_value_7"),
        F.round("median_value_7", 6).alias("median_value_7"),
        F.round("std_value_7", 6).alias("std_value_7"),
        "max_value_7",
        "min_value_7",
    )


@_register(
    "group_min_date",
    sql="""
SELECT event_id, user_id,
  strftime(min(CAST(ts AS DATE)) OVER (PARTITION BY user_id), '%Y-%m-%d')
    AS initial_date
FROM events
""",
)
def q_group_min_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 — per-key min date attached to rows (reference etl/transform_1.py:87-90)."""
    e = _t(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    out = W.group_min(e, "event_date", keys=["user_id"], output="initial_d")
    return out.select(
        "event_id",
        "user_id",
        F.date_format("initial_d", "yyyy-MM-dd").alias("initial_date"),
    )


@_register(
    "rank_in_group",
    sql="""
SELECT event_id, user_id, rn FROM (
  SELECT event_id, user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
  FROM events
) WHERE rn <= 3
""",
)
def q_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/F2 — rank in group + rank filter; also the top-k-per-group plan
    shape (WindowGroupLimit pushes the k-bound below the shuffle)."""
    e = _t(spark, sf_dir, "events")
    out = W.rank_in_group(e, keys=["user_id"], order_by=["ts", "event_id"], output="rn")
    return out.filter(F.col("rn") <= 3).select("event_id", "user_id", "rn")


@_register(
    "all_null_column_drop",
    sql="""
SELECT event_id, user_id, event_type, value FROM events
""",
)
def q_null_col_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/N5/A1 — all-null column drop (reference etl/transform_1.py:50-55):
    a ghost all-null column is injected and must be dropped; populated
    columns survive."""
    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    ghost = e.withColumn("ghost", F.lit(None).cast("string"))
    return C.drop_all_null_columns(ghost, essential=("event_id",))


# ==========================================================================
# Extension surface (SURVEY.md section 2.13 / build plan M7): joins, grouped
# aggregation, set ops, top-k, rollup, JSON extraction
# ==========================================================================


@_register(
    "tpch_q1_agg",
    sql="""
SELECT l_returnflag, l_linestatus,
  sum(l_quantity) AS sum_qty,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
    AS sum_disc_price_cents,
  round(avg(l_quantity), 6) AS avg_qty,
  round(avg(l_discount), 6) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped aggregation (TPC-H Q1 shape): hash aggregate with map-side
    partial agg; price sums as integer cents for cross-engine exactness
    (summation order is engine-dependent for doubles)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz")
    )
    cents = lambda c: F.round(c * 100).cast("long")  # noqa: E731
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.sum(cents(F.col("l_extendedprice"))).alias("sum_base_price_cents"),
        F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "sum_disc_price_cents"
        ),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@_register(
    "star_join_agg",
    sql="""
SELECT r.r_name, n.n_name,
  count(*) AS n_customers,
  CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
""",
)
def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema join: fact (customer) against broadcast dims (nation,
    region) — zero fact-side shuffles for the lookups; one agg exchange."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.joins import join_dims

    t = load_testdata(spark, sf_dir, ["customer", "nation", "region"])
    joined = join_dims(
        t["customer"],
        [(t["nation"], t["customer"].c_nationkey == t["nation"].n_nationkey)],
    )
    joined = join_dims(
        joined, [(t["region"], F.col("n_regionkey") == F.col("r_regionkey"))]
    )
    return joined.groupBy("r_name", "n_name").agg(
        F.count("*").alias("n_customers"),
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias("acctbal_cents"),
    )


@_register(
    "join_topk_revenue",
    sql="""
SELECT o.o_orderkey, strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
  CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT)
    AS revenue_cents
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus <> 'F'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue_cents DESC, o.o_orderkey
LIMIT 10
""",
)
def q_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join (shuffle on orderkey, AQE-planned) + grouped
    revenue + deterministic global top-k (TakeOrderedAndProject)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.joins import top_k

    t = load_testdata(spark, sf_dir, ["lineitem", "orders"])
    joined = t["lineitem"].join(
        t["orders"].filter(F.col("o_orderstatus") != "F"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    rev = joined.groupBy("o_orderkey", "o_orderdate").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
                "long"
            )
        ).alias("revenue_cents")
    )
    out = rev.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        "revenue_cents",
    )
    return top_k(out, [F.col("revenue_cents").desc(), F.col("o_orderkey")], 10)


@_register(
    "semi_join_customers",
    sql="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with at least one order."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.joins import semi_join

    t = load_testdata(spark, sf_dir, ["customer", "orders"])
    return semi_join(
        t["customer"],
        t["orders"].select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey",
    ).select("c_custkey", "c_name")


@_register(
    "anti_join_customers",
    sql="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
""",
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no order since 2001."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.joins import anti_join

    t = load_testdata(spark, sf_dir, ["customer", "orders"])
    recent = t["orders"].filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp_ntz")
    )
    return anti_join(
        t["customer"],
        recent.select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey",
    ).select("c_custkey", "c_name")


@_register(
    "set_ops",
    sql="""
SELECT 'union' AS op, c_custkey FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
  UNION SELECT c_custkey FROM customer WHERE c_acctbal > 5000
)
UNION ALL
SELECT 'intersect' AS op, c_custkey FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
  INTERSECT SELECT c_custkey FROM customer WHERE c_acctbal > 5000
)
UNION ALL
SELECT 'except' AS op, c_custkey FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
  EXCEPT SELECT c_custkey FROM customer WHERE c_acctbal > 5000
)
""",
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: union(distinct) / intersect / except, tagged."""
    c = load_testdata(spark, sf_dir, ["customer"])["customer"]
    a = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    tag = lambda df, t: df.select(F.lit(t).alias("op"), "c_custkey")  # noqa: E731
    return (
        tag(a.union(b).distinct(), "union")
        .unionAll(tag(a.intersect(b), "intersect"))
        .unionAll(tag(a.exceptAll(b).distinct(), "except"))
    )


@_register(
    "top_k_orders",
    sql="""
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
""",
)
def q_top_k_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: TakeOrderedAndProject (per-task heaps, no full sort)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.joins import top_k

    o = load_testdata(spark, sf_dir, ["orders"])["orders"]
    return top_k(
        o.select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        20,
    )


@_register(
    "rollup_agg",
    sql="""
SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup aggregation (hierarchical subtotals + grand total)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("sum_qty")
    )


@_register(
    "cube_agg",
    sql="""
SELECT o_orderstatus, o_orderpriority, count(*) AS n
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube aggregation (all grouping-set combinations)."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))


@_register(
    "json_extract_agg",
    sql="""
SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
  count(*) AS n_events,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY 1
""",
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction (events.props) + grouped agg."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.functions.json_props import json_get

    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("k", json_get("props", "k").cast("int"))
        .groupBy("k")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )


@_register(
    "variant_props_agg",
    sql="""
SELECT CAST(json_extract(props, '$.k') AS INT) % 10 AS k_mod,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(min(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS k_min,
  CAST(max(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS k_max,
  CAST(count(json_extract_string(props, '$.missing')) AS BIGINT) AS n_missing
FROM events
WHERE props IS NOT NULL
GROUP BY 1
""",
)
def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path end-to-end: ``parse_json`` lifts events.props
    into the binary VARIANT encoding once, then typed extraction
    (``variant_get`` int) and a missing-path probe (``try_variant_get``
    -> NULL, counted as 0) feed a grouped agg. VARIANT is the
    semi-structured scale story — parse once, shredded binary access per
    field instead of re-parsing the JSON string per extraction (the
    json_get variant above re-parses per call). Oracle: DuckDB
    json_extract over the same strings."""
    e = _t(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    v = e.select(F.parse_json("props").alias("v"))
    return (
        v.select(
            F.expr("variant_get(v, '$.k', 'int')").alias("k"),
            F.expr("try_variant_get(v, '$.missing', 'string')").alias("miss"),
        )
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.count("miss").cast("long").alias("n_missing"),
        )
    )


# ==========================================================================
# LLM-data-pipeline extension: text analysis, dedup family, similarity
# search (north star). Oracle SQL for hash-based operators replicates the
# md5-derived arithmetic exactly (both engines share md5).
# ==========================================================================

# DuckDB SQL fragments mirroring operators.text/dedup internals
_SQL_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
_SQL_TOKS = f"string_split({_SQL_NORM}, ' ')"
_SQL_H60 = "CAST(concat('0x', substring(md5({x}), 1, 15)) AS BIGINT)"
_SQL_SHINGLES3 = (
    "list_transform(generate_series(1, greatest(len(toks) - 2, 1)),"
    " i -> array_to_string(toks[i:i+2], ' '))"
)


@_register(
    "text_stats",
    sql=f"""
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars_calc,
  CAST(len({_SQL_TOKS}) AS BIGINT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS n_bpe_tokens
FROM documents
""",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex tokens + char length."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import add_token_stats

    d = _t(spark, sf_dir, "documents")
    return add_token_stats(d).select(
        "doc_id", "n_chars_calc", "n_ws_tokens", "n_bpe_tokens"
    )


_SQL_QUALITY = f"""
WITH base AS (
  SELECT doc_id, text, {_SQL_TOKS} AS toks,
    length(text) AS n_chars,
    length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct
  FROM documents
), r AS (
  SELECT doc_id, len(toks) AS n_tok, n_chars, n_punct,
    len(list_filter(toks, t -> list_contains(
      ['the','a','of','and','to','in','is','it','that','for'], t))) AS n_stop,
    list_sum(list_transform(toks, t -> length(t))) AS sum_wl
  FROM base
)
SELECT doc_id,
  round(n_punct / greatest(n_chars, 1), 6) AS punct_ratio,
  round(n_stop / greatest(n_tok, 1), 6) AS stopword_ratio,
  round(sum_wl / greatest(n_tok, 1), 6) AS mean_word_len,
  round(least(n_tok / 100.0, 1.0) * 0.4
      + least((n_stop / greatest(n_tok, 1)) * 5.0, 1.0) * 0.4
      + (1.0 - least((n_punct / greatest(n_chars, 1)) * 4.0, 1.0)) * 0.2, 6)
    AS quality_score
FROM r
"""


@_register("text_quality", sql=_SQL_QUALITY)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: punctuation/stopword ratios, mean word length,
    composite score (Gopher/C4-style heuristics)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import add_quality_score

    d = _t(spark, sf_dir, "documents")
    return add_quality_score(d).select(
        "doc_id", "punct_ratio", "stopword_ratio", "mean_word_len", "quality_score"
    )


def _langid_sql() -> str:
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import STOPWORDS

    score_exprs = []
    for lang, sw in STOPWORDS.items():
        lst = "[" + ",".join(f"'{w}'" for w in sw) + "]"
        score_exprs.append(
            f"len(list_filter(toks, t -> list_contains({lst}, t)))"
            f" / greatest(len(toks), 1) AS s_{lang}"
        )
    case = " ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in sorted(STOPWORDS)
    )
    rounded = ", ".join(f"round(s_{lang}, 6) AS score_{lang}" for lang in STOPWORDS)
    return f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {', '.join(score_exprs)} FROM t),
b AS (SELECT *, greatest(s_en, s_es, s_fr, s_de, s_pt) AS best FROM s)
SELECT doc_id, {rounded},
  CASE WHEN best > 0 THEN (CASE {case} END) ELSE 'unknown' END AS lang_pred
FROM b
"""


@_register("language_id", sql=_langid_sql())
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID: stopword-overlap ratio argmax (deterministic tiebreak)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import add_language_id

    d = _t(spark, sf_dir, "documents")
    return add_language_id(d).select(
        "doc_id", "score_en", "score_es", "score_fr", "score_de", "score_pt", "lang_pred"
    )


@_register(
    "doc_fingerprint",
    sql=f"""
SELECT doc_id, md5({_SQL_NORM}) AS fingerprint,
  {_SQL_H60.format(x=_SQL_NORM)} AS fingerprint60
FROM documents
""",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 content hash + 60-bit numeric key."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import add_fingerprint

    d = _t(spark, sf_dir, "documents")
    return add_fingerprint(d).select("doc_id", "fingerprint", "fingerprint60")


@_register(
    "exact_dedup_docs",
    sql=f"""
SELECT md5({_SQL_NORM}) AS fingerprint, min(doc_id) AS doc_id,
  count(*) AS n_copies
FROM documents GROUP BY 1
""",
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content fingerprint, keep smallest id."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


@_register(
    "ngram_jaccard_topk",
    sql=f"""
WITH sh0 AS (
  SELECT doc_id, {_SQL_SHINGLES3} AS shingles
  FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
), sh AS (
  SELECT doc_id, {_SQL_H60.format(x='s')} AS sh
  FROM (SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh0)
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common,
  round(n_common / (sa.sz + sb.sz - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
ORDER BY jaccard DESC, id_a, id_b LIMIT 20
""",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity, top-20 pairs (inverted-index join —
    no cross product; the scale guard max_shingle_freq is exercised in
    tests)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.joins import top_k

    pairs = ngram_jaccard_pairs(_t(spark, sf_dir, "documents"))
    return top_k(
        pairs, [F.col("jaccard").desc(), F.col("id_a"), F.col("id_b")], 20
    )


def _minhash_sql(num_perm: int = 16) -> str:
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import (
        MINHASH_P,
        _minhash_params,
    )

    mins = ", ".join(
        f"min((h % {MINHASH_P} * {a} + {b}) % {MINHASH_P}) AS mh_{i}"
        for i, (a, b) in enumerate(_minhash_params(num_perm))
    )
    return f"""
WITH sh0 AS (
  SELECT doc_id, {_SQL_SHINGLES3} AS shingles
  FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
), h AS (
  SELECT doc_id, {_SQL_H60.format(x='s')} AS h
  FROM (SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh0)
)
SELECT doc_id, {mins} FROM h GROUP BY doc_id
"""


@_register("minhash_signatures", sql=_minhash_sql())
def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (16 universal hashes over 3-gram shingles) —
    value-level oracle check of the signature math itself."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import (
        minhash_signatures,
    )

    return minhash_signatures(_t(spark, sf_dir, "documents"))


def _simhash_sql(bits: int = 60) -> str:
    bsums = ", ".join(f"sum((th >> {i}) & 1) AS b{i}" for i in range(bits))
    terms = " + ".join(
        f"(CASE WHEN b{i} * 2 > n THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
), h AS (
  SELECT doc_id, {_SQL_H60.format(x='tok')} AS th FROM toks
), agg AS (
  SELECT doc_id, count(*) AS n, {bsums} FROM h GROUP BY doc_id
)
SELECT doc_id, {terms} AS simhash FROM agg
"""


@_register("simhash_docs", sql=_simhash_sql())
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (60-bit, per-bit token majority) — value-level oracle check."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"))


# LSH-based near-dup: every semantics-bearing hash is md5-derived and the
# banding is plain integer arithmetic, so the FULL pipelines (candidate
# generation included) are replicated in DuckDB SQL below — value-level
# oracles, not rows-only checks. Only the ANN top-k probes (whose output
# depends on which buckets a query probes) stay rows-only, with recall
# pytest-verified against brute force.


def _minhash_lsh_sql(
    num_perm: int = 16, bands: int = 8, threshold: float = 0.2
) -> str:
    """DuckDB replica of minhash_near_dup_pairs: distinct shingle hashes ->
    16 universal-hash minima -> md5 band hash over comma-joined band values
    -> bucket self-join -> exact Jaccard on the shingle-hash sets."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import (
        MINHASH_P,
        _minhash_params,
    )

    rows = num_perm // bands
    mins = ", ".join(
        f"min((h % {MINHASH_P} * {a} + {b}) % {MINHASH_P}) AS mh_{i}"
        for i, (a, b) in enumerate(_minhash_params(num_perm))
    )
    band_rows = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        + _SQL_H60.format(
            x="concat_ws(',', "
            + ", ".join(f"mh_{b * rows + r}" for r in range(rows))
            + ")"
        )
        + " AS band_hash FROM sig"
        for b in range(bands)
    )
    jac = "round(m.n_common / (sa.sz + sb.sz - m.n_common), 6)"
    return f"""
WITH sh0 AS (
  SELECT doc_id, {_SQL_SHINGLES3} AS shingles
  FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
), h AS (
  SELECT DISTINCT doc_id, {_SQL_H60.format(x='s')} AS h
  FROM (SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh0)
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM h GROUP BY doc_id
), sig AS (
  SELECT doc_id, {mins} FROM h GROUP BY doc_id
), bands AS (
  {band_rows}
), cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r
    ON l.band_id = r.band_id AND l.band_hash = r.band_hash
   AND l.doc_id < r.doc_id
), common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM h a JOIN h b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b, {jac} AS jaccard
FROM cand c
JOIN common m ON m.id_a = c.id_a AND m.id_b = c.id_b
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE {jac} >= {threshold}
"""


@_register("minhash_lsh_near_dup", sql=_minhash_lsh_sql())
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (banded candidates, exact-Jaccard verify)
    — full-pipeline value oracle (md5 band hash, no engine-specific hash)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import (
        minhash_near_dup_pairs,
    )

    return minhash_near_dup_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.2, num_perm=16, bands=8
    )


def _simhash_near_dup_sql(
    bands: int = 4, max_hamming: int = 3, bits: int = 60
) -> str:
    """DuckDB replica of simhash_near_dup_pairs: 60-bit SimHash (per-bit
    token majority) -> 15-bit chunks -> bucket self-join -> exact hamming
    popcount. Pure integer arithmetic after md5, so bit-identical."""
    width = bits // bands
    mask = (1 << width) - 1
    bsums = ", ".join(f"sum((th >> {i}) & 1) AS b{i}" for i in range(bits))
    terms = " + ".join(
        f"(CASE WHEN b{i} * 2 > n THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(bits)
    )
    chunk_rows = "\n  UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS chunk_id,"
        f" (simhash >> {b * width}) & {mask} AS chunk_val FROM sh"
        for b in range(bands)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
), h AS (
  SELECT doc_id, {_SQL_H60.format(x='tok')} AS th FROM toks
), agg AS (
  SELECT doc_id, count(*) AS n, {bsums} FROM h GROUP BY doc_id
), sh AS (
  SELECT doc_id, {terms} AS simhash FROM agg
), chunks AS (
  {chunk_rows}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM chunks a JOIN chunks b
    ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
   AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
"""


@_register("simhash_near_dup", sql=_simhash_near_dup_sql())
def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (banded hamming<=3) — full-pipeline value
    oracle (banding is exact bit arithmetic on the md5-derived simhash)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    return simhash_near_dup_pairs(_t(spark, sf_dir, "documents"))


@_register(
    "embedding_cosine_topk",
    sql="""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
c AS (
  SELECT vec_id,
    round(list_dot_product(CAST(embedding AS DOUBLE[]), qv)
      / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
       * sqrt(list_dot_product(qv, qv))), 6) AS cos
  FROM embeddings, q
)
SELECT vec_id, cos FROM c ORDER BY cos DESC, vec_id LIMIT 10
""",
)
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k against the vec_id=0 query vector
    (broadcast literal; TakeOrderedAndProject top-k)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return cosine_topk(emb, list(qv), k=10)


@_register(
    "embedding_topk_pairs",
    sql=f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
    / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
     * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6)
    AS cos
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
ORDER BY cos DESC, id_a, id_b LIMIT 20
""",
)
def q_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine top-20 — the small-sf correctness oracle for
    near-dup detection (the scale path is the LSH variant below; all-pairs
    is O(n^2) and only run at oracle scale)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.similarity import (
        all_pairs_cosine_topk,
    )

    return all_pairs_cosine_topk(_t(spark, sf_dir, "embeddings"), k=20)


@_register(
    "embedding_ann_lsh",
    sql="""
WITH dims AS (
  SELECT unnest(range(0, (SELECT CAST(len(embedding) AS BIGINT)
                          FROM embeddings WHERE vec_id = 0))) AS d
),
planes AS (
  SELECT p, d,
    CAST(concat('0x', substr(md5('hp:' || p || ':' || d), 1, 15)) AS BIGINT)
      % 2000000 - 1000000 AS w
  FROM (SELECT unnest(range(0, 16)) AS p), dims
),
qz AS (
  SELECT vec_id, d,
    CAST(floor(CAST(embedding[CAST(d AS INT) + 1] AS DOUBLE) * 1000000) AS BIGINT) AS qv
  FROM embeddings, dims
),
dots AS (
  SELECT qz.vec_id, pl.p, sum(qz.qv * pl.w) AS dot
  FROM qz JOIN planes pl USING (d)
  GROUP BY qz.vec_id, pl.p
),
sigs AS (
  SELECT vec_id,
    CAST(sum(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << CAST(p AS INT)
             ELSE 0 END) AS BIGINT) AS sig
  FROM dots GROUP BY vec_id
),
qsig AS (SELECT sig AS s0 FROM sigs WHERE vec_id = 0),
qv AS (SELECT CAST(embedding AS DOUBLE[]) AS e0 FROM embeddings WHERE vec_id = 0),
probed AS (
  SELECT e.vec_id,
    round(list_dot_product(CAST(e.embedding AS DOUBLE[]), qv.e0)
      / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                               CAST(e.embedding AS DOUBLE[])))
       * sqrt(list_dot_product(qv.e0, qv.e0))), 6) AS cos
  FROM embeddings e JOIN sigs s ON e.vec_id = s.vec_id, qsig, qv
  WHERE bit_count(xor(s.sig, qsig.s0)) <= 4
)
SELECT vec_id, cos FROM probed ORDER BY cos DESC, vec_id LIMIT 10
""",
)
def q_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH multi-probe. EXACTLY
    oracle-checkable despite being 'approximate': the hyperplanes are
    md5-derived integers and the signature kernel is pure int64 arithmetic
    (operators/similarity.py LSH_QUANT), so the probed set — and therefore
    the final re-ranked top-k — is bit-identical in DuckDB. Recall vs
    brute force is additionally pytest-verified."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.similarity import (
        lsh_bucket_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return lsh_bucket_topk(emb, list(qv), k=10)


# ==========================================================================
# Multimodal plumbing (north star; operators/multimodal.py)
# ==========================================================================


@_register(
    "multimodal_features",
    sql="""
SELECT doc_id AS asset_id, 'image' AS modality,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  round(list_avg(list_transform(range(1, length(text)+1), i -> unicode(text[i]))), 6)
    AS byte_mean
FROM documents
""",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature-extraction plumbing: documents wrapped as binary
    assets, Arrow-batched mapInPandas feature pass (decode stubbed with the
    deterministic fake). Byte stats are value-checked against the oracle
    (docs are ASCII, so UTF-8 bytes == code points); entropy/feature vector
    are pytest-verified."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.multimodal import (
        documents_as_assets,
        extract_features,
    )

    assets = documents_as_assets(_t(spark, sf_dir, "documents"))
    return extract_features(assets, fake_decoder=True).select(
        "asset_id", "modality", "n_bytes", "byte_mean"
    )


@_register(
    "multimodal_frame_sample",
    sql="""
SELECT d.doc_id AS asset_id, 'image' AS modality,
  CAST(r.i AS INT) AS frame_idx,
  CAST(r.i * 1024 AS BIGINT) AS byte_offset
FROM documents d, range(0, 8) r(i)
WHERE r.i * 1024 <= greatest(octet_length(encode(d.text)) - 1, 0)
""",
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing (video stand-in): byte-offset frames per
    asset via built-in sequence+posexplode — schema, partitioning and batch
    shape of the real frame sampler, value-checked end-to-end."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.multimodal import (
        documents_as_assets,
        sample_frames,
    )

    assets = documents_as_assets(_t(spark, sf_dir, "documents"))
    return sample_frames(assets, every_n_bytes=1024, max_frames=8)


@_register(
    "ppm_decode_gray_stats",
    sql="""
WITH px AS (
  SELECT d.doc_id,
    (((d.doc_id*7 + (3*p.i)*13) % 256)
     + ((d.doc_id*7 + (3*p.i+1)*13) % 256)
     + ((d.doc_id*7 + (3*p.i+2)*13) % 256)) // 3 AS gray
  FROM documents d, range(0, 16) p(i)
), per_asset AS (
  SELECT doc_id, sum(gray) AS gs, min(gray) AS gmin, max(gray) AS gmax
  FROM px GROUP BY doc_id
)
SELECT CAST(doc_id % 8 AS BIGINT) AS bucket,
  CAST(count(*) AS BIGINT) AS n_assets,
  CAST(sum(gs) AS BIGINT) AS sum_gray,
  CAST(min(gmin) AS BIGINT) AS min_gray,
  CAST(max(gmax) AS BIGINT) AS max_gray
FROM per_asset GROUP BY 1
""",
)
def q_ppm_decode_gray_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end to end (operators/multimodal.py decode_ppm):
    deterministic binary-PPM (P6) assets are ENCODED executor-side from a
    closed form (raster byte i = (doc_id*7 + i*13) % 256, through the real
    encoder), then DECODED by the real pure-Python kernel — header
    tokenizer, raster reshape, integer grayscale — inside an
    Arrow-batched mapInPandas, rolled up per bucket. The DuckDB oracle
    replays the closed form through the SAME grayscale arithmetic, so the
    value hash attests the decode itself, not just the plumbing: a
    kernel that misparsed the header or mis-strode the raster diverges
    immediately. Closes the one multimodal family that was previously a
    stubbed boundary. Scale shape: generation and decode are narrow
    per-row maps (no shuffle until the final 8-group rollup); payloads
    never leave the executor."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.multimodal import (
        ppm_gray_stats,
        synth_ppm_assets,
    )

    docs = _t(spark, sf_dir, "documents")
    stats = ppm_gray_stats(synth_ppm_assets(docs, width=4, height=4))
    return stats.groupBy((F.col("asset_id") % 8).cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_assets"),
        F.sum("gray_sum").cast("long").alias("sum_gray"),
        F.min("gray_min").cast("long").alias("min_gray"),
        F.max("gray_max").cast("long").alias("max_gray"),
    )


@_register(
    "wav_pcm_decode_stats",
    sql="""
WITH smp AS (
  SELECT d.doc_id, ((d.doc_id*31 + r.i*17) % 2048) - 1024 AS s
  FROM documents d, range(0, 64) r(i)
), per_asset AS (
  SELECT doc_id, sum(s*s) AS energy, max(abs(s)) AS peak, count(*) AS n_frames
  FROM smp GROUP BY doc_id
)
SELECT CAST(doc_id % 8 AS BIGINT) AS bucket,
  CAST(count(*) AS BIGINT) AS n_assets,
  CAST(sum(n_frames) AS BIGINT) AS sum_frames,
  CAST(sum(energy) AS BIGINT) AS sum_energy,
  CAST(max(peak) AS BIGINT) AS max_peak
FROM per_asset GROUP BY 1
""",
)
def q_wav_pcm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end to end (operators/multimodal.py
    decode_wav_pcm): deterministic WAV/PCM16 mono assets are written
    executor-side through the genuine stdlib ``wave`` encoder (RIFF
    container, fmt chunk, little-endian samples from a closed form),
    then parsed back by the real ``wave``-based kernel inside
    Arrow-batched mapInPandas — frame count from the container header,
    exact int64 signal energy and peak from the decoded samples. The
    oracle replays the sample formula in SQL, so a decoder that
    misread the sample width, endianness, or frame count diverges in
    the value hash. Together with ppm_decode_gray_stats this makes
    image AND audio real-decode families, not stubs."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.multimodal import (
        synth_wav_assets,
        wav_pcm_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    stats = wav_pcm_stats(synth_wav_assets(docs, n_samples=64, framerate=8000))
    return stats.groupBy((F.col("asset_id") % 8).cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_assets"),
        F.sum("n_frames").cast("long").alias("sum_frames"),
        F.sum("energy").cast("long").alias("sum_energy"),
        F.max("peak").cast("long").alias("max_peak"),
    )


@_register(
    "winnowing_fingerprints",
    sql=f"""
WITH g0 AS (
  SELECT doc_id, norm,
    unnest(generate_series(1, greatest(length(norm) - 7, 1))) AS pos
  FROM (SELECT doc_id, {_SQL_NORM} AS norm FROM documents)
), grams AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
    CAST(concat('0x', substring(md5(substring(norm, CAST(pos AS INT), 8)), 1, 10))
         AS BIGINT) AS h40
  FROM g0
), keys AS (
  SELECT doc_id, pos, h40 * 1048576 + (1048575 - pos) AS key FROM grams
), sel AS (
  SELECT doc_id, pos,
    min(key) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS k
  FROM keys
)
SELECT DISTINCT doc_id, CAST(1048575 - (k & 1048575) AS BIGINT) AS pos,
  k >> 20 AS fp
FROM sel WHERE pos >= 4
""",
)
def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing fingerprints (k=8 char-grams, window=4) —
    rolling-hash document fingerprinting, value-checked end-to-end
    (selected fingerprint set + positions)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import (
        winnowing_fingerprints,
    )

    return winnowing_fingerprints(_t(spark, sf_dir, "documents"))


def _lsh_near_dup_ctes(
    dim: int = 64,
    bands: int | None = None,
    threshold: float = 0.4,
) -> str:
    """CTE chain (no leading WITH) replicating embedding_near_dup_pairs in
    DuckDB, ending in ``lsh_pairs(id_a, id_b, cos)``. The signature is
    integer-exact by construction (similarity.LSH_QUANT): hyperplane
    components are md5-derived integers generated IN SQL from the same
    'hp:p:d' seed strings, the vector is quantized floor(v*1e6), and the
    sign bit is an int comparison — no float summation-order dependence, so
    candidate sets are bit-identical across engines. The verify cosine uses
    the same round-6 idiom as embedding_near_dup_exact. Shared by the
    near-dup query oracle and the cluster-pipeline (CC) oracles.

    The band WIDTH is derived from count(*) IN SQL with the same
    integer-exact rule as the operator's corpus-sized default
    (similarity.lsh_band_width: smallest w in [8,30] with 2^w * 16 >= n),
    and — when ``bands`` is None, mirroring the operator's default — the
    band COUNT comes from a width->bands CASE table generated HERE by
    calling similarity.lsh_bands_for_recall(threshold, w) for every
    possible width: the recall formula's float math (acos/log) runs once
    in Python and both engines consume the same integer literals, so no
    cross-engine libm ulp difference can flip a band count. n_planes =
    bands * width, so the oracle tracks the Spark side's auto default —
    occupancy-bound width AND recall-targeted band count — at ANY corpus
    size and threshold. Parity on the dynamic (n > 4096) branch is pinned
    by tests/test_llm_ops.py::test_lsh_oracle_dynamic_width_parity."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.similarity import (
        LSH_QUANT,
        lsh_bands_for_recall,
    )

    max_width = 30
    if bands is None:
        width_bands = {
            w: lsh_bands_for_recall(threshold, w) for w in range(8, max_width + 1)
        }
        bands_expr = (
            "CASE width "
            + " ".join(f"WHEN {w} THEN {b}" for w, b in width_bands.items())
            + " END"
        )
        max_planes = max(w * b for w, b in width_bands.items())
    else:
        bands_expr = str(bands)
        max_planes = bands * max_width
    plane = _SQL_H60.format(x="concat('hp:', p, ':', d)")
    cos = (
        "round(list_dot_product(a.ev, b.ev)"
        " / (sqrt(list_dot_product(a.ev, a.ev))"
        " * sqrt(list_dot_product(b.ev, b.ev))), 6)"
    )
    return f"""params AS (
  SELECT width, {bands_expr} AS bands FROM (
    SELECT greatest(8, least({max_width}, coalesce(
      (SELECT min(w) FROM range(8, {max_width + 1}) tw(w)
        WHERE (CAST(1 AS BIGINT) << w) * 16 >= (SELECT count(*) FROM embeddings)),
      {max_width}))) AS width
  )
), q AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
    list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {LSH_QUANT}) AS BIGINT)) AS qv
  FROM embeddings
), planes AS (
  SELECT p, list({plane} % 2000000 - 1000000 ORDER BY d) AS sv
  FROM range({max_planes}) tp(p), range({dim}) td(d), params
  WHERE p < params.bands * params.width
  GROUP BY p
), bits AS (
  SELECT vec_id, p // pr.width AS band_id,
    CASE WHEN list_dot_product(qv, sv) >= 0
         THEN CAST(1 AS BIGINT) << (p % pr.width) ELSE 0 END AS w
  FROM q, planes, params pr
), bandvals AS (
  SELECT vec_id, band_id, sum(w) AS band_val
  FROM bits GROUP BY vec_id, band_id
), cand AS (
  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
  FROM bandvals l JOIN bandvals r
    ON l.band_id = r.band_id AND l.band_val = r.band_val
   AND l.vec_id < r.vec_id
), lsh_pairs AS (
  SELECT c.id_a, c.id_b, {cos} AS cos
  FROM cand c JOIN q a ON a.vec_id = c.id_a JOIN q b ON b.vec_id = c.id_b
  WHERE {cos} >= {threshold}
)"""


def _embedding_near_dup_sql(
    dim: int = 64,
    bands: int | None = None,
    threshold: float = 0.4,
) -> str:
    """DuckDB replica of embedding_near_dup_pairs (see _lsh_near_dup_ctes)."""
    return f"""
WITH {_lsh_near_dup_ctes(dim, bands, threshold)}
SELECT id_a, id_b, cos FROM lsh_pairs
"""


@_register("embedding_near_dup", sql=_embedding_near_dup_sql())
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: hyperplane-LSH banded candidates,
    exact cosine verify. The operator's DEFAULT path corpus-sizes the band
    width (``lsh_band_width``: smallest w in [8,30] with 2^w * 16 >= n)
    AND recall-targets the band count (``lsh_bands_for_recall(threshold,
    width)``, 64-band cap) — the oracle SQL derives the SAME width from
    count(*) and the SAME band count from a width->bands CASE table
    generated by the same Python function, so the two engines track each
    other at any corpus size (dynamic-branch parity pinned on a synthetic
    n=8192 corpus). Full-pipeline value oracle — the SQL regenerates the
    same md5-derived planes and integer sign bits, so even the
    approximate candidate stage matches bit-for-bit. Threshold 0.4 here
    because testdata embeddings are near-orthogonal (max pairwise cos
    ~0.5): the oracle row set is non-trivial instead of vacuously empty
    (the band count consequently sits at the 64-band cap — below LSH's
    ~0.8 sweet spot the cap, not the miss target, bounds the cost)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    return embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4
    )


@_register(
    "embedding_near_dup_exact",
    sql="""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
    / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
     * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6)
    AS cos
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
    / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
     * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6)
      >= 0.4
""",
)
def q_embedding_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding near-dup (ALL pairs with rounded cosine >= 0.4,
    one matmul per cell of the cogroup pair grid) — the value-checked
    ground truth for the LSH scale path above; threshold applied to the
    6-decimal-rounded cosine on both engines so the cut boundary is
    identical. (Testdata embeddings are near-orthogonal random vectors —
    max pairwise cos ~0.5 — so the threshold sits where a few hundred
    pairs exist to value-check.)"""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.similarity import (
        exact_near_dup_pairs,
    )

    return exact_near_dup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.4)


# ==========================================================================
# Extension: as-of join, time-window aggs, skew-salted agg
# ==========================================================================


@_register(
    "asof_join_events",
    sql="""
WITH clicks AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'click'
), views AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
    max(event_id) AS view_id, max_by(value, event_id) AS vval
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
)
SELECT c.event_id, c.user_id, v.view_id,
  round(v.vval, 6) AS view_value
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts >= v.ts
""",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click joined to the user's latest view at-or-before
    its timestamp (union-sort formulation — one exchange, no range blowup;
    oracle is DuckDB's native ASOF JOIN)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("view_id"),
            F.expr("max_by(value, event_id)").alias("vval"),
        )
    )
    out = asof_join(
        clicks, views, on="user_id", ts_col="ts", right_value_cols=["view_id", "vval"]
    )
    return out.select(
        "event_id", "user_id", "view_id", F.round("vval", 6).alias("view_value")
    )


@_register(
    "asof_join_tolerance",
    sql="""
WITH clicks AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'click'
), views AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
    max(event_id) AS view_id, max_by(value, event_id) AS vval
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
)
SELECT c.event_id, c.user_id,
  CASE WHEN v.ts >= c.ts - INTERVAL '24 hours' THEN v.view_id END AS view_id,
  CASE WHEN v.ts >= c.ts - INTERVAL '24 hours' THEN round(v.vval, 6) END
    AS view_value
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts >= v.ts
""",
)
def q_asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded as-of join (pandas ``merge_asof(tolerance=...)``
    semantics): each click joined to the user's latest view at-or-before
    its timestamp ONLY if that view is at most 24 hours old — a stale
    snapshot is no match at all (the whole value struct nulls together).
    The freshness gate is a post-carry map-side projection on the same
    union-sort plan: one exchange, one sort, no second join. The median
    click->view gap in the fixture is ~35h, so the 24h bound genuinely
    splits matched/unmatched. Oracle: DuckDB native ASOF JOIN + CASE."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("view_id"),
            F.expr("max_by(value, event_id)").alias("vval"),
        )
    )
    out = asof_join(
        clicks,
        views,
        on="user_id",
        ts_col="ts",
        right_value_cols=["view_id", "vval"],
        tolerance="24 HOURS",
    )
    return out.select(
        "event_id", "user_id", "view_id", F.round("vval", 6).alias("view_value")
    )


@_register(
    "tumbling_window_agg",
    sql="""
SELECT strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)),
                '%Y-%m-%d %H:%M:%S') AS window_start,
  event_type, count(*) AS n_events,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events GROUP BY 1, 2
""",
)
def q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (batch twin of the streaming
    windowed agg; F.window vs time_bucket oracle)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.windows import tumbling_agg

    ev = _t(spark, sf_dir, "events")
    out = tumbling_agg(
        ev,
        "ts",
        "1 hour",
        keys=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        ],
    )
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value_cents",
    )


@_register(
    "session_window_agg",
    sql="""
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
), lagged AS (
  SELECT user_id, ts,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
              < INTERVAL 10 MINUTE
         THEN 0 ELSE 1 END AS new_sess
  FROM e
), isl AS (
  SELECT user_id, ts,
    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM lagged
)
SELECT user_id,
  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
  count(*) AS n_events
FROM isl GROUP BY user_id, sid
""",
)
def q_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window aggregation, 10-minute gap (batch twin of the
    streaming session window; oracle is the classic gaps-and-islands SQL)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.windows import session_agg

    ev = _t(spark, sf_dir, "events")
    out = session_agg(
        ev, "ts", "10 minutes", keys=["user_id"],
        aggs=[F.count(F.lit(1)).alias("n_events")],
    )
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        "n_events",
    )


@_register(
    "skew_salted_agg",
    sql="""
SELECT event_type, count(*) AS n_events,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY 1
""",
)
def q_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over the skewed low-cardinality
    event_type key — value-identical to a plain groupBy (the oracle), but
    phase 1 spreads each hot key over 32 salt buckets."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.joins import salted_agg

    ev = _t(spark, sf_dir, "events").withColumn(
        "value_cents", F.round(F.col("value") * 100).cast("long")
    )
    return salted_agg(
        ev,
        ["event_type"],
        [("count", "*", "n_events"), ("sum", "value_cents", "sum_cents")],
        salt_source="event_id",
    )


@_register(
    "skew_salted_join",
    sql="""
WITH fact AS (
  SELECT CASE WHEN user_id % 10 < 9 THEN -1 ELSE user_id END AS hot_key,
         CAST(round(value * 100) AS BIGINT) AS value_cents
  FROM events
), dim AS (
  SELECT DISTINCT
    CASE WHEN user_id % 10 < 9 THEN -1 ELSE user_id END AS hot_key,
    CASE WHEN user_id % 10 < 9 THEN 'hot' ELSE 'cold' END AS tier
  FROM events
)
SELECT tier, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(sum(value_cents) AS BIGINT) AS sum_cents
FROM fact JOIN dim USING (hot_key)
GROUP BY tier
ORDER BY tier
""",
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join (operators/joins.py salted_join) over an
    engineered 90%-hot key: ~90% of events collapse onto hot_key=-1, the
    single-reducer straggler shape. The salt splits the hot key across
    16 sub-keys (left hashes to ONE salt, dim rows replicate across all
    16), the join shuffles on (key, salt), and the oracle is the PLAIN
    join — salting must be invisible in the result, which is the whole
    contract (the value hash catches a dropped or double-paired row
    immediately). AQE's skew-join split is the first-line fix for batch
    skew (pinned separately by test_aqe_skew_join_splits_hot_partition);
    the explicit operator is for the cases AQE can't touch —
    stream-static joins and salt-carrying downstream aggregates."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.joins import salted_join

    ev = _t(spark, sf_dir, "events")
    hot = F.when(F.col("user_id") % 10 < 9, F.lit(-1).cast("long")).otherwise(
        F.col("user_id")
    )
    fact = ev.select(
        hot.alias("hot_key"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    dim = (
        ev.select(
            hot.alias("hot_key"),
            F.when(F.col("user_id") % 10 < 9, F.lit("hot"))
            .otherwise(F.lit("cold"))
            .alias("tier"),
        )
        .distinct()
    )
    return (
        salted_join(fact, dim, on="hot_key", salt_buckets=16)
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("value_cents").alias("sum_cents"),
        )
        .orderBy("tier")
    )


def _corpus_clean_sql() -> str:
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import STOPWORDS

    en = "[" + ",".join(f"'{w}'" for w in STOPWORDS["en"]) + "]"
    score_exprs = ", ".join(
        "len(list_filter(toks, t -> list_contains(["
        + ",".join(f"'{w}'" for w in sw)
        + f"], t))) / greatest(len(toks), 1) AS s_{lang}"
        for lang, sw in STOPWORDS.items()
    )
    case = " ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in sorted(STOPWORDS)
    )
    return f"""
WITH base AS (
  SELECT doc_id, {_SQL_NORM} AS norm, {_SQL_TOKS} AS toks,
    length(text) AS n_chars,
    length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct
  FROM documents
), r AS (
  SELECT doc_id, norm, len(toks) AS n_tok, n_chars, n_punct,
    len(list_filter(toks, t -> list_contains({en}, t))) AS n_stop,
    {score_exprs}
  FROM base
), q AS (
  SELECT *,
    round(least(n_tok / 100.0, 1.0) * 0.4
        + least((n_stop / greatest(n_tok, 1)) * 5.0, 1.0) * 0.4
        + (1.0 - least((n_punct / greatest(n_chars, 1)) * 4.0, 1.0)) * 0.2, 6)
      AS quality_score,
    greatest(s_en, s_es, s_fr, s_de, s_pt) AS best
  FROM r
), f AS (
  SELECT doc_id, norm, n_tok, quality_score,
    CASE WHEN best > 0 THEN (CASE {case} END) ELSE 'unknown' END AS lang_pred
  FROM q
  WHERE quality_score >= 0.5 AND n_tok BETWEEN 10 AND 1000
), d AS (
  SELECT *, row_number() OVER (PARTITION BY md5(norm) ORDER BY doc_id) AS rn
  FROM f WHERE lang_pred = 'en'
)
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_ws_tokens, quality_score, lang_pred
FROM d WHERE rn = 1
"""


@_register("corpus_clean_pipeline", sql=_corpus_clean_sql())
def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star composite: the canonical LLM training-data cleaning
    pipeline — token stats -> quality score -> language ID -> filters
    (quality >= 0.5, 10..1000 tokens, English) -> exact dedup keeping the
    lowest doc_id per content fingerprint. One declarative plan: the
    stats/score/lang stages fuse into a single projection over the scan;
    the only shuffle is the dedup's (and its key is the 32-byte digest,
    never the document body)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.cleaning import (
        dedup_keep_first,
    )
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import (
        add_fingerprint,
        add_language_id,
        add_quality_score,
        add_token_stats,
    )

    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import ws_tokens

    # tokenize the corpus ONCE; stats/quality/language all read the shared
    # array column instead of re-splitting the text per stage. spread()
    # BEFORE tokenizing: projections stay where they are written, so a
    # tokenize placed below the ops' internal spread exchange would run
    # in the scan stage — one task on a single-split fixture corpus (r16
    # profile: 2.6 s serial). The ops' own spread() calls then see the
    # existing full-width repartition and no-op (util.spread).
    from fiap_machine_learning_tech_challenge_2_etl_spark.util import spread

    docs = spread(_t(spark, sf_dir, "documents"), by="doc_id").withColumn(
        "__toks", ws_tokens("text")
    )
    d = add_language_id(
        add_quality_score(
            add_token_stats(docs, toks_col="__toks"), toks_col="__toks"
        ),
        toks_col="__toks",
    ).drop("__toks")
    filt = d.filter(
        (F.col("quality_score") >= 0.5)
        & F.col("n_ws_tokens").between(10, 1000)
        & (F.col("lang_pred") == "en")
    )
    ded = dedup_keep_first(add_fingerprint(filt), ["fingerprint"], ["doc_id"])
    return ded.select("doc_id", "n_ws_tokens", "quality_score", "lang_pred")


@_register(
    "range_join_shipments",
    sql="""
WITH iv AS (
  SELECT o_orderkey,
    CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS start_day,
    CAST(o_orderdate AS DATE) - DATE '1970-01-01' + 7 AS end_day
  FROM orders WHERE o_orderkey % 5000 = 1
)
SELECT iv.o_orderkey,
  count(*) AS n_lines,
  CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem l JOIN iv
  ON (CAST(l.l_shipdate AS DATE) - DATE '1970-01-01') >= iv.start_day
 AND (CAST(l.l_shipdate AS DATE) - DATE '1970-01-01') < iv.end_day
GROUP BY iv.o_orderkey
""",
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join via the bucket-explode equi-join formulation (no
    BroadcastNestedLoopJoin cross product): lineitems shipped inside each
    sampled order's 7-day window, aggregated per interval. Oracle is the
    plain theta join."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.joins import (
        range_join_bucketed,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        F.unix_date(F.col("l_shipdate").cast("date")).alias("ship_day"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    iv = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5000 == 1)
        .select(
            "o_orderkey",
            F.unix_date(F.col("o_orderdate").cast("date")).alias("start_day"),
            (F.unix_date(F.col("o_orderdate").cast("date")) + 7).alias("end_day"),
        )
    )
    joined = range_join_bucketed(li, iv, "ship_day", "start_day", "end_day", 7)
    return joined.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"), F.sum("qty").alias("sum_qty")
    )


@_register(
    "grouping_sets_agg",
    sql="""
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets (by-status, by-priority, grand total) in one
    pass — Spark plans a single Expand + hash aggregate, not three scans."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
          sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS sum_cents
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


_PIVOT_TYPES = ["click", "view", "purchase", "error", "signup"]


@_register(
    "pivot_event_counts",
    sql=f"""
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
  {', '.join(f"CAST(count(*) FILTER (event_type = '{t}') AS BIGINT) AS n_{t}" for t in _PIVOT_TYPES)}
FROM events GROUP BY 1
""",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-day event counts, one column per event type. Explicit
    value list so the plan is a single groupBy (no distinct-values scan)."""
    e = _t(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    )
    piv = (
        e.groupBy("event_date")
        .pivot("event_type", _PIVOT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    out = piv
    for t in _PIVOT_TYPES:
        out = out.withColumn(f"n_{t}", F.coalesce(F.col(t), F.lit(0)).cast("long")).drop(t)
    return out


@_register(
    "unpivot_stats",
    sql="""
SELECT doc_id, metric, CAST(v AS BIGINT) AS value FROM (
  SELECT doc_id, 'n_chars' AS metric, length(text) AS v FROM documents
  UNION ALL
  SELECT doc_id, 'n_ws_tokens' AS metric,
    len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS v
  FROM documents
)
""",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide per-doc stats to long (metric, value) rows —
    df.unpivot plans a single Expand, not one scan per metric."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import add_token_stats

    d = add_token_stats(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_chars_calc", "n_ws_tokens"
    ).withColumnRenamed("n_chars_calc", "n_chars")
    return d.unpivot("doc_id", ["n_chars", "n_ws_tokens"], "metric", "value")


# NOTE (round 8): `distinct_agg` — a thin count_distinct-per-group row,
# green r01-r04 — was swapped out for `materialized_rollup_roundtrip`
# (queries_roundtrip.py): registry growth is frozen at 186 per the
# round-4 verdict, and the materialized-rollup operator was the one
# substantial operator with no registry attestation. Distinct-agg
# planning (Expand + two-phase aggregate) stays attested via
# leakage_safe_split's count(DISTINCT component), rolling_distinct_users,
# and hll_distinct_rollup; the exact-vs-HLL pytest comparison remains in
# tests/test_joins.py::test_approx_count_distinct_close_to_exact.


def _ivf_replay_sql(
    n_centroids: int = 16,
    sample_size: int = 256,
    iters: int = 3,
    n_probe: int = 4,
    scale: int = 10**6,
) -> str:
    """Unrolled SQL replay of operators.similarity.ivf_probe_exact: the
    SAME integer-exact k-means (fixed-point quantize, first-k init,
    argmin euclidean with ties to the smallest list id, floor(sum/cnt)
    means in double — exact since sums < 2^53), corpus assignment, probe
    pruning and query scoring. list_dot_product on BIGINT lists computes
    in double but every value stays < 2^53, so it is bit-exact; the |x|^2
    term is dropped from BOTH engines' argmin (constant per row)."""
    q = (
        "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * "
        f"{scale} + 0.5) AS BIGINT))"
    )
    parts = [
        f"""WITH qc AS (
  SELECT vec_id, {q} AS qv FROM embeddings
), dims AS (
  SELECT unnest(generate_series(1, (SELECT max(len(qv)) FROM qc))) AS pos
), samp AS (
  SELECT vec_id, qv, row_number() OVER (ORDER BY vec_id) - 1 AS rn
  FROM (SELECT * FROM qc ORDER BY vec_id LIMIT {sample_size})
), cent0 AS (
  SELECT rn AS j, qv AS c FROM samp WHERE rn < {n_centroids}
)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""", a{t} AS (
  SELECT vec_id, qv, j FROM (
    SELECT vec_id, qv, j,
      row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rnn
    FROM (
      SELECT s.vec_id, s.qv, c.j,
        list_dot_product(c.c, c.c) - 2 * list_dot_product(s.qv, c.c) AS dist
      FROM samp s CROSS JOIN cent{t - 1} c
    )
  ) WHERE rnn = 1
), cm{t} AS (
  SELECT j, list(CAST(floor(sv / cnt) AS BIGINT) ORDER BY pos) AS c
  FROM (
    SELECT a.j, d.pos, CAST(sum(a.qv[d.pos]) AS DOUBLE) AS sv,
      count(*) AS cnt
    FROM a{t} a CROSS JOIN dims d
    GROUP BY a.j, d.pos
  ) GROUP BY j
), cent{t} AS (
  SELECT p.j, coalesce(m.c, p.c) AS c
  FROM cent{t - 1} p LEFT JOIN cm{t} m USING (j)
)"""
        )
    parts.append(
        f""", qvec AS (
  SELECT qv AS qq FROM qc WHERE vec_id = 0
), probe AS (
  SELECT j FROM (
    SELECT c.j, list_dot_product(c.c, q.qq) AS d
    FROM cent{iters} c CROSS JOIN qvec q
  ) ORDER BY d DESC, j LIMIT {n_probe}
), asgn AS (
  SELECT vec_id, qv, j FROM (
    SELECT vec_id, qv, j,
      row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rnn
    FROM (
      SELECT e.vec_id, e.qv, c.j,
        list_dot_product(c.c, c.c) - 2 * list_dot_product(e.qv, c.c) AS dist
      FROM qc e CROSS JOIN cent{iters} c
    )
  ) WHERE rnn = 1
), pr AS (
  SELECT a.vec_id, CAST(a.j AS INTEGER) AS ivf_list,
    CAST(list_dot_product(a.qv, q.qq) AS BIGINT) AS dot
  FROM asgn a JOIN probe USING (j) CROSS JOIN qvec q
)
SELECT vec_id, ivf_list, dot,
  CAST(row_number() OVER (ORDER BY dot DESC, vec_id) AS BIGINT) AS rnk
FROM pr"""
    )
    return "".join(parts)


@_register("embedding_ann_ivf", sql=_ivf_replay_sql())
def q_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search with a FULL value oracle: the coarse quantizer is
    the integer-exact k-means replay (fixed-point int64 vectors, bounded
    id-ordered sample, fixed init/iters, deterministic tie-breaks), so
    fit + corpus assignment + probe pruning + query scoring are all pure
    integer functions of the data that the SQL oracle replays
    bit-identically — no float-summation-order hazard anywhere. Emits
    every vector in the 4/16 probed lists with its integer query dot and
    rank; rnk<=k is the ANN answer. The float spherical-kmeans production
    path (ivf_topk) keeps its recall-vs-brute-force pytest; the corpus-
    wide stages here are pure JVM expressions (quantize, 16 broadcast
    integer distances, argmin via array_position, probe filter) — only
    the O(sample) fit is driver-side."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.similarity import (
        ivf_probe_exact,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return ivf_probe_exact(emb, list(qv))


# ==========================================================================
# Scalar/window function families (breadth of the SQL surface, each
# value-checked cross-engine; all run inside whole-stage codegen — no UDFs)
# ==========================================================================


@_register(
    "window_ranking_family",
    sql="""
SELECT o_orderkey, o_custkey,
  CAST(dense_rank()   OVER w AS BIGINT) AS drnk,
  CAST(ntile(4)       OVER w AS BIGINT) AS quartile,
  round(percent_rank() OVER w, 6) AS pct_rank,
  round(cume_dist()    OVER w, 6) AS cume,
  round(lag(o_totalprice)  OVER w, 2) AS prev_price,
  round(lead(o_totalprice) OVER w, 2) AS next_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def q_window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function family (dense_rank / ntile / percent_rank /
    cume_dist / lag / lead) over one shared per-customer window — all six
    functions reuse a SINGLE exchange+sort (one Window node in the plan),
    the layout the engine favors for multi-metric window queries."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
    )


@_register(
    "string_functions",
    sql="""
SELECT p_partkey,
  upper(p_brand) AS brand_u,
  lower(p_type) AS type_l,
  CAST(length(p_name) AS INT) AS name_len,
  substring(p_name, 1, 5) AS name_head,
  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
  replace(p_type, ' ', '_') AS type_us,
  split_part(p_type, ' ', 1) AS type_first,
  CAST(strpos(p_name, 'a') AS INT) AS a_pos,
  concat(p_brand, ':', p_type) AS brand_type,
  trim(concat(' ', p_name, ' ')) AS name_trim,
  reverse(p_brand) AS brand_rev
FROM part
""",
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function family (upper/lower/length/substring/lpad/
    replace/split/instr/concat/trim/reverse) — all JVM-side codegen'd
    expressions fused into the scan's project (zero extra stages)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.lower("p_type").alias("type_l"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_head"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.regexp_replace("p_type", " ", "_").alias("type_us"),
        F.split(F.col("p_type"), " ").getItem(0).alias("type_first"),
        F.instr(F.col("p_name"), "a").alias("a_pos"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias(
            "name_trim"
        ),
        F.reverse("p_brand").alias("brand_rev"),
    )


@_register(
    "url_functions",
    sql="""
WITH u AS (
  SELECT doc_id,
    concat('https://', source, '.example.com/docs/', lang, '/',
           CAST(doc_id AS VARCHAR), '?q=', CAST(doc_id % 7 AS VARCHAR),
           '&fmt=txt') AS url
  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
), p AS (
  SELECT doc_id,
    regexp_extract(url, '^https://([^/]+)/', 1) AS host,
    regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
    CAST(regexp_extract(url, '[?&]q=([^&]*)', 1) AS INT) AS q_param,
    'https' AS proto
  FROM u
)
SELECT host, proto, CAST(count(*) AS BIGINT) AS n_urls,
  CAST(count(DISTINCT path) AS BIGINT) AS n_paths,
  CAST(sum(q_param) AS BIGINT) AS sum_q,
  min(path) AS min_path
FROM p GROUP BY host, proto
""",
)
def q_url_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-parsing family (web-corpus provenance surface): deterministic
    URLs built from document metadata, decomposed with Spark's native
    ``parse_url`` (HOST / PATH / QUERY-param / PROTOCOL — JVM-side, fused
    into the scan projection), then rolled up per domain — the
    domain-level aggregation behind per-site quality stats, crawl
    blocklists, and URL-based dedup keys. Oracle mirrors the parse with
    anchored regexp_extract over the same constructed strings."""
    d = _t(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull() & F.col("lang").isNotNull()
    )
    u = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/docs/"),
            F.col("lang"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
            F.lit("?q="),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("&fmt=txt"),
        ).alias("url"),
    )
    p = u.select(
        "doc_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("q")).cast("int").alias("q_param"),
        F.parse_url("url", F.lit("PROTOCOL")).alias("proto"),
    )
    return p.groupBy("host", "proto").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.count_distinct("path").cast("long").alias("n_paths"),
        F.sum("q_param").cast("long").alias("sum_q"),
        F.min("path").alias("min_path"),
    )


@_register(
    "date_functions",
    sql="""
SELECT o_orderkey,
  CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
  CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr,
  CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
  CAST(EXTRACT(day FROM o_orderdate) AS INT) AS dom,
  CAST(EXTRACT(dow FROM o_orderdate) + 1 AS INT) AS dow_sun1,
  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
  strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus_30d,
  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT)
    AS days_since_95
FROM orders
""",
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar date-function family (extract year/quarter/month/day/dow,
    month trunc, last_day, date arithmetic, datediff) — cross-engine
    dialect pinned explicitly (Spark dayofweek is 1=Sunday; DuckDB dow is
    0=Sunday, shifted in the oracle), date outputs surfaced as formatted
    strings so both engines hash identically."""
    o = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.quarter("o_orderdate").alias("qtr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.dayofweek("o_orderdate").alias("dow_sun1"),
        F.date_format(F.trunc(d, "month"), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("plus_30d"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).alias("days_since_95"),
    )


# ==========================================================================
# SQL entry point — the reference is DataFrame-API-only (SURVEY.md 2.13);
# the engine also exposes Spark SQL directly. ONE ANSI string runs on BOTH
# engines (Spark SQL and the DuckDB oracle) — dialect-free by construction.
# ==========================================================================

_TPCH_Q3_SQL = """
SELECT l_orderkey,
  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
       AS BIGINT) AS revenue_cents,
  o_orderdate
FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue_cents DESC, l_orderkey
LIMIT 10
"""


@_register("sql_entry_tpch_q3", sql=_TPCH_Q3_SQL)
def q_sql_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL string entry point: the IDENTICAL ANSI text runs through
    spark.sql(...) and the DuckDB oracle (revenue summed as integer cents,
    so float summation order can't diverge). Catalyst still broadcasts the
    dims and pushes the segment/date predicates into the scans — declaring
    the query as SQL or DataFrame yields the same physical plan."""
    for t in ("customer", "orders", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_TPCH_Q3_SQL)


# First-class TPC-H name for the same operator (the "all 22 queries
# greppable as tpch_qN" registry contract): identical function, identical
# oracle — an alias row, zero new operator code.
_register("tpch_q3_shipping_priority", sql=_TPCH_Q3_SQL)(q_sql_entry)


@_register(
    "array_functions",
    sql="""
SELECT vec_id,
  CAST(len(embedding) AS INT) AS dim,
  round(list_sum(CAST(embedding AS DOUBLE[])), 6) AS arr_sum,
  round(CAST(list_max(embedding) AS DOUBLE), 6) AS arr_max,
  round(CAST(list_min(embedding) AS DOUBLE), 6) AS arr_min,
  CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
  array_to_string(list_transform(CAST(embedding[1:3] AS DOUBLE[]),
    x -> CAST(CAST(round(x, 6) AS DECIMAL(18,6)) AS VARCHAR)), ',') AS head3,
  round(list_dot_product(CAST(embedding AS DOUBLE[]),
                         CAST(list_reverse(embedding) AS DOUBLE[])), 6) AS rev_dot
FROM embeddings
""",
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array / higher-order function family (size, aggregate-fold, max/min,
    lambda filter, slice, transform, zip_with) over the embedding column —
    all Catalyst higher-order expressions evaluated JVM-side in the scan's
    projection; the fold and dot product run in array order on both engines
    so float64 summation is bit-stable cross-engine."""
    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda a, x: a + x.cast("double"),
            ),
            6,
        ).alias("arr_sum"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("arr_max"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("arr_min"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        # Stringified (decimal(18,6) keeps a fixed 6-decimal rendering on
        # both engines) so the driver's pandas canonicalizer can hash it.
        F.concat_ws(
            ",",
            F.transform(
                F.slice("embedding", 1, 3),
                lambda x: F.round(x.cast("double"), 6)
                .cast("decimal(18,6)")
                .cast("string"),
            ),
        ).alias("head3"),
        F.round(
            F.aggregate(
                F.zip_with(
                    "embedding",
                    F.reverse("embedding"),
                    lambda x, y: x.cast("double") * y.cast("double"),
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            6,
        ).alias("rev_dot"),
    )


@_register(
    "label_centroids",
    sql="""
SELECT label, pos, round(avg(v), 6) AS centroid_v,
  CAST(count(*) AS BIGINT) AS n_vecs
FROM (
  SELECT label,
    unnest(CAST(embedding AS DOUBLE[])) AS v,
    unnest(range(0, len(embedding))) AS pos
  FROM embeddings
)
GROUP BY label, pos
""",
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids via posexplode + (label, dim) hash agg
    — the k-means-update / class-prototype primitive. One shuffle keyed on
    (label, dim): n_labels x dim groups regardless of corpus size, with
    map-side partial aggregation doing almost all the reduction — the
    centroid update that stays cheap at 10^9 vectors."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_v"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


@_register(
    "word_count_topk",
    sql=f"""
SELECT tok, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest({_SQL_TOKS}) AS tok FROM documents)
WHERE tok <> ''
GROUP BY tok
ORDER BY n DESC, tok
LIMIT 20
""",
)
def q_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical explode -> hash-agg -> top-k: corpus vocabulary head.
    Partial aggregation collapses per-task duplicates before the shuffle
    (shuffle volume is O(distinct tokens per task), not O(tokens)); top-k
    is TakeOrderedAndProject, never a global sort."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import ws_tokens

    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(ws_tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(20)
    )


# ==========================================================================
# Extension: statistical / conditional / percentile aggregate families
# ==========================================================================


@_register(
    "stats_agg_family",
    sql="""
SELECT l_returnflag,
  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
  round(covar_pop(l_quantity, l_discount), 6) AS covar_pop_qd,
  round(covar_samp(l_quantity, l_discount), 6) AS covar_samp_qd,
  round(stddev_pop(l_quantity), 6) AS std_pop_qty,
  round(stddev_samp(l_quantity), 6) AS std_samp_qty,
  round(var_pop(l_quantity), 6) AS var_pop_qty,
  round(var_samp(l_quantity), 6) AS var_samp_qty,
  round(skewness(l_quantity) * (count(l_quantity) - 2)
        / sqrt(count(l_quantity) * (count(l_quantity) - 1.0)), 6) AS skew_qty,
  round(kurtosis_pop(l_quantity), 6) AS kurt_qty
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-moment aggregate family (corr / covar / stddev / var /
    skewness / kurtosis) in one grouped pass — all are one-pass co-moment
    aggregates with map-side partials, so shuffle volume is O(groups), not
    O(rows). Dialect note pinned by this oracle: Spark's skewness/kurtosis
    are POPULATION moments (g1, excess g2) while DuckDB's bare names are
    sample-corrected — the SQL converts G1 -> g1 and uses kurtosis_pop."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_pop("l_quantity", "l_discount"), 6).alias("covar_pop_qd"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("covar_samp_qd"),
        F.round(F.stddev_pop("l_quantity"), 6).alias("std_pop_qty"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("std_samp_qty"),
        F.round(F.var_pop("l_quantity"), 6).alias("var_pop_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_samp_qty"),
        F.round(F.skewness("l_quantity"), 6).alias("skew_qty"),
        F.round(F.kurtosis("l_quantity"), 6).alias("kurt_qty"),
    )


@_register(
    "regr_agg_family",
    sql="""
SELECT l_returnflag,
  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS regr_n,
  round(regr_avgx(l_extendedprice, l_quantity), 6) AS regr_ax,
  round(regr_avgy(l_extendedprice, l_quantity), 4) AS regr_ay,
  round(regr_slope(l_extendedprice, l_quantity), 4) AS regr_b1,
  round(regr_intercept(l_extendedprice, l_quantity), 4) AS regr_b0,
  round(regr_r2(l_extendedprice, l_quantity), 6) AS regr_r2
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_regr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregate family (regr_count/avgx/avgy/slope/
    intercept/r2): per-group OLS fit of extendedprice on quantity as a
    single co-moment aggregation — the distributed 'fit a trend per key'
    primitive, no iterative solver and one shuffle of O(groups) partials."""
    li = _t(spark, sf_dir, "lineitem")
    y, x = "l_extendedprice", "l_quantity"
    return li.groupBy("l_returnflag").agg(
        F.regr_count(y, x).cast("bigint").alias("regr_n"),
        F.round(F.regr_avgx(y, x), 6).alias("regr_ax"),
        F.round(F.regr_avgy(y, x), 4).alias("regr_ay"),
        F.round(F.regr_slope(y, x), 4).alias("regr_b1"),
        F.round(F.regr_intercept(y, x), 4).alias("regr_b0"),
        F.round(F.regr_r2(y, x), 6).alias("regr_r2"),
    )


@_register(
    "conditional_agg_family",
    sql="""
SELECT o_orderstatus,
  CAST(count_if(o_totalprice > 150000) AS BIGINT) AS n_big,
  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prio,
  min_by(o_custkey, o_orderkey) AS first_cust,
  max_by(o_custkey, o_orderkey) AS last_cust,
  bool_or(o_totalprice > 400000) AS any_huge,
  bool_and(o_totalprice > 0) AS all_pos,
  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END)
       AS BIGINT) AS urgent_cents,
  round(avg(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 6) AS urgent_avg
FROM orders
GROUP BY o_orderstatus
""",
)
def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregate family: count_if, argmin/argmax (min_by keyed
    on the unique order key so ties can't make it nondeterministic),
    bool_or/bool_and, conditional sum (integer cents, so float summation
    order is moot) and filtered avg (expressed as avg(CASE) on the Spark
    side, FILTER clause in ANSI — same null-skipping semantics)."""
    o = _t(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    return o.groupBy("o_orderstatus").agg(
        F.expr("count_if(o_totalprice > 150000)").alias("n_big"),
        F.countDistinct("o_orderpriority").alias("n_prio"),
        F.min_by("o_custkey", "o_orderkey").alias("first_cust"),
        F.max_by("o_custkey", "o_orderkey").alias("last_cust"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_huge"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_pos"),
        F.sum(
            F.when(urgent, F.round(F.col("o_totalprice") * 100).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("urgent_cents"),
        F.round(F.avg(F.when(urgent, F.col("o_totalprice"))), 6).alias("urgent_avg"),
    )


@_register(
    "percentile_agg_family",
    sql="""
SELECT l_linestatus,
  round(quantile_cont(l_quantity, 0.25), 6) AS p25_qty,
  round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
  round(quantile_cont(l_quantity, 0.75), 6) AS p75_qty,
  round(median(l_extendedprice), 6) AS med_price,
  round(avg(l_quantity), 6) AS avg_qty
FROM lineitem
GROUP BY l_linestatus
""",
)
def q_percentile_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentile family (Spark `percentile` == ANSI quantile_cont
    linear interpolation, plus exact `median`) — the value-checked
    complement to the approx sketch path (percentile_approx / HLL) used in
    rolling_stats. Exact percentile buffers per group; keep it for
    low-cardinality analysis groups and use the approx variant when group
    payloads are huge — both surfaced so the choice is explicit."""
    li = _t(spark, sf_dir, "lineitem")
    # one percentile(array(...)) call per group: the sorted buffer is built
    # ONCE and probed at all three quantiles (3 scalar percentile calls
    # would each rebuild it — measured ~3x slower at sf0.1)
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.expr("percentile(l_quantity, array(0.25, 0.5, 0.75))").alias("__q"),
            F.round(F.median("l_extendedprice"), 6).alias("med_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        )
        .select(
            "l_linestatus",
            F.round(F.element_at("__q", 1), 6).alias("p25_qty"),
            F.round(F.element_at("__q", 2), 6).alias("p50_qty"),
            F.round(F.element_at("__q", 3), 6).alias("p75_qty"),
            "med_price",
            "avg_qty",
        )
    )


# ==========================================================================
# Extension: value-range window frames + time-series gap fill
# ==========================================================================


@_register(
    "range_frame_window",
    sql="""
SELECT event_id, user_id,
  CAST(count(*) OVER w AS BIGINT) AS n_7d,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS cents_7d,
  round(avg(value) OVER w, 6) AS avg_7d
FROM events
WHERE user_id IS NOT NULL AND ts IS NOT NULL
WINDOW w AS (
  PARTITION BY user_id
  ORDER BY CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
  RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW)
""",
)
def q_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-range window frame (trailing 7 calendar days by timestamp, not
    7 rows) — the time-series rolling metric the reference's ROWS frames
    (SURVEY.md W1/W5) can't express when events are irregularly spaced.
    Ordered by epoch seconds so the frame bound is numeric; peers at the
    same second share a frame in both engines. One exchange on user_id;
    the running-frame aggregation itself is sort-based and spill-safe."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-6 * 86400, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_7d"),
        F.sum(F.round(F.col("value") * 100).cast("long")).over(w).alias("cents_7d"),
        F.round(F.avg("value").over(w), 6).alias("avg_7d"),
    )


@_register(
    "gapfill_forward_fill",
    sql="""
WITH d AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
), b AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM d GROUP BY user_id
), s AS (
  SELECT user_id,
    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM b
)
SELECT s.user_id, strftime(s.day, '%Y-%m-%d') AS day, d.day_cents,
  last_value(d.day_cents IGNORE NULLS)
    OVER (PARTITION BY s.user_id ORDER BY s.day) AS ff_cents,
  d.day_cents IS NULL AS is_gap
FROM s LEFT JOIN d ON d.user_id = s.user_id AND d.day = s.day
""",
)
def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample: per-user daily rollup, dense date spine via
    sequence()+explode between each user's min/max day, left join, then
    forward fill with last(..., ignorenulls) — the gap-fill / LOCF operator
    every feature pipeline needs. The spine is generated, never collected:
    O(users x span) rows distributed by the same user_id key as the join
    and the fill window, so Catalyst reuses one partitioning end-to-end."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    d = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("day_cents")
    )
    spine = (
        d.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    j = spine.join(d, ["user_id", "day"], "left")
    w = Window.partitionBy("user_id").orderBy("day")
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "day_cents",
        F.last("day_cents", ignorenulls=True).over(w).alias("ff_cents"),
        F.col("day_cents").isNull().alias("is_gap"),
    )


# ==========================================================================
# Extension: dedup clustering (connected components) + subquery decorrelation
# ==========================================================================

_SQL_PAIR_COS = (
    "round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6)"
)


@_register(
    "dedup_cluster_cc",
    sql=f"""
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib
  FROM embeddings a, embeddings b
  WHERE a.vec_id < b.vec_id AND {_SQL_PAIR_COS} >= 0.4
), edges AS (
  SELECT ia AS ea, ib AS eb FROM pairs
  UNION
  SELECT ib AS ea, ia AS eb FROM pairs
), reach(v, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.ea, reach.r FROM edges e JOIN reach ON e.eb = reach.v
)
SELECT v AS vertex, min(r) AS component
FROM reach
GROUP BY v
""",
)
def q_dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS -> dedup GROUPS: connected components over the exact
    cosine>=0.4 edge set (operators.graph.connected_components — iterative
    min-label propagation, one shuffle-join + agg per round, localCheckpoint
    lineage truncation). Every vector gets a component label (singletons
    keep their own id). The oracle computes the same labelling via a
    recursive-CTE transitive closure — exact, order-insensitive."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.graph import (
        connected_components,
    )
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.similarity import (
        exact_near_dup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    edges = exact_near_dup_pairs(emb, threshold=0.4).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    return connected_components(
        edges, vertices=emb.select(F.col("vec_id").alias("vertex"))
    )


_Q4_EXISTS_SQL = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders
WHERE CAST(o_orderdate AS DATE) >= DATE '1999-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
GROUP BY o_orderpriority
"""


@_register("exists_subquery_agg", sql=_Q4_EXISTS_SQL)
def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS + grouped count, the IDENTICAL
    ANSI text on both engines. Catalyst decorrelates the EXISTS into a
    left-semi hash join on l_orderkey — no per-row subquery execution —
    and pushes the quantity and date predicates into both parquet scans."""
    for t in ("orders", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q4_EXISTS_SQL)


# First-class TPC-H alias row (see tpch_q3_shipping_priority note).
_register("tpch_q4_order_priority", sql=_Q4_EXISTS_SQL)(q_exists_subquery)


_Q17_SCALAR_SQL = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_size <= 2
  AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                    FROM lineitem l2
                    WHERE l2.l_partkey = lineitem.l_partkey)
"""


@_register("scalar_subquery_agg", sql=_Q17_SCALAR_SQL)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated SCALAR subquery (per-part average
    quantity) under a join filter, identical ANSI text on both engines.
    Catalyst rewrites the correlated aggregate into a grouped subplan
    joined on l_partkey (RewriteCorrelatedScalarSubquery) — the 'small
    order' filter runs as two hash aggregates + joins, never a loop."""
    for t in ("lineitem", "part"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q17_SCALAR_SQL)


# First-class TPC-H alias row (see tpch_q3_shipping_priority note).
_register("tpch_q17_small_quantity_revenue", sql=_Q17_SCALAR_SQL)(q_scalar_subquery)


# ==========================================================================
# Extension: deterministic sampling / dataset splitting (operators.sampling)
# ==========================================================================

_SQL_BUCKET_DOC = (
    "CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000"
)


@_register(
    "hash_split_corpus",
    sql=f"""
SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM (
  SELECT lang, n_chars,
    CASE WHEN {_SQL_BUCKET_DOC} < 8000 THEN 'train'
         WHEN {_SQL_BUCKET_DOC} < 9000 THEN 'val'
         ELSE 'test' END AS split
  FROM documents
)
GROUP BY split, lang
""",
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) keyed on md5(doc_id)
    buckets — membership is a pure row function, invariant under
    partitioning/ordering/engine, so the split never leaks across reruns
    (unlike randomSplit, which re-rolls per run and per partitioning).
    The label is a scalar expression: no shuffle, survives pushdown."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents")
    out = hash_split(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


@_register(
    "stratified_sample_docs",
    sql=f"""
SELECT doc_id, lang
FROM documents
WHERE {_SQL_BUCKET_DOC} <
  CASE lang WHEN 'en' THEN 2000 WHEN 'zh' THEN 5000 ELSE 9000 END
""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing: per-language deterministic sampling (downsample
    dominant 'en' to 20%, 'zh' to 50%, keep 90% of rare languages) as ONE
    pushdown-able filter — the language-mix reshaping step of a training
    pipeline, with exact row-level oracle parity on the md5 bucket."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.sampling import (
        stratified_sample,
    )

    d = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        d, "doc_id", "lang", {"en": 0.2, "zh": 0.5}, default_fraction=0.9
    )
    return out.select("doc_id", "lang")


@_register(
    "temperature_mix_corpus",
    sql="""
WITH d AS (SELECT * FROM documents WHERE lang IS NOT NULL AND n_chars > 0),
m AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS mass FROM d GROUP BY 1),
p AS (SELECT lang, mass / (SELECT sum(mass) FROM m) AS p FROM m),
q AS (SELECT lang, p, pow(p, 0.3) / (SELECT sum(pow(p, 0.3)) FROM p) AS q
      FROM p),
r AS (SELECT lang, round(least(1.0, 0.5 * q / p), 6) AS keep_rate FROM q)
SELECT d.lang, CAST(count(*) AS BIGINT) AS n_kept,
  CAST(sum(d.n_chars) AS BIGINT) AS chars_kept,
  max(r.keep_rate) AS keep_rate
FROM d JOIN r USING (lang)
WHERE CAST(concat('0x',
    substring(md5(concat('temp', CAST(d.doc_id AS VARCHAR))), 1, 15))
  AS BIGINT) % 10000 < r.keep_rate * 10000
GROUP BY d.lang
""",
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened mixture sampling (operators.sampling
    .temperature_mix): keep ~50% of total character mass with per-language
    rates proportional to p^0.3 / p — the standard alpha-sampling that
    boosts rare languages and trims the dominant one (rare langs clip at
    rate 1.0). Per-group rate math runs on the TINY per-lang mass frame
    (two single-partition windows over 5 rows, never the corpus);
    membership is the md5-bucket pure-function-of-the-row test, so the
    oracle replays the exact kept set row-for-row."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.sampling import temperature_mix

    d = _t(spark, sf_dir, "documents")
    kept = temperature_mix(
        d,
        group_col="lang",
        weight_col="n_chars",
        key_col="doc_id",
        alpha=0.3,
        target_frac=0.5,
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_chars").cast("long").alias("chars_kept"),
        F.max("keep_rate").alias("keep_rate"),
    )


@_register(
    "gapfill_interpolate",
    sql="""
WITH d AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
), b AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM d GROUP BY user_id
), s AS (
  SELECT user_id,
    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM b
), j AS (
  SELECT s.user_id, s.day, d.day_cents,
    last_value(d.day_cents IGNORE NULLS)
      OVER (PARTITION BY s.user_id ORDER BY s.day) AS prev_v,
    last_value(CASE WHEN d.day_cents IS NOT NULL THEN s.day END IGNORE NULLS)
      OVER (PARTITION BY s.user_id ORDER BY s.day) AS prev_d,
    first_value(d.day_cents IGNORE NULLS)
      OVER (PARTITION BY s.user_id ORDER BY s.day
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
    first_value(CASE WHEN d.day_cents IS NOT NULL THEN s.day END IGNORE NULLS)
      OVER (PARTITION BY s.user_id ORDER BY s.day
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
  FROM s LEFT JOIN d ON d.user_id = s.user_id AND d.day = s.day
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day, day_cents,
  round(CASE
    WHEN day_cents IS NOT NULL THEN CAST(day_cents AS DOUBLE)
    WHEN prev_v IS NULL THEN CAST(next_v AS DOUBLE)
    WHEN next_v IS NULL THEN CAST(prev_v AS DOUBLE)
    ELSE prev_v + (next_v - prev_v)
         * (date_diff('day', prev_d, day) * 1.0 / date_diff('day', prev_d, next_d))
  END, 6) AS interp_cents
FROM j
""",
)
def q_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap fill by LINEAR INTERPOLATION between the nearest known points
    (vs. the LOCF variant above): forward- and backward-looking
    ignore-nulls windows fetch the bracketing (day, value) pairs, then the
    fill is a closed-form scalar expression. Same single user_id exchange
    as the spine join — the sort serves both window directions."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    d = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("day_cents")
    )
    spine = (
        d.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    j = spine.join(d, ["user_id", "day"], "left")
    back = Window.partitionBy("user_id").orderBy("day")
    fwd = back.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    known_day = F.when(F.col("day_cents").isNotNull(), F.col("day"))
    prev_v = F.last("day_cents", ignorenulls=True).over(back)
    prev_d = F.last(known_day, ignorenulls=True).over(back)
    next_v = F.first("day_cents", ignorenulls=True).over(fwd)
    next_d = F.first(known_day, ignorenulls=True).over(fwd)
    interp = (
        F.when(F.col("day_cents").isNotNull(), F.col("day_cents").cast("double"))
        .when(prev_v.isNull(), next_v.cast("double"))
        .when(next_v.isNull(), prev_v.cast("double"))
        .otherwise(
            prev_v
            + (next_v - prev_v)
            * (
                F.datediff(F.col("day"), prev_d)
                * F.lit(1.0)
                / F.datediff(next_d, prev_d)
            )
        )
    )
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "day_cents",
        F.round(interp, 6).alias("interp_cents"),
    )


# ==========================================================================
# Extension: data profiling (operators.profiling)
# ==========================================================================


@_register(
    "profile_documents",
    sql="""
SELECT 'doc_id' AS column, CAST(count(doc_id) AS BIGINT) AS n_nonnull,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
  CAST(min(doc_id) AS VARCHAR) AS min_value, CAST(max(doc_id) AS VARCHAR) AS max_value
FROM documents
UNION ALL
SELECT 'lang', CAST(count(lang) AS BIGINT), CAST(count(DISTINCT lang) AS BIGINT),
  CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR) FROM documents
UNION ALL
SELECT 'source', CAST(count(source) AS BIGINT), CAST(count(DISTINCT source) AS BIGINT),
  CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR) FROM documents
UNION ALL
SELECT 'n_chars', CAST(count(n_chars) AS BIGINT), CAST(count(DISTINCT n_chars) AS BIGINT),
  CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR) FROM documents
""",
)
def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile (A1 generalized): non-null / distinct / min / max for
    every profiled column computed in ONE global aggregate over one scan —
    the oracle's UNION ALL of per-column scans is what this operator
    deliberately avoids (4 scans there vs 1 here; the driver compares
    values, not plans)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.profiling import (
        profile_columns,
    )

    d = _t(spark, sf_dir, "documents")
    return profile_columns(d, ["doc_id", "lang", "source", "n_chars"])


@_register(
    "value_histogram",
    sql="""
WITH b AS (
  SELECT min(CAST(o_totalprice AS DOUBLE)) AS lo_all,
         max(CAST(o_totalprice AS DOUBLE)) AS hi_all
  FROM orders
)
SELECT bucket,
  round(lo_all + bucket * (hi_all - lo_all) / 20, 6) AS lo,
  round(lo_all + (bucket + 1) * (hi_all - lo_all) / 20, 6) AS hi,
  CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT least(CAST(floor((CAST(o_totalprice AS DOUBLE) - lo_all)
                          / ((hi_all - lo_all) / 20.0)) AS INTEGER), 19) AS bucket,
         lo_all, hi_all
  FROM orders, b
  WHERE o_totalprice IS NOT NULL
)
GROUP BY bucket, lo_all, hi_all
""",
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram of order value: 1-row min/max aggregate
    broadcast back over the scan (never a driver round-trip), bucket index
    as closed-form arithmetic, O(nbins) shuffle. Bucket boundaries use the
    same IEEE double expression on both engines so edge values land
    identically."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.profiling import (
        numeric_histogram,
    )

    return numeric_histogram(_t(spark, sf_dir, "orders"), "o_totalprice", nbins=20)


@_register(
    "frequent_tokens_sketch",
    sql=f"""
SELECT tok, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest({_SQL_TOKS}) AS tok FROM documents)
WHERE tok <> ''
GROUP BY tok
HAVING count(*) >= 10
""",
)
def q_frequent_tokens_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the approx_top_k sketch (Misra-Gries style bounded
    state): per-partition sketches merge associatively, so the token
    frequency head costs one O(sketch-size) shuffle instead of a full
    vocabulary aggregate — the scale path when the vocab itself is too big
    to hash-aggregate cheaply.

    Value-oracle contract: when ``maxItemsTracked`` >= the distinct-token
    count, the merged sketch is EXACT (Misra-Gries admits error only on
    counter eviction, and with capacity >= vocab nothing ever evicts), so
    the emitted (tok, n) rows equal an exact GROUP BY. We emit the WHOLE
    merged sketch cut by an absolute count threshold (n >= 10) rather than
    a top-k cut — a threshold is a pure function of the exact counts, so
    no boundary-tie ambiguity can diverge from the oracle. The sf0.01
    fixture vocab is 31 tokens << 65536, so the contract holds where the
    driver attests; the genuinely-approximate regime (vocab > capacity)
    keeps its overlap-tolerance pytest vs exact word_count_topk
    (test_llm_ops)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import ws_tokens

    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(ws_tokens("text")).alias("tok")).filter(
        F.col("tok") != ""
    )
    return (
        toks.select(F.expr("approx_top_k(tok, 65536, 65536)").alias("top"))
        .select(F.inline("top"))
        .toDF("tok", "n")
        .filter(F.col("n") >= 10)
        .select("tok", F.col("n").cast("long").alias("n"))
    )


# ==========================================================================
# Extension: document chunking (LLM context-window preprocessing)
# ==========================================================================


@_register(
    "chunk_documents",
    sql=f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), c AS (
  SELECT doc_id, toks,
    unnest(generate_series(0, len(toks) - 1, 48)) AS start
  FROM t
)
SELECT doc_id, CAST(start / 48 AS BIGINT) AS chunk_id,
  array_to_string(list_slice(toks, start + 1, start + 64), ' ') AS chunk_text,
  CAST(len(list_slice(toks, start + 1, start + 64)) AS BIGINT) AS n_chunk_toks
FROM c
WHERE len(list_slice(toks, start + 1, start + 64)) > 0
""",
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (64-token chunks, stride 48 — the
    context-window preprocessing step of an LLM data pipeline), entirely
    with native array expressions: sequence() generates chunk starts,
    transform()+slice() cuts token windows, posexplode emits one row per
    chunk. No UDF, no shuffle — a pure narrow map over the corpus that
    scales with input splits; the only data growth is the ~1.33x overlap
    factor."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import ws_tokens

    stride, width = 48, 64
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", ws_tokens("text").alias("toks")
    )
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)), F.lit(stride)
    )
    chunks = F.transform(starts, lambda s: F.slice(F.col("toks"), s + 1, width))
    return (
        d.select("doc_id", F.posexplode(chunks).alias("chunk_id", "chunk_toks"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("long"),
            F.array_join("chunk_toks", " ").alias("chunk_text"),
            F.size("chunk_toks").cast("long").alias("n_chunk_toks"),
        )
        .filter(F.col("n_chunk_toks") > 0)
    )


_Q2_MIN_JOINBACK_SQL = """
SELECT p.p_partkey, p.p_name, s.s_suppkey,
  round(ps_cost.min_cost, 2) AS min_cost
FROM part p
JOIN (
  SELECT l_partkey, min(l_extendedprice / l_quantity) AS min_cost
  FROM lineitem
  GROUP BY l_partkey
) ps_cost ON ps_cost.l_partkey = p.p_partkey
JOIN lineitem li ON li.l_partkey = p.p_partkey
  AND li.l_extendedprice / li.l_quantity = ps_cost.min_cost
JOIN supplier s ON s.s_suppkey = li.l_suppkey
WHERE p.p_size = 1
"""


@_register("min_cost_supplier", sql=_Q2_MIN_JOINBACK_SQL)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: min-per-group then join back to recover the row(s)
    attaining the minimum (cheapest supplier per part), identical ANSI on
    both engines. The grouped min and the join-back share the l_partkey
    shuffle key; the selective p_size predicate broadcasts a pruned part
    dim against it."""
    for t in ("part", "lineitem", "supplier"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q2_MIN_JOINBACK_SQL)


# First-class TPC-H alias row (see tpch_q3_shipping_priority note).
_register("tpch_q2_min_cost_supplier", sql=_Q2_MIN_JOINBACK_SQL)(q_min_cost_supplier)


@_register(
    "map_functions",
    sql="""
SELECT l_orderkey, l_linenumber,
  CAST(2 AS INT) AS n_entries,
  CAST((CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END)
     + (CASE WHEN l_tax * 100 > 25 THEN 1 ELSE 0 END) AS INT) AS n_over_25,
  round((CASE WHEN l_quantity > 25 THEN l_quantity ELSE 0 END)
      + (CASE WHEN l_tax * 100 > 25 THEN l_tax * 100 ELSE 0 END), 6) AS sum_over_25,
  round(l_quantity * 2.0 + l_tax * 100 * 3.0, 6) AS zip_weighted,
  'qty,tax_pct' AS keys_csv
FROM lineitem
WHERE l_orderkey % 50 = 0
""",
)
def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map/higher-order-map family: map construction (F.create_map),
    map_filter (lambda over k,v), map_values + aggregate fold,
    map_zip_with (weighted merge of two maps), map_keys — all JVM-side
    lambda expressions inside whole-stage codegen, no UDF. The oracle
    states the same semantics as scalar arithmetic, which is exactly what
    Catalyst folds these map expressions down to for literal-keyed maps."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    m = F.create_map(
        F.lit("qty"), F.col("l_quantity").cast("double"),
        F.lit("tax_pct"), (F.col("l_tax") * 100).cast("double"),
    )
    weights = F.create_map(
        F.lit("qty"), F.lit(2.0), F.lit("tax_pct"), F.lit(3.0)
    )
    over25 = F.map_filter(m, lambda k, v: v > 25)
    folded = F.aggregate(
        F.map_values(over25), F.lit(0.0), lambda acc, v: acc + v
    )
    zipped = F.aggregate(
        F.map_values(F.map_zip_with(m, weights, lambda k, v1, v2: v1 * v2)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.size(m).alias("n_entries"),
        F.size(over25).alias("n_over_25"),
        F.round(folded, 6).alias("sum_over_25"),
        F.round(zipped, 6).alias("zip_weighted"),
        F.array_join(F.map_keys(m), ",").alias("keys_csv"),
    )


@_register(
    "ewma_user_daily",
    sql="""
WITH RECURSIVE d AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
), base AS (
  SELECT user_id, day, day_cents,
    row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
  FROM d
), r AS (
  SELECT user_id, rn, day, day_cents, CAST(day_cents AS DOUBLE) AS ewma_raw
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.rn, b.day, b.day_cents,
    0.3 * CAST(b.day_cents AS DOUBLE) + 0.7 * r.ewma_raw
  FROM base b JOIN r ON b.user_id = r.user_id AND b.rn = r.rn + 1
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day, day_cents,
  floor(ewma_raw * 1000000 + 0.5) / 1000000 AS ewma
FROM r
""",
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA over each user's daily series — the linear recurrence window
    functions can't express (it folds over its own OUTPUT, not the inputs),
    so this is the engine's canonical Arrow-grouped applyInPandas operator
    (operators.timeseries.ewma). The oracle states the recurrence directly
    as a linear recursive CTE; both sides do the identical IEEE arithmetic
    (a*x + (1-a)*y), so values match to the last bit before rounding."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.timeseries import ewma

    e = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    d = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("day_cents")
    )
    out = ewma(d, key="user_id", order_by="day", value="day_cents", alpha=0.3)
    # engine-independent 6-decimal rounding: round() dialects differ on
    # doubles like x.xxxx4499…9 (Java rounds the BINARY value, DuckDB the
    # decimal rendering); floor(x*1e6 + 0.5)/1e6 is the same IEEE ops on
    # both engines, so the boundary behavior is identical by construction.
    return out.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "day_cents",
        (F.floor(F.col("ewma") * 1e6 + F.lit(0.5)) / 1e6).alias("ewma"),
    )


# ==========================================================================
# Extension: null-semantics, fuzzy string match, bitwise function families
# ==========================================================================


@_register(
    "null_semantics_family",
    sql="""
SELECT o_orderkey,
  nullif(o_orderstatus, 'O') AS status_nz,
  ifnull(nullif(o_orderstatus, 'O'), 'OPEN') AS status_filled,
  (o_orderstatus IS NOT DISTINCT FROM 'F') AS is_f_nullsafe,
  coalesce(nullif(o_orderpriority, '5-LOW'), nullif(o_orderstatus, 'O'),
           'fallback') AS first_nonnull,
  greatest(o_totalprice, 100000.0) AS price_floor,
  least(o_totalprice, 100000.0) AS price_cap
FROM orders
WHERE o_orderkey % 20 = 0
""",
)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling scalar family: nullif / ifnull / multi-arm coalesce /
    null-safe equality (<=> vs IS NOT DISTINCT FROM — dialect pinned) /
    greatest / least. All fold into whole-stage codegen; the oracle pins
    the cross-engine agreement on three-valued-logic edge cases."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 20 == 0)
    status_nz = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return o.select(
        "o_orderkey",
        status_nz.alias("status_nz"),
        F.ifnull(status_nz, F.lit("OPEN")).alias("status_filled"),
        F.col("o_orderstatus").eqNullSafe(F.lit("F")).alias("is_f_nullsafe"),
        F.coalesce(
            F.nullif(F.col("o_orderpriority"), F.lit("5-LOW")),
            status_nz,
            F.lit("fallback"),
        ).alias("first_nonnull"),
        F.greatest(F.col("o_totalprice"), F.lit(100000.0)).alias("price_floor"),
        F.least(F.col("o_totalprice"), F.lit(100000.0)).alias("price_cap"),
    )


@_register(
    "fuzzy_match_levenshtein",
    sql="""
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
FROM customer a, customer b
WHERE a.c_custkey % 97 = 0 AND b.c_custkey % 97 = 0
  AND a.c_custkey < b.c_custkey
  AND levenshtein(a.c_name, b.c_name) <= 6
""",
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching (levenshtein built-in, JVM-side) over a
    deterministically-sampled self-join — the entity-resolution primitive
    complementing the token-based dedup family. The modulo pre-filter
    pushes to both scans, so the quadratic pair space is bounded BEFORE the
    join; at scale, block on a cheap key (prefix/soundex/LSH bucket) so the
    cross product stays per-block."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 97 == 0)
    a = c.select(F.col("c_custkey").alias("id_a"), F.col("c_name").alias("name_a"))
    b = c.select(F.col("c_custkey").alias("id_b"), F.col("c_name").alias("name_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein("name_a", "name_b").alias("dist"),
        )
        .filter(F.col("dist") <= 6)
    )


@_register(
    "bitwise_functions",
    sql="""
SELECT l_returnflag,
  CAST(bit_and(l_orderkey & 1023) AS BIGINT) AS all_bits,
  CAST(bit_or(l_orderkey & 1023) AS BIGINT) AS any_bits,
  CAST(bit_xor(l_orderkey & 1023) AS BIGINT) AS parity_bits,
  CAST(sum(bit_count(CAST(l_orderkey AS BIGINT))) AS BIGINT) AS total_popcount,
  CAST(max(xor(l_orderkey, CAST(l_partkey AS BIGINT)) & 4095) AS BIGINT) AS max_xor_mask
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar + aggregate family (masks, xor, popcount, bit_and/
    or/xor aggregates) — the flag-word compaction idiom for feature
    bitmaps. Integer ops end-to-end: exact on both engines by definition."""
    li = _t(spark, sf_dir, "lineitem")
    masked = F.col("l_orderkey").bitwiseAND(F.lit(1023))
    return li.groupBy("l_returnflag").agg(
        F.bit_and(masked).alias("all_bits"),
        F.bit_or(masked).alias("any_bits"),
        F.bit_xor(masked).alias("parity_bits"),
        F.sum(F.bit_count("l_orderkey")).alias("total_popcount"),
        F.max(
            F.col("l_orderkey")
            .bitwiseXOR(F.col("l_partkey").cast("long"))
            .bitwiseAND(F.lit(4095))
        ).alias("max_xor_mask"),
    )


@_register(
    "event_sequence_assembly",
    sql="""
SELECT user_id,
  string_agg(event_type, '>' ORDER BY CAST(ts AS TIMESTAMP), event_id) AS type_seq,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(min(event_id) AS BIGINT) AS first_event_id
FROM events
WHERE user_id IS NOT NULL AND ts IS NOT NULL
GROUP BY user_id
""",
)
def q_event_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered sequence assembly: each user's event-type history as one
    delimited string (the behavioral-sequence sample a recommender/LLM
    pipeline trains on). collect_list is UNORDERED by contract — ordering
    is imposed deterministically by collecting (ts, event_id, type)
    structs, array_sort-ing (struct comparison = lexicographic on fields,
    event_id breaking ts ties), then projecting the type. One shuffle on
    user_id; per-group state is the user's own history only."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s["event_type"],
        ),
        ">",
    )
    return e.groupBy("user_id").agg(
        seq.alias("type_seq"),
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("first_event_id"),
    )


@_register(
    "variant_shred_props",
    sql="""
SELECT CAST(json_extract(props, '$.k') AS INT) AS k,
  CAST(count(*) AS BIGINT) AS n,
  CAST(min(event_id) AS BIGINT) AS min_event
FROM events
WHERE CAST(json_extract(props, '$.k') AS INT) IS NOT NULL
  AND CAST(json_extract(props, '$.k') AS INT) % 7 = 0
GROUP BY 1
""",
)
def q_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through the VARIANT type (Spark 4):
    parse_json once into a variant, typed variant_get extraction, then
    filter + agg on the shredded value. Variant's binary encoding makes
    repeated path access O(1) per field instead of re-parsing JSON text
    per expression — the modern path for schema-on-read event payloads
    (the oracle states the same semantics with portable json_extract)."""
    e = _t(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return (
        e.select("event_id", k.alias("k"))
        .filter(F.col("k").isNotNull() & (F.col("k") % 7 == 0))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("min_event"),
        )
    )


@_register(
    "regex_functions",
    sql=r"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '[0-9]')) AS INT) AS n_digits,
  regexp_extract(text, '([a-z]{6,})', 1) AS first_long_word,
  regexp_matches(text, 'the') AS has_the,
  CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS INT) AS novowel_len,
  CAST(len(string_split_regex(text, '\s+')) AS INT) AS n_ws_fields
FROM documents
WHERE doc_id % 5 = 0
""",
)
def q_regex_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar family (count / extract / rlike / replace-all / regex
    split) with the cross-dialect traps pinned: Spark regexp_replace is
    global by default where DuckDB needs the 'g' flag; both return '' (not
    NULL) for a no-match extract; regexp_count == len(extract_all). All
    JVM-side regex — the same engine family the reference's sanitizers
    (SURVEY.md N3/N4) rely on."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit("[0-9]")).cast("int").alias("n_digits"),
        F.regexp_extract("text", "([a-z]{6,})", 1).alias("first_long_word"),
        F.col("text").rlike("the").alias("has_the"),
        F.length(F.regexp_replace("text", "[aeiou]", "")).cast("int").alias(
            "novowel_len"
        ),
        F.size(F.split("text", r"\s+")).cast("int").alias("n_ws_fields"),
    )


@_register(
    "window_value_family",
    sql="""
SELECT o_orderkey, o_custkey,
  first_value(o_orderkey) OVER w AS first_ok,
  last_value(o_orderkey) OVER w AS last_ok_sofar,
  nth_value(o_orderkey, 2) OVER w AS second_ok,
  floor((o_totalprice - avg(o_totalprice) OVER p) * 10000 + 0.5) / 10000 AS price_vs_cust_avg
FROM orders
WINDOW
  w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
  p AS (PARTITION BY o_custkey)
""",
)
def q_window_value_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window VALUE-function family (first/last/nth_value over a running
    frame, plus the detail-vs-group-average pattern on an unbounded
    partition frame). Both window specs share the o_custkey partitioning,
    so the plan sorts once per spec inside a single exchange."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.to_date("o_orderdate"), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = Window.partitionBy("o_custkey")
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.last("o_orderkey").over(w).alias("last_ok_sofar"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_ok"),
        (
            F.floor((F.col("o_totalprice") - F.avg("o_totalprice").over(p)) * 1e4 + F.lit(0.5))
            / 1e4
        ).alias("price_vs_cust_avg"),
    )


# ==========================================================================
# Extension: training-sample assembly (packing, mixture up-sampling)
# ==========================================================================


@_register(
    "sequence_packing",
    sql=f"""
WITH t AS (
  SELECT doc_id, source, len({_SQL_TOKS}) AS n_toks FROM documents
), c AS (
  SELECT doc_id, source, n_toks,
    sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT source, CAST(floor((cum - n_toks) / 2048) AS BIGINT) AS seq_id,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_toks) AS BIGINT) AS seq_tokens,
  CAST(min(doc_id) AS BIGINT) AS first_doc
FROM c
GROUP BY source, seq_id
""",
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing: assign docs (in deterministic doc_id
    order per source) to fixed-budget training sequences of 2048 tokens by
    bucketing the EXCLUSIVE running token total — the distributed
    approximation of first-fit packing every pretraining pipeline uses
    (greedy stateful packing doesn't parallelize; contiguous packing is
    one window cumsum + arithmetic, wasting at most one doc's overflow per
    boundary). One exchange on source for both the cumsum and the rollup."""
    from pyspark.sql.window import Window

    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import ws_tokens

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(ws_tokens("text")).alias("n_toks")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("cum", F.sum("n_toks").over(w))
    return (
        c.select(
            "source",
            F.floor((F.col("cum") - F.col("n_toks")) / 2048).alias("seq_id"),
            "n_toks",
            "doc_id",
        )
        .groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@_register(
    "quality_upsample_repeat",
    sql=f"""
WITH q AS (
  SELECT doc_id, lang,
    1 + CAST(len({_SQL_TOKS}) > 60 AS INT)
      + CAST(lang = 'en' AS INT) AS n_copies
  FROM documents
  WHERE doc_id % 4 = 0
)
SELECT doc_id, lang, CAST(n_copies AS INT) AS n_copies,
  CAST(unnest(generate_series(0, n_copies - 1)) AS INT) AS copy_idx
FROM q
""",
)
def q_quality_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture up-sampling: repeat each document n_copies times
    (here a deterministic quality proxy: base 1, +1 if long, +1 if
    English) by exploding a generated index array — the 'epochs by
    quality bucket' mixing step of a pretraining data recipe. A narrow
    map: no shuffle, output rows carry copy_idx so downstream shuffles
    spread replicas instead of colocating them."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import ws_tokens

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
    n_copies = (
        F.lit(1)
        + (F.size(ws_tokens("text")) > 60).cast("int")
        + (F.col("lang") == "en").cast("int")
    )
    return d.select(
        "doc_id",
        "lang",
        n_copies.cast("int").alias("n_copies"),
        F.explode(F.sequence(F.lit(0), n_copies - 1)).alias("copy_idx_raw"),
    ).select(
        "doc_id",
        "lang",
        "n_copies",
        F.col("copy_idx_raw").cast("int").alias("copy_idx"),
    )


@_register(
    "tfidf_top_terms",
    sql=f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
), tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE tok <> '' GROUP BY doc_id, tok
), df AS (
  SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY tok
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
    tf.tf * n.n_docs / CAST(df.df AS DOUBLE) AS score,
    row_number() OVER (PARTITION BY tf.doc_id
                       ORDER BY tf.tf * n.n_docs / CAST(df.df AS DOUBLE) DESC,
                                tf.tok) AS rn
  FROM tf JOIN df USING (tok) CROSS JOIN n
)
SELECT doc_id, tok, tf, df, round(score, 6) AS score
FROM scored WHERE rn <= 3
""",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF salient terms: term frequency per doc, document frequency
    per term, rational idf (tf * N / df — division of exact small
    integers, so both engines produce the identical double; ln-based idf
    would hinge on libm last-ulp agreement), top-3 terms per doc with a
    lexicographic tiebreak. Plan: two hash aggregates sharing the token
    shuffle, a broadcast of the 1-row corpus count, and WindowGroupLimit
    pushing the top-3 below the per-doc sort."""
    from pyspark.sql.window import Window

    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import ws_tokens

    d = _t(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(ws_tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.col("tf") * F.col("n_docs") / F.col("df").cast("double")
    w = Window.partitionBy("doc_id").orderBy(score.desc(), "tok")
    return (
        tf.join(df_, "tok")
        .join(F.broadcast(n))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "tok", "tf", "df", F.round(score, 6).alias("score"))
    )


@_register(
    "decontaminate_ngram_overlap",
    sql=f"""
WITH sh AS (
  SELECT doc_id, {_SQL_H60.format(x='s')} AS sh
  FROM (
    SELECT doc_id, unnest({_SQL_SHINGLES3.replace('toks', _SQL_TOKS)}) AS s
    FROM documents
  )
), eval_sh AS (
  SELECT DISTINCT sh FROM sh WHERE doc_id % 199 = 0
)
SELECT DISTINCT s.doc_id
FROM sh s JOIN eval_sh e ON s.sh = e.sh
WHERE s.doc_id % 199 <> 0
""",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing ANY
    3-gram shingle with the held-out eval set (doc_id % 199 == 0 stands in
    for the benchmark) — the n-gram contamination check run before every
    pretraining corpus release. Semi-join on 60-bit shingle hashes: the
    eval side collapses to distinct hashes (broadcastable at real scale —
    benchmarks are tiny vs the corpus), the training side never shuffles
    document bodies, and the output is the flagged doc set."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import (
        shingles,
        token_hash60,
    )

    d = _t(spark, sf_dir, "documents")

    def doc_shingle_hashes(docs):
        return docs.select(
            "doc_id", F.explode(shingles("text", 3)).alias("s")
        ).select("doc_id", token_hash60(F.col("s")).alias("sh"))

    # filter each side BEFORE exploding: the eval side shingles only the
    # (tiny) benchmark set, the training side never shingles eval docs
    eval_sh = (
        doc_shingle_hashes(d.filter(F.col("doc_id") % 199 == 0))
        .select("sh")
        .distinct()
    )
    return (
        doc_shingle_hashes(d.filter(F.col("doc_id") % 199 != 0))
        .join(F.broadcast(eval_sh), "sh", "left_semi")
        .select("doc_id")
        .distinct()
    )


@_register(
    "set_ops_all",
    sql="""
SELECT 'intersect_all' AS op, l_orderkey FROM (
  SELECT l_orderkey FROM lineitem WHERE l_quantity >= 25
  INTERSECT ALL SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
)
UNION ALL
SELECT 'except_all' AS op, l_orderkey FROM (
  SELECT l_orderkey FROM lineitem WHERE l_quantity >= 25
  EXCEPT ALL SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
)
""",
)
def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations (INTERSECT ALL / EXCEPT ALL): bag semantics
    preserve duplicate multiplicity — min(count) for intersect, count
    difference for except — which the DISTINCT variants in set_ops erase.
    Catalyst plans both as aggregate+generate over per-side counts, one
    shuffle each on the compared column."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") >= 25).select("l_orderkey")
    b = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        a.intersectAll(b).select(F.lit("intersect_all").alias("op"), "l_orderkey")
    ).unionAll(
        a.exceptAll(b).select(F.lit("except_all").alias("op"), "l_orderkey")
    )


@_register(
    "sort_nulls_family",
    sql="""
SELECT event_id, v
FROM (SELECT event_id,
        CASE WHEN CAST(round(value) AS BIGINT) % 5 = 0 THEN NULL
             ELSE value END AS v
      FROM events WHERE event_id % 3 = 0)
ORDER BY v ASC NULLS FIRST, event_id
LIMIT 50
""",
)
def q_sort_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-ordering dialect pin: Spark defaults to NULLS FIRST on ASC
    while DuckDB defaults to NULLS LAST, so portable sorts must state the
    placement explicitly — this query pins asc_nulls_first + a unique
    tiebreak under LIMIT (planned as TakeOrderedAndProject, never a global
    sort)."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") % 3 == 0)
    return (
        e.select(
            "event_id",
            F.when(
                F.round(F.col("value")).cast("long") % 5 == 0, F.lit(None)
            ).otherwise(F.col("value")).alias("v"),
        )
        .orderBy(F.col("v").asc_nulls_first(), "event_id")
        .limit(50)
    )


@_register(
    "rollup_grouping_id",
    sql="""
SELECT o_orderstatus, o_orderpriority,
  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
  CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
""",
)
def q_rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() markers: subtotal rows carry NULL in the
    rolled-up key, indistinguishable from a genuine NULL key value without
    the grouping indicator — the correctness detail every report layer
    over rollup/cube needs pinned cross-engine."""
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "try_arithmetic_family",
    sql="""
SELECT l_orderkey, l_linenumber,
  CASE WHEN l_linenumber - 3 = 0 THEN NULL
       ELSE round(l_extendedprice / (l_linenumber - 3), 6) END AS price_per,
  TRY_CAST(l_returnflag AS INT) AS flag_as_int,
  TRY_CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE) AS qty_roundtrip
FROM lineitem
WHERE l_orderkey % 40 = 0
""",
)
def q_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe ANSI arithmetic (try_divide / try_cast): division by
    zero and bad casts yield NULL instead of failing the job — the
    semantics a 100 TB pipeline needs so one malformed row can't kill a
    10-hour run (the engine-wide alternative, disabling ANSI mode, hides
    ALL errors; try_* scopes the tolerance to specific expressions)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 40 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.try_divide(F.col("l_extendedprice"), F.col("l_linenumber") - 3), 6
        ).alias("price_per"),
        F.col("l_returnflag").try_cast("int").alias("flag_as_int"),
        F.col("l_quantity").cast("string").try_cast("double").alias("qty_roundtrip"),
    )


@_register(
    "pii_redaction",
    sql=r"""
WITH aug AS (
  SELECT doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-'
         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
  FROM documents
), em AS (
  SELECT doc_id, t,
    CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
  FROM aug
)
SELECT doc_id, n_email,
  CAST(len(regexp_extract_all(t1, '\+1-555-[0-9]{4}')) AS INT) AS n_phone,
  md5(regexp_replace(t1, '\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
FROM em
""",
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (extension surface): per-class match counts + typed
    placeholder redaction, all JVM regexp expressions inside the scan's
    codegen stage (operators/text.py add_pii_redaction). The synthetic
    corpus has no real PII, so a deterministic email+phone suffix is
    injected per doc first — the oracle applies the SAME injection, so
    the match counts and the md5 of the redacted text must agree
    exactly. Classes redact in declared order (phone counts run on the
    email-redacted text), which the oracle mirrors."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import add_pii_redaction

    d = _t(spark, sf_dir, "documents")
    aug = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    )
    out = add_pii_redaction(aug)
    return out.select(
        "doc_id",
        "n_email",
        "n_phone",
        F.md5(F.col("redacted")).alias("redacted_md5"),
    )


@_register(
    "repetition_ngram_stats",
    sql="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), t AS (
  SELECT doc_id, ws, len(ws) AS n,
    list_transform(range(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS tri
  FROM w
)
SELECT doc_id,
  CAST(n AS BIGINT) AS n_words,
  CASE WHEN n > 0
       THEN round(1.0 - len(list_distinct(ws)) / CAST(n AS DOUBLE), 6) END
    AS dup_word_ratio,
  CASE WHEN len(tri) > 0
       THEN round(1.0 - len(list_distinct(tri)) / CAST(len(tri) AS DOUBLE), 6) END
    AS dup_trigram_ratio
FROM t
""",
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition / boilerplate detection (Gopher-style quality rule):
    duplicate-word and duplicate-trigram fractions per document
    (operators/text.py add_repetition_stats). Array lambdas only — the
    trigram list is never exploded, so there is no shuffle and memory is
    O(doc length) per row; at 100 TB this is a map-only stage fused into
    the scan."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import add_repetition_stats

    d = _t(spark, sf_dir, "documents")
    return add_repetition_stats(d).select(
        "doc_id", "n_words", "dup_word_ratio", "dup_trigram_ratio"
    )


@_register(
    "embedding_quantize_int8",
    sql="""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), s AS (
  SELECT vec_id, e,
    greatest(list_aggregate(list_transform(e, x -> abs(x)), 'max'), 1e-12) / 127.0
      AS scale
  FROM v
), q AS (
  SELECT vec_id, e, scale,
    list_transform(e, x -> CAST(round(x / scale) AS INT)) AS codes
  FROM s
)
SELECT vec_id,
  CAST(len(e) AS INT) AS dim,
  round(scale, 9) AS q_scale,
  array_to_string(codes, ',') AS q_codes,
  CAST(list_sum(list_transform(codes, c -> abs(c))) AS BIGINT) AS q_l1,
  round(list_sum(list_transform(range(1, len(e) + 1),
                                i -> pow(e[i] - codes[i] * scale, 2)))
        / len(e), 12) AS q_mse
FROM q
""",
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (operators/similarity.py
    quantize_int8): 4x-smaller codes for ANN probes with float re-rank,
    plus dequantization MSE to monitor quality loss. The fold is
    sequential per vector, so scale/codes/MSE are bit-deterministic and
    exactly replicable by the oracle's in-order list fold."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.similarity import quantize_int8

    e = _t(spark, sf_dir, "embeddings")
    out = quantize_int8(e)
    return out.select(
        "vec_id",
        "dim",
        F.round("q_scale", 9).alias("q_scale"),
        # int codes joined as a string (identical rendering on both
        # engines) so the driver's pandas canonicalizer can hash the row
        F.concat_ws(",", F.col("q_codes").cast("array<string>")).alias("q_codes"),
        "q_l1",
        F.round("q_mse", 12).alias("q_mse"),
    )


_SQL_CC_COMP = f"""
WITH RECURSIVE {_lsh_near_dup_ctes()}, pairs AS (
  SELECT id_a AS ia, id_b AS ib FROM lsh_pairs
), edges AS (
  SELECT ia AS ea, ib AS eb FROM pairs
  UNION
  SELECT ib AS ea, ia AS eb FROM pairs
), reach(v, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.ea, reach.r FROM edges e JOIN reach ON e.eb = reach.v
), comp AS (
  SELECT v AS vertex, min(r) AS component FROM reach GROUP BY v
)"""


def _cc_components(
    spark: SparkSession, sf_dir: str, exact_edges: bool = False
) -> DataFrame:
    """Shared head for the cluster-level corpus pipelines: near-dup edges
    (cosine >= 0.4) -> connected components (iterative min-label
    propagation). The DEFAULT edge source is the LSH-banded candidate
    generator (``embedding_near_dup_pairs``: banded bucket equi-join +
    Arrow-batched exact verify — sub-quadratic, the 100 TB plan);
    ``exact_edges=True`` swaps in the O(n^2) cogroup pair-grid scan, kept
    ONLY as small-scale ground truth for the pytest cross-check
    (tests/test_graph.py::test_cc_pipeline_lsh_edges_refine_exact)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.graph import connected_components
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.similarity import (
        embedding_near_dup_pairs,
        exact_near_dup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pair_fn = exact_near_dup_pairs if exact_edges else embedding_near_dup_pairs
    edges = pair_fn(emb, threshold=0.4).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    return connected_components(
        edges, vertices=emb.select(F.col("vec_id").alias("vertex"))
    )


@_register(
    "dedup_canonical_docs",
    sql=_SQL_CC_COMP
    + """
SELECT component, doc_id AS canonical_id, n_members, canon_chars
FROM (
  SELECT c.component, d.doc_id, d.n_chars AS canon_chars,
    CAST(count(*) OVER (PARTITION BY c.component) AS BIGINT) AS n_members,
    row_number() OVER (PARTITION BY c.component
                       ORDER BY d.n_chars DESC, d.doc_id) AS rn
  FROM comp c JOIN documents d ON d.doc_id = c.vertex
) WHERE rn = 1
""",
)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters -> ONE canonical document per cluster (the emit
    stage of corpus dedup): richest doc wins (max n_chars, doc_id
    tiebreak). Both window functions share one partitioning, so the
    canonical pick costs a single exchange on component after the CC
    rounds. Extends reference D1/D2 keep-first semantics (etl/etl.py:49,
    etl/transform_1.py:82-84) from exact keys to similarity clusters."""
    from pyspark.sql import Window

    comp = _cc_components(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    j = comp.join(docs, comp["vertex"] == docs["doc_id"])
    w = Window.partitionBy("component")
    wo = w.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        j.withColumn("rn", F.row_number().over(wo))
        .withColumn("n_members", F.count(F.lit(1)).over(w))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("canonical_id"),
            "n_members",
            F.col("n_chars").alias("canon_chars"),
        )
    )


_SQL_BUCKET_CC = (
    "CAST(concat('0x', substring(md5('cc' || CAST(c.component AS VARCHAR)), 1, 15))"
    " AS BIGINT) % 10000"
)


@_register(
    "leakage_safe_split",
    sql=_SQL_CC_COMP
    + f"""
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(count(DISTINCT component) AS BIGINT) AS n_groups,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM (
  SELECT c.component, d.n_chars,
    CASE WHEN {_SQL_BUCKET_CC} < 8000 THEN 'train'
         WHEN {_SQL_BUCKET_CC} < 9000 THEN 'val'
         ELSE 'test' END AS split
  FROM comp c JOIN documents d ON d.doc_id = c.vertex
)
GROUP BY split
""",
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split key is the NEAR-DUP
    CLUSTER id, not the document id, so near-duplicate documents can never
    straddle train and test (the eval-contamination failure mode of naive
    per-doc splits). Composition: LSH-banded near-dup edges -> connected
    components -> md5-bucket hash split on the component label
    (operators/sampling.py hash_split — deterministic, partitioning- and
    engine-invariant). Group membership in a split is whole-cluster by
    construction."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.sampling import hash_split

    comp = _cc_components(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    j = comp.join(docs, comp["vertex"] == docs["doc_id"])
    lab = hash_split(
        j, "component", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="cc"
    )
    return lab.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("component").alias("n_groups"),
        F.sum("n_chars").alias("sum_chars"),
    )


def _cross_dedup_sql(
    num_perm: int = 16, bands: int = 8, threshold: float = 0.2
) -> str:
    """DuckDB replica of cross_dedup_status over a doc_id%5 batch/corpus
    split: exact normalized-md5 containment, then cross-banded MinHash-LSH
    (new bands x corpus bands only) with exact-Jaccard verification."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import (
        MINHASH_P,
        _minhash_params,
    )

    rows = num_perm // bands
    mins = ", ".join(
        f"min((h % {MINHASH_P} * {a} + {b}) % {MINHASH_P}) AS mh_{i}"
        for i, (a, b) in enumerate(_minhash_params(num_perm))
    )

    def band_rows(sig: str) -> str:
        return "\n  UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_id, "
            + _SQL_H60.format(
                x="concat_ws(',', "
                + ", ".join(f"mh_{b * rows + r}" for r in range(rows))
                + ")"
            )
            + f" AS band_hash FROM {sig}"
            for b in range(bands)
        )

    jac = "round(m.n_common / (sn.sz + sc.sz - m.n_common), 6)"
    return f"""
WITH newb AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4
), corp AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4
), nh0 AS (
  SELECT doc_id, md5({_SQL_NORM}) AS h FROM newb
), ch0 AS (
  SELECT DISTINCT md5({_SQL_NORM}) AS h FROM corp
), exact AS (
  SELECT doc_id FROM nh0 WHERE h IN (SELECT h FROM ch0)
), nsh0 AS (
  SELECT doc_id, {_SQL_SHINGLES3} AS shingles
  FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM newb
        WHERE doc_id NOT IN (SELECT doc_id FROM exact))
), nhh AS (
  SELECT DISTINCT doc_id, {_SQL_H60.format(x='s')} AS h
  FROM (SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM nsh0)
), csh0 AS (
  SELECT doc_id, {_SQL_SHINGLES3} AS shingles
  FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM corp)
), chh AS (
  SELECT DISTINCT doc_id, {_SQL_H60.format(x='s')} AS h
  FROM (SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM csh0)
), nsizes AS (
  SELECT doc_id, count(*) AS sz FROM nhh GROUP BY doc_id
), csizes AS (
  SELECT doc_id, count(*) AS sz FROM chh GROUP BY doc_id
), nsig AS (
  SELECT doc_id, {mins} FROM nhh GROUP BY doc_id
), csig AS (
  SELECT doc_id, {mins} FROM chh GROUP BY doc_id
), nbands AS (
  {band_rows('nsig')}
), cbands AS (
  {band_rows('csig')}
), cand AS (
  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corp_id
  FROM nbands n JOIN cbands c
    ON n.band_id = c.band_id AND n.band_hash = c.band_hash
), common AS (
  SELECT a.doc_id AS new_id, b.doc_id AS corp_id, count(*) AS n_common
  FROM nhh a JOIN chh b ON a.h = b.h
  GROUP BY 1, 2
), near AS (
  SELECT DISTINCT c.new_id
  FROM cand c
  JOIN common m ON m.new_id = c.new_id AND m.corp_id = c.corp_id
  JOIN nsizes sn ON sn.doc_id = c.new_id
  JOIN csizes sc ON sc.doc_id = c.corp_id
  WHERE {jac} >= {threshold}
)
SELECT n.doc_id,
  CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
       WHEN nr.new_id IS NOT NULL THEN 'near_dup'
       ELSE 'kept' END AS status
FROM newb n
LEFT JOIN exact e ON e.doc_id = n.doc_id
LEFT JOIN near nr ON nr.new_id = n.doc_id
"""


@_register("incremental_cross_dedup", sql=_cross_dedup_sql())
def q_incremental_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ingest dedup of a NEW batch (doc_id%5==4) against the EXISTING
    corpus: exact md5 containment, then cross-banded MinHash-LSH + exact
    Jaccard — no corpus self-join anywhere, so per-ingest cost is linear in
    the corpus (one signature pass, amortizable) + O(new x collisions).
    The incremental counterpart of the reference's per-landed-file
    processing loop (etl/etl.py:25-33)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import (
        cross_dedup_status,
    )

    d = _t(spark, sf_dir, "documents")
    newb = d.filter(F.col("doc_id") % 5 == 4)
    corp = d.filter(F.col("doc_id") % 5 != 4)
    return cross_dedup_status(newb, corp, num_perm=16, bands=8, threshold=0.2)


# ==========================================================================
# Warehouse-maintenance & data-quality surface (round 3)
# ==========================================================================


@_register(
    "interval_coalesce",
    sql="""
WITH iv AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS s,
         CAST(ts AS TIMESTAMP) + INTERVAL 45 MINUTE AS e
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), flagged AS (
  SELECT user_id, s, e,
    CASE WHEN max(e) OVER wprev IS NULL OR s > max(e) OVER wprev
         THEN 1 ELSE 0 END AS opens
  FROM iv
  WINDOW wprev AS (PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), islands AS (
  SELECT user_id, s, e,
    sum(opens) OVER (PARTITION BY user_id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
  FROM flagged
), spans AS (
  SELECT user_id, span, min(s) AS ss, max(e) AS ee, count(*) AS nm
  FROM islands GROUP BY user_id, span
)
SELECT user_id,
  CAST(count(*) AS BIGINT) AS n_spans,
  CAST(sum(epoch_us(ee) - epoch_us(ss)) AS BIGINT) AS covered_us,
  CAST(max(epoch_us(ee) - epoch_us(ss)) AS BIGINT) AS longest_us,
  CAST(sum(nm) AS BIGINT) AS merged_events
FROM spans GROUP BY user_id
""",
)
def q_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union ("gaps and islands"): each event opens a 45-minute
    activity interval; overlapping/touching intervals per user merge into
    maximal spans — the general form of sessionization that also covers
    validity windows, maintenance windows, and sensor-uptime merging.
    Generalizes the reference's per-day window framing
    (etl/transform_1.py:72-101) to arbitrary-length overlapping intervals."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.timeseries import coalesce_intervals

    e = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    iv = e.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 45 MINUTES")).alias("e"),
    )
    spans = coalesce_intervals(iv, ["user_id"], "s", "e")
    dur = F.unix_micros(F.col("span_end")) - F.unix_micros(F.col("span_start"))
    return spans.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(dur).alias("covered_us"),
        F.max(dur).alias("longest_us"),
        F.sum("n_merged").alias("merged_events"),
    )


@_register(
    "scd2_user_history",
    sql="""
WITH e AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
), flagged AS (
  SELECT *, lag(event_type) OVER w AS prev_t, row_number() OVER w AS rn
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), surv AS (
  SELECT * FROM flagged WHERE rn = 1 OR event_type IS DISTINCT FROM prev_t
)
SELECT user_id, event_type, ts AS valid_from,
  lead(ts) OVER w2 AS valid_to,
  CAST(row_number() OVER w2 AS INT) AS version,
  (lead(ts) OVER w2 IS NULL) AS is_current
FROM surv WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def q_scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history: collapse each user's event_type change log into
    [valid_from, valid_to) validity intervals with run-length compression
    of unchanged values — the historical-tracking counterpart of the
    reference's Type-1 latest-row upsert (etl/etl.py:94-107)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.history import scd2_history

    e = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    return scd2_history(
        e.select("user_id", "event_type", "ts", "event_id"),
        keys=["user_id"],
        change_ts="ts",
        attrs=["event_type"],
        tiebreak=["event_id"],
    )


@_register(
    "data_quality_report",
    sql="""
WITH m AS (
  SELECT count(*) AS rows_, count(o_custkey) AS nn,
    count(DISTINCT o_orderkey) AS du, count(o_orderkey) AS nu,
    sum(CASE WHEN o_totalprice IS NOT NULL
              AND (o_totalprice < 0 OR o_totalprice > 1000000.0)
         THEN 1 ELSE 0 END) AS oob
  FROM orders
), r AS (
  SELECT count(*) AS orph FROM orders o
  WHERE o.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
)
SELECT 'row_count' AS "check", '*' AS target,
       CAST(rows_ AS DOUBLE) AS value, rows_ >= 1000 AS passed FROM m
UNION ALL SELECT 'completeness', 'o_custkey',
       round(nn / CAST(rows_ AS DOUBLE), 6),
       round(nn / CAST(rows_ AS DOUBLE), 6) >= 0.9 FROM m
UNION ALL SELECT 'uniqueness', 'o_orderkey',
       round(du / CAST(nu AS DOUBLE), 6), du = nu FROM m
UNION ALL SELECT 'range', 'o_totalprice', CAST(oob AS DOUBLE), oob = 0 FROM m
UNION ALL SELECT 'referential_integrity', 'o_custkey',
       CAST(orph AS DOUBLE), orph = 0 FROM m, r
""",
)
def q_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative quality gate over orders: completeness,
    uniqueness, value-range, referential-integrity, and row-count checks
    evaluated in ONE fact-scan aggregate + one broadcast anti-join,
    returned as a tall (check, target, value, passed) report — the
    formalization of the reference's ad-hoc null-probe QA
    (etl/transform_1.py:53)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.profiling import constraint_report

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    return constraint_report(
        o,
        completeness={"o_custkey": 0.9},
        unique=["o_orderkey"],
        ranges={"o_totalprice": (0.0, 1000000.0)},
        references={"o_custkey": c},
        min_rows=1000,
    )


@_register(
    "char_entropy_quality",
    sql="""
WITH c AS (
  SELECT doc_id, list_filter(string_split(text, ''), x -> x <> '') AS chars
  FROM documents WHERE text IS NOT NULL
), d AS (
  SELECT doc_id, chars, CAST(len(chars) AS DOUBLE) AS n,
    list_sort(list_transform(list_distinct(chars),
                             c -> len(list_filter(chars, x -> x = c)))) AS cnts
  FROM c
), e AS (
  SELECT doc_id, chars,
    CASE WHEN n > 0
         THEN round(0.0 - list_sum(list_transform(cnts,
                    k -> (k / n) * log2(k / n))), 6)
         ELSE 0.0 END AS char_entropy
  FROM d
), bg AS (
  SELECT doc_id, char_entropy,
    CASE WHEN len(chars) >= 2
         THEN list_transform(range(1, len(chars)), i -> chars[i] || chars[i + 1])
         ELSE CAST([] AS VARCHAR[]) END AS bigrams
  FROM e
)
SELECT doc_id, char_entropy,
  CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_distinct_bigrams,
  CAST(len(bigrams) AS BIGINT) AS n_bigrams
FROM bg
""",
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy + bigram-diversity quality signals per document
    (gibberish/boilerplate detectors) — pure JVM array expressions, with
    count-sorted folding so the float summation order is engine-identical."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import add_char_entropy

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return add_char_entropy(d, "text").select(
        "doc_id", "char_entropy", "n_distinct_bigrams", "n_bigrams"
    )


@_register(
    "snapshot_diff_orders",
    sql="""
WITH o AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderkey IS NOT NULL AND o_orderkey % 7 <> 0
), n AS (
  SELECT o_orderkey, o_orderstatus,
    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.5
         ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey IS NOT NULL AND o_orderkey % 11 <> 0
), d AS (
  SELECT
    coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
    CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_orderstatus
         ELSE o.o_orderstatus END AS o_orderstatus,
    CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_totalprice
         ELSE o.o_totalprice END AS o_totalprice,
    CASE WHEN o.o_orderkey IS NULL THEN 'insert'
         WHEN n.o_orderkey IS NULL THEN 'delete'
         WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
           OR o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'update'
    END AS change
  FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
)
SELECT * FROM d WHERE change IS NOT NULL
""",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC extraction from full dumps: diff two synthetic snapshots of
    orders (rows present only in one side, plus price-bumped rows) into an
    insert/delete/update change feed — the move an upstream that can only
    deliver complete snapshots forces on every warehouse."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.history import snapshot_diff

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey").isNotNull())
    key = F.col("o_orderkey")
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    old = o.filter(key % 7 != 0).select(*cols)
    new = (
        o.filter(key % 11 != 0)
        .withColumn(
            "o_totalprice",
            F.when(key % 13 == 0, F.col("o_totalprice") + 1.5).otherwise(
                F.col("o_totalprice")
            ),
        )
        .select(*cols)
    )
    return snapshot_diff(old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"])


@_register(
    "cdc_apply_events",
    sql="""
WITH ops AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
    CASE WHEN event_type = 'purchase' THEN 'D' ELSE 'U' END AS op
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM ops
)
SELECT user_id, event_id, op, round(value, 6) AS last_value
FROM ranked WHERE rn = 1 AND op <> 'D'
""",
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC replay with DELETE semantics: events become an op log
    (purchase = tombstone, everything else = upsert); the last op per user
    wins and tombstoned users vanish — full merge semantics over the
    reference's delete-less latest-row upsert (etl/etl.py:94-107)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.history import apply_cdc

    e = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    ops = e.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(F.col("event_type") == "purchase", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    return apply_cdc(ops, keys=["user_id"], order_by=["ts", "event_id"]).select(
        "user_id", "event_id", "op", F.round("value", 6).alias("last_value")
    )


@_register(
    "weighted_sample_docs",
    sql=f"""
WITH scored AS (
  SELECT doc_id, source, n_chars,
    round(pow((({_SQL_H60.format(x="concat('wq', CAST(doc_id AS VARCHAR))")}
               % 10000) + 0.5) / 10000.0,
              1.0 / CAST(n_chars AS DOUBLE)), 9) AS sample_score
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, source, n_chars, sample_score
FROM scored ORDER BY sample_score DESC, doc_id LIMIT 100
""",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis u^(1/w) keys, u md5-derived): the auditable way
    to draw a quality-weighted corpus subset — same sample on every run,
    every engine, every partitioning. Top-k is per-partition heaps, never
    a global sort."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.sampling import (
        weighted_sample_topk,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return weighted_sample_topk(d, key="doc_id", weight="n_chars", k=100, salt="wq")


@_register(
    "weighted_sample_per_lang",
    sql=f"""
WITH scored AS (
  SELECT lang, doc_id, n_chars,
    round(pow((({_SQL_H60.format(x="concat('wg', CAST(doc_id AS VARCHAR))")}
               % 10000) + 0.5) / 10000.0,
              1.0 / CAST(n_chars AS DOUBLE)), 9) AS sample_score
  FROM documents WHERE n_chars > 0
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY lang ORDER BY sample_score DESC, doc_id) AS rn
  FROM scored
)
SELECT lang, doc_id, n_chars, sample_score FROM r WHERE rn <= 5
""",
)
def q_weighted_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Efraimidis–Spirakis sampling: the 5 largest u^(1/w) keys
    WITHIN each language — the per-stratum dual of weighted_sample_docs
    (a quality-weighted subset per language for eval-set construction).
    The rank filter bounds the window so Spark plans WindowGroupLimit:
    per-partition partial top-k before the shuffle, k rows of state per
    group regardless of group size."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    d = _t(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    return weighted_sample_per_group(
        d, group_col="lang", key="doc_id", weight="n_chars", k=5, salt="wg"
    )


@_register(
    "psi_drift_orders",
    sql="""
WITH b AS (SELECT o_totalprice AS x FROM orders
           WHERE o_orderkey % 3 = 0 AND o_totalprice IS NOT NULL),
c AS (SELECT o_totalprice AS x FROM orders
      WHERE o_orderkey % 3 = 1 AND o_totalprice IS NOT NULL),
bounds AS (SELECT min(x) AS lo, max(x) AS hi FROM b),
bb AS (
  SELECT CAST(greatest(0, least(floor((x - lo) / ((hi - lo) / 10.0)), 9))
         AS INT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_base
  FROM b, bounds GROUP BY 1),
cc AS (
  SELECT CAST(greatest(0, least(floor((x - lo) / ((hi - lo) / 10.0)), 9))
         AS INT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_cur
  FROM c, bounds GROUP BY 1),
j AS (
  SELECT bucket, coalesce(n_base, 0) AS n_base, coalesce(n_cur, 0) AS n_cur
  FROM bb FULL JOIN cc USING (bucket)),
t AS (SELECT CAST(sum(n_base) AS DOUBLE) AS tb,
             CAST(sum(n_cur) AS DOUBLE) AS tc FROM j)
SELECT bucket, n_base, n_cur,
  round((greatest(n_cur / tc, 1e-6) - greatest(n_base / tb, 1e-6))
        * ln(greatest(n_cur / tc, 1e-6) / greatest(n_base / tb, 1e-6)),
        6) AS psi_term
FROM j, t
""",
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift monitor (operators.profiling
    .psi_drift) between two deterministic snapshots of o_totalprice:
    equi-width bins fixed from the BASELINE's min/max (never re-fit on
    current — re-fitting hides the shift being measured), out-of-range
    rows clamp into edge bins, epsilon-floored proportions, one
    psi_term row per bucket (SUM = the index). One 1-row bounds agg
    broadcast, map-side bucketing, two nbins-group aggregates."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.profiling import psi_drift

    o = _t(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 3 == 0).select("o_totalprice")
    cur = o.filter(F.col("o_orderkey") % 3 == 1).select("o_totalprice")
    return psi_drift(base, cur, "o_totalprice", nbins=10)


@_register(
    "outlier_clip_iqr",
    sql="""
WITH f AS (
  SELECT event_type,
    quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
  GROUP BY event_type
), fence AS (
  SELECT event_type, q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
  FROM f
)
SELECT e.event_id, e.event_type,
  round(least(greatest(e.value, fence.lo), fence.hi), 6) AS value_clipped,
  (e.value < fence.lo OR e.value > fence.hi) AS was_clipped
FROM events e JOIN fence USING (event_type)
WHERE e.event_type IS NOT NULL AND e.value IS NOT NULL
""",
)
def q_outlier_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence winsorization per event_type: exact per-group quartile
    fences via one aggregate + broadcast join-back, map-side clip with an
    audit flag — the robust-statistics upgrade of the reference's blanket
    numeric sanitization (etl/transform_1.py:62-69)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.cleaning import clip_outliers_iqr

    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    out = clip_outliers_iqr(
        e, "value", keys=["event_type"], k=1.5, output="value_clipped", flag="was_clipped"
    )
    return out.select(
        "event_id",
        "event_type",
        F.round("value_clipped", 6).alias("value_clipped"),
        "was_clipped",
    )


@_register(
    "zscore_normalize",
    sql="""
WITH s AS (
  SELECT avg(l_quantity) AS mu_q, stddev_samp(l_quantity) AS sd_q,
         avg(l_extendedprice) AS mu_p, stddev_samp(l_extendedprice) AS sd_p
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
  round(CASE WHEN sd_q > 0 THEN (l_quantity - mu_q) / sd_q END, 6) AS l_quantity_z,
  round(CASE WHEN sd_p > 0 THEN (l_extendedprice - mu_p) / sd_p END, 6) AS l_extendedprice_z
FROM lineitem, s
""",
)
def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score feature standardization: all means/stddevs in ONE global
    aggregate, returned via 1-row broadcast; the scaling itself is
    map-side — two scans total regardless of feature count."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.cleaning import standard_scale

    li = _t(spark, sf_dir, "lineitem")
    out = standard_scale(li, ["l_quantity", "l_extendedprice"])
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_quantity_z", 6).alias("l_quantity_z"),
        F.round("l_extendedprice_z", 6).alias("l_extendedprice_z"),
    )


@_register(
    "temporal_split_embargo",
    sql="""
WITH base AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
), cut AS (
  SELECT CAST(floor(quantile_cont(epoch_us(ts), 0.8)) AS BIGINT) AS cut_us
  FROM base
), lab AS (
  SELECT
    CASE WHEN epoch_us(ts) <= cut_us THEN 'train'
         WHEN ts > make_timestamp(cut_us) + INTERVAL 2 DAY THEN 'test'
    END AS split,
    epoch_us(ts) AS us
  FROM base, cut
)
SELECT split, count(*) AS n_rows,
  CAST(min(us) AS BIGINT) AS min_us, CAST(max(us) AS BIGINT) AS max_us
FROM lab WHERE split IS NOT NULL GROUP BY split
""",
)
def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe TEMPORAL train/test split with a 2-day embargo gap:
    rows up to the exact 0.8 timestamp quantile train, rows beyond
    cutoff+embargo test, the gap is dropped — the split a
    forecasting/feature pipeline needs where a random split leaks future
    context. Summarized per split (count + exact boundary micros) so the
    attested values pin the boundary itself."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.sampling import (
        temporal_split_embargo,
    )

    e = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    lab = temporal_split_embargo(e, "ts", cutoff_fraction=0.8, embargo="2 days")
    return lab.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(F.unix_micros("ts")).alias("min_us"),
        F.max(F.unix_micros("ts")).alias("max_us"),
    )


@_register(
    "generator_functions",
    sql=f"""
WITH toks AS (
  SELECT doc_id, ({_SQL_TOKS})[1:5] AS t5 FROM documents WHERE doc_id % 10 = 0
)
SELECT doc_id,
  CAST(unnest(range(1, len(t5) + 1)) AS INT) AS pos,
  unnest(t5) AS tok,
  CAST(len(t5) AS INT) AS n_generated
FROM toks
""",
)
def q_generator_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator/table-function family: posexplode over a token slice —
    one input row fans out to N output rows with a position column
    (LATERAL-join semantics, mirrored by DuckDB's unnest WITH ORDINALITY).
    Generators are NARROW (no exchange): the fan-out happens inside the
    scan stage, which is what keeps explode-heavy corpus pipelines
    shuffle-free until the first aggregation."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import (
        normalize_text,
        ws_tokens,
    )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    t5 = F.slice(ws_tokens("text"), 1, 5)
    return (
        d.select(F.col("doc_id"), t5.alias("t5"))
        .select(
            "doc_id",
            F.posexplode("t5").alias("pos", "tok"),
            F.size("t5").cast("int").alias("n_generated"),
        )
        .withColumn("pos", (F.col("pos") + 1).cast("int"))
        .select("doc_id", "pos", "tok", "n_generated")
    )


@_register(
    "embedding_matryoshka_truncate",
    sql="""
WITH t AS (
  SELECT vec_id, embedding[1:16] AS v FROM embeddings
), n AS (
  SELECT vec_id, v,
    sqrt(list_sum(list_transform(v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM t
)
SELECT vec_id, round(nrm, 6) AS norm16,
  array_to_string(
    list_transform(v, x -> CAST(round(CAST(x AS DOUBLE) / nrm * 1000000) AS BIGINT)),
    ',') AS unit_q6
FROM n WHERE nrm > 0
""",
)
def q_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style embedding truncation: keep the first 16 dims and
    renormalize to unit length — the storage/latency trade modern nested
    embeddings are trained for (truncate for candidate retrieval, full-dim
    re-rank). Map-only JVM array lambdas (slice + in-order fold + sqrt);
    the unit vector is emitted as micro-quantized integers joined to a
    string so the value oracle is exact and driver-hashable."""
    e = _t(spark, sf_dir, "embeddings")
    v = F.slice(F.col("embedding"), 1, 16)
    d = e.select("vec_id", v.alias("v"))
    ss = F.aggregate(
        F.col("v"),
        F.lit(0.0),
        lambda a, x: a + x.cast("double") * x.cast("double"),
    )
    nd = d.withColumn("nrm", F.sqrt(ss)).filter(F.col("nrm") > 0)
    unit_q6 = F.concat_ws(
        ",",
        F.transform(
            F.col("v"),
            lambda x: F.round(x.cast("double") / F.col("nrm") * 1000000).cast("long"),
        ),
    )
    return nd.select(
        "vec_id",
        F.round("nrm", 6).alias("norm16"),
        unit_q6.alias("unit_q6"),
    )


@_register(
    "unigram_logprob_quality",
    sql=f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
), toks2 AS (
  SELECT doc_id, tok FROM toks WHERE tok <> ''
), vocab AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS tok_n FROM toks2 GROUP BY tok
), total AS (
  SELECT CAST(sum(tok_n) AS BIGINT) AS total_toks FROM vocab
), sv AS (
  SELECT tok,
    CAST(round(ln(tok_n / CAST(total_toks AS DOUBLE)) * 1e6) AS BIGINT) AS lp6
  FROM vocab CROSS JOIN total
)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_toks,
  round(CAST(sum(lp6) AS BIGINT) / CAST(count(*) AS BIGINT) / 1e6, 6)
    AS avg_logprob
FROM toks2 JOIN sv USING (tok)
GROUP BY doc_id
""",
)
def q_unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM quality scoring (CCNet-style perplexity proxy): fit
    corpus unigram counts, score each doc by mean token log-probability in
    order-independent integer micro-nats. See
    operators.text.unigram_logprob_scores for the scale notes (one
    token-keyed agg + broadcast total + skew-aware stream join)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import (
        unigram_logprob_scores,
    )

    return unigram_logprob_scores(_t(spark, sf_dir, "documents"))


@_register(
    "segment_dedup_reconstruct",
    sql=f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), s0 AS (
  SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1, 10)) AS start
  FROM t
), s AS (
  SELECT doc_id, CAST(start / 10 AS BIGINT) AS seg_idx,
    array_to_string(list_slice(toks, start + 1, start + 10), ' ') AS seg
  FROM s0
  WHERE array_to_string(list_slice(toks, start + 1, start + 10), ' ') <> ''
), freq AS (
  SELECT seg, count(DISTINCT doc_id) AS n_docs FROM s GROUP BY seg
), kept AS (
  SELECT s.doc_id, s.seg_idx, s.seg FROM s JOIN freq USING (seg)
  WHERE freq.n_docs = 1
), totals AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs FROM s GROUP BY doc_id
), recon AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
    string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT totals.doc_id, totals.n_segs,
  CAST(coalesce(recon.n_kept, 0) AS BIGINT) AS n_kept,
  CAST(totals.n_segs - coalesce(recon.n_kept, 0) AS BIGINT) AS n_dropped,
  coalesce(recon.clean_text, '') AS clean_text
FROM totals LEFT JOIN recon USING (doc_id)
""",
)
def q_segment_dedup_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line/segment-level cross-doc dedup (RefinedWeb line-dedup adapted
    to newline-free corpora): 10-token segments, corpus-frequency filter,
    in-order reconstruction. See operators.dedup.segment_dedup."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import segment_dedup

    return segment_dedup(_t(spark, sf_dir, "documents"), seg_len=10)


@_register(
    "overlap_span_dedup",
    sql=r"""
WITH t AS (
  SELECT doc_id,
    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')
      AS toks
  FROM documents
), s0 AS (
  SELECT doc_id, toks, len(toks) AS n,
    unnest(generate_series(1, greatest(len(toks) - 7, 1), 4)) AS start
  FROM t
), w AS (
  SELECT doc_id, n, start,
    array_to_string(list_slice(toks, start, start + 7), ' ') AS wstr
  FROM s0
  WHERE array_to_string(list_slice(toks, start, start + 7), ' ') <> ''
), dup AS (
  SELECT wstr FROM w GROUP BY wstr HAVING count(DISTINCT doc_id) > 1
), cov AS (
  SELECT DISTINCT w.doc_id,
    unnest(generate_series(w.start, least(w.start + 7, w.n))) AS pos
  FROM w JOIN dup USING (wstr)
), tk AS (
  SELECT doc_id, pos, toks[pos] AS tok
  FROM (SELECT doc_id, toks,
          unnest(generate_series(1, len(toks))) AS pos FROM t)
  WHERE toks[pos] <> ''
), surv AS (
  SELECT tk.* FROM tk LEFT JOIN cov
    ON tk.doc_id = cov.doc_id AND tk.pos = cov.pos
  WHERE cov.pos IS NULL
), recon AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
    string_agg(tok, ' ' ORDER BY pos) AS clean_text
  FROM surv GROUP BY doc_id
), tot AS (
  -- per-doc frame, not the token stream: empty/NULL-text docs must
  -- still emit a (doc_id, 0, 0, '') row (one-row-per-document contract)
  SELECT doc_id,
    CAST(coalesce(len(list_filter(toks, x -> x <> '')), 0) AS BIGINT)
      AS n_toks
  FROM t
)
SELECT tot.doc_id, tot.n_toks,
  CAST(coalesce(recon.n_kept, 0) AS BIGINT) AS n_kept,
  coalesce(recon.clean_text, '') AS clean_text
FROM tot LEFT JOIN recon USING (doc_id)
""",
)
def q_overlap_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window exact substring dedup (Lee et al. 2021 seed-and-
    remove): k=8-token windows every stride=4 tokens, windows shared
    across documents mark their covered positions for removal, survivors
    reconstruct in order. Catches duplicated spans that straddle
    segment_dedup's disjoint boundaries — any shared span of >= k+stride-1
    = 11 tokens is detected regardless of alignment. See
    operators.dedup.remove_duplicated_spans."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import (
        remove_duplicated_spans,
    )

    return remove_duplicated_spans(
        _t(spark, sf_dir, "documents"), k=8, stride=4
    )


@_register(
    "mixture_rebalance_downsample",
    sql=f"""
WITH cnt AS (
  -- WHERE lang IS NOT NULL mirrors rebalance_to_min_group's documented
  -- NULL-group drop: a NULL-lang group must neither be emitted nor
  -- shrink min(n) for everyone else
  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents
  WHERE lang IS NOT NULL GROUP BY lang
), mn AS (
  SELECT min(n) AS min_n FROM cnt
), thr AS (
  SELECT lang, CAST((mn.min_n * 10000) // cnt.n AS BIGINT) AS thr
  FROM cnt CROSS JOIN mn
)
SELECT d.doc_id, d.lang
FROM documents d JOIN thr USING (lang)
WHERE {_SQL_H60.format(x="concat('mix', CAST(doc_id AS VARCHAR))")} % 10000
      < thr.thr
""",
)
def q_mixture_rebalance_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalance: down-sample every language to ~the smallest
    language's share via exact-integer hash thresholds (the down-sampling
    dual of quality_upsample_repeat; lang is the skewed mixture axis in
    this corpus — en is ~3.4x fr). See
    operators.sampling.rebalance_to_min_group for the scale rationale
    (Binomial-tight counts instead of a per-group order statistic)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.sampling import (
        rebalance_to_min_group,
    )

    d = _t(spark, sf_dir, "documents")
    return rebalance_to_min_group(d, "lang", "doc_id", salt="mix").select(
        "doc_id", "lang"
    )


@_register(
    "pagerank_supply_graph",
    sql="""
WITH raw AS (
  SELECT concat('c:', CAST(o.o_custkey AS VARCHAR)) AS a,
         concat('s:', CAST(l.l_suppkey AS VARCHAR)) AS b,
         CAST(count(*) AS BIGINT) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
), sym AS (
  SELECT a, b, CAST(sum(w) AS BIGINT) AS w FROM (
    SELECT a, b, w FROM raw
    UNION ALL
    SELECT b AS a, a AS b, w FROM raw
  ) GROUP BY a, b
), deg AS (
  SELECT a, CAST(sum(w) AS BIGINT) AS wdeg FROM sym GROUP BY a
), univ AS (
  SELECT DISTINCT a AS vertex FROM sym
), r0 AS (
  SELECT vertex, CAST(1000000 AS BIGINT) AS rank6 FROM univ
), i1 AS (
  SELECT u.vertex, CAST((CAST(150000 AS BIGINT) * 1000000
      + 850000 * coalesce(s.s6, 0)) // 1000000 AS BIGINT) AS rank6
  FROM univ u LEFT JOIN (
    SELECT sym.b AS vertex,
      CAST(sum((r.rank6 * sym.w) // d.wdeg) AS BIGINT) AS s6
    FROM sym JOIN r0 r ON sym.a = r.vertex JOIN deg d ON sym.a = d.a
    GROUP BY sym.b
  ) s ON s.vertex = u.vertex
), i2 AS (
  SELECT u.vertex, CAST((CAST(150000 AS BIGINT) * 1000000
      + 850000 * coalesce(s.s6, 0)) // 1000000 AS BIGINT) AS rank6
  FROM univ u LEFT JOIN (
    SELECT sym.b AS vertex,
      CAST(sum((r.rank6 * sym.w) // d.wdeg) AS BIGINT) AS s6
    FROM sym JOIN i1 r ON sym.a = r.vertex JOIN deg d ON sym.a = d.a
    GROUP BY sym.b
  ) s ON s.vertex = u.vertex
), i3 AS (
  SELECT u.vertex, CAST((CAST(150000 AS BIGINT) * 1000000
      + 850000 * coalesce(s.s6, 0)) // 1000000 AS BIGINT) AS rank6
  FROM univ u LEFT JOIN (
    SELECT sym.b AS vertex,
      CAST(sum((r.rank6 * sym.w) // d.wdeg) AS BIGINT) AS s6
    FROM sym JOIN i2 r ON sym.a = r.vertex JOIN deg d ON sym.a = d.a
    GROUP BY sym.b
  ) s ON s.vertex = u.vertex
)
SELECT i3.vertex, deg.wdeg, i3.rank6
FROM i3 JOIN deg ON deg.a = i3.vertex
""",
)
def q_pagerank_supply_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration weighted PageRank over the customer–supplier
    interaction graph (edges = lineitems joining a customer's order to a
    supplier, weight = lineitem count): document/entity authority scoring
    as pure-integer Pregel-on-DataFrames. Three rounds, micro-unit BIGINT
    arithmetic — bit-identical across engines and shuffle layouts (the
    DuckDB oracle unrolls the same three rounds as chained CTEs). See
    operators.graph.pagerank_fixed for the per-round plan (one rank-to-
    edges equi-join + one inflow aggregate that every vertex enters with
    a zero contribution, checkpointed edges)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.graph import pagerank_fixed

    l, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    # LONG vertex ids through the whole computation (cust -> 2k,
    # supp -> 2k+1): every edge shuffle/sort keys on an 8-byte long
    # instead of a concat'd string — the id scheme every graph engine
    # uses; the reader-facing 'c:'/'s:' labels are rebuilt map-side at
    # the very end. Relabeling is a bijection, so ranks are unchanged.
    edges = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            (F.col("o_custkey").cast("long") * 2).alias("src"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    # the vertex set is the bipartite dims (customers + suppliers) — tiny
    # next to the edge list, so ranks broadcast and each round is one agg
    pr = pagerank_fixed(edges, weight="w", iters=3, broadcast_ranks=True)
    return pr.select(
        F.when(
            F.col("vertex") % 2 == 0,
            F.concat(F.lit("c:"), (F.col("vertex") / 2).cast("long").cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit("s:"), ((F.col("vertex") - 1) / 2).cast("long").cast("string")
            )
        )
        .alias("vertex"),
        "wdeg",
        "rank6",
    )


@_register(
    "equidepth_binning",
    sql="""
WITH r AS (
  SELECT o_totalprice,
    ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
  FROM orders
)
SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n,
  CAST(round(min(o_totalprice) * 100) AS BIGINT) AS lo_cents,
  CAST(round(max(o_totalprice) * 100) AS BIGINT) AS hi_cents
FROM r GROUP BY bin
""",
)
def q_equidepth_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth (decile) feature binning over a global total
    order — WITHOUT the single-task `ntile() OVER (ORDER BY ...)` trap:
    global_row_number does the two-pass distributed rank (range exchange,
    per-partition window, broadcast offsets) and ntile_from_rank rebuilds
    SQL NTILE's bucket-sizes-differ-by-at-most-one semantics with pure
    integer arithmetic, so the result is bit-identical to the oracle's
    native ntile over the same (price, orderkey) total order."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.windows import (
        global_row_number,
        ntile_from_rank,
    )

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = global_row_number(o, ["o_totalprice", "o_orderkey"])
    n1 = o.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    return (
        ranked.join(F.broadcast(n1))
        .withColumn("bin", ntile_from_rank("global_rn", "n_total", 10))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min(cents).alias("lo_cents"),
            F.max(cents).alias("hi_cents"),
        )
    )


@_register(
    "sliding_window_agg",
    sql="""
WITH e AS (
  SELECT event_type, value,
    epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events
), x AS (
  SELECT event_type, value,
    unnest([(us // 300000000) * 300000000,
            (us // 300000000) * 300000000 - 300000000]) AS w_us
  FROM e
)
SELECT strftime(make_timestamp(w_us), '%Y-%m-%d %H:%M:%S') AS w_start,
  event_type,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM x GROUP BY w_start, event_type
""",
)
def q_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (10 min wide, 5 min slide) per event
    type — Spark's native `window()` generator (each event fans out to
    width/slide = 2 windows map-side, then one hash aggregate on
    (window, type); no self-join, no sort). The oracle unrolls the same
    two epoch-aligned window starts per event. Value sums ride integer
    cents; window starts surface as formatted UTC strings."""
    e = _t(spark, sf_dir, "events")
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")
    return (
        e.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(cents).cast("long").alias("sum_cents"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "event_type",
            "n",
            "sum_cents",
        )
    )


@_register(
    "incremental_rollup_maintain",
    sql="""
SELECT user_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY user_id, day
""",
)
def q_incremental_rollup_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the per-(user, day)
    rollup is computed as BASE (events before the cutoff) merged with a
    DELTA aggregate (events at/after the cutoff) via a key-aligned
    full-outer combine of the partial aggregates — count and integer-cent
    sums are decomposable, so base + delta == full recompute, which is
    exactly what the oracle checks (it recomputes from scratch). At scale
    the delta side is tiny relative to base, the merge join touches only
    delta keys' partitions, and the combine-then-write pairs with
    upsert_by_key's dynamic partition overwrite — this query pins the
    ALGEBRA of that maintenance path."""
    e = _t(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")

    def _rollup(df):
        return df.groupBy("user_id", day).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(cents).cast("long").alias("sum_cents"),
        )

    cutoff = F.lit("2024-01-24").cast("timestamp")
    base = _rollup(e.filter(F.col("ts") < cutoff))
    delta = _rollup(e.filter(F.col("ts") >= cutoff))
    b, d = base.alias("b"), delta.alias("d")
    return (
        b.join(d, ["user_id", "day"], "full_outer")
        .select(
            "user_id",
            "day",
            (F.coalesce(F.col("b.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0)))
            .cast("long")
            .alias("n"),
            (
                F.coalesce(F.col("b.sum_cents"), F.lit(0))
                + F.coalesce(F.col("d.sum_cents"), F.lit(0))
            )
            .cast("long")
            .alias("sum_cents"),
        )
    )


@_register(
    "event_debounce",
    sql="""
WITH e AS (
  SELECT event_id, user_id, event_type,
    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
    lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
      PARTITION BY user_id, event_type
      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_us
  FROM events
)
SELECT event_id, user_id, event_type
FROM e
WHERE prev_us IS NULL OR us - prev_us >= 14400000000
""",
)
def q_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce: drop an event that repeats the previous event of the same
    (user, type) within 4 h — the batch twin of the streaming
    dropDuplicatesWithinWatermark idiom, as one lag() over the
    (user, type) key with a deterministic (ts, event_id) tiebreak. One
    exchange + one sort; the filter is map-side after the window."""
    e = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("__us", us)
        .withColumn("__prev", F.lag("__us").over(w))
        .filter(F.col("__prev").isNull() | (F.col("__us") - F.col("__prev") >= 14_400_000_000))
        .select("event_id", "user_id", "event_type")
    )


@_register(
    "funnel_view_click_purchase",
    sql="""
WITH v AS (
  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t_view
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t_click
  GROUP BY e.user_id
), u AS (
  SELECT DISTINCT user_id FROM events
)
SELECT u.user_id,
  strftime(v.t_view, '%Y-%m-%d %H:%M:%S.%f') AS t_view,
  strftime(c.t_click, '%Y-%m-%d %H:%M:%S.%f') AS t_click,
  strftime(p.t_purchase, '%Y-%m-%d %H:%M:%S.%f') AS t_purchase,
  CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
            WHEN c.user_id IS NOT NULL THEN 2
            WHEN v.user_id IS NOT NULL THEN 1
            ELSE 0 END AS BIGINT) AS funnel_depth
FROM u
LEFT JOIN v ON u.user_id = v.user_id
LEFT JOIN c ON u.user_id = c.user_id
LEFT JOIN p ON u.user_id = p.user_id
""",
)
def q_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view -> click -> purchase): each stage's
    entry time is the FIRST qualifying event strictly after the previous
    stage's entry — three user-keyed min-aggregates chained by equi-joins
    (all sharing the user_id shuffle key, so AQE coalesces them onto one
    exchange layout), then a left-join ladder onto the user universe with
    the funnel depth as a CASE. No window over the full event stream, no
    per-user collect_list."""
    e = _t(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    u = e.select("user_id").distinct()
    return (
        u.join(v, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.date_format("t_view", fmt).alias("t_view"),
            F.date_format("t_click", fmt).alias("t_click"),
            F.date_format("t_purchase", fmt).alias("t_purchase"),
            F.when(F.col("t_purchase").isNotNull(), F.lit(3))
            .when(F.col("t_click").isNotNull(), F.lit(2))
            .when(F.col("t_view").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("funnel_depth"),
        )
    )


@_register(
    "token_budget_select",
    sql=f"""
WITH d AS (
  SELECT doc_id, n_chars,
    CAST(len(list_filter({_SQL_TOKS}, t -> t <> '')) AS BIGINT) AS n_toks
  FROM documents
), tot AS (
  SELECT CAST(sum(n_toks) AS BIGINT) // 2 AS budget FROM d
), c AS (
  SELECT doc_id, n_toks,
    CAST(sum(n_toks) OVER (
      ORDER BY -n_chars, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum_toks
  FROM d
)
SELECT doc_id, n_toks, cum_toks
FROM c CROSS JOIN tot WHERE cum_toks <= budget
""",
)
def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: rank documents by priority (here
    longest-first with a doc_id tiebreak), take documents until the
    cumulative token count reaches half the corpus — the greedy
    budget-constrained selection step of dataset curation. The global
    running total uses global_cumsum (range exchange + per-partition
    running sums + broadcast offsets), never a partition-less window; the
    budget is a 1-row broadcast. Exact BIGINT token counts make the
    cumulative sum order-free within the fixed total order."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import ws_tokens
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.windows import global_cumsum

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.size(F.filter(ws_tokens("text"), lambda t: t != F.lit("")))
        .cast("long")
        .alias("n_toks"),
    )
    budget = d.agg(F.expr("CAST(sum(n_toks) AS BIGINT) div 2").alias("budget"))
    ranked = global_cumsum(
        d.withColumn("__neg_chars", -F.col("n_chars")),
        ["__neg_chars", "doc_id"],
        "n_toks",
        out_col="cum_toks",
    )
    return (
        ranked.join(F.broadcast(budget))
        .filter(F.col("cum_toks") <= F.col("budget"))
        .select("doc_id", "n_toks", "cum_toks")
    )


@_register(
    "hard_negative_mining",
    sql="""
WITH pairs AS (
  SELECT a.vec_id AS anchor, b.vec_id AS neg,
    round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
      / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
       * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6)
      AS cos
  FROM embeddings a JOIN embeddings b
    ON a.vec_id <> b.vec_id AND a.label <> b.label
), r AS (
  SELECT anchor, neg, cos,
    row_number() OVER (PARTITION BY anchor ORDER BY cos DESC, neg) AS rn
  FROM pairs
)
SELECT anchor, neg, cos FROM r WHERE rn <= 3
""",
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the 3
    most-similar DIFFERENT-label vectors, exact, over the cogroup pair
    grid (one BLAS matmul per cell, per-anchor local top-k with boundary
    ties, tiny merge shuffle). See
    operators.similarity.hard_negative_topk."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.similarity import (
        hard_negative_topk,
    )

    return hard_negative_topk(_t(spark, sf_dir, "embeddings"), k=3)


@_register(
    "bpe_pair_merge_candidates",
    sql=f"""
WITH vocab AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest({_SQL_TOKS}) AS tok FROM documents)
  WHERE tok <> '' GROUP BY tok
), chars AS (
  SELECT tok, n, string_split(tok, '') AS ch FROM vocab
), pairs AS (
  SELECT n,
    unnest(list_transform(generate_series(1, len(ch) - 1),
                          i -> ch[i] || ch[i + 1])) AS pair
  FROM chars WHERE len(ch) >= 2
)
SELECT pair, CAST(sum(n) AS BIGINT) AS n_occurrences
FROM pairs GROUP BY pair
ORDER BY n_occurrences DESC, pair LIMIT 20
""",
)
def q_bpe_pair_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training iteration at corpus scale: the top-20 adjacent
    character pairs by corpus frequency — the merge candidates a BPE
    tokenizer fit would pick next. Key scale property: pair counting runs
    over the DISTINCT-WORD vocabulary weighted by word frequency (one
    token-keyed agg first), so the char-pair work scales with |vocab|,
    not corpus tokens; the final cut is TakeOrderedAndProject."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import ws_tokens

    d = _t(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(ws_tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    ch = F.filter(F.split(F.col("tok"), ""), lambda x: x != F.lit(""))
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("ch") - 1),
        lambda i: F.concat(
            F.element_at(F.col("ch"), i), F.element_at(F.col("ch"), i + 1)
        ),
    )
    return (
        vocab.withColumn("ch", ch)
        .filter(F.size("ch") >= 2)
        .select("n", F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("n").cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(20)
    )


@_register(
    "corpus_curation_pipeline",
    sql=f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), s0 AS (
  SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1, 10)) AS start
  FROM t
), s AS (
  SELECT doc_id, CAST(start / 10 AS BIGINT) AS seg_idx,
    array_to_string(list_slice(toks, start + 1, start + 10), ' ') AS seg
  FROM s0
  WHERE array_to_string(list_slice(toks, start + 1, start + 10), ' ') <> ''
), freq AS (
  SELECT seg, count(DISTINCT doc_id) AS nd FROM s GROUP BY seg
), kept AS (
  SELECT s.doc_id, s.seg_idx, s.seg FROM s JOIN freq USING (seg)
  WHERE freq.nd = 1
), clean AS (
  SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
  FROM kept GROUP BY doc_id
), ct AS (
  SELECT doc_id, unnest(string_split(clean_text, ' ')) AS tok FROM clean
), ct2 AS (
  SELECT doc_id, tok FROM ct WHERE tok <> ''
), vocab AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS tok_n FROM ct2 GROUP BY tok
), tot AS (
  SELECT CAST(sum(tok_n) AS BIGINT) AS total FROM vocab
), sv AS (
  SELECT tok,
    CAST(round(ln(tok_n / CAST(total AS DOUBLE)) * 1e6) AS BIGINT) AS lp6
  FROM vocab CROSS JOIN tot
), scored AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
    CAST(sum(lp6) AS BIGINT) AS sum_lp6
  FROM ct2 JOIN sv USING (tok) GROUP BY doc_id
), g AS (
  SELECT -((-CAST(sum(sum_lp6) AS BIGINT)) // CAST(sum(n_toks) AS BIGINT))
    AS gmean6 FROM scored
), q AS (
  SELECT scored.* FROM scored CROSS JOIN g
  WHERE sum_lp6 >= g.gmean6 * n_toks
), langd AS (
  -- lang IS NOT NULL mirrors the operator's NULL-group drop contract
  SELECT q.doc_id, q.n_toks, d.lang
  FROM q JOIN documents d USING (doc_id) WHERE d.lang IS NOT NULL
), cnt AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM langd GROUP BY lang
), mn AS (
  SELECT min(n) AS min_n FROM cnt
), thr AS (
  SELECT lang, CAST((mn.min_n * 10000) // cnt.n AS BIGINT) AS thr
  FROM cnt CROSS JOIN mn
), sel AS (
  SELECT l.* FROM langd l JOIN thr USING (lang)
  WHERE {_SQL_H60.format(x="concat('cur', CAST(doc_id AS VARCHAR))")} % 10000
        < thr.thr
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_toks) AS BIGINT) AS sum_toks
FROM sel GROUP BY lang
""",
)
def q_corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation, all four new stages composed:
    (1) segment-level boilerplate dedup and reconstruction; (2) unigram
    LM quality scoring of the CLEANED text; (3) quality gate at the
    corpus token-weighted mean log-probability — compared in exact
    integer micro-nats (``sum_lp6 >= gmean6 * n_toks`` with the global
    mean floored to one micro-nat), never float-vs-float, so the cut is
    bit-stable at any scale; (4) language-mixture rebalance of the
    survivors. Output is the per-language curated-corpus summary. Plan:
    the stages chain hash aggregates and equi-joins only — no windows
    over the full stream, no driver round-trips, and the oracle replays
    the identical algebra as chained CTEs."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import segment_dedup
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.sampling import (
        rebalance_to_min_group,
    )
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import (
        unigram_logprob_scores,
    )

    d = _t(spark, sf_dir, "documents")
    cleaned = (
        segment_dedup(d, seg_len=10)
        .filter(F.col("clean_text") != "")
        .select("doc_id", "clean_text")
    )
    # Materialize the two stage boundaries. Each downstream stage
    # references its input several times (unigram fits vocab AND scores;
    # the quality gate aggregates AND filters), and DataFrame plans have
    # no CTE reuse — unmaterialized, the composed plan re-ran
    # segment_dedup under every reference (57 source scans, ~2x wall vs
    # the stages standalone). Checkpointing the cleaned corpus (the
    # intermediate a real curation pipeline writes anyway) and the
    # 3-longs-per-doc score frame makes each stage run once.
    cleaned = cleaned.localCheckpoint()
    scored = unigram_logprob_scores(
        cleaned, column="clean_text", keep_raw=True
    ).localCheckpoint()
    g = scored.agg(
        F.expr(
            "-((-CAST(sum(sum_lp6) AS BIGINT)) div CAST(sum(n_toks) AS BIGINT))"
        ).alias("gmean6")
    )
    quality = (
        scored.join(F.broadcast(g))
        .filter(F.col("sum_lp6") >= F.col("gmean6") * F.col("n_toks"))
        .select("doc_id", "n_toks")
    )
    langd = quality.join(d.select("doc_id", "lang"), "doc_id")
    sel = rebalance_to_min_group(langd, "lang", "doc_id", salt="cur")
    return sel.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("sum_toks"),
    )


@_register(
    "point_in_time_state_join",
    sql="""
WITH e AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
), flagged AS (
  SELECT *, lag(event_type) OVER w AS prev_t, row_number() OVER w AS rn
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), surv AS (
  SELECT * FROM flagged WHERE rn = 1 OR event_type IS DISTINCT FROM prev_t
), runs AS (
  SELECT user_id, ts, event_type AS state_before,
    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS r2
  FROM surv
), runs1 AS (
  SELECT user_id, ts, state_before FROM runs WHERE r2 = 1
), facts AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS pts,
    CAST(ts AS TIMESTAMP) - INTERVAL 1 HOUR AS t0
  FROM events WHERE event_type = 'purchase'
), j AS (
  SELECT f.event_id, f.user_id, f.pts, r.state_before, r.ts AS vf,
    row_number() OVER (PARTITION BY f.event_id
                       ORDER BY r.ts DESC NULLS LAST) AS rn
  FROM facts f LEFT JOIN runs1 r
    ON r.user_id = f.user_id AND r.ts <= f.t0
)
SELECT event_id, user_id,
  strftime(pts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts, state_before
FROM j WHERE rn = 1
""",
)
def q_point_in_time_state_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (feature-store) join: for every purchase, the user's
    SCD2 state as of ONE HOUR BEFORE the purchase — the leakage-safe
    feature lookup ("no information from after feature time"). The state
    timeline is the SCD2 run starts (deduped to one run per (user, ts));
    the lookup itself is the union-sort AS-OF join (operators.joins.
    asof_join): ONE exchange on user_id, one sort, last-non-null STRUCT
    carry (the matched state row travels as a unit) —
    never a per-key range join, so no pair blowup on chatty users. The
    oracle replays it as a lateral-style argmax join (fine at oracle
    scale, quadratic per key at real scale — the asof plan is the point)."""
    from pyspark.sql.window import Window

    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.joins import asof_join

    e = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    surv = (
        e.withColumn("prev_t", F.lag("event_type").over(w))
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) | ~F.col("event_type").eqNullSafe(F.col("prev_t")))
    )
    runs = (
        surv.withColumn(
            "r2",
            F.row_number().over(
                Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
            ),
        )
        .filter(F.col("r2") == 1)
        .select("user_id", "ts", F.col("event_type").alias("state_before"))
    )
    facts = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").alias("pts"),
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("ts"),
    )
    joined = asof_join(
        facts, runs, on="user_id", ts_col="ts", right_value_cols=["state_before"]
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("pts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        "state_before",
    )


@_register(
    "span_corruption_pairs",
    sql=f"""
WITH t AS (
  SELECT doc_id, list_filter({_SQL_TOKS}, x -> x <> '') AS toks,
    {_SQL_H60.format(x="concat('sc:', CAST(doc_id AS VARCHAR))")} % 10 AS h
  FROM documents
), t2 AS (
  SELECT doc_id, toks, h, len(toks) AS n FROM t WHERE len(toks) > 0
)
SELECT doc_id, CAST(n AS BIGINT) AS n_toks,
  array_to_string(list_filter(
    list_transform(generate_series(1, n), i ->
      CASE WHEN (i - 1 + h) % 10 < 3 THEN
        CASE WHEN (i - 1 + h) % 10 = 0 OR i = 1
             THEN '<X_' || CAST((i - 1 + h) // 10 AS VARCHAR) || '>'
             ELSE NULL END
      ELSE toks[i] END),
    x -> x IS NOT NULL), ' ') AS input_text,
  array_to_string(list_filter(
    list_transform(generate_series(1, n), i ->
      CASE WHEN (i - 1 + h) % 10 < 3 THEN
        CASE WHEN (i - 1 + h) % 10 = 0 OR i = 1
             THEN '<X_' || CAST((i - 1 + h) // 10 AS VARCHAR) || '> ' || toks[i]
             ELSE toks[i] END
      ELSE NULL END),
    x -> x IS NOT NULL), ' ') AS target_text
FROM t2
""",
)
def q_span_corruption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption pair generation: mask deterministic
    3-token spans every 10 tokens (md5-derived per-doc phase, so span
    positions vary across documents but are a pure function of the row —
    reproducible across reruns/engines/partitionings), replace each span
    with a numbered sentinel in the input and emit '<sentinel> span
    tokens' as the denoising target. Entirely narrow array expressions
    (sequence/transform/filter/array_join) — a map-only op that scales
    with input splits, zero shuffles, zero Python."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import token_hash60
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import ws_tokens

    d = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.filter(ws_tokens("text"), lambda x: x != F.lit("")).alias("toks"),
            (
                token_hash60(F.concat(F.lit("sc:"), F.col("doc_id").cast("string")))
                % 10
            ).alias("h"),
        )
        .withColumn("n", F.size("toks"))
        .filter(F.col("n") > 0)
    )
    i_off = lambda i: (i - 1 + F.col("h"))  # noqa: E731
    masked = lambda i: i_off(i) % 10 < 3  # noqa: E731
    first = lambda i: (i_off(i) % 10 == 0) | (i == 1)  # noqa: E731
    inp = F.array_join(
        F.filter(
            F.transform(
                F.sequence(F.lit(1), F.col("n")),
                lambda i: F.when(
                    masked(i),
                    F.when(first(i), F.concat(F.lit("<X_"), (i_off(i) / 10).cast("long").cast("string"), F.lit(">"))),
                ).otherwise(F.element_at("toks", i)),
            ),
            lambda x: x.isNotNull(),
        ),
        " ",
    )
    tgt = F.array_join(
        F.filter(
            F.transform(
                F.sequence(F.lit(1), F.col("n")),
                lambda i: F.when(
                    masked(i),
                    F.when(
                        first(i),
                        F.concat(
                            F.lit("<X_"),
                            (i_off(i) / 10).cast("long").cast("string"),
                            F.lit("> "),
                            F.element_at("toks", i),
                        ),
                    ).otherwise(F.element_at("toks", i)),
                ),
            ),
            lambda x: x.isNotNull(),
        ),
        " ",
    )
    return d.select(
        "doc_id",
        F.col("n").cast("long").alias("n_toks"),
        inp.alias("input_text"),
        tgt.alias("target_text"),
    )


@_register(
    "source_overlap_matrix",
    sql=f"""
WITH sh AS (
  SELECT DISTINCT source, {_SQL_H60.format(x='s')} AS h
  FROM (
    SELECT source, unnest({_SQL_SHINGLES3.replace('toks', _SQL_TOKS)}) AS s
    FROM documents
  )
)
SELECT a.source AS source_a, b.source AS source_b,
  CAST(count(*) AS BIGINT) AS n_shared
FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
GROUP BY source_a, source_b
""",
)
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination audit: for every pair of data sources,
    the number of 3-gram shingles they share — the overlap matrix that
    tells a curation team which feeds duplicate each other before mixing.
    The (shingle-hash, source) projection is DISTINCT first, so the
    self-join's per-hash group is bounded by the number of SOURCES (not
    documents) — no hot-shingle blowup at corpus scale — and the matrix
    aggregate is at most |sources|^2 rows."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import (
        shingles,
        token_hash60,
    )

    d = _t(spark, sf_dir, "documents")
    sh = (
        d.select("source", F.explode(shingles("text", 3)).alias("s"))
        .select("source", token_hash60(F.col("s")).alias("h"))
        .distinct()
    )
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.h") == F.col("b.h"),
                F.col("a.source") < F.col("b.source"),
            ],
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


@_register(
    "pmi_collocations",
    sql=f"""
WITH toks AS (
  SELECT doc_id, tok
  FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents)
  WHERE tok <> ''
), topt AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS n FROM toks GROUP BY tok
    ORDER BY n DESC, tok LIMIT 100
  )
), dt AS (
  SELECT DISTINCT t.doc_id, t.tok FROM toks t JOIN topt USING (tok)
), pairs AS (
  SELECT a.tok AS ta, b.tok AS tb
  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
), pc AS (
  SELECT ta, tb, CAST(count(*) AS BIGINT) AS n_ab FROM pairs GROUP BY ta, tb
), nd AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM toks
), da AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n_doc FROM dt GROUP BY tok
)
SELECT ta, tb, n_ab,
  CAST(round(ln((n_ab * nd.n_docs) / CAST(n_a.n_doc * n_b.n_doc AS DOUBLE))
             * 1e6) AS BIGINT) AS pmi6
FROM pc
JOIN da n_a ON n_a.tok = pc.ta
JOIN da n_b ON n_b.tok = pc.tb
CROSS JOIN nd
ORDER BY pmi6 DESC, ta, tb LIMIT 50
""",
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level PMI collocations over the top-100 vocabulary: which
    frequent tokens co-occur in the same documents more than chance —
    the association-mining primitive behind phrase detection and
    word2vec-era co-occurrence matrices. Restricting pairs to the top-K
    vocabulary (TakeOrdered + broadcast semi-join) bounds the per-doc
    pair fan-out at K^2/2 regardless of corpus size; PMI rides the same
    exact-integer-ratio -> ln -> micro-nat quantization as the unigram
    scorer, so the ranking is engine-stable."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import ws_tokens

    d = _t(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(ws_tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    topt = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(100)
        .select("tok")
    )
    # dt is referenced three times (both self-join sides + per-token doc
    # counts) and its subtree holds the top-K shuffle + distinct — with no
    # plan reuse that subtree re-ran per reference. It is tiny (<= docs x
    # K rows), so materialize it once.
    dt = (
        toks.join(F.broadcast(topt), "tok")
        .select("doc_id", "tok")
        .distinct()
        .localCheckpoint()
    )
    a, b = dt.alias("a"), dt.alias("b")
    pc = (
        a.join(
            b,
            on=[
                F.col("a.doc_id") == F.col("b.doc_id"),
                F.col("a.tok") < F.col("b.tok"),
            ],
        )
        .groupBy(F.col("a.tok").alias("ta"), F.col("b.tok").alias("tb"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    nd = toks.agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
    da = dt.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("n_doc"))
    pmi6 = (
        F.round(
            F.log(
                (F.col("n_ab") * F.col("n_docs"))
                / (F.col("na.n_doc") * F.col("nb.n_doc")).cast("double")
            )
            * 1e6
        )
        .cast("long")
        .alias("pmi6")
    )
    return (
        pc.join(da.alias("na"), F.col("ta") == F.col("na.tok"))
        .join(da.alias("nb"), F.col("tb") == F.col("nb.tok"))
        .join(F.broadcast(nd))
        .select("ta", "tb", "n_ab", pmi6)
        .orderBy(F.col("pmi6").desc(), "ta", "tb")
        .limit(50)
    )


@_register(
    "psi_drift_report",
    sql="""
WITH b AS (
  SELECT CASE WHEN CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
              THEN 'ref' ELSE 'cur' END AS side,
    LEAST(CAST(floor(value / 50) AS BIGINT), 9) AS bin
  FROM events
), c AS (
  SELECT bin,
    CAST(count(*) FILTER (WHERE side = 'ref') AS BIGINT) AS n_ref,
    CAST(count(*) FILTER (WHERE side = 'cur') AS BIGINT) AS n_cur
  FROM b GROUP BY bin
), bins AS (
  SELECT unnest(generate_series(0, 9)) AS bin
), f AS (
  SELECT bins.bin, coalesce(c.n_ref, 0) AS n_ref, coalesce(c.n_cur, 0) AS n_cur
  FROM bins LEFT JOIN c ON c.bin = bins.bin
), tot AS (
  SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
    CAST(sum(n_cur) AS BIGINT) AS t_cur FROM f
)
SELECT f.bin, f.n_ref, f.n_cur,
  CAST(round(
    ((f.n_ref + 1) / CAST(tot.t_ref + 10 AS DOUBLE)
     - (f.n_cur + 1) / CAST(tot.t_cur + 10 AS DOUBLE))
    * ln(((f.n_ref + 1) / CAST(tot.t_ref + 10 AS DOUBLE))
         / ((f.n_cur + 1) / CAST(tot.t_cur + 10 AS DOUBLE))) * 1e6
  ) AS BIGINT) AS psi_term6
FROM f CROSS JOIN tot
""",
)
def q_psi_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift report: 10 fixed-width value
    buckets, Laplace-smoothed proportions for the reference window (first
    month half) vs the current window, per-bucket PSI term in integer
    micro-units (exact-integer ratios -> identical doubles -> one ln).
    Plan: one conditional aggregate over the fact scan (both windows in a
    single pass — no per-window scans), a 10-row bucket universe joined
    broadcast, totals as a 1-row broadcast. The standard continuous
    drift monitor for features/labels at any scale."""
    e = _t(spark, sf_dir, "events")
    b = e.select(
        F.when(
            F.col("ts") < F.lit("2024-01-16").cast("timestamp"), F.lit("ref")
        )
        .otherwise(F.lit("cur"))
        .alias("side"),
        F.least(F.floor(F.col("value") / 50).cast("long"), F.lit(9)).alias("bin"),
    )
    c = b.groupBy("bin").agg(
        F.count(F.when(F.col("side") == "ref", 1)).cast("long").alias("n_ref"),
        F.count(F.when(F.col("side") == "cur", 1)).cast("long").alias("n_cur"),
    )
    bins = spark.range(10).select(F.col("id").cast("long").alias("bin"))
    f = (
        bins.join(c, "bin", "left")
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
        )
    )
    tot = f.agg(
        F.sum("n_ref").cast("long").alias("t_ref"),
        F.sum("n_cur").cast("long").alias("t_cur"),
    )
    p = (F.col("n_ref") + 1) / (F.col("t_ref") + 10).cast("double")
    q = (F.col("n_cur") + 1) / (F.col("t_cur") + 10).cast("double")
    return f.join(F.broadcast(tot)).select(
        "bin",
        "n_ref",
        "n_cur",
        F.round((p - q) * F.log(p / q) * 1e6).cast("long").alias("psi_term6"),
    )


@_register(
    "triangle_count_near_dup",
    sql=f"""
WITH {_lsh_near_dup_ctes(threshold=0.3)}, e AS (
  SELECT id_a AS a, id_b AS b FROM lsh_pairs
), tri AS (
  SELECT e1.a AS a, e1.b AS b, e2.b AS c
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT vertex, CAST(count(*) AS BIGINT) AS n_triangles
FROM (
  SELECT a AS vertex FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
GROUP BY vertex
""",
)
def q_triangle_count_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts over the near-dup graph — the local
    clustering signal that separates tight duplicate cliques from chains
    of borderline matches (a doc in many triangles is a true multi-way
    dup; a chain vertex is transitive noise). Canonical a<b edges make
    each triangle enumerate exactly once (a<b<c) via two equi-joins —
    the standard distributed triangle enumeration; at scale, orient
    edges by degree first to bound the join fan-out. Edge source is the
    sub-quadratic LSH candidate generator, same as the CC pipelines."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    e = (
        embedding_near_dup_pairs(emb, threshold=0.3)
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .localCheckpoint()
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("a"), F.col("e1.b").alias("b"), F.col("e2.b").alias("c")
        )
    )
    verts = (
        tri.select(F.col("a").alias("vertex"))
        .unionAll(tri.select(F.col("b").alias("vertex")))
        .unionAll(tri.select(F.col("c").alias("vertex")))
    )
    return verts.groupBy("vertex").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


@_register(
    "shingle_containment_pairs",
    sql=f"""
WITH sh0 AS (
  SELECT DISTINCT doc_id, {_SQL_H60.format(x='s')} AS h
  FROM (
    SELECT doc_id, unnest({_SQL_SHINGLES3.replace('toks', _SQL_TOKS)}) AS s
    FROM documents
  )
), sh AS (
  SELECT sh0.* FROM sh0
  JOIN (SELECT h FROM sh0 GROUP BY h HAVING count(*) <= 1000) ok USING (h)
), sz AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_common
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY id_a, id_b
)
SELECT id_a, id_b, n_common,
  CAST(round(n_common / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE), 6) AS DOUBLE)
    AS containment
FROM inter
JOIN sz sa ON sa.doc_id = inter.id_a
JOIN sz sb ON sb.doc_id = inter.id_b
WHERE round(n_common / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE), 6) >= 0.8
""",
)
def q_shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-based near-dup pairs (Broder's containment, not
    resemblance): |A∩B| / min(|A|,|B|) >= 0.8 catches a short document
    EMBEDDED in a longer one — the subset-duplicate case Jaccard
    structurally misses (a 50-shingle doc inside a 1000-shingle doc has
    Jaccard ~0.05 but containment 1.0). Same inverted-index equi-join
    skeleton as ngram_jaccard_topk — INCLUDING the document-frequency cap
    (shingles in > 1000 docs dropped, the hot-key guard; both engines
    apply it, so containment is exact over the capped shingle set); the
    6dp-rounded threshold makes the cut bit-identical in both engines.
    See operators.dedup.shingle_containment_pairs."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import (
        shingle_containment_pairs,
    )

    return shingle_containment_pairs(
        _t(spark, sf_dir, "documents"),
        min_containment=0.8,
        max_shingle_freq=1000,
    )


@_register(
    "knn_label_noise",
    sql="""
WITH pairs AS (
  SELECT a.vec_id AS anchor, a.label AS alab, b.vec_id AS neg, b.label AS blab,
    round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
      / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
       * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6)
      AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
), r AS (
  SELECT anchor, alab, neg, blab,
    row_number() OVER (PARTITION BY anchor ORDER BY cos DESC, neg) AS rn
  FROM pairs
)
SELECT anchor AS vec_id, alab AS label,
  CAST(count(*) FILTER (WHERE blab <> alab) AS BIGINT) AS n_disagree
FROM r WHERE rn <= 5
GROUP BY anchor, alab
""",
)
def q_knn_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label-noise detection (confident-learning style): for each
    embedding, how many of its 5 exact nearest neighbors carry a
    DIFFERENT label — high disagreement flags probable mislabels for
    relabeling/dropping before training. Exact kNN over the cogroup pair
    grid (operators.similarity.knn_neighbors); the disagreement count is
    one anchor-keyed aggregate over the k rows per anchor."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.similarity import knn_neighbors

    nn = knn_neighbors(_t(spark, sf_dir, "embeddings"), k=5)
    return nn.groupBy(
        F.col("anchor").alias("vec_id"), F.col("anchor_label").alias("label")
    ).agg(
        F.count(F.when(F.col("neg_label") != F.col("anchor_label"), 1))
        .cast("long")
        .alias("n_disagree")
    )


@_register(
    "robust_mad_scores",
    sql="""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
), mad AS (
  SELECT e.event_type, quantile_cont(abs(e.value - med.med), 0.5) AS mad
  FROM events e JOIN med USING (event_type)
  GROUP BY e.event_type, med.med
)
SELECT med.event_type, round(med.med, 6) AS med, round(mad.mad, 6) AS mad,
  CAST(count(*) FILTER (
    WHERE round(0.6745 * abs(e.value - med.med) / mad.mad, 6) > 3.5
  ) AS BIGINT) AS n_outliers,
  CAST(count(*) AS BIGINT) AS n_rows
FROM events e
JOIN med USING (event_type)
JOIN mad USING (event_type)
GROUP BY med.event_type, med.med, mad.mad
""",
)
def q_robust_mad_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier scoring per event type — the
    outlier-resistant alternative to z-scores (one corrupted batch can
    drag a mean/stddev arbitrarily; the median and MAD have a 50%
    breakdown point). Two grouped EXACT interpolated percentiles
    (Spark `percentile` == DuckDB `quantile_cont` on identical doubles),
    each broadcast back as a tiny per-type frame; the outlier flag
    (0.6745 * |x - med| / MAD > 3.5, the standard consistency-constant
    rule) is a map-side expression on the fact scan."""
    e = _t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
    )
    # try_divide: a constant-valued group has MAD=0; under ANSI mode a
    # plain `/` would abort the whole query on that group, while the
    # DuckDB oracle yields NULL (verified: 1.0/0.0 IS NULL there). NULL
    # rz fails the >3.5 test, so MAD=0 groups report n_outliers=0 on
    # both engines.
    rz = F.round(
        F.try_divide(
            F.lit(0.6745) * F.abs(F.col("value") - F.col("med")), F.col("mad")
        ),
        6,
    )
    return (
        e.join(F.broadcast(mad.select("event_type", "med", "mad")), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.when(rz > 3.5, 1)).cast("long").alias("n_outliers"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        .select(
            "event_type",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            "n_outliers",
            "n_rows",
        )
    )


@_register(
    "co_purchase_pairs",
    sql="""
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT part_a, part_b, CAST(count(*) AS BIGINT) AS n_orders
FROM pairs GROUP BY part_a, part_b
ORDER BY n_orders DESC, part_a, part_b LIMIT 25
""",
)
def q_co_purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top part pairs bought together in
    the same order — the item-item signal a recommender/i2i pipeline
    aggregates at scale. The within-order self-join fans out only
    O(basket^2) per order (baskets are small by construction), partial
    aggregation collapses pair counts map-side, and the final cut is
    TakeOrderedAndProject. The DISTINCT projection first keeps repeated
    lineitems of one part in one order from inflating counts."""
    l = _t(spark, sf_dir, "lineitem")
    op = l.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.l_orderkey") == F.col("b.l_orderkey"),
                F.col("a.l_partkey") < F.col("b.l_partkey"),
            ],
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(25)
    )


@_register(
    "event_transition_matrix",
    sql="""
WITH seq AS (
  SELECT user_id, event_type,
    lag(event_type) OVER (PARTITION BY user_id
                          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
""",
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over per-user event sequences
    (prev type -> next type) — the sequence-modeling prep for behavioral
    features and anomalous-flow detection. One user-keyed window with a
    deterministic (ts, event_id) tiebreak, then a hash aggregate on the
    (from, to) pair; output is the |types|^2 transition matrix regardless
    of corpus size."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@_register(
    "cohort_retention",
    sql="""
WITH firstd AS (
  SELECT user_id,
    min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS cohort_day
  FROM events GROUP BY user_id
), act AS (
  SELECT DISTINCT e.user_id, f.cohort_day,
    CAST((CAST(CAST(e.ts AS TIMESTAMP) AS DATE) - f.cohort_day) // 7 AS BIGINT)
      AS week_offset
  FROM events e JOIN firstd f USING (user_id)
)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day, week_offset,
  CAST(count(*) AS BIGINT) AS n_active_users
FROM act GROUP BY cohort_day, week_offset
""",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, activity
    counted per week offset — the classic retention triangle. One
    user-keyed min-aggregate for cohort assignment (broadcast back), a
    map-side week-offset projection, DISTINCT per (user, cohort, week)
    so multiple events in a week count once, then one matrix aggregate.
    No windows over the event stream, no per-user state."""
    e = _t(spark, sf_dir, "events")
    firstd = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_day")
    )
    act = (
        e.join(firstd, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.col("cohort_day")) / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    return act.groupBy(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        "week_offset",
    ).agg(F.count(F.lit(1)).cast("long").alias("n_active_users"))


@_register(
    "multimodal_resize_thumb",
    sql="""
WITH a AS (
  SELECT doc_id AS asset_id, 'image' AS modality,
    upper(hex(encode(text))) AS hx,
    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
)
SELECT asset_id, modality, n_bytes,
  CASE WHEN n_bytes > 0 THEN
    array_to_string(list_transform(generate_series(0, 15),
      i -> substr(hx, CAST((i * n_bytes) // 16 AS BIGINT) * 2 + 1, 2)), '')
  ELSE '' END AS thumb_hex
FROM a
""",
)
def q_multimodal_resize_thumb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize plumbing: fixed-16-sample nearest-neighbor
    decimation over binary payloads, emitted as a hex thumbnail — pure
    built-in expressions (hex + generated-index substr), zero UDFs, zero
    shuffles; the real pixel resize slots into the same contract as an
    Arrow-batched kernel. See operators.multimodal.resize_thumb."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.multimodal import (
        documents_as_assets,
        resize_thumb,
    )

    return resize_thumb(documents_as_assets(_t(spark, sf_dir, "documents")))


# ==========================================================================
# Round-4 extension: behavioral analytics over the event stream (rolling
# actives, churn labeling, seasonal-naive baselines, activity heatmaps)
# ==========================================================================


@_register(
    "rolling_distinct_users",
    sql="""
WITH du AS (
  SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id
  FROM events
), mx AS (
  SELECT max(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS max_day FROM events
), span AS (
  SELECT unnest(generate_series(du.day, du.day + 6, INTERVAL 1 DAY))
    AS target_day, du.user_id
  FROM du
)
SELECT strftime(CAST(s.target_day AS DATE), '%Y-%m-%d') AS day,
  CAST(count(DISTINCT s.user_id) AS BIGINT) AS wau
FROM span s CROSS JOIN mx
WHERE CAST(s.target_day AS DATE) <= mx.max_day
GROUP BY 1
""",
)
def q_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct actives (WAU) per day — the canonical
    engagement metric. Windowed COUNT(DISTINCT) doesn't distribute, so
    this uses the scale shape: collapse to (day, user) grain first
    (bounded: actives, not events), fan each row out to the <=7 trailing
    report days it contributes to (a constant-factor explode, not a
    range join), then one distinct-aggregate per report day. Shuffle is
    O(7 * daily-actives); no window over the raw stream."""
    e = _t(spark, sf_dir, "events")
    du = e.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    mx = e.agg(F.max(F.col("ts").cast("date")).alias("max_day"))
    span = du.select(
        F.explode(F.sequence("day", F.date_add("day", 6))).alias("target_day"),
        "user_id",
    )
    return (
        span.join(F.broadcast(mx))
        .filter(F.col("target_day") <= F.col("max_day"))
        .groupBy(F.date_format("target_day", "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
    )


@_register(
    "churn_label_next_gap",
    sql="""
WITH g AS (
  SELECT event_type,
    date_diff('day', CAST(ts AS TIMESTAMP),
      lead(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
        ORDER BY CAST(ts AS TIMESTAMP), event_id)) AS gap_days
  FROM events
)
SELECT event_type,
  CAST(count(*) FILTER (WHERE gap_days IS NULL OR gap_days >= 14)
    AS BIGINT) AS n_churn,
  CAST(count(*) AS BIGINT) AS n_events,
  round(CAST(count(*) FILTER (WHERE gap_days IS NULL OR gap_days >= 14)
    AS DOUBLE) / count(*), 6) AS churn_rate
FROM g GROUP BY event_type
""",
)
def q_churn_label_next_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn labeling for supervised training, leakage-free by
    construction: an event is labeled churned iff the SAME user's next
    event is >= 14 days later or never — one lead() over a user-keyed
    window with a deterministic (ts, event_id) tiebreak, so the label is
    a pure function of the user's own future, computable in one pass
    with no self-join. Output: per-type churn base rates (the class
    prior a trainer needs before sampling)."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.datediff(
        F.lead(F.col("ts").cast("timestamp")).over(w).cast("date"),
        F.col("ts").cast("date"),
    )
    churn = F.col("gap_days").isNull() | (F.col("gap_days") >= 14)
    return (
        e.select("event_type", gap.alias("gap_days"))
        .groupBy("event_type")
        .agg(
            F.count(F.when(churn, 1)).cast("long").alias("n_churn"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .select(
            "event_type",
            "n_churn",
            "n_events",
            F.round(F.col("n_churn") / F.col("n_events"), 6).alias(
                "churn_rate"
            ),
        )
    )


@_register(
    "seasonal_naive_error",
    sql="""
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS v_cents
  FROM events GROUP BY 1, 2
), f AS (
  SELECT event_type, day, v_cents,
    lag(v_cents, 7) OVER (PARTITION BY event_type ORDER BY day) AS fc
  FROM daily
)
SELECT event_type,
  CAST(count(fc) AS BIGINT) AS n_scored,
  CAST(sum(abs(v_cents - fc)) AS BIGINT) AS sum_abs_err_cents
FROM f WHERE fc IS NOT NULL GROUP BY event_type
""",
)
def q_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive baseline error: forecast each day's per-type total
    with the value 7 observations earlier and score absolute error — the
    sanity baseline every forecasting pipeline must beat. Daily rollup
    (integer cents: exact, order-free), one lag(7) over a per-type
    day-ordered window, integer error sums. Two keyed exchanges total:
    the day rollup and the per-type window reuse the same event_type
    hash key."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("v_cents")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    f = daily.withColumn("fc", F.lag("v_cents", 7).over(w)).filter(
        F.col("fc").isNotNull()
    )
    return f.groupBy("event_type").agg(
        F.count("fc").cast("long").alias("n_scored"),
        F.sum(F.abs(F.col("v_cents") - F.col("fc")))
        .cast("long")
        .alias("sum_abs_err_cents"),
    )


@_register(
    "histogram2d_heatmap",
    sql="""
SELECT CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hour_of_day, event_type,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY 1, 2
""",
)
def q_histogram2d_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D activity heatmap (hour-of-day x event type) with counts and
    integer-cents value mass — the tall-format aggregate a dashboard
    pivots client-side. One map-side projection + one hash aggregate
    whose output is bounded at 24 x |types| rows regardless of corpus
    size; partial aggregation collapses everything before the (tiny)
    shuffle."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.hour(F.col("ts").cast("timestamp")).cast("int").alias("hour_of_day"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("value_cents"),
    )


# ==========================================================================
# Round-4 extension: training-prep operators (feature hashing, negative
# sampling, k-fold assignment, class weights, winsorized stats)
# ==========================================================================


@_register(
    "feature_hashing_cross",
    sql=f"""
WITH f AS (
  SELECT user_id,
    {_SQL_H60.format(x="concat('fh', event_type, '|', "
    "CAST(day(CAST(ts AS TIMESTAMP)) % 7 AS VARCHAR))")} % 256 AS feature_idx
  FROM events
)
SELECT user_id, CAST(feature_idx AS INT) AS feature_idx,
  CAST(count(*) AS BIGINT) AS n
FROM f GROUP BY user_id, feature_idx
""",
)
def q_feature_hashing_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick for crossed categorical features: each
    (event_type x day-bucket) cross hashes into a fixed 256-dim index
    space — no vocabulary build, no dictionary shuffle, memory bounded
    by design no matter how many distinct crosses exist (the whole point
    at 100 TB: vocabularies grow, hash spaces don't). The hash is the
    repo's shared md5-derived 60-bit integer, so the oracle replays it
    bit-for-bit; output is the sparse (user, index, count) COO triple a
    trainer consumes directly. Map-side expression + one hash
    aggregate."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import token_hash60

    e = _t(spark, sf_dir, "events")
    cross = F.concat(
        F.lit("fh"),
        F.col("event_type"),
        F.lit("|"),
        (F.dayofmonth(F.col("ts").cast("timestamp")) % 7).cast("string"),
    )
    return (
        e.select(
            "user_id", (token_hash60(cross) % 256).cast("int").alias("feature_idx")
        )
        .groupBy("user_id", "feature_idx")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@_register(
    "recsys_negative_sampling",
    sql=f"""
WITH mx AS (
  SELECT max(p_partkey) + 1 AS n_parts FROM part
), cand AS (
  SELECT c.c_custkey, r.r,
    {_SQL_H60.format(x="concat('neg', CAST(c.c_custkey AS VARCHAR), ':', "
    "CAST(r.r AS VARCHAR))")} % mx.n_parts AS cand_part
  FROM customer c
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS r) r
  CROSS JOIN mx
), realc AS (
  -- keep only candidates that are REAL part keys: with a sparse key
  -- space, hash mod (max+1) can land on a hole
  SELECT c.* FROM cand c JOIN part p ON p.p_partkey = c.cand_part
), bought AS (
  SELECT DISTINCT o.o_custkey, l.l_partkey
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), neg AS (
  SELECT c.c_custkey, c.r, c.cand_part FROM realc c
  LEFT JOIN bought b
    ON b.o_custkey = c.c_custkey AND b.l_partkey = c.cand_part
  WHERE b.o_custkey IS NULL
)
SELECT c_custkey, CAST(cand_part AS BIGINT) AS neg_partkey,
  CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT c_custkey, cand_part,
    row_number() OVER (PARTITION BY c_custkey ORDER BY r) AS rnk
  FROM neg
) WHERE rnk <= 3
""",
)
def q_recsys_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for recommender training: per
    customer, 3 pseudo-random parts they never purchased. The scale
    shape matters: candidates come from HASHING (8 deterministic
    draws/customer via the shared md5 hash mod |parts|), NOT from a
    customer x part cross join — cost is O(customers * 8) + one
    distinct-purchases anti-join, where the naive formulation is
    O(customers * parts). Draw order r ranks survivors, so the kept set
    is a pure function of the data (a customer whose draws mostly hit
    purchased parts can yield < 3 — by design, not resampled)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import token_hash60
    from pyspark.sql.window import Window

    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    mx = p.agg((F.max("p_partkey") + 1).alias("n_parts"))
    cand = (
        c.select("c_custkey")
        .withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(7))))
        .join(F.broadcast(mx))
        .select(
            "c_custkey",
            "r",
            (
                token_hash60(
                    F.concat(
                        F.lit("neg"),
                        F.col("c_custkey").cast("string"),
                        F.lit(":"),
                        F.col("r").cast("string"),
                    )
                )
                % F.col("n_parts")
            ).alias("cand_part"),
        )
    )
    # validate against real part keys (sparse key spaces leave holes
    # under hash mod max+1); part keys are SF-proportional, so no
    # broadcast HINT — AQE broadcasts when the dim is actually small
    cand = cand.join(
        p.select(F.col("p_partkey").alias("cand_part")),
        "cand_part",
    )
    bought = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    neg = cand.join(
        bought,
        (cand["c_custkey"] == bought["o_custkey"])
        & (cand["cand_part"] == bought["l_partkey"]),
        "left_anti",
    )
    w = Window.partitionBy("c_custkey").orderBy("r")
    return (
        neg.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select(
            "c_custkey",
            F.col("cand_part").cast("long").alias("neg_partkey"),
            "rnk",
        )
    )


@_register(
    "stratified_kfold",
    sql=f"""
WITH f AS (
  SELECT lang,
    {_SQL_H60.format(x="concat('kf', CAST(doc_id AS VARCHAR))")} % 5 AS fold,
    length(text) AS n_chars
  FROM documents WHERE lang IS NOT NULL
)
SELECT lang, CAST(fold AS INT) AS fold,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM f GROUP BY lang, fold
""",
)
def q_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment: fold =
    shared-hash(doc_id) mod k — a pure function of the row, so folds are
    reproducible across runs/engines, rerun-stable under repartition,
    and need no shuffle to assign (the audit aggregate here verifies
    per-stratum balance: each (lang, fold) cell's doc and char mass).
    NULL-lang rows are excluded from stratification, mirroring the
    mixture operators' NULL-group contract."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import token_hash60

    d = _t(spark, sf_dir, "documents").filter(F.col("lang").isNotNull())
    return (
        d.select(
            "lang",
            (
                token_hash60(F.concat(F.lit("kf"), F.col("doc_id").cast("string")))
                % 5
            )
            .cast("int")
            .alias("fold"),
            F.length("text").alias("n_chars"),
        )
        .groupBy("lang", "fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


@_register(
    "class_balance_weights",
    sql="""
WITH cnt AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents WHERE lang IS NOT NULL GROUP BY lang
), tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
    CAST(count(*) AS BIGINT) AS k FROM cnt
)
SELECT lang, n_docs,
  CAST((tot.n_total * 1000000) // (tot.k * cnt.n_docs) AS BIGINT)
    AS weight_micro
FROM cnt CROSS JOIN tot
""",
)
def q_class_balance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-frequency class weights (sklearn's 'balanced' formula
    n_total / (k * n_class)) in exact integer micros — the loss-weight
    table a trainer broadcasts. One tiny hash agg + a 1-row broadcast
    total; BIGINT floor arithmetic so both engines agree bit-for-bit.
    NULL classes are excluded per the repo's NULL-group contract."""
    d = _t(spark, sf_dir, "documents").filter(F.col("lang").isNotNull())
    cnt = d.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    tot = cnt.agg(
        F.sum("n_docs").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    return cnt.join(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.expr("n_total * 1000000 div (k * n_docs)")
        .cast("long")
        .alias("weight_micro"),
    )


@_register(
    "winsorized_stats",
    sql="""
WITH fence AS (
  SELECT event_type,
    quantile_cont(value, 0.05) AS p05,
    quantile_cont(value, 0.95) AS p95
  FROM events GROUP BY event_type
)
SELECT e.event_type,
  round(fence.p05, 6) AS p05,
  round(fence.p95, 6) AS p95,
  round(avg(least(greatest(e.value, fence.p05), fence.p95)), 6)
    AS winsorized_mean,
  CAST(count(*) FILTER (WHERE e.value < fence.p05 OR e.value > fence.p95)
    AS BIGINT) AS n_clamped
FROM events e JOIN fence USING (event_type)
GROUP BY e.event_type, fence.p05, fence.p95
""",
)
def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-group statistics: clamp to the exact [p05, p95]
    interpolated percentiles, then average — the heavy-tail-robust mean
    that, unlike trimming, keeps n constant. Same scale shape as the MAD
    scorer: grouped EXACT percentiles (one pass), tiny fence frame
    broadcast back, clamp + aggregate map-side on the fact scan."""
    e = _t(spark, sf_dir, "events")
    fence = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("p05"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return (
        e.join(F.broadcast(fence), "event_type")
        .groupBy("event_type", "p05", "p95")
        .agg(
            F.round(F.avg(clamped), 6).alias("winsorized_mean"),
            F.count(
                F.when(
                    (F.col("value") < F.col("p05"))
                    | (F.col("value") > F.col("p95")),
                    1,
                )
            )
            .cast("long")
            .alias("n_clamped"),
        )
        .select(
            "event_type",
            F.round("p05", 6).alias("p05"),
            F.round("p95", 6).alias("p95"),
            "winsorized_mean",
            "n_clamped",
        )
    )


# ==========================================================================
# Round-4 extension: SQL-surface breadth (ordered string aggregation,
# deterministic mode, LATERAL joins, Spark 4 pipe syntax)
# ==========================================================================


@_register(
    "string_agg_family",
    sql="""
SELECT c_nationkey,
  string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segs,
  CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segs,
  string_agg(CAST(c_custkey AS VARCHAR), '|' ORDER BY c_custkey)
    FILTER (WHERE c_custkey % 250 = 0) AS sample_keys
FROM customer
GROUP BY c_nationkey
""",
)
def q_string_agg_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation family: listagg/string_agg with an
    explicit ORDER BY is only oracle-comparable because the order is
    total — an unordered concat is nondeterministic under partitioning
    by construction. Spark side: sorted collect_set/collect_list folded
    through array_join (the pre-listagg idiom that works on every Spark
    version); per-group state is bounded by the distinct values, and the
    filtered variant keeps the concat sparse."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias(
            "segs"
        ),
        F.size(F.collect_set("c_mktsegment")).cast("long").alias("n_segs"),
        # nullif: SQL's FILTERed string_agg yields NULL for an empty
        # group, array_join of an empty array yields '' — align on NULL
        F.nullif(
            F.array_join(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("c_custkey") % 250 == 0, F.col("c_custkey")
                        )
                    )
                ).cast("array<string>"),
                "|",
            ),
            F.lit(""),
        ).alias("sample_keys"),
    )


@_register(
    "mode_per_group",
    sql="""
SELECT c_nationkey, c_mktsegment AS mode_segment,
  CAST(n AS BIGINT) AS n
FROM (
  SELECT c_nationkey, c_mktsegment, count(*) AS n,
    row_number() OVER (PARTITION BY c_nationkey
                       ORDER BY count(*) DESC, c_mktsegment) AS rnk
  FROM customer GROUP BY c_nationkey, c_mktsegment
)
WHERE rnk = 1
""",
)
def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group mode with a DETERMINISTIC tiebreak (count desc,
    value asc) — the native mode() aggregate breaks ties arbitrarily, so
    this spells it as count + rank, which any engine reproduces exactly.
    Scale shape: the grouped count collapses map-side to
    |groups x distinct values| rows and the rank rides a
    WindowGroupLimit-able top-1."""
    from pyspark.sql.window import Window

    c = _t(spark, sf_dir, "customer")
    cnt = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("n").desc(), "c_mktsegment"
    )
    return (
        cnt.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "c_nationkey",
            F.col("c_mktsegment").alias("mode_segment"),
            F.col("n").cast("long").alias("n"),
        )
    )


_LATERAL_TOPK_SQL = """
SELECT c.c_custkey, l.o_orderkey, l.price_cents
FROM customer c,
  LATERAL (
    SELECT o.o_orderkey,
      CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS price_cents
    FROM orders o
    WHERE o.o_custkey = c.c_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 1
  ) l
WHERE c.c_custkey % 20 = 0
"""


@_register("lateral_join_topk", sql=_LATERAL_TOPK_SQL)
def q_lateral_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (each customer's single priciest
    order) — the IDENTICAL SQL text runs on both engines. Catalyst
    decorrelates the per-row LIMIT 1 subquery into a ranked join (never
    an actual per-row execution); the price is integer cents so the
    tie-broken top-1 is engine-exact."""
    for t in ("customer", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_TOPK_SQL)


@_register(
    "sql_pipe_syntax_entry",
    sql="""
SELECT o_orderpriority,
  CAST(count(*) AS BIGINT) AS n_orders,
  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
    AS revenue_cents
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
""",
)
def q_sql_pipe_syntax_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe-syntax entry point (Spark 4's `|>` operator chaining):
    the same logical query written as a linear pipeline —
    FROM |> WHERE |> AGGREGATE ... GROUP BY — compiles to the identical
    plan as the ANSI form the oracle runs (scan-level predicate, partial
    +final hash aggregate, integer-cents revenue). Pins the surface: a
    pipe-syntax regression would fail at parse time."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS revenue_cents
           GROUP BY o_orderpriority
        |> SELECT o_orderpriority, n_orders, revenue_cents
        """
    )


# ==========================================================================
# Round-4 extension: more Pregel-style graph analytics (multi-source BFS,
# seeded label propagation) + forensic digit distribution
# ==========================================================================


def _bfs_sql(iters: int = 3) -> str:
    """Unrolled SQL replay of operators.graph.bfs_hops on the supply
    graph: same symmetrized distinct edges, same per-round min-hop
    aggregate — integer min is order-free, so the unroll is exact."""
    parts = [
        """WITH raw AS (
  SELECT DISTINCT CAST(o.o_custkey AS BIGINT) * 2 AS a,
    CAST(l.l_suppkey AS BIGINT) * 2 + 1 AS b
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), sym AS (
  SELECT a, b FROM raw UNION SELECT b AS a, a AS b FROM raw
), r0 AS (
  SELECT CAST(c_custkey AS BIGINT) * 2 AS vertex, CAST(0 AS BIGINT) AS hop
  FROM customer WHERE c_custkey % 500 = 0
)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""", r{t} AS (
  SELECT vertex, CAST(min(hop) AS BIGINT) AS hop FROM (
    SELECT vertex, hop FROM r{t - 1}
    UNION ALL
    SELECT s.b AS vertex, r.hop + 1 AS hop
    FROM r{t - 1} r JOIN sym s ON s.a = r.vertex
  ) GROUP BY vertex
)"""
        )
    parts.append(
        f"""
SELECT CASE WHEN vertex % 2 = 0
  THEN concat('c:', CAST(vertex // 2 AS VARCHAR))
  ELSE concat('s:', CAST(vertex // 2 AS VARCHAR)) END AS node,
  hop
FROM r{iters}"""
    )
    return "".join(parts)


@_register("bfs_reachable_hops", sql=_bfs_sql())
def q_bfs_reachable_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the customer–supplier graph: minimum hops
    from the seed customers (custkey % 500 == 0) for everything within 3
    hops — the expansion/reachability primitive (fraud rings, blast
    radius, related-entity pulls). Fixed rounds + integer min make it a
    pure function of the graph; the oracle unrolls the identical rounds.
    See operators.graph.bfs_hops for the per-round plan: the unit-weight
    case of the shared min-cost relaxation (one frontier equi-join + one
    min-aggregate that also flags the next frontier, checkpointed edges
    and hops)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.graph import bfs_hops

    l, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    edges = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("o_custkey").cast("long") * 2).alias("src"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    seeds = c.filter(F.col("c_custkey") % 500 == 0).select(
        (F.col("c_custkey").cast("long") * 2).alias("vertex")
    )
    hops = bfs_hops(edges, seeds, iters=3)
    return hops.select(
        F.when(
            F.col("vertex") % 2 == 0,
            F.concat(F.lit("c:"), (F.col("vertex") / 2).cast("long").cast("string")),
        )
        .otherwise(
            F.concat(F.lit("s:"), (F.col("vertex") / 2).cast("long").cast("string"))
        )
        .alias("node"),
        "hop",
    )


def _label_prop_sql(iters: int = 2) -> str:
    """Unrolled SQL replay of operators.graph.label_propagation: seeded
    weighted-majority voting with (votes desc, label asc) tie-break —
    integer votes, total-order rank, bit-replicable."""
    parts = [
        """WITH raw AS (
  SELECT CAST(o.o_custkey AS BIGINT) * 2 AS a,
    CAST(l.l_suppkey AS BIGINT) * 2 + 1 AS b,
    CAST(count(*) AS BIGINT) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
), sym AS (
  SELECT a, b, CAST(sum(w) AS BIGINT) AS w FROM (
    SELECT a, b, w FROM raw UNION ALL SELECT b AS a, a AS b, w FROM raw
  ) GROUP BY a, b
), seeds AS (
  SELECT CAST(s_suppkey AS BIGINT) * 2 + 1 AS vertex,
    CAST(s_nationkey AS BIGINT) AS label
  FROM supplier WHERE s_suppkey % 2 = 0
), l0 AS (SELECT vertex, label FROM seeds)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""", v{t} AS (
  SELECT s.b AS vertex, l.label, CAST(sum(s.w) AS BIGINT) AS votes
  FROM l{t - 1} l JOIN sym s ON s.a = l.vertex
  GROUP BY s.b, l.label
), w{t} AS (
  SELECT vertex, label FROM (
    SELECT vertex, label,
      row_number() OVER (PARTITION BY vertex
                         ORDER BY votes DESC, label) AS rnk
    FROM v{t}
  ) WHERE rnk = 1
), l{t} AS (
  SELECT w.vertex, w.label FROM w{t} w
  LEFT JOIN seeds sd ON sd.vertex = w.vertex WHERE sd.vertex IS NULL
  UNION ALL SELECT vertex, label FROM seeds
)"""
        )
    parts.append(
        f"""
SELECT CASE WHEN l.vertex % 2 = 0
  THEN concat('c:', CAST(l.vertex // 2 AS VARCHAR))
  ELSE concat('s:', CAST(l.vertex // 2 AS VARCHAR)) END AS node,
  l.label, sd.vertex IS NOT NULL AS is_seed
FROM l{iters} l LEFT JOIN seeds sd ON sd.vertex = l.vertex"""
    )
    return "".join(parts)


@_register("label_propagation_nations", sql=_label_prop_sql())
def q_label_propagation_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded label propagation: half the suppliers carry their nation as
    a fixed seed label; two weighted-majority rounds push labels through
    the bipartite purchase graph — customers pick up labels in round 1,
    the UNSEEDED suppliers get them back through labeled customers in
    round 2 (real multi-hop semi-supervised propagation, not a one-shot
    join). Integer votes with (votes desc, label asc) tie-break make
    every round engine-exact; the oracle unrolls the same two rounds.
    See operators.graph.label_propagation."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.graph import (
        label_propagation,
    )

    l, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    edges = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            (F.col("o_custkey").cast("long") * 2).alias("src"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    seeds = s.filter(F.col("s_suppkey") % 2 == 0).select(
        (F.col("s_suppkey").cast("long") * 2 + 1).alias("vertex"),
        F.col("s_nationkey").cast("long").alias("label"),
    )
    lab = label_propagation(edges, seeds, weight="w", iters=2)
    return lab.select(
        F.when(
            F.col("vertex") % 2 == 0,
            F.concat(F.lit("c:"), (F.col("vertex") / 2).cast("long").cast("string")),
        )
        .otherwise(
            F.concat(F.lit("s:"), (F.col("vertex") / 2).cast("long").cast("string"))
        )
        .alias("node"),
        "label",
        "is_seed",
    )


@_register(
    "benford_first_digit",
    sql="""
WITH d AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
    1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice >= 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total FROM d
)
SELECT digit, CAST(count(*) AS BIGINT) AS n,
  CAST((count(*) * 1000000) // tot.n_total AS BIGINT) AS share_micro
FROM d CROSS JOIN tot
GROUP BY digit, tot.n_total
""",
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law forensic screen: the leading-digit distribution of
    order totals (fraud/fabrication detection flags distributions far
    from log10(1+1/d)). Digit extraction via integer->string head — no
    log10 anywhere, so there is no float-boundary hazard at powers of
    ten; shares in exact integer micros. One map expression + one
    9-bucket aggregate + a 1-row broadcast total."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    tot = d.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    return (
        d.join(F.broadcast(tot))
        .groupBy("digit", "n_total")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            "digit",
            "n",
            F.expr("n * 1000000 div n_total").cast("long").alias("share_micro"),
        )
    )


# ==========================================================================
# Round-4 extension (2nd wave): sessionization, time-weighted averages,
# skew diagnostics, funnel timing, association rules, LSH self-evaluation
# ==========================================================================


@_register(
    "sessionize_gap_islands",
    sql="""
WITH s AS (
  SELECT user_id, event_id, event_type,
    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
      - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w > 1800000000
      OR lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w IS NULL
    THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
), g AS (
  SELECT user_id, event_type, us,
    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      ROWS UNBOUNDED PRECEDING) AS sess_idx
  FROM s
)
SELECT user_id, CAST(sess_idx AS BIGINT) AS sess_idx,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST((max(us) - min(us)) // 1000000 AS BIGINT) AS duration_s,
  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
FROM g GROUP BY user_id, sess_idx
""",
)
def q_sessionize_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization (gaps-and-islands): a >30-minute
    silence starts a new session; session index is the running sum of
    new-session flags — the batch twin of the streaming session_window
    agg, built from two same-key window passes (lag + cumulative sum)
    that share ONE user-keyed exchange, then a per-session rollup on the
    same key. All integer microsecond arithmetic: exact in any engine;
    both window orders carry the event_id tiebreak so the running sum is
    over a TOTAL order even under timestamp collisions."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "user_id",
        "event_id",
        "event_type",
        us.alias("us"),
        F.when(
            (us - F.lag(us).over(w) > 1800 * 1_000_000)
            | F.lag(us).over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    g = s.withColumn("sess_idx", F.sum("new_sess").over(w2).cast("long"))
    return g.groupBy("user_id", "sess_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.expr("(max(us) - min(us)) div 1000000").cast("long").alias("duration_s"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
    )


@_register(
    "time_weighted_average",
    sql="""
WITH s AS (
  SELECT user_id,
    CAST(round(value * 100, 0) AS BIGINT) AS v_cents,
    (lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id
       ORDER BY CAST(ts AS TIMESTAMP), event_id)
     - epoch_us(CAST(ts AS TIMESTAMP))) // 1000000 AS dt_s
  FROM events
)
SELECT user_id,
  CAST(sum(v_cents * dt_s) AS BIGINT) AS sum_wv,
  CAST(sum(dt_s) AS BIGINT) AS sum_w,
  CAST(sum(v_cents * dt_s) // sum(dt_s) AS BIGINT) AS twa_cents
FROM s WHERE dt_s IS NOT NULL AND dt_s > 0
GROUP BY user_id
""",
)
def q_time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP-style): each observation holds until
    the next one, so its weight is the holding duration — the correct
    mean for irregularly-sampled state (prices, gauge metrics), where a
    plain avg over-weights bursts. One lead() on the user-keyed window,
    then integer products (cents x whole seconds — bounded, no int64
    overflow at fixture scales) and a floor-div final average: exact in
    any engine. Zero-duration observations (same-second repeats) carry
    no weight and are excluded on both sides."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "user_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("v_cents"),
        ((F.lead(us).over(w) - us) / F.lit(1_000_000))
        .cast("long")
        .alias("dt_s"),
    ).filter(F.col("dt_s").isNotNull() & (F.col("dt_s") > 0))
    return s.groupBy("user_id").agg(
        F.sum(F.col("v_cents") * F.col("dt_s")).cast("long").alias("sum_wv"),
        F.sum("dt_s").cast("long").alias("sum_w"),
        F.expr("sum(v_cents * dt_s) div sum(dt_s)").cast("long").alias("twa_cents"),
    )


@_register(
    "join_key_skew_report",
    sql="""
WITH k AS (
  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n FROM lineitem
  GROUP BY l_suppkey
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_total,
    CAST(count(*) AS BIGINT) AS n_keys, CAST(max(n) AS BIGINT) AS max_n
  FROM k
)
SELECT l_suppkey, n,
  CAST((n * 1000000) // tot.n_total AS BIGINT) AS share_micro,
  CAST((tot.max_n * tot.n_keys * 1000000) // tot.n_total AS BIGINT)
    AS skew_ratio_micro
FROM k CROSS JOIN tot
ORDER BY n DESC, l_suppkey LIMIT 10
""",
)
def q_join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics: the top heavy-hitter keys with their
    traffic share plus the global skew ratio (max/mean in micros) — what
    you run BEFORE a big join to decide between AQE skew handling and
    explicit salting. One partial-aggregated key count, a 1-row
    broadcast total, TakeOrderedAndProject for the head; integer micro
    arithmetic end to end."""
    l = _t(spark, sf_dir, "lineitem")
    k = l.groupBy("l_suppkey").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = k.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("n").cast("long").alias("max_n"),
    )
    return (
        k.join(F.broadcast(tot))
        .select(
            "l_suppkey",
            "n",
            F.expr("n * 1000000 div n_total").cast("long").alias("share_micro"),
            F.expr("max_n * n_keys * 1000000 div n_total")
            .cast("long")
            .alias("skew_ratio_micro"),
        )
        .orderBy(F.col("n").desc(), "l_suppkey")
        .limit(10)
    )


@_register(
    "funnel_time_to_convert",
    sql="""
WITH fv AS (
  SELECT user_id, min(epoch_us(CAST(ts AS TIMESTAMP))) AS v_us
  FROM events WHERE event_type = 'view' GROUP BY user_id
), fc AS (
  SELECT e.user_id, min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS c_us
  FROM events e JOIN fv ON fv.user_id = e.user_id
  WHERE e.event_type = 'click'
    AND epoch_us(CAST(e.ts AS TIMESTAMP)) >= fv.v_us
  GROUP BY e.user_id
), fp AS (
  SELECT e.user_id, min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS p_us
  FROM events e JOIN fc ON fc.user_id = e.user_id
  WHERE e.event_type = 'purchase'
    AND epoch_us(CAST(e.ts AS TIMESTAMP)) >= fc.c_us
  GROUP BY e.user_id
), d AS (
  SELECT 'view_to_click' AS stage, (fc.c_us - fv.v_us) // 1000000 AS dt_s
  FROM fv JOIN fc USING (user_id)
  UNION ALL
  SELECT 'click_to_purchase' AS stage, (fp.p_us - fc.c_us) // 1000000 AS dt_s
  FROM fc JOIN fp USING (user_id)
)
SELECT stage, CAST(count(*) AS BIGINT) AS n_converted,
  round(quantile_cont(dt_s, 0.5), 6) AS median_s,
  round(quantile_cont(dt_s, 0.9), 6) AS p90_s
FROM d GROUP BY stage
""",
)
def q_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency: how long users take to move view -> click ->
    purchase (first qualifying event after the prior stage), with exact
    median/p90 of the stage transition time — the metric behind 'where
    does the funnel stall'. Three user-keyed conditional min-aggregates
    chained by hint-free join-backs (each stage's frame is |users| rows
    — user-proportional, so AQE picks the strategy), integer-second
    deltas, exact interpolated percentiles."""
    e = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = e.select("user_id", "event_type", us.alias("us"))
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
    )
    # the stage frames are |users| rows — user-proportional, so no
    # broadcast HINT on the join-backs (AQE broadcasts when small)
    fc = (
        ev.filter(F.col("event_type") == "click")
        .join(fv, "user_id")
        .filter(F.col("us") >= F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("c_us"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fc, "user_id")
        .filter(F.col("us") >= F.col("c_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"))
    )
    d = (
        fv.join(fc, "user_id")
        .select(
            F.lit("view_to_click").alias("stage"),
            F.expr("(c_us - v_us) div 1000000").cast("long").alias("dt_s"),
        )
        .unionByName(
            fc.join(fp, "user_id").select(
                F.lit("click_to_purchase").alias("stage"),
                F.expr("(p_us - c_us) div 1000000").cast("long").alias("dt_s"),
            )
        )
    )
    return d.groupBy("stage").agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(F.expr("percentile(dt_s, 0.5)"), 6).alias("median_s"),
        F.round(F.expr("percentile(dt_s, 0.9)"), 6).alias("p90_s"),
    )


@_register(
    "association_rules_lift",
    sql="""
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n1 AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM op GROUP BY l_partkey
), tot AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM op
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
    CAST(count(*) AS BIGINT) AS n_ab
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 3
)
SELECT p.part_a, p.part_b, p.n_ab,
  CAST((p.n_ab * 1000000) // na.n AS BIGINT) AS conf_a_to_b_micro,
  CAST((p.n_ab * tot.n_orders * 1000000) // (na.n * nb.n) AS BIGINT)
    AS lift_micro
FROM pairs p
JOIN n1 na ON na.l_partkey = p.part_a
JOIN n1 nb ON nb.l_partkey = p.part_b
CROSS JOIN tot
ORDER BY lift_micro DESC, part_a, part_b LIMIT 25
""",
)
def q_association_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over market baskets: confidence and lift for
    the co-purchased part pairs with support >= 3 orders — the classic
    a-priori output head, in exact integer micros (lift = n_ab * N /
    (n_a * n_b); all products bounded well inside BIGINT). The pair join
    fans out O(basket^2) per order; item frequencies broadcast back onto
    the (already support-pruned) pair frame; final cut is
    TakeOrderedAndProject on a total order."""
    l = _t(spark, sf_dir, "lineitem")
    op = l.select("l_orderkey", "l_partkey").distinct()
    n1 = op.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = op.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_orders")
    )
    a, b = op.alias("a"), op.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.l_orderkey") == F.col("b.l_orderkey"),
                F.col("a.l_partkey") < F.col("b.l_partkey"),
            ],
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    na = n1.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a"))
    nb = n1.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b"))
    # per-part counts are part-proportional — no broadcast HINT (AQE
    # broadcasts when small); only the 1-row total keeps its hint
    return (
        pairs.join(na, "part_a")
        .join(nb, "part_b")
        .join(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.expr("n_ab * 1000000 div n_a")
            .cast("long")
            .alias("conf_a_to_b_micro"),
            F.expr("n_ab * n_orders * 1000000 div (n_a * n_b)")
            .cast("long")
            .alias("lift_micro"),
        )
        .orderBy(F.col("lift_micro").desc(), "part_a", "part_b")
        .limit(25)
    )


@_register(
    "lsh_recall_eval",
    sql=f"""
WITH {_lsh_near_dup_ctes(threshold=0.4)}, ex AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a, embeddings b
  WHERE a.vec_id < b.vec_id
    AND round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[]))
      / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                               CAST(a.embedding AS DOUBLE[])))
       * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[])))), 6) >= 0.4
), j AS (
  SELECT coalesce(l.id_a, ex.id_a) AS id_a,
    l.id_a IS NOT NULL AS in_lsh, ex.id_a IS NOT NULL AS in_exact
  FROM lsh_pairs l FULL OUTER JOIN ex
    ON l.id_a = ex.id_a AND l.id_b = ex.id_b
)
SELECT
  CAST(count(*) FILTER (WHERE in_lsh AND in_exact) AS BIGINT) AS tp,
  CAST(count(*) FILTER (WHERE in_lsh AND NOT in_exact) AS BIGINT) AS fp,
  CAST(count(*) FILTER (WHERE in_exact AND NOT in_lsh) AS BIGINT) AS fn,
  CAST((count(*) FILTER (WHERE in_lsh AND in_exact) * 1000000)
    // greatest(count(*) FILTER (WHERE in_lsh), 1) AS BIGINT)
    AS precision_micro,
  CAST((count(*) FILTER (WHERE in_lsh AND in_exact) * 1000000)
    // greatest(count(*) FILTER (WHERE in_exact), 1) AS BIGINT)
    AS recall_micro
FROM j
""",
)
def q_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluating dedup: precision/recall of the LSH near-dup path
    against the exact pair-grid ground truth, as one query — the
    eval a pipeline runs on a BOUNDED SAMPLE before trusting LSH at full
    scale (here the whole sf table IS the sample). Both operands are the
    production operators; the set comparison is one full-outer equi-join
    on the pair key and the metrics are exact integer micros. The
    oracle replays both paths (integer-exact LSH planes + brute-force
    cosine) and the same join."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.similarity import (
        embedding_near_dup_pairs,
        exact_near_dup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    lsh = embedding_near_dup_pairs(emb, threshold=0.4).select("id_a", "id_b")
    ex = exact_near_dup_pairs(emb, threshold=0.4).select("id_a", "id_b")
    j = lsh.withColumn("in_lsh", F.lit(True)).join(
        ex.withColumn("in_exact", F.lit(True)),
        ["id_a", "id_b"],
        "full_outer",
    )
    return j.agg(
        F.count(F.when(F.col("in_lsh") & F.col("in_exact"), 1))
        .cast("long")
        .alias("tp"),
        F.count(F.when(F.col("in_lsh") & F.col("in_exact").isNull(), 1))
        .cast("long")
        .alias("fp"),
        F.count(F.when(F.col("in_exact") & F.col("in_lsh").isNull(), 1))
        .cast("long")
        .alias("fn"),
    ).select(
        "tp",
        "fp",
        "fn",
        F.expr("tp * 1000000 div greatest(tp + fp, 1)")
        .cast("long")
        .alias("precision_micro"),
        F.expr("tp * 1000000 div greatest(tp + fn, 1)")
        .cast("long")
        .alias("recall_micro"),
    )


@_register(
    "multimodal_audio_energy",
    sql="""
WITH a AS (
  SELECT doc_id AS asset_id, substring(text, 1, 4096) AS t
  FROM documents WHERE length(text) > 0
), pos AS (
  SELECT asset_id, t, unnest(generate_series(1, length(t))) AS p FROM a
), b AS (
  SELECT asset_id, CAST((p - 1) // 256 AS INT) AS frame_idx,
    (unicode(t[p]) - 128) AS c
  FROM pos
)
SELECT asset_id, frame_idx,
  CAST(count(*) AS BIGINT) AS n_frame_bytes,
  CAST(sum(c * c) AS BIGINT) AS energy
FROM b GROUP BY asset_id, frame_idx
""",
)
def q_multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-shaped multimodal kernel: per-frame signal energy over the
    binary payload (256-byte frames, sum of centered squares — the
    PCM-8 energy a hop-based audio featurizer computes), as a fully
    vectorized Arrow-batched mapInPandas — numpy frombuffer/reshape, no
    per-byte Python — with an exact int64 oracle (docs are ASCII, so
    UTF-8 payload bytes == code points on the SQL side). Rounds out the
    modality plumbing: features (stats), frames (offsets), thumbnails
    (decimation), energy (signal)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.multimodal import (
        documents_as_assets,
        frame_energy,
    )

    return frame_energy(documents_as_assets(_t(spark, sf_dir, "documents")))


@_register(
    "minhash_recall_eval",
    sql=f"""
WITH lsh AS (
  SELECT id_a, id_b FROM ({_minhash_lsh_sql(num_perm=16, bands=8, threshold=0.2)}) t1
), ex AS (
  SELECT id_a, id_b FROM (
    WITH sh0 AS (
      SELECT doc_id, {_SQL_SHINGLES3} AS shingles
      FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
    ), h AS (
      SELECT DISTINCT doc_id, {_SQL_H60.format(x='s')} AS h
      FROM (SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh0)
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM h GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM h a JOIN h b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.id_a
    JOIN sizes sb ON sb.doc_id = c.id_b
    WHERE round(c.n_common / (sa.sz + sb.sz - c.n_common), 6) >= 0.2
  ) t2
), j AS (
  SELECT l.id_a IS NOT NULL AS in_lsh, e.id_a IS NOT NULL AS in_exact
  FROM lsh l FULL OUTER JOIN ex e
    ON l.id_a = e.id_a AND l.id_b = e.id_b
)
SELECT
  CAST(count(*) FILTER (WHERE in_lsh AND in_exact) AS BIGINT) AS tp,
  CAST(count(*) FILTER (WHERE in_lsh AND NOT in_exact) AS BIGINT) AS fp,
  CAST(count(*) FILTER (WHERE in_exact AND NOT in_lsh) AS BIGINT) AS fn,
  CAST((count(*) FILTER (WHERE in_lsh AND in_exact) * 1000000)
    // greatest(count(*) FILTER (WHERE in_exact), 1) AS BIGINT)
    AS recall_micro
FROM j
""",
)
def q_minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-dedup self-evaluation, the MinHash twin of lsh_recall_eval:
    banded MinHash-LSH pairs vs the exact inverted-index Jaccard ground
    truth at the same threshold, one full-outer pair join, integer-micro
    recall. fp is 0 BY CONSTRUCTION (the LSH path verifies exact Jaccard
    on its candidates), so the number under test is candidate recall —
    the quantity you estimate on a bounded sample before trusting the
    banding parameters (b=8, r=2 here) on the full corpus."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import (
        minhash_near_dup_pairs,
        ngram_jaccard_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    lsh = minhash_near_dup_pairs(
        d, threshold=0.2, num_perm=16, bands=8
    ).select("id_a", "id_b")
    ex = ngram_jaccard_pairs(d, min_jaccard=0.2).select("id_a", "id_b")
    j = lsh.withColumn("in_lsh", F.lit(True)).join(
        ex.withColumn("in_exact", F.lit(True)), ["id_a", "id_b"], "full_outer"
    )
    return j.agg(
        F.count(F.when(F.col("in_lsh") & F.col("in_exact"), 1))
        .cast("long")
        .alias("tp"),
        F.count(F.when(F.col("in_lsh") & F.col("in_exact").isNull(), 1))
        .cast("long")
        .alias("fp"),
        F.count(F.when(F.col("in_exact") & F.col("in_lsh").isNull(), 1))
        .cast("long")
        .alias("fn"),
    ).select(
        "tp",
        "fp",
        "fn",
        F.expr("tp * 1000000 div greatest(tp + fn, 1)")
        .cast("long")
        .alias("recall_micro"),
    )


@_register(
    "cusum_drift_detection",
    sql="""
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
), ref AS (
  SELECT event_type, CAST(sum(v) // count(*) AS BIGINT) AS mu
  FROM daily GROUP BY event_type
), p AS (
  SELECT d.event_type, d.day, d.v, r.mu,
    sum(d.v - r.mu) OVER w AS pref
  FROM daily d JOIN ref r USING (event_type)
  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day
               ROWS UNBOUNDED PRECEDING)
), c AS (
  -- least/greatest with 0: the identity's prefix minimum ranges over
  -- P_0..P_t with P_0 = 0 (the empty prefix), not just observed rows
  SELECT event_type, day, v,
    pref - least(min(pref) OVER (PARTITION BY event_type ORDER BY day
                                 ROWS UNBOUNDED PRECEDING), 0) AS cusum_pos,
    greatest(max(pref) OVER (PARTITION BY event_type ORDER BY day
                             ROWS UNBOUNDED PRECEDING), 0) - pref AS cusum_neg
  FROM p
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
  CAST(cusum_pos AS BIGINT) AS cusum_pos,
  CAST(cusum_neg AS BIGINT) AS cusum_neg,
  cusum_pos > 5000000 OR cusum_neg > 5000000 AS drifted
FROM c
""",
)
def q_cusum_drift_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on per-type daily totals — the
    sequential drift alarm (upward and downward pages of Page's test).
    The textbook form is a recurrence (s_t = max(0, s_{t-1} + x_t - mu))
    that plain windows can't express — but it equals prefix_sum(t) -
    running_min(prefix_sum) EXACTLY (and the downward page is
    running_max - prefix), so the whole detector becomes three shared-key
    window passes over ONE exchange: fully distributed, no segmented
    scan, no Python. Integer cents end to end — bit-exact anywhere."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("v")
    )
    ref = daily.groupBy("event_type").agg(
        F.expr("sum(v) div count(*)").cast("long").alias("mu")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p = (
        daily.join(F.broadcast(ref), "event_type")
        .withColumn("pref", F.sum(F.col("v") - F.col("mu")).over(w))
    )
    c = p.select(
        "event_type",
        "day",
        "v",
        (F.col("pref") - F.least(F.min("pref").over(w), F.lit(0)))
        .cast("long")
        .alias("cusum_pos"),
        (F.greatest(F.max("pref").over(w), F.lit(0)) - F.col("pref"))
        .cast("long")
        .alias("cusum_neg"),
    )
    return c.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "cusum_pos",
        "cusum_neg",
        (
            (F.col("cusum_pos") > 5_000_000) | (F.col("cusum_neg") > 5_000_000)
        ).alias("drifted"),
    )


@_register(
    "quantile_normalize_by_lang",
    sql="""
WITH base AS (
  SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars
  FROM documents WHERE lang IS NOT NULL
), lr AS (
  SELECT doc_id, lang, n_chars,
    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
    count(*) OVER (PARTITION BY lang) AS n_l
  FROM base
), gr AS (
  SELECT n_chars AS gv,
    row_number() OVER (ORDER BY n_chars, doc_id) AS pos
  FROM base
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS m FROM base
), t AS (
  SELECT lr.doc_id, lr.lang, lr.n_chars,
    ((lr.rn - 1) * 1000000 // greatest(lr.n_l - 1, 1) * (m.m - 1))
      // 1000000 + 1 AS target_pos
  FROM lr CROSS JOIN m
)
SELECT t.doc_id, t.lang, t.n_chars, CAST(gr.gv AS BIGINT) AS norm_chars
FROM t JOIN gr ON gr.pos = t.target_pos
""",
)
def q_quantile_normalize_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across sources (batch-effect removal): map
    each document's within-language length rank onto the GLOBAL length
    distribution, so every language's metric becomes comparable — the
    standard fix when one source's distribution is shifted (here: doc
    length; in production: quality scores across crawls). All-integer
    rank arithmetic (micro-quantile -> nearest-below global position),
    so the mapping is engine-exact with zero interpolation hazards.

    Scale shape: per-lang ranks are keyed windows; the GLOBAL rank uses
    the distributed two-pass global_row_number (range exchange +
    partitioned window + broadcast offsets — never a single-task global
    window); the position lookup is a plain equi-join."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.windows import (
        global_row_number,
    )
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents").filter(F.col("lang").isNotNull())
    base = d.select(
        "doc_id", "lang", F.length("text").cast("long").alias("n_chars")
    )
    wl = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    lr = base.select(
        "doc_id",
        "lang",
        "n_chars",
        F.row_number().over(wl).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n_l"),
    )
    gr = global_row_number(
        base.select(F.col("n_chars").alias("gv"), "doc_id"),
        ["gv", "doc_id"],
        out_col="pos",
    ).select("gv", "pos")
    m = base.agg(F.count(F.lit(1)).cast("long").alias("m"))
    t = lr.join(F.broadcast(m)).select(
        "doc_id",
        "lang",
        "n_chars",
        F.expr(
            "((rn - 1) * 1000000 div greatest(n_l - 1, 1) * (m - 1))"
            " div 1000000 + 1"
        )
        .cast("long")
        .alias("target_pos"),
    )
    return t.join(gr, F.col("target_pos") == F.col("pos")).select(
        "doc_id", "lang", "n_chars", F.col("gv").cast("long").alias("norm_chars")
    )


# ==========================================================================
# Round-4 extension: mergeable distinct-count sketches (the pre-aggregation
# pattern that makes distinct metrics cheap at 100 TB) + weighted shortest
# paths (Bellman-Ford rounds, the weighted sibling of bfs_reachable_hops)
# ==========================================================================


@_register(
    "theta_sketch_overlap",
    sql="""
WITH tu AS (
  SELECT DISTINCT event_type, user_id FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
), t AS (SELECT DISTINCT event_type FROM tu),
c AS (SELECT event_type, count(*) AS n FROM tu GROUP BY 1),
i AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
    count(*) AS n_both
  FROM tu a JOIN tu b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
), p AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM t a JOIN t b ON a.event_type < b.event_type
)
SELECT p.type_a, p.type_b,
  CAST(ca.n + cb.n - coalesce(i.n_both, 0) AS BIGINT) AS union_users,
  CAST(coalesce(i.n_both, 0) AS BIGINT) AS intersect_users,
  CAST(ca.n - coalesce(i.n_both, 0) AS BIGINT) AS a_only_users
FROM p
JOIN c ca ON ca.event_type = p.type_a
JOIN c cb ON cb.event_type = p.type_b
LEFT JOIN i ON i.type_a = p.type_a AND i.type_b = p.type_b
""",
)
def q_theta_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix via theta sketches: one sketch of the
    distinct user set per event type, then set ALGEBRA on the sketches
    (union / intersection / difference estimates) instead of re-joining
    raw events per pair — the pattern that answers "how many users do
    segments A and B share?" at 100 TB from kilobyte pre-aggregates. The
    per-type sketch build is one hash aggregate with map-side partials
    (sketches merge associatively); the pair expansion is a RELATIONAL
    self-join of the sketch frame on ``type_a < type_b`` — nothing is
    collected driver-side, so a 10^4-type catalog generates its 5x10^7
    pairs inside tasks, never as a Python list. The inequality alone
    would plan a nested-loop join, so the join carries a zero-valued
    NON-FOLDABLE equi-key (``length(event_type)*0`` — constant at
    runtime, opaque to constant folding), keeping it a broadcast HASH
    equi-join of the kilobyte sketch side with the inequality as the
    residual condition; pair generation parallelizes across the stream
    side's partitions.
    Theta sketches (lgK=14) are in EXACT mode below 2^14 retained
    hashes, so at attestation scale the estimates ARE the exact distinct
    counts and the oracle computes them relationally; at true 100 TB the
    same query degrades gracefully to +/-1%-bounded estimates."""
    # NULL event_type is excluded DELIBERATELY here (a NULL segment name
    # is not an audience), and the exclusion must stay explicit: were a
    # NULL type to reach the pair expansion, its `_k` key
    # (length(event_type)*0) would be NULL, so both the equi-key
    # comparison and the `type_a < type_b` residual evaluate to NULL and
    # the row would vanish silently — this filter makes that a contract,
    # not a NULL-semantics side effect.
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select("event_type", "user_id")
    )
    sk = e.groupBy("event_type").agg(
        F.expr("theta_sketch_agg(user_id, 14)").alias("sk")
    )
    zero_k = (F.length("event_type") * 0).alias("_k")
    a = sk.select(
        F.col("event_type").alias("type_a"), F.col("sk").alias("sk_a"), zero_k
    )
    b = sk.select(
        F.col("event_type").alias("type_b"), F.col("sk").alias("sk_b"), zero_k
    )
    j = a.join(
        F.broadcast(b),
        (a["_k"] == b["_k"]) & (F.col("type_a") < F.col("type_b")),
    )
    return j.select(
        "type_a",
        "type_b",
        F.expr("theta_sketch_estimate(theta_union(sk_a, sk_b))")
        .cast("long")
        .alias("union_users"),
        F.expr("theta_sketch_estimate(theta_intersection(sk_a, sk_b))")
        .cast("long")
        .alias("intersect_users"),
        F.expr("theta_sketch_estimate(theta_difference(sk_a, sk_b))")
        .cast("long")
        .alias("a_only_users"),
    )


@_register(
    "hll_distinct_rollup",
    sql="""
SELECT event_type,
  CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
  TRUE AS merged_equals_direct,
  TRUE AS est_within_2pct
FROM events
WHERE user_id IS NOT NULL AND ts IS NOT NULL
GROUP BY event_type
""",
)
def q_hll_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL rollup: per-(event_type, day) HLL sketches unioned
    up to per-type distinct-user counts — THE incremental-distinct
    pattern at scale (store kilobyte daily sketches, answer any coarser
    distinct rollup by union, never rescan raw data). Both legs are hash
    aggregates with map-side partial merge. Attested by contract: the
    union-of-daily estimate must exactly equal the direct whole-type
    estimate (HLL union with one lgConfigK is a lossless register MAX,
    so merge order/shape cannot change the result — the mergeability
    invariant), and the estimate must sit within 2% of the exact
    distinct count (lgK=14 rel. error ~0.8%; observed <=0.2% at these
    cardinalities — HLL is approximate even when small). The oracle
    emits the exact counts and TRUE for both contract booleans."""
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("event_type", F.to_date("ts").alias("d"), "user_id")
    )
    daily = e.groupBy("event_type", "d").agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est_merged"),
    )
    direct = e.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").alias(
            "est_direct"
        ),
        F.count_distinct("user_id").cast("long").alias("exact_users"),
    )
    return merged.join(direct, "event_type").select(
        "event_type",
        "n_days",
        "exact_users",
        (F.col("est_merged") == F.col("est_direct")).alias("merged_equals_direct"),
        (
            F.abs(F.col("est_merged") - F.col("exact_users")) * 50
            <= F.col("exact_users")
        ).alias("est_within_2pct"),
    )


def _sssp_sql(iters: int = 3) -> str:
    """Unrolled SQL replay of operators.graph.shortest_paths_weighted on
    the supply graph: same symmetrized min-weight edges, same per-round
    relax + min-cost aggregate — integer min is order-free, so the
    unroll is exact."""
    parts = [
        """WITH raw AS (
  SELECT CAST(o.o_custkey AS BIGINT) * 2 AS a,
    CAST(l.l_suppkey AS BIGINT) * 2 + 1 AS b,
    CAST(min(round(l.l_extendedprice * 100)) AS BIGINT) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
), sym AS (
  SELECT a, b, CAST(min(w) AS BIGINT) AS w FROM (
    SELECT a, b, w FROM raw UNION ALL SELECT b AS a, a AS b, w FROM raw
  ) GROUP BY a, b
), r0 AS (
  SELECT CAST(c_custkey AS BIGINT) * 2 AS vertex, CAST(0 AS BIGINT) AS cost
  FROM customer WHERE c_custkey % 500 = 0
)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""", r{t} AS (
  SELECT vertex, CAST(min(cost) AS BIGINT) AS cost FROM (
    SELECT vertex, cost FROM r{t - 1}
    UNION ALL
    SELECT s.b AS vertex, r.cost + s.w AS cost
    FROM r{t - 1} r JOIN sym s ON s.a = r.vertex
  ) GROUP BY vertex
)"""
        )
    parts.append(
        f"""
SELECT CASE WHEN vertex % 2 = 0
  THEN concat('c:', CAST(vertex // 2 AS VARCHAR))
  ELSE concat('s:', CAST(vertex // 2 AS VARCHAR)) END AS node,
  cost
FROM r{iters}"""
    )
    return "".join(parts)


@_register("shortest_path_weighted", sql=_sssp_sql())
def q_shortest_path_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source WEIGHTED shortest paths (Bellman-Ford, 3 relaxation
    rounds) over the customer-supplier graph with edge weight = cheapest
    lineitem price in cents on that link: the min-cost procurement-chain
    primitive (cheapest route to any supplier within 3 links of the seed
    customers). Weighted sibling of bfs_reachable_hops: fixed rounds +
    integer MIN make the result a pure function of the graph, replayed
    exactly by the unrolled oracle. See
    operators.graph.shortest_paths_weighted for the per-round plan (one
    frontier equi-join + one min-aggregate that also flags which costs
    moved, checkpointed edges/costs)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.graph import (
        shortest_paths_weighted,
    )

    l, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    edges = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            (F.col("o_custkey").cast("long") * 2).alias("src"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
        )
        .agg(
            F.min(F.round(F.col("l_extendedprice") * 100))
            .cast("long")
            .alias("w")
        )
    )
    seeds = c.filter(F.col("c_custkey") % 500 == 0).select(
        (F.col("c_custkey").cast("long") * 2).alias("vertex")
    )
    costs = shortest_paths_weighted(edges, seeds, iters=3)
    return costs.select(
        F.when(
            F.col("vertex") % 2 == 0,
            F.concat(F.lit("c:"), (F.col("vertex") / 2).cast("long").cast("string")),
        )
        .otherwise(
            F.concat(F.lit("s:"), (F.col("vertex") / 2).cast("long").cast("string"))
        )
        .alias("node"),
        "cost",
    )


@_register(
    "seasonal_decompose_daily",
    sql="""
WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS v_cents
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), t AS (
  SELECT *,
    CAST(sum(v_cents) OVER w * 1000000 // count(*) OVER w AS BIGINT)
      AS trend_micro,
    CAST(count(*) OVER w AS BIGINT) AS n_win
  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), s AS (
  SELECT *, v_cents * 1000000 - trend_micro AS detrended_micro,
    CAST(dayofweek(day) + 1 AS BIGINT) AS dow
  FROM t
), f AS (
  SELECT *,
    CAST(sum(detrended_micro) OVER wd AS BIGINT) AS seasonal_sum_micro,
    CAST(count(*) OVER wd AS BIGINT) AS n_dow
  FROM s WINDOW wd AS (PARTITION BY event_type, dow)
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, v_cents, n_win,
  trend_micro, CAST(detrended_micro AS BIGINT) AS detrended_micro, dow,
  n_dow, seasonal_sum_micro,
  CAST(detrended_micro * n_dow - seasonal_sum_micro AS BIGINT)
    AS resid_scaled_micro
FROM f
""",
)
def q_seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style seasonal decomposition of the daily value series, in
    EXACT integer arithmetic: trend = centered 7-day moving average
    (floor-div micros — Spark's truncate-toward-zero ``div`` is
    corrected to FLOOR semantics with an explicit
    ``- 1 when remainder != 0 and numerator < 0`` term, so it matches
    DuckDB's floor ``//`` for ANY sign of the daily sums, not just the
    non-negative fixture range),
    detrended = value - trend (integer, sign-safe because it's never
    divided), day-of-week seasonal component carried as (sum, n) instead
    of a mean, and the residual emitted SCALED by n_dow
    (detrended*n - seasonal_sum = n*residual) so no division ever
    touches a possibly-negative operand — the trick that keeps a
    classically float-order-dependent decomposition bit-replicable
    across engines. Three window passes, each a single exchange family:
    the per-day pre-aggregate shrinks events to one row per
    (type, day) BEFORE any window runs, which is what makes this viable
    on a 100 TB event log (windows run over ~10^3-row series, not raw
    events)."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    d = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("v_cents")
    )
    w7 = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    )
    t = d.select(
        "*",
        F.expr("sum(v_cents) OVER (PARTITION BY event_type ORDER BY day "
               "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)").alias("_sw"),
        F.count(F.lit(1)).over(w7).cast("long").alias("n_win"),
    ).select(
        "event_type",
        "day",
        "v_cents",
        "n_win",
        F.expr(
            "(_sw * 1000000) div n_win - (CASE WHEN (_sw * 1000000) % n_win != 0"
            " AND _sw < 0 THEN 1 ELSE 0 END)"
        )
        .cast("long")
        .alias("trend_micro"),
    )
    s = t.select(
        "*",
        (F.col("v_cents") * 1000000 - F.col("trend_micro")).alias(
            "detrended_micro"
        ),
        F.dayofweek("day").cast("long").alias("dow"),
    )
    wd = Window.partitionBy("event_type", "dow")
    f = s.select(
        "*",
        F.sum("detrended_micro").over(wd).cast("long").alias(
            "seasonal_sum_micro"
        ),
        F.count(F.lit(1)).over(wd).cast("long").alias("n_dow"),
    )
    return f.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "v_cents",
        "n_win",
        "trend_micro",
        "detrended_micro",
        "dow",
        "n_dow",
        "seasonal_sum_micro",
        (
            F.col("detrended_micro") * F.col("n_dow")
            - F.col("seasonal_sum_micro")
        )
        .cast("long")
        .alias("resid_scaled_micro"),
    )


@_register(
    "attribution_first_last_touch",
    sql="""
WITH s AS (
  SELECT event_type, user_id, value,
    first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                IGNORE NULLS) OVER w AS first_touch,
    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
               IGNORE NULLS) OVER w AS last_touch
  FROM events
  WINDOW w AS (PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT first_touch, last_touch,
  CAST(count(*) AS BIGINT) AS n_purchases,
  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
    AS attributed_cents
FROM s WHERE event_type = 'purchase' AND last_touch IS NOT NULL
GROUP BY 1, 2
""",
)
def q_attribution_first_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style purchase attribution: each purchase credits the
    FIRST and the LAST non-purchase event the user emitted before it
    (first-touch / last-touch), aggregated into a first x last channel
    matrix with purchase counts and value. One user-keyed window with an
    ignore-nulls first/last over the strictly-preceding frame — the
    running carry-forward idiom — then a hash aggregate; ties broken by
    (ts, event_id) for a total order on both engines. Purchases with no
    preceding touch are excluded by contract on both sides."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    s = e.select(
        "event_type",
        "value",
        F.first(ch, ignorenulls=True).over(w).alias("first_touch"),
        F.last(ch, ignorenulls=True).over(w).alias("last_touch"),
    )
    return (
        s.filter(
            (F.col("event_type") == "purchase")
            & F.col("last_touch").isNotNull()
        )
        .groupBy("first_touch", "last_touch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("attributed_cents"),
        )
    )


@_register(
    "tpch_q5_local_supplier_volume",
    sql="""
SELECT n_name,
  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
       AS BIGINT) AS revenue_cents
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
""",
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the canonical 6-way snowflake,
    plus the Q5 twist: customer and supplier must share a nation
    (c_nationkey = s_nationkey), an extra equi-predicate BETWEEN two
    dimension paths, not a new join. Plan shape at 100 TB: the date
    filter prunes orders at the scan, the big exchange is
    lineitem><orders on orderkey, and the region filter cascades through
    broadcast nation to cut supplier before the fact join. Only the
    FIXED-cardinality dims (region 5, nation 25) carry explicit
    broadcast hints — supplier and customer scale with SF, so their
    join strategy is left to AQE (broadcast at bench SF, shuffle at
    100 TB); hard-hinting them would OOM the driver at scale. Revenue
    in integer cents for cross-engine exactness."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    c = _t(spark, sf_dir, "customer")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            c,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum(cents).alias("revenue_cents"))
    )


@_register(
    "tpch_q10_returned_items",
    sql="""
SELECT c_custkey, c_name, n_name,
  CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
       AS BIGINT) AS revenue_cents
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND l_returnflag = 'R'
  AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name, acctbal_cents
ORDER BY revenue_cents DESC, c_custkey ASC
LIMIT 20
""",
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): which customers returned the
    most revenue in a quarter. Fact-fact join on orderkey with BOTH scans
    predicate-pruned (quarter on orders, returnflag on lineitem), customer
    brought in AFTER the fact join (join the smaller filtered fact result,
    not the raw lineitem), nation broadcast, then a grouped top-20 with a
    total-order tiebreak (revenue desc, custkey asc) so LIMIT is
    deterministic across engines — the global sort moves only 20 rows per
    partition (TakeOrderedAndProject), never the full aggregate."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "c_custkey",
            "c_name",
            "n_name",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
        )
        .agg(F.sum(cents).alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@_register(
    "tpch_q14_promo_effect",
    sql="""
SELECT
  round(100.0 * sum(CASE WHEN p_type = 'PROMO'
    THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
    ELSE 0 END)
    / sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)),
    6) AS promo_revenue_pct,
  CAST(sum(CASE WHEN p_type = 'PROMO'
    THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
    ELSE 0 END) AS BIGINT) AS promo_cents,
  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
       AS BIGINT) AS total_cents
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
""",
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): share of one month's revenue that
    came from promo parts — a month-pruned fact scan joined to the part
    dimension, conditional aggregation, single global row. The division
    happens on two EXACT bigint cent-sums (numerator/denominator each
    deterministic), so the only float op is one final divide, rounded to
    6 decimals on both engines. At 100 TB the part join is the broadcast
    (fixed 0.2% of lineitem bytes per SF ratio but orders of magnitude
    smaller after the month prune) — left to AQE, same reasoning as Q5."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    p = _t(spark, sf_dir, "part")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    promo = F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0))
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(promo).alias("promo_cents"),
            F.sum(cents).alias("total_cents"),
        )
        .select(
            F.round(
                F.lit(100.0) * F.col("promo_cents") / F.col("total_cents"), 6
            ).alias("promo_revenue_pct"),
            F.col("promo_cents").cast("long"),
            F.col("total_cents").cast("long"),
        )
    )


@_register(
    "sql_scripting_entry",
    sql="""
WITH t AS (
  SELECT CAST(floor(avg(round(o_totalprice * 100))) AS BIGINT) AS thr
  FROM orders
)
SELECT o_orderstatus,
  CAST(count(*) AS BIGINT) AS n_above,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
  t.thr AS threshold_cents
FROM orders, t
WHERE CAST(round(o_totalprice * 100) AS BIGINT) > t.thr
GROUP BY o_orderstatus, t.thr
""",
)
def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL SCRIPTING entry (BEGIN...END, DECLARE/SET session
    variables): a data-dependent threshold is computed into a variable by
    one statement and consumed by the next — the procedural
    multi-statement pattern (compute parameter -> use parameter) running
    entirely inside the SQL engine, no driver round-trip between the
    statements and no temp-table materialization. The oracle is the
    equivalent single declarative query (scalar CTE), so the hash check
    proves the scripting path computes exactly what the set-based form
    does. Integer-cents threshold with explicit floor() on BOTH engines
    (bare double->bigint casts round differently across engines)."""
    for t in ("orders",):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    prev = spark.conf.get("spark.sql.scripting.enabled", None)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        return spark.sql(
            """
BEGIN
  DECLARE thr BIGINT;
  SET thr = (SELECT CAST(floor(avg(round(o_totalprice * 100))) AS BIGINT)
             FROM orders);
  SELECT o_orderstatus,
    CAST(count(*) AS BIGINT) AS n_above,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS sum_cents,
    thr AS threshold_cents
  FROM orders
  WHERE CAST(round(o_totalprice * 100) AS BIGINT) > thr
  GROUP BY o_orderstatus;
END
"""
        )
    finally:
        if prev is None:
            # get(key, None) means "was unset": restore by unsetting, not
            # by skipping — leaving scripting enabled would leak into
            # every later query on the shared session
            spark.conf.unset("spark.sql.scripting.enabled")
        else:
            spark.conf.set("spark.sql.scripting.enabled", prev)


@_register(
    "recursive_cte_reachability",
    sql="""
WITH RECURSIVE edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey AND a.l_orderkey % 5 = 0
),
reach(id, depth) AS (
  SELECT min(src), 0 FROM edges
  UNION ALL
  SELECT e.dst, r.depth + 1
  FROM reach r JOIN edges e ON e.src = r.id
  WHERE r.depth < 2
)
SELECT CAST(t.depth AS BIGINT) AS hop, CAST(count(*) AS BIGINT) AS n_parts
FROM (SELECT id, min(depth) AS depth FROM reach GROUP BY id) t
GROUP BY 1
""",
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 RECURSIVE CTE (``WITH RECURSIVE``): depth-bounded BFS over
    the co-purchase part graph declared in PURE SQL — the engine manages
    the iteration the DataFrame graph operators (operators/graph.py)
    hand-roll, and per-node min-depth grouping gives set semantics on the
    cyclic graph. Cross-validates the declarative-recursion surface
    against DuckDB's recursive CTE bit-for-bit.

    Two deliberate performance choices, both measured (local[32], sf0.1):
    the edge list is built ONCE as a DataFrame and localCheckpoint-ed so
    every recursion level joins a materialized frame instead of
    re-deriving the self-join; and the seed is a driver-side SCALAR
    (metadata-class, like max-ts collects elsewhere) interpolated as a
    literal — an aggregate anchor (``SELECT min(src), 0 FROM edges``)
    measured ~8 s of fixed overhead vs ~1.4 s with the literal, the
    anchor apparently re-evaluated against the un-materialized plan.
    DuckDB evaluates its CTE once, so its aggregate anchor equals the
    literal seed by construction."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 5 == 0)
    a = li.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("dst"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint()
    )
    edges.createOrReplaceTempView("rcte_edges")
    seed_raw = edges.agg(F.min("src")).collect()[0][0]  # one scalar
    # empty edge set -> no seed; fail loudly (the DuckDB oracle's
    # aggregate anchor would emit a (NULL, 0) row here and the two
    # engines would silently diverge on a degenerate corpus)
    assert seed_raw is not None, "co-purchase edge set is empty; no BFS seed"
    seed = int(seed_raw)
    return spark.sql(
        f"""
WITH RECURSIVE reach(id, depth) AS (
  SELECT CAST({seed} AS BIGINT), 0
  UNION ALL
  SELECT e.dst, r.depth + 1
  FROM reach r JOIN rcte_edges e ON e.src = r.id
  WHERE r.depth < 2
)
SELECT CAST(t.depth AS BIGINT) AS hop, CAST(count(*) AS BIGINT) AS n_parts
FROM (SELECT id, min(depth) AS depth FROM reach GROUP BY id) t
GROUP BY 1
"""
    )


@_register(
    "tpch_q19_disjunctive_predicate",
    sql="""
SELECT
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
       AS BIGINT) AS revenue_cents
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND ((p_brand = 'Brand#9' AND p_size BETWEEN 1 AND 10
        AND l_quantity BETWEEN 1 AND 15)
    OR (p_brand = 'Brand#13' AND p_size BETWEEN 11 AND 25
        AND l_quantity BETWEEN 10 AND 30)
    OR (p_brand = 'Brand#20' AND p_size BETWEEN 26 AND 50
        AND l_quantity BETWEEN 20 AND 45))
""",
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): the disjunctive-predicate join —
    an OR of three conjunct bundles, each mixing part-side (brand, size)
    and lineitem-side (quantity) conditions. The optimizer test embedded
    in this query: the single-side implications must still prune the
    SCANS even though the OR spans both tables — Catalyst extracts
    `p_brand IN (...)` / size and quantity range unions as
    scan-level filters (pinned in test_plans), while the full
    cross-side OR evaluates after the join. Getting this wrong at 100 TB
    means joining the unfiltered fact against the unfiltered dim and
    filtering last — the plan pin is the point, the cents math is the
    oracle."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#9")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(11, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#20")
            & F.col("p_size").between(26, 50)
            & F.col("l_quantity").between(20, 45)
        )
    )
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(cents).alias("revenue_cents"),
        )
    )


@_register(
    "tpch_q7_volume_shipping",
    sql="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  CAST(year(l_shipdate) AS BIGINT) AS l_year,
  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
       AS BIGINT) AS revenue_cents
FROM supplier, lineitem, orders, customer, nation n1, nation n2
WHERE s_suppkey = l_suppkey
  AND o_orderkey = l_orderkey
  AND c_custkey = o_custkey
  AND s_nationkey = n1.n_nationkey
  AND c_nationkey = n2.n_nationkey
  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY supp_nation, cust_nation, l_year
""",
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): trade volume BETWEEN two named nations
    by year and direction — the query shape where ONE dimension plays TWO
    roles (nation as supplier-side n1 and customer-side n2, self-aliased,
    with a symmetric OR pair predicate). In DataFrame terms the two roles
    are two independently-filtered aliases of the same tiny dim, each
    broadcast; the OR-pair collapses to joining each side against the
    two-row filtered dim and keeping mixed pairs (n1 <> n2 suffices once
    both are restricted to the two nations — same truth table as the
    spec's OR, fewer comparisons). Year extraction stays JVM-side;
    revenue in integer cents."""
    nations = ("NATION_3", "NATION_7")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(*nations))
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(cents).alias("revenue_cents"))
    )


@_register(
    "tpch_q18_large_volume_customer",
    sql="""
SELECT c_custkey, c_name, o_orderkey,
  CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
  sum_qty
FROM customer, orders,
  (SELECT l_orderkey, sum(l_quantity) AS sum_qty
   FROM lineitem GROUP BY l_orderkey
   HAVING sum(l_quantity) > 300) big
WHERE o_orderkey = big.l_orderkey AND c_custkey = o_custkey
ORDER BY totalprice_cents DESC, o_orderkey ASC
LIMIT 100
""",
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer): orders whose lineitems sum past
    a quantity threshold, decorated with the customer — the
    aggregate-then-semi-join shape. The HAVING runs FIRST on lineitem
    alone (map-side partial agg, one exchange on orderkey), shrinking the
    fact to the rare qualifying orders before any join; orders then joins
    that tiny frame (AQE broadcasts the aggregated side), customer joins
    last. Ordering carries an orderkey tiebreak so LIMIT 100 is
    deterministic cross-engine. The anti-pattern this query exists to
    reject — join first, filter later — would shuffle the full
    lineitem x orders product at 100 TB."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("totalprice_cents"),
            "sum_qty",
        )
        .orderBy(F.col("totalprice_cents").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@_register(
    "tpch_q13_customer_distribution",
    sql="""
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '%URGENT%'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution), adapted: the synthetic
    orders table has no o_comment, so the NOT-LIKE filter runs on
    o_orderpriority (same shape: a negated pattern predicate that lives in
    the JOIN CONDITION, not a WHERE — moving it to WHERE would silently
    drop zero-order customers, the exact corruption this query exists to
    catch). Two-level aggregate: count-per-customer (shuffle on custkey,
    map-side partial), then a tiny histogram agg over the counts. The
    LEFT OUTER join must SURVIVE optimization — Catalyst may flip the
    build side but may not convert it to inner (count(o_orderkey) counts
    only matched rows; unmatched customers land in the c_count=0 bucket).
    At 100 TB: orders is the big side, so the planner shuffles both on the
    join key; the second aggregate's input is |customers| rows and its
    output is ~50 — cheap by construction. Reference parity: grouped-count
    shapes in etl/transform_1.py aggregations."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(~F.col("o_orderpriority").like("%URGENT%"))
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


_Q21_LATE = "TIMESTAMP '2000-01-01 00:00:00'"

_Q21_SQL = f"""
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate >= {_Q21_LATE}
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate >= {_Q21_LATE})
  AND s_nationkey = n_nationkey
  AND n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


@_register("tpch_q21_suppliers_kept_waiting", sql=_Q21_SQL)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting), adapted: the synthetic
    lineitem has no receipt/commit dates, so "late" is a per-lineitem
    shipdate-after-cutoff flag — preserving the defining structure: an
    EXISTS and a NOT EXISTS BOTH correlated on the same lineitem self-join
    key (l_orderkey) with a suppkey inequality, the hardest decorrelation
    in the TPC-H suite. Identical ANSI text on both engines: Catalyst must
    decorrelate the EXISTS into a left-semi and the NOT EXISTS into a
    left-anti hash join on l_orderkey (no per-row subquery execution, no
    cartesian product — pinned in tests/test_plans.py). At 100 TB the
    three lineitem scans share one parquet source with pushed predicates;
    the semi/anti probes shuffle on the same orderkey as the main join, so
    AQE coalesces them into one exchange lineage. Extension beyond the
    reference (its ETL is single-table, no joins — etl/transform_1.py);
    the spec here is TPC-H Q21 itself."""
    for t in ("supplier", "lineitem", "orders", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q21_SQL)


_Q22_CODES = "(1, 3, 5, 7, 9, 11, 13)"
_Q22_LAPSE = "TIMESTAMP '2000-06-01 00:00:00'"

_Q22_SQL = f"""
SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(acctbal_cents) AS BIGINT) AS totacctbal_cents
FROM (
  SELECT CAST(c_nationkey AS INTEGER) AS cntrycode,
         CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
  FROM customer
  WHERE c_nationkey IN {_Q22_CODES}
    AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
                     WHERE c_acctbal > 0.0 AND c_nationkey IN {_Q22_CODES})
    AND NOT EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey
                      AND o_orderdate >= {_Q22_LAPSE})
) custsale
GROUP BY cntrycode
ORDER BY cntrycode
"""


@_register("tpch_q22_global_sales_opportunity", sql=_Q22_SQL)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity), adapted: the synthetic
    customer has no phone column, so the country code is c_nationkey
    against an IN-list, and "no orders" (every synthetic customer has
    orders) becomes "no RECENT orders" — a lapsed-customer anti-join on a
    date-filtered orders scan. Shape preserved exactly: an UNCORRELATED
    scalar-average subquery (one tiny agg, broadcast as a literal-like
    single-row join) gating the balance filter, plus a NOT EXISTS that
    Catalyst turns into a left-anti hash join against orders. Money stays
    in integer cents per row BEFORE the sum (cross-engine float-sum
    determinism). At 100 TB the anti-join probe side is orders filtered by
    the pushed o_orderdate predicate; customer's IN-list also pushes to
    the scan footer. Identical ANSI text on both engines."""
    for t in ("customer", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q22_SQL)


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
      AS sum_qty_cents,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      AS sum_base_cents,
  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
      AS BIGINT) AS sum_disc_cents,
  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100)
      AS BIGINT)) AS BIGINT) AS sum_charge_cents,
  CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@_register("tpch_q1_pricing_summary", sql=_Q1_SQL)
def q_tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report) as a first-class named row —
    the canonical wide scan-aggregate: one lineitem pass, ~6 output
    groups, four money expressions folded into the map-side partial agg
    so only (flag, status, 5 accumulators) x partitions cross the
    exchange at any scale. Every money sum is per-row integer cents
    BEFORE aggregation (cross-engine float determinism; the spec's avg
    columns are derivable as sum/count and add no coverage, so the row
    keeps the exact-integer surface). Identical ANSI text on both
    engines; the shipdate cutoff pushes to the scan footer. The grouped
    hash-agg SHAPE was attested since r01 (grouped agg family,
    queries_catalog.py:377) — this row makes the suite's Q1 claim
    explicit and value-hash-attested under its own name."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q1_SQL)


_Q6_SQL = """
SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT))
    AS BIGINT) AS revenue_cents
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@_register("tpch_q6_forecasting_revenue", sql=_Q6_SQL)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the pure scan-aggregate —
    no join, one pass, every predicate sargable. Identical ANSI text on
    both engines. At 100 TB this query IS the pushdown test: all three
    range predicates (shipdate, discount, quantity) must reach the
    parquet scan as PushedFilters so row groups outside the year/range
    are skipped from footer stats alone, and the single global aggregate
    is a two-level partial/final with ~nothing crossing the exchange.
    Revenue summed as per-row integer cents (cross-engine float
    determinism)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q6_SQL)


@_register(
    "tpch_q8_national_market_share",
    sql="""
SELECT o_year,
  round(sum(CASE WHEN supp_nation = 'NATION_8' THEN volume_cents ELSE 0 END)
        / sum(volume_cents), 6) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
             AS volume_cents,
         n2.n_name AS supp_nation
  FROM part, lineitem, supplier, orders, customer, nation n1, nation n2, region
  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
    AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                        AND TIMESTAMP '1997-12-31 00:00:00'
    AND p_type = 'ECONOMY'
) all_nations
GROUP BY o_year
ORDER BY o_year
""",
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): one nation's share of a part
    type's volume inside a region's market, by year — the 8-way join
    where nation again plays TWO roles (customer-side n1 restricted
    through region, supplier-side n2 kept whole for the share CASE).
    DataFrame-side the dims resolve innermost-first: region->n1 filters
    the customer side to one region (broadcast), n2 decorates the
    supplier side (broadcast), part's type filter broadcasts, and only
    lineitem><orders shuffles. The share is a conditional-sum ratio over
    integer cents, rounded to 6 places on both engines. Extension beyond
    the reference (its ETL is single-table, no joins — etl/transform_1.py);
    the spec here is TPC-H Q8 itself."""
    t = {
        n: _t(spark, sf_dir, n)
        for n in (
            "part", "lineitem", "supplier", "orders", "customer", "nation", "region"
        )
    }
    asia = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("cust_nk"))
    )
    supp = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    econ = t["part"].filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31").cast("timestamp_ntz"))
    )
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    joined = (
        t["lineitem"]
        .join(F.broadcast(econ), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(asia), F.col("c_nationkey") == F.col("cust_nk"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            cents.alias("volume_cents"),
            "supp_nation",
        )
    )
    share_num = F.sum(
        F.when(F.col("supp_nation") == "NATION_8", F.col("volume_cents")).otherwise(
            F.lit(0)
        )
    )
    return (
        joined.groupBy("o_year")
        .agg(F.round(share_num / F.sum("volume_cents"), 6).alias("mkt_share"))
        .orderBy("o_year")
    )


@_register(
    "tpch_q9_product_type_profit",
    sql="""
SELECT nation, o_year, CAST(sum(profit_cents) AS BIGINT) AS sum_profit_cents
FROM (
  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(round((l_extendedprice * (1 - l_discount)
                     - 0.6 * p_retailprice * l_quantity) * 100) AS BIGINT)
             AS profit_cents
  FROM part, supplier, lineitem, orders, nation
  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
    AND p_name LIKE '%gear%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""",
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product type profit), adapted: the synthetic schema has
    no partsupp, so supply cost is modeled as 0.6 x p_retailprice per
    unit — preserving the defining shape: a profit EXPRESSION spanning
    three tables' columns (lineitem price/discount/quantity, part
    retailprice, via the join), aggregated by supplier nation x order
    year with a substring part filter. Plan posture: part (name-filtered)
    and supplier+nation broadcast; lineitem><orders is the only shuffle;
    the profit arithmetic runs JVM-side in integer cents before the
    partial agg. The anti-pattern at 100 TB — computing profit after a
    full materialized join — never exists: codegen fuses expression and
    join probe."""
    t = {
        n: _t(spark, sf_dir, n)
        for n in ("part", "supplier", "lineitem", "orders", "nation")
    }
    gear = t["part"].filter(F.col("p_name").like("%gear%")).select(
        "p_partkey", "p_retailprice"
    )
    supp = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    profit_cents = F.round(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
        )
        * 100
    ).cast("long")
    return (
        t["lineitem"]
        .join(F.broadcast(gear), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "nation",
            F.year("o_orderdate").cast("long").alias("o_year"),
            profit_cents.alias("profit_cents"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("profit_cents").alias("sum_profit_cents"))
        .orderBy(F.col("nation").asc(), F.col("o_year").desc())
    )


_Q11_VALUE = "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"

_Q11_SQL = f"""
SELECT l_partkey AS ps_partkey,
  CAST(sum({_Q11_VALUE}) AS BIGINT) AS value_cents
FROM lineitem, supplier, nation
WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
  AND n_name = 'NATION_5'
GROUP BY l_partkey
HAVING sum({_Q11_VALUE}) >
  (SELECT sum({_Q11_VALUE}) * 0.001
   FROM lineitem, supplier, nation
   WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
     AND n_name = 'NATION_5')
ORDER BY value_cents DESC, ps_partkey
"""


@_register("tpch_q11_important_stock", sql=_Q11_SQL)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock identification), adapted: no partsupp
    in the synthetic schema, so "stock value" is one nation's lineitem
    revenue per part — preserving the defining shape: a grouped sum
    filtered by HAVING against an UNCORRELATED scalar subquery computing
    a FRACTION OF THE GLOBAL TOTAL over the same join. Identical ANSI
    text on both engines: Catalyst evaluates the scalar subquery once
    (its own tiny plan over the same broadcast-dim join), then filters
    the per-part aggregate against the literal-like result — two passes
    over the nation's lineitems, zero per-row subquery execution. At
    100 TB both passes prune to one nation's suppliers via the broadcast
    semi-join before touching the fact."""
    for t in ("lineitem", "supplier", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q11_SQL)


_Q12_SQL = """
SELECT l_returnflag,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders, lineitem
WHERE o_orderkey = l_orderkey
  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@_register("tpch_q12_shipping_priority_split", sql=_Q12_SQL)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes / order priority), adapted: the
    synthetic lineitem has no shipmode or commit/receipt dates, so the
    grouping dimension is l_returnflag and the date window runs on
    shipdate — preserving the defining shape: a fact-fact join whose
    aggregate is a pair of CONDITIONAL COUNTS (CASE inside sum) pivoting
    the priority column into high/low columns. Identical ANSI text on
    both engines. The CASE arithmetic is JVM-side, folded into the
    map-side partial agg, so only (flag, 2 counters) x partitions cross
    the exchange at any scale."""
    for t in ("orders", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q12_SQL)


@_register(
    "tpch_q15_top_supplier",
    sql="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        AS BIGINT) AS total_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_cents
FROM supplier, revenue
WHERE s_suppkey = supplier_no
  AND total_cents = (SELECT max(total_cents) FROM revenue)
ORDER BY s_suppkey
""",
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): a derived revenue view consumed TWICE —
    once for the per-supplier totals, once reduced to its global max —
    joined back to recover the winning supplier(s). The naive
    two-branch formulation scans lineitem twice (measured: Spark's
    exchange reuse does NOT unify the branches, 6 FileScans in the final
    adaptive plan), so the max is computed instead as a GLOBAL WINDOW
    over the already-aggregated frame: ONE lineitem scan, one exchange
    to aggregate per supplier, one single-partition pass over the
    |suppliers|-sized result for the max, filter, decorate. At 100 TB
    that trades a second fact scan (petabytes) for shuffling the
    supplier-grained aggregate (dim-scale) — strictly better. Integer
    cents make the max-equality deterministic including ties (plan pin:
    exactly one lineitem FileScan)."""
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(cents).alias("total_cents"))
    )
    max_cents = F.max("total_cents").over(Window.partitionBy())
    return (
        revenue.withColumn("max_cents", max_cents)
        .filter(F.col("total_cents") == F.col("max_cents"))
        .join(
            _t(spark, sf_dir, "supplier"),
            F.col("supplier_no") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "total_cents")
        .orderBy("s_suppkey")
    )


_Q16_SQL = """
SELECT p_brand, p_type, p_size,
  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND p_brand <> 'Brand#5'
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@_register("tpch_q16_supplier_relationship", sql=_Q16_SQL)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship), adapted: partsupp is
    lineitem's (partkey, suppkey) pairs and the excluded-supplier
    predicate is a negative account balance (no comment column) —
    preserving the defining shape: COUNT(DISTINCT) per group UNDER a
    NOT IN subquery. The NOT IN compiles to a NULL-AWARE anti join
    (s_suppkey is non-null here, but the operator must be the null-aware
    variant — plain anti join has different three-valued-logic semantics
    and would silently diverge if the subquery ever produced a NULL);
    the distinct-count shuffles on the group keys with l_suppkey carried
    for the final exact distinct. Identical ANSI text on both
    engines."""
    for t in ("lineitem", "part", "supplier"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q16_SQL)


_Q20_SQL = """
SELECT s_name, CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_cents
FROM supplier, nation
WHERE s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_suppkey, l_partkey
    HAVING sum(l_quantity) > (
      SELECT 0.25 * sum(l2.l_quantity) FROM lineitem l2
      WHERE l2.l_partkey = lineitem.l_partkey
        AND l2.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l2.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'))
  AND s_nationkey = n_nationkey
  AND n_name IN ('NATION_2', 'NATION_12', 'NATION_22')
ORDER BY s_name
"""


@_register("tpch_q20_potential_part_promotion", sql=_Q20_SQL)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion), adapted: availability is
    shipped quantity (no partsupp), and a supplier qualifies when it
    shipped MORE THAN 25% of a promoted part's year volume — preserving
    the defining NESTED decorrelation: an IN subquery whose HAVING
    compares a grouped aggregate against a CORRELATED scalar aggregate
    over the same fact (correlation key = the grouping column
    l_partkey). Catalyst rewrites inner-out: the correlated scalar
    becomes a grouped subplan joined on partkey
    (RewriteCorrelatedScalarSubquery), the part IN-list a semi join, the
    outer IN another semi join to supplier — three joins, zero per-row
    subqueries, pinned cartesian-free. Identical ANSI text on both
    engines."""
    for t in ("supplier", "nation", "lineitem", "part"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q20_SQL)


# Round-trip oracle queries for the sink/catalog/incremental surface live in
# their own module; importing it here (after _register exists) adds its
# entries to SPARK_QUERIES/ORACLE_SQL so every consumer of this registry
# sees one complete catalog.
from fiap_machine_learning_tech_challenge_2_etl_spark import queries_roundtrip  # noqa: E402,F401
