"""Mapping from the driver's TPC-H-ish testdata (TESTDATA.md) onto the
engine's warehouse shape, so every reference operator can be exercised
and oracle-checked on driver data.

Roles (identical on the Spark side and in the DuckDB oracle CTEs):
  lineitem → fact_daily_snapshot   (snapshot_date = date(l_shipdate),
                                    product_id = l_partkey)
  part     → dim_products          (category_id = p_size)
  part     → dim_categories        (one row per distinct p_size)
  part     → dim_keyword_mapping   (trend_keyword = 'kw_' || p_size % 7,
                                    is_active = p_size % 3 <> 0)
  orders   → fact_google_trends    (per (orderdate, kw_custkey%7) max)
  orders   → dim_exchange_rate     (per-date rate from min orderkey —
                                    integer math, fp-safe)

Orders end 2001-08-01 while lineitem ships into 2001-11 — late
shipments find no fx row, exercising the COALESCE(rate, 25400.0)
fallback (F17) and the 'No Trend Data' arm of F18 exactly like the
reference's missing-day fixtures (FIXTURES.md §3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_table(spark: SparkSession, base_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table (TESTDATA.md layout).

    The events table's ``ts`` has varied across driver testdata
    generations — TIMESTAMP(NANOS) (reads as long nanos under
    ``nanosAsLong``; converted with exact integer division because
    ns-since-epoch exceeds double's 2^53 range) or naive TIMESTAMP(US)
    (reads as TIMESTAMP_NTZ; cast to session-UTC TIMESTAMP).  Both
    normalize to the same µs-UTC timestamp the engine standardizes on.

    Note on scan parallelism: the local testdata tables are
    single-row-group parquet files, so the FileScan yields one
    partition.  A keyed repartition floor here was measured end-to-end
    and REJECTED: the extra exchange plus forced-32-partition Arrow
    batches cost more than the scan parallelism buys, because the
    CPU-heavy per-document work is vectorized (operators/dedup.py
    Arrow stages) rather than per-row.  On a real multi-file layout
    the scan parallelism comes from splits, not from a repartition.
    """
    df = spark.read.parquet(f"{base_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) parquet under nanosAsLong
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Naive µs parquet (isAdjustedToUTC=false) infers as NTZ;
            # the cast interprets the naive value in the (UTC) session
            # zone — same instant, same wall-clock, oracle-identical.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def build_mart_inputs(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    lineitem = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    orders = read_table(spark, sf_dir, "orders")

    fact = lineitem.select(
        F.col("l_shipdate").cast("date").alias("snapshot_date"),
        F.col("l_partkey").alias("product_id"),
        F.col("l_extendedprice").alias("current_price"),
        (F.col("l_extendedprice") * (F.lit(1.0) + F.col("l_tax"))).alias("original_price"),
        F.round(F.col("l_discount") * 100).cast("long").alias("discount_rate"),
    )

    dim_products = part.select(
        F.col("p_partkey").alias("product_id"),
        F.col("p_name").alias("name"),
        F.col("p_brand").alias("brand_name"),
        F.col("p_size").cast("long").alias("category_id"),
    )

    dim_categories = (
        part.select(F.col("p_size").cast("long").alias("category_id"))
        .distinct()
        .select(
            "category_id",
            F.concat(F.lit("cat_"), F.col("category_id").cast("string")).alias("category_name"),
        )
    )

    keyword_mapping = (
        part.select(F.col("p_size").cast("long").alias("tiki_category_id"))
        .distinct()
        .select(
            "tiki_category_id",
            F.concat(F.lit("kw_"), (F.col("tiki_category_id") % 7).cast("string")).alias(
                "trend_keyword"
            ),
            ((F.col("tiki_category_id") % 3) != 0).alias("is_active"),
        )
    )

    trends = (
        orders.groupBy(
            F.col("o_orderdate").cast("date").alias("date"),
            F.concat(F.lit("kw_"), (F.col("o_custkey") % 7).cast("string")).alias("keyword"),
        )
        .agg(F.round(F.max("o_totalprice") / 1000).cast("long").alias("score"))
    )

    fx = (
        orders.groupBy(F.col("o_orderdate").cast("date").alias("date"))
        .agg((F.lit(24000.0) + (F.min("o_orderkey") % 2000).cast("double")).alias("rate"))
        .select(
            "date",
            F.lit("USD").alias("from_currency"),
            F.lit("VND").alias("to_currency"),
            "rate",
        )
    )

    return {
        "fact": fact,
        "dim_products": dim_products,
        "dim_categories": dim_categories,
        "keyword_mapping": keyword_mapping,
        "trends": trends,
        "fx": fx,
    }


# DuckDB oracle twin of build_mart_inputs — keep in lockstep with the
# Spark builders above.
MART_CTES = """
fact AS (
    SELECT CAST(l_shipdate AS DATE) AS snapshot_date,
           l_partkey AS product_id,
           l_extendedprice AS current_price,
           l_extendedprice * (1.0 + l_tax) AS original_price,
           CAST(ROUND(l_discount * 100) AS BIGINT) AS discount_rate
    FROM lineitem
),
dim_products AS (
    SELECT p_partkey AS product_id, p_name AS name, p_brand AS brand_name,
           CAST(p_size AS BIGINT) AS category_id
    FROM part
),
dim_categories AS (
    SELECT category_id, 'cat_' || CAST(category_id AS VARCHAR) AS category_name
    FROM (SELECT DISTINCT CAST(p_size AS BIGINT) AS category_id FROM part)
),
keyword_mapping AS (
    SELECT tiki_category_id,
           'kw_' || CAST(tiki_category_id % 7 AS VARCHAR) AS trend_keyword,
           (tiki_category_id % 3) <> 0 AS is_active
    FROM (SELECT DISTINCT CAST(p_size AS BIGINT) AS tiki_category_id FROM part)
),
trends AS (
    SELECT CAST(o_orderdate AS DATE) AS date,
           'kw_' || CAST(o_custkey % 7 AS VARCHAR) AS keyword,
           CAST(ROUND(MAX(o_totalprice) / 1000) AS BIGINT) AS score
    FROM orders
    GROUP BY 1, 2
),
fx AS (
    SELECT CAST(o_orderdate AS DATE) AS date,
           'USD' AS from_currency,
           'VND' AS to_currency,
           24000.0 + CAST(MIN(o_orderkey) % 2000 AS DOUBLE) AS rate
    FROM orders
    GROUP BY 1
)
"""

GOLDEN_SQL_BODY = """
SELECT f.snapshot_date AS date,
       CAST(f.product_id AS VARCHAR) AS product_id,
       p.name AS product_name,
       p.brand_name AS brand_name,
       c.category_name AS category_name,
       f.current_price AS price_vnd_real,
       f.original_price AS price_vnd_original,
       f.discount_rate AS discount_rate,
       e.rate AS fx_rate,
       FLOOR(f.current_price / COALESCE(e.rate, 25400.0) * 100 + 0.5) / 100 AS price_usd_real,
       m.trend_keyword AS trend_keyword,
       t.score AS trend_score,
       CASE WHEN m.trend_keyword IS NULL THEN 'Unmapped'
            WHEN t.score IS NULL THEN 'No Trend Data'
            ELSE 'Full Data' END AS trend_signal_status
FROM fact f
LEFT JOIN dim_products p ON f.product_id = p.product_id
LEFT JOIN dim_categories c ON p.category_id = c.category_id
LEFT JOIN (SELECT * FROM keyword_mapping WHERE is_active) m
       ON p.category_id = m.tiki_category_id
LEFT JOIN trends t ON m.trend_keyword = t.keyword AND f.snapshot_date = t.date
LEFT JOIN fx e ON f.snapshot_date = e.date
"""

GOLDEN_ORACLE_SQL = f"WITH {MART_CTES} {GOLDEN_SQL_BODY}"

QUALITY_SUMMARY_ORACLE_SQL = f"""
WITH {MART_CTES}, golden AS ({GOLDEN_SQL_BODY})
SELECT COUNT(*) AS total_rows,
       COUNT(DISTINCT product_id) AS unique_products,
       COUNT(*) FILTER (WHERE trend_signal_status = 'Full Data') AS full_data_rows,
       COUNT(*) FILTER (WHERE trend_signal_status = 'No Trend Data') AS no_trend_rows,
       COUNT(*) FILTER (WHERE trend_signal_status = 'Unmapped') AS unmapped_rows
FROM golden
"""
