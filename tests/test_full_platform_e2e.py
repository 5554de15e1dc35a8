"""Whole-platform integration: crawl (stub transport) → raw parquet →
snapshot transform → warehouse writes → dim MERGE → fx fetch → Golden
Join mart → quality gate.  This is the reference's four DAGs chained
in one Spark session — the path a migrating user runs daily."""

import datetime as dt

from pyspark.sql import functions as F

from tiki_e_commerce_analytics_etl_spark import schemas
from tiki_e_commerce_analytics_etl_spark.io import overwrite_partitions, read_partitioned
from tiki_e_commerce_analytics_etl_spark.operators.merge import merge_upsert
from tiki_e_commerce_analytics_etl_spark.plans.analytics import build_daily_mart
from tiki_e_commerce_analytics_etl_spark.plans.snapshot import transform_snapshot
from tiki_e_commerce_analytics_etl_spark.sources import rest

DS = "2024-03-01"


def _fake_fetch(url: str):
    if "api/v2/products" in url and "page=1" in url:
        return {
            "data": [
                {
                    "product_id": 900 + i,
                    "name": f"Product {i}",
                    "brand": "BrandZ",
                    "price": "1.290.000 ₫" if i % 2 else str(500000 + i),
                    "discount_rate": "-10%",
                    "quantity_sold": "Đã bán 1.5k",
                    "rating": 4.0 + (i % 10) / 10,
                    "review_count": str(10 * i),
                    "seller": "ShopE2E",
                    "seller_id": 7,
                    "category_id": 1789,
                    "category_name": "Điện thoại",
                    "category_path": "1815 > 1789",
                    "_extracted_at": f"{DS}T08:00:0{i % 10}Z",
                    "_category_url": "https://tiki.vn/dien-thoai/c1789",
                }
                for i in range(8)
            ],
            "paging": {"last_page": 1},
        }
    if "open.er-api.com" in url:
        raise ConnectionError("fx api down")  # exercise the fallback
    return {"data": [], "paging": {"last_page": 1}}


def test_full_platform_e2e(spark, tmp_path):
    # 1. Crawl (driver-side, stub transport) and land the raw zone.
    rows = rest.crawl_listings(_fake_fetch, category_ids=[1789], max_pages=2)
    assert len(rows) == 8
    raw = rest.to_raw_products_df(spark, rows).withColumn(
        "snapshot_date_part", F.lit(DS)
    )
    raw_path = str(tmp_path / "raw")
    overwrite_partitions(raw, raw_path, ["snapshot_date_part"])

    # 2. Snapshot transform off the landed raw zone.
    landed = read_partitioned(spark, raw_path).drop("snapshot_date_part")
    out = transform_snapshot(landed)
    fact, dim_p = out["fact_daily_snapshot"], out["dim_products"]
    assert fact.count() == 8
    # Vietnamese grammar applied end-to-end.
    priced = {r["product_id"]: r["current_price"] for r in fact.collect()}
    assert priced[901] == 1290000 and priced[900] == 500000
    assert fact.filter(F.col("sales_volume_acc") == 1500).count() == 8

    # 3. Warehouse: partitioned fact load + dim MERGE (created_at kept).
    wh_fact = str(tmp_path / "wh_fact")
    overwrite_partitions(fact, wh_fact, ["snapshot_date"])
    existing = spark.createDataFrame(
        [(900, "Old name", dt.datetime(2020, 1, 1))],
        "product_id: long, name: string, created_at: timestamp",
    )
    merged = merge_upsert(
        existing,
        dim_p.select("product_id", "name", "created_at"),
        ["product_id"],
        immutable=["created_at"],
    )
    m900 = merged.filter(F.col("product_id") == 900).collect()[0]
    assert m900["name"] == "Product 0"  # updated attr
    assert m900["created_at"] == dt.datetime(2020, 1, 1)  # preserved
    assert merged.count() == 8

    # 4. FX fetch falls back on API failure.
    fx = rest.to_fx_df(spark, rest.fetch_fx_rate(_fake_fetch, DS))
    assert fx.collect()[0]["rate"] == 25400.0

    # 5. Golden Join mart + quality gate over the just-built slice.
    dim_c = spark.createDataFrame(
        [(1789, "Điện thoại")], "category_id: long, category_name: string"
    )
    mapping = spark.createDataFrame(
        [(1789, "smartphone", True)],
        "tiki_category_id: long, trend_keyword: string, is_active: boolean",
    )
    trends = spark.createDataFrame(
        [(dt.date.fromisoformat(DS), "smartphone", 77)],
        "date: date, keyword: string, score: long",
    )
    mart_fact = read_partitioned(spark, wh_fact).select(
        "snapshot_date", "product_id", "current_price",
        F.col("original_price").cast("double").alias("original_price"),
        "discount_rate",
    )
    mart, quality_row, summary_df = build_daily_mart(
        mart_fact,
        merged.select("product_id", "name", F.lit("BrandZ").alias("brand_name"),
                      F.lit(1789).alias("category_id")),
        dim_c, mapping, trends,
        fx.select("date", "from_currency", "to_currency", "rate"),
        ds=DS,
        output_path=str(tmp_path / "mart"),
    )
    assert all(quality_row[k] for k in quality_row.asDict())
    s = summary_df.collect()[0]
    assert s["total_rows"] == 8 and s["full_data_rows"] == 8
    written = read_partitioned(spark, str(tmp_path / "mart"))
    assert written.count() == 8
    assert written.filter(F.col("trend_signal_status") == "Full Data").count() == 8
