"""Bucketed tables must join without a shuffle on either side — the
co-located-join guarantee the write-side bucketing exists for."""

import re

import pytest
from pyspark.sql import functions as F

from tiki_e_commerce_analytics_etl_spark.io import write_bucketed_table
from tiki_e_commerce_analytics_etl_spark.plans.golden_join import golden_join_bucketed


@pytest.mark.usefixtures("spark")
def test_bucketed_join_has_no_exchange(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    try:
        a = spark.range(0, 10000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("va")
        )
        b = spark.range(0, 10000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
        )
        write_bucketed_table(a, "bkt_a", ["k"], n_buckets=8, sort_cols=["k"])
        write_bucketed_table(b, "bkt_b", ["k"], n_buckets=8, sort_cols=["k"])
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 10000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_write_bucketed_table_recovers_orphaned_location(spark):
    """An interrupted run can leave the table's warehouse directory on
    disk with no catalog entry; a fresh metastore's DROP TABLE IF EXISTS
    is then a no-op and saveAsTable dies with LOCATION_ALREADY_EXISTS.
    mode='overwrite' must recover by clearing the orphaned location."""
    import os
    from urllib.parse import urlparse

    table = "orphan_bkt_tbl"
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    loc = os.path.join(warehouse, table)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    os.makedirs(loc, exist_ok=True)  # simulate the orphan
    with open(os.path.join(loc, "part-stale.parquet"), "wb") as f:
        f.write(b"stale")
    try:
        df = spark.range(0, 100).select(F.col("id").alias("k"), F.col("id").alias("v"))
        write_bucketed_table(df, table, ["k"], n_buckets=4)
        assert spark.table(table).count() == 100
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_write_bucketed_table_orphan_cleanup_stays_in_current_database(spark):
    """With a non-default current database, overwriting an unqualified
    name that is new there must clear only that database's location —
    never the files of the same-named table in ``default``."""
    table = "orphan_scope_tbl"
    db = "orphan_scope_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    df = spark.range(0, 10).select(F.col("id").alias("k"), F.col("id").alias("v"))
    try:
        write_bucketed_table(df, f"default.{table}", ["k"], n_buckets=2)
        spark.catalog.setCurrentDatabase(db)
        write_bucketed_table(df.filter(F.col("k") < 3), table, ["k"], n_buckets=2)
        assert spark.table(f"{db}.{table}").count() == 3
        assert spark.table(f"default.{table}").count() == 10
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql(f"DROP TABLE IF EXISTS default.{table}")
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_golden_join_bucketed_fact_fact_no_shuffle(spark):
    """J4 fact-fact regime: the bucketed snapshot↔trends join runs with
    ZERO shuffle exchanges — only the keyword-mapping/product broadcasts
    that happen before the bucketed write.  Also cross-checks the
    result against the plain join formulation."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # Synthetic inputs shaped like the warehouse tables (the driver
        # testdata has no keyword-mapping table).
        fact = spark.range(0, 2000).select(
            (F.col("id") % 500).alias("product_id"),
            F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 4).cast("int")).alias("snapshot_date"),
            (F.col("id") * 1000).cast("long").alias("current_price"),
        )
        products = spark.range(0, 500).select(
            F.col("id").alias("product_id"), (F.col("id") % 20).alias("category_id")
        )
        mapping = spark.range(0, 20).select(
            F.col("id").alias("tiki_category_id"),
            F.concat(F.lit("kw_"), F.col("id")).alias("trend_keyword"),
            (F.col("id") % 10 != 9).alias("is_active"),
        )
        trends = (
            spark.range(0, 20)
            .select(F.concat(F.lit("kw_"), F.col("id")).alias("keyword"))
            .crossJoin(
                spark.range(0, 4).select(
                    F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("date")
                )
            )
            .withColumn("score", (F.xxhash64("keyword", "date") % 100 + 100) % 100)
        )

        out = golden_join_bucketed(fact, mapping, products, trends, n_buckets=8)
        plan = out._jdf.queryExecution().executedPlan().toString()
        shuffles = re.findall(r"(?<!Broadcast)Exchange", plan)
        assert not shuffles, plan

        # Same answer as the unbucketed formulation.
        m = mapping.filter("is_active").select("tiki_category_id", "trend_keyword")
        expected = (
            fact.join(F.broadcast(products), "product_id", "left")
            .join(F.broadcast(m), products["category_id"] == m["tiki_category_id"], "left")
            .filter(F.col("trend_keyword").isNotNull())
            .join(
                F.broadcast(trends),
                (F.col("trend_keyword") == trends["keyword"])
                & (F.col("snapshot_date") == trends["date"]),
                "left",
            )
            .select(
                "snapshot_date", "product_id", "current_price", "trend_keyword",
                F.col("score").cast("long").alias("trend_score"),
            )
        )
        got = sorted(map(tuple, out.collect()))
        want = sorted(map(tuple, expected.collect()))
        assert got == want
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS gj_fact_bucketed")
        spark.sql("DROP TABLE IF EXISTS gj_trends_bucketed")
