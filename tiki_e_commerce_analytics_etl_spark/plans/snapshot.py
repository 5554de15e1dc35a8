"""Daily snapshot transform pipeline — the Spark re-expression of
reference transform_tiki.py:411-775 (``transform_data``) as ONE lazy
Catalyst plan instead of pandas' eager step-by-step mutation.

Stages (SURVEY.md §3.1):
  rename (P1) → parse/cast (F1-F5, F12) → category derivation with
  fill-null-only semantics (F6-F11, J8) → keep-latest dedup (D1) →
  null-rejection filter (P4) → three-way split (R3) into
  (fact_daily_snapshot, dim_products, dim_categories).

Everything before the dedup window is narrow (projection/filter) and
fuses into a single whole-stage-codegen span over the raw scan; the
only shuffle is the dedup window's partitioning on product_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tiki_e_commerce_analytics_etl_spark import schemas
from tiki_e_commerce_analytics_etl_spark.functions import (
    build_full_path,
    category_depth,
    category_leaf,
    category_level,
    category_root,
    clean_price,
    clean_rating,
    clean_review_count,
    coerce_double,
    coerce_long,
    extract_product_id,
    derive_parent_id,
    extract_category_id,
    extract_url_key,
    has_tiki_now,
    inventory_in_stock,
    parse_category_path,
    parse_discount_rate,
    parse_sales_volume,
    parse_snapshot_date,
)

# P1 — rename map (transform_tiki.py:431-440).  Deliberately does NOT
# rename _category_name (reference comment :432-434).
RENAME_MAP = {
    "_extracted_at": "extracted_at",
    "thumbnail_url": "image_url",
    "seller": "seller_name",
    "brand": "brand_name",
    "quantity_sold": "sales_volume",
    "rating": "rating_average",
}


def conform_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project ``df`` onto ``schema``: missing columns become typed NULLs,
    extra columns are dropped, order and types are enforced — the
    reference's ordered-schema enforcement (transform_tiki.py:751-761)
    as one ``select``."""
    cols = []
    existing = {c.lower(): c for c in df.columns}
    for field in schema.fields:
        src = existing.get(field.name.lower())
        if src is not None:
            cols.append(F.col(src).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def keep_latest(df: DataFrame, keys: list[str], order_col: str, tiebreakers: list[str] | None = None) -> DataFrame:
    """D1 — latest row per key ≡ row_number() OVER (PARTITION BY keys
    ORDER BY order_col DESC) = 1 (transform_tiki.py:582-587).

    Implemented as ``max_by(struct(<all>), struct(order, tiebreak…))``
    rather than a ranking window: the aggregate combines map-side, so
    each input partition ships at most one candidate row per key to the
    shuffle instead of sorting every row.  ``tiebreakers`` pins
    determinism on order_col ties (struct ordering is lexicographic;
    "latest, then highest tiebreaker" matches the desc/desc window
    ordering).
    """
    order_struct = F.struct(order_col, *(tiebreakers or []))
    row_struct = F.struct(*df.columns)
    picked = df.groupBy(*keys).agg(
        F.max_by(row_struct, order_struct).alias("__row")
    )
    return picked.select([F.col(f"__row.{c}").alias(c) for c in df.columns])


def read_raw(spark: SparkSession, path: str, multiline: bool = True) -> DataFrame:
    """S1 — raw-zone JSON scan with the explicit crawler schema;
    multiLine handles array-of-objects files (transform_tiki.py:124-142,
    372-408).

    ``multiline=False`` reads JSON-lines instead — the format the
    engine's own pipelines write to the raw zone (splittable, so a
    100 TB raw day parallelizes per-block; a multiLine array file is
    one task per file).
    """
    return (
        spark.read.schema(schemas.RAW_PRODUCT_SCHEMA)
        .option("multiLine", multiline)
        .option("pathGlobFilter", "*.json")
        .json(path)
    )


def conform_dom_strings(raw: DataFrame) -> DataFrame:
    """F12 + F20 — coerce a DOM-fallback record batch (every numeric
    field scraped as text, reference extractor.js:251-340) into the
    typed raw schema so the one snapshot pipeline serves both sources.

    product_id falls back to the URL (extractProductId semantics,
    utils.js:236-255) when the data attribute was missing; review_count
    goes through the k-suffix/dot-thousands cleaner (utils.js:210-229).
    Everything else is the pandas-Int64-style coercing cast (F12).
    All narrow projections — fuses into the scan's codegen stage.
    """
    df = raw.withColumns(
        {
            "product_id": F.coalesce(
                coerce_long("product_id"),
                coerce_long(extract_product_id(F.col("product_url"))),
            ),
            "rating": coerce_double("rating"),
            "review_count": clean_review_count(F.col("review_count")).cast("string"),
            "seller_id": coerce_long("seller_id"),
            "warehouse_id": coerce_long("warehouse_id"),
            "category_id": coerce_long("category_id"),
            "root_category_id": coerce_long("root_category_id"),
            "category_depth": coerce_long("category_depth"),
            "_source_page": coerce_long("_source_page"),
            "_root_category_id": coerce_long("_root_category_id"),
        }
    )
    return conform_schema(df, schemas.RAW_PRODUCT_SCHEMA)


def clean_products(raw: DataFrame) -> DataFrame:
    """Rename → parse → category derivation → dedup → null filter.
    Returns the wide cleaned table the three outputs project from."""
    df = raw.withColumnsRenamed(RENAME_MAP)

    df = df.withColumns(
        {
            "product_id": coerce_long("product_id"),
            "seller_id": coerce_long("seller_id"),
            "review_count": coerce_long("review_count"),
            "rating_average": clean_rating("rating_average"),
            "current_price": clean_price("price"),
            "original_price": F.coalesce(clean_price("original_price"), clean_price("price")),
            "discount_rate": parse_discount_rate("discount_rate"),
            "sales_volume_acc": parse_sales_volume("sales_volume"),
            "snapshot_date": parse_snapshot_date("extracted_at"),
            "extracted_at": F.to_timestamp("extracted_at"),
            "tiki_now": has_tiki_now("badges"),
        }
    )
    df = df.withColumn("inventory_status", inventory_in_stock(F.col("current_price")))

    # Category derivation (F6-F11) with the reference's fill-null-only
    # semantics (J8, transform_tiki.py:507-541): derived values only fill
    # gaps, never overwrite crawler-provided columns.
    path_arr = parse_category_path("category_path")
    df = (
        df.withColumn("__path", path_arr)
        .withColumn(
            "category_id",
            F.coalesce(
                coerce_long("category_id"),
                category_leaf(F.col("__path")),
                extract_category_id("_category_url"),
            ),
        )
        .withColumn(
            "root_category_id",
            F.coalesce(
                coerce_long("root_category_id"),
                category_root(F.col("__path")),
                coerce_long("_root_category_id"),
            ),
        )
        .withColumn(
            "category_depth",
            F.coalesce(
                F.nullif(coerce_long("category_depth"), F.lit(0)),
                category_depth(F.col("__path")).cast("long"),
            ),
        )
        .drop("__path")
    )

    # D1 keep-latest within the day, then P4 null rejection.
    df = keep_latest(df, ["product_id"], "extracted_at", tiebreakers=["_source_page"])
    return df.na.drop(subset=["product_id", "current_price"])


def to_fact(cleaned: DataFrame) -> DataFrame:
    """P2 — project to the 11-column fact schema."""
    return conform_schema(cleaned, schemas.FACT_DAILY_SNAPSHOT_SCHEMA)


def to_dim_products(cleaned: DataFrame) -> DataFrame:
    """P3 — dim projection; created_at/updated_at derive from
    extracted_at (transform_tiki.py:622-637)."""
    df = cleaned.withColumns(
        {
            "created_at": F.col("extracted_at"),
            "updated_at": F.col("extracted_at"),
        }
    )
    return conform_schema(df, schemas.DIM_PRODUCTS_SCHEMA)


def to_dim_categories(cleaned: DataFrame) -> DataFrame:
    """P5 + D2 + F7/F9/F10/F11 — category dim off the cleaned table
    (transform_tiki.py:655-727)."""
    base = (
        cleaned.filter(F.col("category_id").isNotNull())
        .dropDuplicates(["category_id"])
        .select(
            F.col("category_id"),
            F.coalesce(F.col("category_name"), F.col("_category_name")).alias("category_name"),
            category_level(F.col("category_depth")).alias("category_level"),
            build_full_path(F.col("root_category_id"), F.col("category_id")).alias("full_path"),
            extract_url_key(F.col("_category_url")).alias("url_key"),
            derive_parent_id(F.col("root_category_id"), F.col("category_depth")).alias("parent_id"),
            F.lit(None).cast("string").alias("standard_category"),
        )
    )
    return conform_schema(base, schemas.DIM_CATEGORIES_SCHEMA)


def transform_snapshot(raw: DataFrame) -> dict[str, DataFrame]:
    """R3 — the full three-way split off one cached cleaned table."""
    cleaned = clean_products(raw).cache()
    return {
        "fact_daily_snapshot": to_fact(cleaned),
        "dim_products": to_dim_products(cleaned),
        "dim_categories": to_dim_categories(cleaned),
    }
