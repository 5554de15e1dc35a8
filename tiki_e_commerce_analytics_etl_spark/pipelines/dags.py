"""The reference's four daily pipelines re-expressed over this engine.

Task graphs, retry policy and trigger rules mirror the reference DAGs
one-to-one; the task BODIES are this engine's Spark plans and
transactional sinks instead of Bash-wrapped scripts + BigQuery SQL:

- ``tiki_pipeline``      — `dags/tiki_dag.py:27-141`
  start → crawl_tiki_products → transform_to_parquet → load_to_bigquery
- ``analytics_pipeline`` — `dags/analytics_dag.py:304-355`
  build_daily_mart → check_data_quality → log_summary (all_success)
- ``trends_pipeline``    — `dags/trends_dag.py:599-687`
  get_keywords → fetch_trends_data → transform_trends_data →
  load_to_staging → merge_to_fact → log_success
  (prepare_gcs_upload/upload_to_gcs are GCS transport hops — here one
  local staging write; the reference's own engine work is unaffected.)
- ``fx_pipeline``        — `dags/fx_rate_dag.py:446-472`
  fetch_fx_rate → transform_fx_data → delete_existing_data →
  load_to_bigquery (the last two collapse into ONE atomic
  delete+insert commit — K8's idempotent load without the window
  where the reference's separate DELETE has run but the INSERT has
  not, fx_rate_dag.py:369-418).

Every sink goes through :func:`acid.atomic_overwrite_partitions`, so a
retried or re-triggered run (same ``ds``) lands idempotently — the
semantics the reference gets from BigQuery MERGE / partition decorators.

Cross-task values travel as JSON-serializable XCom dicts (paths and row
counts — same payloads the reference passes, `dags/trends_dag.py:
481-485`), which also makes every task resumable after a crash.

All tasks carry ``retries=2`` per the shared default_args
(`dags/tiki_dag.py:17-20`); ``retry_delay`` defaults to 0 here because
an engine-library caller decides its own backoff (tests inject a
recording sleep).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tiki_e_commerce_analytics_etl_spark import acid, schemas
from tiki_e_commerce_analytics_etl_spark.operators.merge import merge_upsert
from tiki_e_commerce_analytics_etl_spark.operators.quality import mart_checks, run_checks
from tiki_e_commerce_analytics_etl_spark.plans import fixtures, golden_join as gj, snapshot, trends
from tiki_e_commerce_analytics_etl_spark.sources import rest, trends_csv
from .runner import Context, Pipeline

__all__ = [
    "analytics_pipeline",
    "fx_pipeline",
    "maintenance_pipeline",
    "tiki_pipeline",
    "trends_pipeline",
]

RETRIES = 2  # default_args['retries'] — dags/tiki_dag.py:18


def _warehouse(ctx: Context, table: str) -> str:
    return os.path.join(ctx.params["data_dir"], "warehouse", table)


def _read_if_exists(ctx: Context, table: str):
    path = _warehouse(ctx, table)
    if acid.latest_version(path) is None:
        return None
    return acid.read_atomic(ctx.spark, path)


def tiki_pipeline(state_dir: str | None = None, retry_delay: float = 0.0) -> Pipeline:
    """Daily product snapshot: crawl → transform → load (tiki_dag.py:27-141).

    params:
      data_dir        — root for raw/ and warehouse/ zones
      crawl_source    — optional ``(spark, ds) -> DataFrame`` producing the
                        raw crawl batch (e.g. ``sources.rest.crawl_listings``
                        composed with ``to_raw_products_df``); defaults to
                        the deterministic fixture batch.
    """
    p = Pipeline("tiki_etl_pipeline", state_dir)

    @p.task("crawl_tiki_products", retries=RETRIES, retry_delay=retry_delay)
    def crawl(ctx: Context) -> dict:
        src = ctx.params.get("crawl_source")
        raw = src(ctx.spark, ctx.ds) if src else fixtures.raw_products_fixture(ctx.spark)
        raw_path = os.path.join(ctx.params["data_dir"], "raw", "tiki", f"ds={ctx.ds}")
        # Raw zone keeps crawler-shaped JSON like the reference
        # (tiki_dag.py:80-89 writes data/raw/{ds}/*.json), but as
        # JSON-LINES: splittable at scale, read back with multiline=False.
        raw.write.mode("overwrite").json(raw_path)
        return {"raw_path": raw_path, "rows": raw.count()}

    @p.task("transform_to_parquet", upstream=("crawl_tiki_products",), retries=RETRIES, retry_delay=retry_delay)
    def transform(ctx: Context) -> dict:
        raw = snapshot.read_raw(
            ctx.spark, ctx.xcom["crawl_tiki_products"]["raw_path"], multiline=False
        )
        tables = snapshot.transform_snapshot(raw)
        staged = {}
        for name, df in tables.items():
            path = os.path.join(ctx.params["data_dir"], "staging", f"ds={ctx.ds}", name)
            df.write.mode("overwrite").parquet(path)
            staged[name] = path
        return staged

    @p.task("load_to_bigquery", upstream=("transform_to_parquet",), retries=RETRIES, retry_delay=retry_delay)
    def load(ctx: Context) -> dict:
        staged = ctx.xcom["transform_to_parquet"]
        spark = ctx.spark
        counts: dict[str, int] = {}

        # Fact: partition-replace of this ds only (K3, load_to_bq.py:185-188).
        # Row counts come from each commit's manifest, not a recount.
        fact = spark.read.parquet(staged["fact_daily_snapshot"])
        path = _warehouse(ctx, "fact_daily_snapshot")
        version = acid.atomic_overwrite_partitions(fact, path, ["snapshot_date"])
        counts["fact_daily_snapshot"] = acid.commit_row_count(path, version)

        # Dims: MERGE upsert (K4 keep-created_at / K5 manual-wins).
        for table, keys, kw in (
            ("dim_products", ["product_id"], {"immutable": ["created_at"]}),
            ("dim_categories", ["category_id"], {"target_wins": ["category_name"]}),
        ):
            source = spark.read.parquet(staged[table])
            kw = {k: [c for c in v if c in source.columns] for k, v in kw.items()}
            target = _read_if_exists(ctx, table)
            merged = source if target is None else merge_upsert(target, source, keys, **kw)
            path = _warehouse(ctx, table)
            version = acid.atomic_overwrite_partitions(merged, path)
            counts[table] = acid.snapshot_row_count(path, version)
        return counts

    return p


def analytics_pipeline(state_dir: str | None = None, retry_delay: float = 0.0) -> Pipeline:
    """Mart build + quality gate + summary (analytics_dag.py:304-355).

    ``check_data_quality`` RAISES on a violated check, so ``log_summary``
    (trigger_rule all_success, analytics_dag.py:336,347) is SKIPPED on a
    bad mart — same observable behavior as the reference's ASSERT SQL.
    """
    p = Pipeline("analytics_pipeline", state_dir)

    @p.task("build_daily_mart", retries=RETRIES, retry_delay=retry_delay)
    def build(ctx: Context) -> dict:
        spark = ctx.spark
        obt = gj.golden_join(
            acid.read_atomic(spark, _warehouse(ctx, "fact_daily_snapshot")),
            acid.read_atomic(spark, _warehouse(ctx, "dim_products")),
            acid.read_atomic(spark, _warehouse(ctx, "dim_categories")),
            spark.read.parquet(ctx.params["keyword_mapping_path"]),
            acid.read_atomic(spark, _warehouse(ctx, "fact_google_trends")),
            acid.read_atomic(spark, _warehouse(ctx, "dim_exchange_rate")),
            ds=ctx.ds,
        ).withColumn("inserted_at", F.current_timestamp())  # F15, writer-side
        path = _warehouse(ctx, "mart_daily_analytics")
        # The OBT's grain column is `date` (F16 renames snapshot_date).
        acid.atomic_overwrite_partitions(obt, path, ["date"])
        return {"mart_path": path, "rows": acid.snapshot_row_count(path)}

    @p.task("check_data_quality", upstream=("build_daily_mart",), retries=0)
    def check(ctx: Context) -> dict:
        mart = acid.read_atomic(ctx.spark, ctx.xcom["build_daily_mart"]["mart_path"])
        day = mart.filter(F.col("date") == F.lit(ctx.ds).cast("date"))
        row = run_checks(day, mart_checks(), raise_on_fail=True)
        return {k: bool(v) for k, v in row.asDict().items()}

    @p.task("log_summary", upstream=("check_data_quality",), retries=0)
    def summary(ctx: Context) -> dict:
        return {
            "ds": ctx.ds,
            "mart_rows": ctx.xcom["build_daily_mart"]["rows"],
            "checks": ctx.xcom["check_data_quality"],
        }

    return p


def trends_pipeline(state_dir: str | None = None, retry_delay: float = 0.0) -> Pipeline:
    """Google-Trends refresh: fetch → transform → staging → MERGE
    (trends_dag.py:599-687).

    params:
      data_dir      — root for raw/staging/warehouse zones
      keywords      — keyword list (reference pulls these from a config
                      task, trends_dag.py:599)
      trends_fetch  — optional ``(spark, ds, keywords) -> DataFrame`` of the
                      WIDE csv shape; defaults to reading
                      ``params['trends_csv_path']`` via the S2 smart-date
                      scanner.
    """
    p = Pipeline("trends_pipeline", state_dir)

    @p.task("get_keywords", retries=0)
    def keywords(ctx: Context) -> list[str]:
        return list(ctx.params.get("keywords", []))

    @p.task("fetch_trends_data", upstream=("get_keywords",), retries=RETRIES, retry_delay=retry_delay)
    def fetch(ctx: Context) -> dict:
        fetcher = ctx.params.get("trends_fetch")
        if fetcher is not None:
            wide = fetcher(ctx.spark, ctx.ds, ctx.xcom["get_keywords"])
        else:
            wide = trends_csv.read_trends_csv(ctx.spark, ctx.params["trends_csv_path"])
        raw_path = os.path.join(ctx.params["data_dir"], "raw", "trends", f"ds={ctx.ds}")
        wide.write.mode("overwrite").parquet(raw_path)
        return {"raw_path": raw_path, "row_count": acid.parquet_row_count(raw_path)}

    @p.task("transform_trends_data", upstream=("fetch_trends_data",), retries=RETRIES, retry_delay=retry_delay)
    def transform(ctx: Context) -> dict:
        wide = ctx.spark.read.parquet(ctx.xcom["fetch_trends_data"]["raw_path"])
        long_df = trends.transform_trends(wide)
        path = os.path.join(ctx.params["data_dir"], "staging", f"ds={ctx.ds}", "trends")
        long_df.write.mode("overwrite").parquet(path)
        return {"parquet_file": path, "transform_row_count": acid.parquet_row_count(path)}

    @p.task("load_to_staging", upstream=("transform_trends_data",), retries=RETRIES, retry_delay=retry_delay)
    def staging(ctx: Context) -> dict:
        # Staging TABLE load (trends_dag.py:637-667 WRITE_TRUNCATE) — an
        # atomic whole-table replace of the staging snapshot.
        df = ctx.spark.read.parquet(ctx.xcom["transform_trends_data"]["parquet_file"])
        path = _warehouse(ctx, "staging_google_trends")
        acid.atomic_overwrite_partitions(df, path)
        return {"staging_path": path}

    @p.task("merge_to_fact", upstream=("load_to_staging",), retries=RETRIES, retry_delay=retry_delay)
    def merge(ctx: Context) -> dict:
        spark = ctx.spark
        source = acid.read_atomic(spark, ctx.xcom["load_to_staging"]["staging_path"])
        target = _read_if_exists(ctx, "fact_google_trends")
        merged = source if target is None else trends.upsert_trends(target, source)
        path = _warehouse(ctx, "fact_google_trends")
        version = acid.atomic_overwrite_partitions(merged, path)
        return {"fact_rows": acid.snapshot_row_count(path, version)}

    @p.task("log_success", upstream=("merge_to_fact",), retries=0)
    def log_success(ctx: Context) -> dict:
        return {
            "ds": ctx.ds,
            "raw_row_count": ctx.xcom["fetch_trends_data"]["row_count"],
            "transform_row_count": ctx.xcom["transform_trends_data"]["transform_row_count"],
            "fact_rows": ctx.xcom["merge_to_fact"]["fact_rows"],
        }

    return p


def fx_pipeline(state_dir: str | None = None, retry_delay: float = 0.0) -> Pipeline:
    """Daily USD→VND rate: fetch (with literal fallback) → transform →
    idempotent day replace (fx_rate_dag.py:446-472).

    params:
      data_dir  — root for staging/warehouse zones
      fx_fetch  — optional ``sources.rest.Fetch``; omitted → the S8
                  fallback-rate path runs (fx_rate_dag.py:61-129).
    """
    p = Pipeline("fx_pipeline", state_dir)

    @p.task("fetch_fx_rate", retries=RETRIES, retry_delay=retry_delay)
    def fetch(ctx: Context) -> dict:
        fetch_fn = ctx.params.get("fx_fetch")
        if fetch_fn is None:
            fetch_fn = lambda url: (_ for _ in ()).throw(ConnectionError("no transport"))  # noqa: E731
        return rest.fetch_fx_rate(fetch_fn, ctx.ds)

    @p.task("transform_fx_data", upstream=("fetch_fx_rate",), retries=RETRIES, retry_delay=retry_delay)
    def transform(ctx: Context) -> dict:
        df = rest.to_fx_df(ctx.spark, ctx.xcom["fetch_fx_rate"]).withColumn(
            "inserted_at", F.current_timestamp()
        )
        df = df.select([f.name for f in schemas.DIM_EXCHANGE_RATE_SCHEMA.fields])
        path = os.path.join(ctx.params["data_dir"], "staging", f"ds={ctx.ds}", "fx")
        df.write.mode("overwrite").parquet(path)
        return {"parquet_path": path}

    @p.task("load_to_bigquery", upstream=("transform_fx_data",), retries=RETRIES, retry_delay=retry_delay)
    def load(ctx: Context) -> dict:
        # The reference's delete_existing_data + load pair
        # (fx_rate_dag.py:460-472) is ONE commit here: the partitions in
        # the batch (this ds) are replaced atomically — no window where
        # the delete has landed but the insert has not.
        df = ctx.spark.read.parquet(ctx.xcom["transform_fx_data"]["parquet_path"])
        path = _warehouse(ctx, "dim_exchange_rate")
        version = acid.atomic_overwrite_partitions(df, path, ["date"])
        return {"rows": acid.commit_row_count(path, version), "version": version}

    return p


def maintenance_pipeline(state_dir: str | None = None, retry_delay: float = 0.0) -> Pipeline:
    """Table maintenance the reference never needed (BigQuery does it
    server-side): per-table COMPACT (small-file remedy for streaming /
    per-day appends) then VACUUM (drop superseded versions past the
    retention grace).  Runs as a retryable DAG so a conflict-aborted
    compaction (a writer landed mid-rewrite → ``CommitConflict``) is
    retried from the fresh snapshot by the runner.

    params:
      data_dir       — warehouse root; every table under warehouse/ with
                       a committed manifest is maintained
      keep_versions  — vacuum retention (default 3)
      grace_seconds  — vacuum in-flight grace (default 3600)
    """
    p = Pipeline("maintenance_pipeline", state_dir)

    @p.task("discover_tables", retries=0)
    def discover(ctx: Context) -> list[str]:
        root = os.path.join(ctx.params["data_dir"], "warehouse")
        if not os.path.isdir(root):
            return []
        return sorted(
            t for t in os.listdir(root)
            if acid.latest_version(os.path.join(root, t)) is not None
        )

    @p.task("compact_tables", upstream=("discover_tables",), retries=RETRIES, retry_delay=retry_delay)
    def compact(ctx: Context) -> dict:
        target = ctx.params.get("compact_target_partitions")
        cluster = ctx.params.get("cluster_by", {})  # {table: [cols]}
        versions = {}
        for t in ctx.xcom["discover_tables"]:
            versions[t] = acid.compact(
                ctx.spark,
                _warehouse(ctx, t),
                target_partitions=target,
                cluster_by=cluster.get(t, ()),
            )
        return versions

    @p.task("vacuum_tables", upstream=("compact_tables",), retries=RETRIES, retry_delay=retry_delay)
    def vac(ctx: Context) -> dict:
        keep = int(ctx.params.get("keep_versions", 3))
        grace = float(ctx.params.get("grace_seconds", 3600.0))
        return {
            t: len(acid.vacuum(_warehouse(ctx, t), keep_versions=keep, grace_seconds=grace))
            for t in ctx.xcom["discover_tables"]
        }

    return p
