"""Driver-side REST ingest adapters (SURVEY.md §2.1 S4-S8).

The reference's crawlers (Tiki listings/detail/category APIs, pytrends,
open.er-api.com FX) are network clients, not relational operators — in
the Spark engine they are small driver-side fetch loops whose output
becomes a DataFrame via ``spark.createDataFrame(rows, schema)``.

Network calls are injected (``fetch=``) so the adapters are testable
and this module never performs I/O on import.  Politeness pacing and
retry/backoff-with-jitter mirror the reference (api_crawler.js:330-386;
trends_dag.py:100-213).
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from tiki_e_commerce_analytics_etl_spark.schemas import (
    DIM_EXCHANGE_RATE_SCHEMA,
    RAW_PRODUCT_SCHEMA,
)

Fetch = Callable[[str], Any]  # url -> parsed JSON

FX_FALLBACK_RATE = 25400.0  # fx_rate_dag.py:65


def http_fetch(
    timeout_s: float = 30.0,
    headers: dict[str, str] | None = None,
) -> Fetch:
    """Real HTTP transport: returns a ``Fetch`` (url → parsed JSON)
    backed by ``requests`` with a reused connection-pooling Session
    (falls back to stdlib urllib when requests is absent).  This is
    the production plug for every injected ``fetch=`` in this module:

        rows = crawl_listings(http_fetch(), category_ids=[1789])

    Kept out of defaults so imports never do I/O and tests stay
    hermetic; the paging/retry/cache/fallback logic above is transport-
    agnostic.  Reference transport: api_crawler.js:330-386 (axios),
    trends_dag.py:100-157 (requests)."""
    hdrs = {"User-Agent": "tiki-spark/1.0 (+analytics-etl)"} | (headers or {})
    try:
        import requests

        session = requests.Session()
        session.headers.update(hdrs)

        def fetch(url: str) -> Any:
            resp = session.get(url, timeout=timeout_s)
            resp.raise_for_status()
            return resp.json()

        return fetch
    except ImportError:
        import urllib.request

        def fetch(url: str) -> Any:
            req = urllib.request.Request(url, headers=hdrs)
            with urllib.request.urlopen(req, timeout=timeout_s) as r:
                return json.loads(r.read().decode("utf-8"))

        return fetch


def fetch_with_retry(
    fetch: Fetch,
    url: str,
    retries: int = 5,
    base_delay_s: float = 1.0,
    max_delay_s: float = 600.0,
    sleep: Callable[[float], None] = time.sleep,
) -> Any:
    """Exponential backoff retry loop (trends_dag.py:126-157 shape;
    jitter omitted for determinism — callers may wrap ``sleep``)."""
    err: Exception | None = None
    for attempt in range(retries):
        try:
            return fetch(url)
        except Exception as e:  # noqa: BLE001
            err = e
            sleep(min(base_delay_s * (2**attempt), max_delay_s))
    raise RuntimeError(f"fetch failed after {retries} retries: {url}") from err


def crawl_listings(
    fetch: Fetch,
    category_ids: Iterable[int],
    max_pages: int = 10,
    page_limit: int = 40,
    sleep: Callable[[float], None] = lambda s: None,
) -> list[dict]:
    """S4 — paginated listings crawl: per category, loop pages until
    ``last_page`` or ``max_pages`` (api_crawler.js:264-387).  Returns
    raw product dicts shaped like RAW_PRODUCT_SCHEMA."""
    out: list[dict] = []
    for cid in category_ids:
        for page in range(1, max_pages + 1):
            resp = fetch_with_retry(
                fetch,
                f"https://tiki.vn/api/v2/products?limit={page_limit}&category={cid}&page={page}",
                sleep=sleep,
            )
            rows = resp.get("data", [])
            for r in rows:
                r.setdefault("_source_page", page)
            out.extend(rows)
            if page >= int(resp.get("paging", {}).get("last_page", 1)):
                break
            sleep(1.0)  # inter-page politeness (api_crawler.js:381-386)
        sleep(3.0)  # inter-category (api_crawler.js:421-426)
    return out


def to_raw_products_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Materialize crawled rows against the explicit raw schema —
    ingest boundary between driver-side I/O and the Spark plan."""
    conformed = [
        {f.name: row.get(f.name) for f in RAW_PRODUCT_SCHEMA.fields} for row in rows
    ]
    for row in conformed:  # stringly-typed fields may arrive as ints
        for k in ("price", "original_price", "discount_rate", "review_count", "quantity_sold", "sku"):
            if row.get(k) is not None and not isinstance(row[k], str):
                row[k] = str(row[k])
    return spark.createDataFrame(conformed, RAW_PRODUCT_SCHEMA)


def fetch_fx_rate(
    fetch: Fetch,
    ds: str,
    fallback_rate: float = FX_FALLBACK_RATE,
) -> dict:
    """S8 — USD→VND rate with literal fallback on ANY failure
    (fx_rate_dag.py:61-129)."""
    try:
        resp = fetch("https://open.er-api.com/v6/latest/USD")
        rate = float(resp["rates"]["VND"])
        source = "open.er-api.com"
    except Exception:  # noqa: BLE001
        rate, source = fallback_rate, "Fallback"
    return {
        "date": ds,
        "from_currency": "USD",
        "to_currency": "VND",
        "rate": rate,
        "source": source,
        "inserted_at": None,
    }


def to_fx_df(spark: SparkSession, row: dict) -> DataFrame:
    import datetime

    r = dict(row)
    if isinstance(r["date"], str):
        r["date"] = datetime.date.fromisoformat(r["date"])
    return spark.createDataFrame([r], DIM_EXCHANGE_RATE_SCHEMA)
