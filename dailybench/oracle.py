"""Output oracle: what the warehouse must hold, computed in Python from
the generator's truth (never from the engine's own parsers).

``MartTruth`` rebuilds the Golden Join mart row by row; ``check_day``
compares one mart partition, ``check_tables`` the MERGE-maintained
tables.  Each check returns ``(name, ok, detail)``; a mismatch counts as
a failed operation.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
from collections import Counter

from pyspark.sql import functions as F

from tiki_e_commerce_analytics_etl_spark import acid

from gen import FX_FALLBACK_RATE, KEYWORDS, Truth


def _micros(iso: str) -> int:
    t = dt.datetime.fromisoformat(iso.replace("Z", "+00:00"))
    return (t - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)) // dt.timedelta(microseconds=1)


def usd(price: int, rate: float) -> float:
    """F17 exactly as the engine computes it (IEEE double, half-up)."""
    return math.floor(price / rate * 100 + 0.5) / 100


class MartTruth:
    """Expected mart rows for the ingested days."""

    def __init__(self, truth: Truth, days: list[str]):
        self.days = list(days)
        self.rows: dict[str, list[dict]] = {}
        for ds in self.days:
            rate = truth.fx[ds] if truth.fx[ds] is not None else FX_FALLBACK_RATE
            fetched = truth.trends[ds]
            rows = []
            for pid, (price, orig, disc, _ts) in truth.kept[ds].items():
                name, brand, leaf = truth.products[pid]
                kw = truth.mapping.get(leaf)
                score = fetched[(ds, kw)][0] if kw in KEYWORDS else None
                rows.append({
                    "pid": str(pid), "name": name, "brand": brand,
                    "category": truth.leaves[leaf][0], "price": float(price),
                    "original": float(orig), "discount": disc, "fx": rate,
                    "usd": usd(price, rate), "keyword": kw, "score": score,
                    "status": "Unmapped" if kw is None else (
                        "No Trend Data" if score is None else "Full Data"),
                })
            self.rows[ds] = rows
        self.pids = sorted({r["pid"] for rs in self.rows.values() for r in rs})
        self.categories = sorted({r["category"] for rs in self.rows.values() for r in rs})


def trends_state(truth: Truth, days: list[str]) -> dict[tuple[str, str], tuple[int, bool]]:
    """fact_google_trends after MERGE-ing each day's fetch, source wins."""
    state: dict[tuple[str, str], tuple[int, bool]] = {}
    for ds in days:
        state.update(truth.trends[ds])
    return state


def _cmp(name: str, got, want) -> tuple[str, bool, str]:
    return name, got == want, "" if got == want else f"got {got!r}, want {want!r}"


def check_day(spark, wh: str, mart: MartTruth, ds: str) -> list[tuple[str, bool, str]]:
    """Row count, price sum, USD sum and trend-status counts of one mart day."""
    df = acid.read_atomic(spark, os.path.join(wh, "mart_daily_analytics"), partitions={"date": ds})
    by_status = df.groupBy("trend_signal_status").agg(
        F.count("*").alias("n"),
        F.sum("price_vnd_real").alias("price"),
        F.sum(F.round(F.col("price_usd_real") * 100).cast("long")).alias("usd_cents"),
        F.sum("price_vnd_original").alias("original"),
        F.min("fx_rate").alias("fx_lo"),
        F.max("fx_rate").alias("fx_hi"),
    ).collect()
    status = {r["trend_signal_status"]: r["n"] for r in by_status}
    rows = mart.rows[ds]
    fx = {rows[0]["fx"]} if rows else set()
    return [
        _cmp(f"{ds}.mart_rows", sum(r["n"] for r in by_status), len(rows)),
        _cmp(f"{ds}.price_vnd_real_sum", sum(r["price"] for r in by_status), sum(r["price"] for r in rows)),
        _cmp(f"{ds}.price_usd_real_cents", sum(r["usd_cents"] for r in by_status),
             sum(round(r["usd"] * 100) for r in rows)),
        _cmp(f"{ds}.price_vnd_original_sum", sum(r["original"] for r in by_status),
             sum(r["original"] for r in rows)),
        _cmp(f"{ds}.fx_rate", {r[k] for r in by_status for k in ("fx_lo", "fx_hi")}, fx),
        _cmp(f"{ds}.trend_signal_status", status, dict(Counter(r["status"] for r in rows))),
    ]


def check_tables(spark, wh: str, truth: Truth) -> list[tuple[str, bool, str]]:
    """Every mart day's row count, dim_products (count, created_at kept
    from first sight) and the trends fact (the upsert result) after all
    of ``truth.days``."""
    days = truth.days
    first_seen: dict[int, str] = {}
    for ds in days:
        for pid, (_p, _o, _d, ts) in truth.kept[ds].items():
            first_seen.setdefault(pid, ts)
    per_day = {r[0].isoformat(): r[1] for r in acid.read_atomic(
        spark, os.path.join(wh, "mart_daily_analytics")).groupBy("date").count().collect()}
    dim = acid.read_atomic(spark, os.path.join(wh, "dim_products")).agg(
        F.count("*").alias("n"),
        F.countDistinct("product_id").alias("ids"),
        F.sum(F.unix_micros("created_at")).alias("created"),
    ).collect()[0]
    want_trends = trends_state(truth, days)
    tr = acid.read_atomic(spark, os.path.join(wh, "fact_google_trends")).agg(
        F.count("*").alias("n"),
        F.sum("score").alias("score"),
        F.count_if(F.col("is_partial")).alias("partial"),
    ).collect()[0]
    return [
        _cmp("mart_daily_analytics.rows_per_day", per_day, {ds: len(truth.kept[ds]) for ds in days}),
        _cmp("dim_products.rows", (dim["n"], dim["ids"]), (len(first_seen), len(first_seen))),
        _cmp("dim_products.created_at", dim["created"], sum(_micros(t) for t in first_seen.values())),
        _cmp("fact_google_trends.rows", tr["n"], len(want_trends)),
        _cmp("fact_google_trends.score_sum", tr["score"], sum(s for s, _ in want_trends.values())),
        _cmp("fact_google_trends.partial", tr["partial"], sum(p for _, p in want_trends.values())),
    ]


def digest_tables(spark, wh: str, tables) -> dict[str, str]:
    """sha256 of each table's sorted rows, write-time columns excluded."""
    out = {}
    for t in tables:
        df = acid.read_atomic(spark, os.path.join(wh, t)).drop("inserted_at")
        rows = sorted(repr(tuple(r)) for r in df.select(sorted(df.columns)).collect())
        out[t] = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return out
