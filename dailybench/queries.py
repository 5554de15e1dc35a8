"""The five mart query classes, and their expected answers.

Every query reads through ``acid.read_atomic`` (with ``partitions=`` or
``ranges=`` where a predicate allows it) and ends in one ``collect``.
``build`` returns the lazy DataFrame (plan time); ``run`` collects it
(execution time).  ``expected`` computes the same answer in Python from
the generator's truth, via ``oracle.MartTruth``.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from collections import Counter

from pyspark.sql import functions as F

from tiki_e_commerce_analytics_etl_spark import acid

CLASSES = ("day_slice", "product_history", "category_topk", "trend_price", "brand_league")
TOPK = 10


def _shift(ds: str, days: int) -> str:
    return (dt.date.fromisoformat(ds) + dt.timedelta(days=days)).isoformat()


def pick_params(rng: random.Random, cls: str, mart) -> dict:
    """Seeded parameters for one query of class ``cls``."""
    day = rng.choice(mart.days)
    if cls == "day_slice":
        return {"day": day}
    if cls == "product_history":
        return {"pid": str(rng.choice(mart.pids))}
    if cls == "category_topk":
        return {"category": rng.choice(mart.categories), "end": mart.days[-1]}
    if cls == "trend_price":
        return {"day": day}
    return {}


def build(spark, wh: str, cls: str, p: dict):
    mart = os.path.join(wh, "mart_daily_analytics")
    if cls == "day_slice":
        df = acid.read_atomic(spark, mart, partitions={"date": p["day"]})
        return df.groupBy("trend_signal_status", "category_name").count()
    if cls == "product_history":
        df = acid.read_atomic(spark, mart, ranges={"product_id": (p["pid"], p["pid"])})
        return (df.filter(F.col("product_id") == p["pid"])
                .select("date", "price_vnd_real", "trend_signal_status"))
    if cls == "category_topk":
        lo = _shift(p["end"], -6)
        df = acid.read_atomic(spark, mart, ranges={"date": (lo, p["end"])})
        return (df.filter(F.col("date").between(F.lit(lo).cast("date"), F.lit(p["end"]).cast("date"))
                          & (F.col("category_name") == p["category"]))
                .orderBy(F.desc("discount_rate"), "price_vnd_real", "product_id", "date")
                .select("date", "product_id", "discount_rate", "price_vnd_real")
                .limit(TOPK))
    if cls == "trend_price":
        lo = _shift(p["day"], -6)
        t = (acid.read_atomic(spark, os.path.join(wh, "fact_google_trends"), ranges={"date": (lo, p["day"])})
             .filter(F.col("date").between(F.lit(lo).cast("date"), F.lit(p["day"]).cast("date")))
             .groupBy("keyword").agg(F.sum("score").alias("score_sum"), F.count("*").alias("score_n")))
        m = (acid.read_atomic(spark, mart, partitions={"date": p["day"]})
             .filter(F.col("trend_keyword").isNotNull())
             .groupBy("trend_keyword")
             .agg(F.count("*").alias("n"), F.sum("price_vnd_real").alias("price_sum")))
        return m.join(t, m["trend_keyword"] == t["keyword"], "left").select(
            "trend_keyword", "n", "price_sum", "score_sum", "score_n")
    if cls == "brand_league":
        df = acid.read_atomic(spark, mart)
        return (df.groupBy("brand_name")
                .agg(F.countDistinct("product_id").alias("products"),
                     F.sum("price_vnd_real").alias("gmv"))
                .orderBy(F.desc("gmv"), "brand_name")
                .limit(TOPK))
    raise ValueError(f"unknown query class {cls!r}")


def normalize(cls: str, rows) -> object:
    """Spark rows → the comparable Python shape ``expected`` returns."""
    if cls == "day_slice":
        return Counter({(r[0], r[1]): r[2] for r in rows})
    if cls == "product_history":
        return sorted((r[0].isoformat(), r[1], r[2]) for r in rows)
    if cls == "category_topk":
        return [(r[0].isoformat(), r[1], r[2], r[3]) for r in rows]
    if cls == "trend_price":
        return {r[0]: (r[1], r[2], r[3], r[4]) for r in rows}
    return [(r[0], r[1], r[2]) for r in rows]


def expected(cls: str, p: dict, mart, trends: dict) -> object:
    """The answer from truth.  ``trends`` maps (date, keyword) → score in
    the trends fact after the last ingested day."""
    if cls == "day_slice":
        return Counter((r["status"], r["category"]) for r in mart.rows[p["day"]])
    if cls == "product_history":
        return sorted((d, r["price"], r["status"]) for d in mart.days for r in mart.rows[d]
                      if r["pid"] == p["pid"])
    if cls == "category_topk":
        lo = _shift(p["end"], -6)
        hits = [(d, r["pid"], r["discount"], r["price"]) for d in mart.days if lo <= d <= p["end"]
                for r in mart.rows[d] if r["category"] == p["category"]]
        hits.sort(key=lambda h: (-h[2], h[3], h[1], h[0]))
        return hits[:TOPK]
    if cls == "trend_price":
        lo = _shift(p["day"], -6)
        sums: dict[str, list[int]] = {}
        for (d, kw), score in trends.items():
            if lo <= d <= p["day"]:
                s = sums.setdefault(kw, [0, 0])
                s[0] += score
                s[1] += 1
        out: dict[str, list] = {}
        for r in mart.rows[p["day"]]:
            if r["keyword"] is not None:
                o = out.setdefault(r["keyword"], [0, 0.0])
                o[0] += 1
                o[1] += r["price"]
        return {kw: (n, total, *(sums[kw] if kw in sums else (None, None)))
                for kw, (n, total) in out.items()}
    if cls == "brand_league":
        gmv: dict[str, float] = {}
        prods: dict[str, set] = {}
        for d in mart.days:
            for r in mart.rows[d]:
                gmv[r["brand"]] = gmv.get(r["brand"], 0.0) + r["price"]
                prods.setdefault(r["brand"], set()).add(r["pid"])
        ranked = sorted(gmv, key=lambda b: (-gmv[b], b))[:TOPK]
        return [(b, len(prods[b]), gmv[b]) for b in ranked]
    raise ValueError(f"unknown query class {cls!r}")
