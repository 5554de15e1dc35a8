"""Reshaping operators (SURVEY.md §2.5): melt wide→long, union-concat,
and the fact/dim split.

R1 melt (transform_google_trends.py:44-78): trends CSV arrives wide —
(date, <kw1>, …, <kwN>, isPartial) — and must become long
(date, keyword, score, is_partial).  Value columns are "whatever isn't
date / isPartial", discovered from df.columns at plan time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def melt(
    df: DataFrame,
    id_cols: list[str],
    value_cols: list[str] | None = None,
    var_name: str = "variable",
    value_name: str = "value",
) -> DataFrame:
    """Wide → long unpivot via the native ``unpivot`` operator (a
    Generate node — narrow, no shuffle).  ``value_cols`` defaults to
    every column not in ``id_cols``."""
    if value_cols is None:
        value_cols = [c for c in df.columns if c not in id_cols]
    return df.unpivot(
        [F.col(c) for c in id_cols],
        [F.col(c) for c in value_cols],
        var_name,
        value_name,
    )


def melt_trends_wide(df: DataFrame) -> DataFrame:
    """R1 with the reference's exact column-discovery rules
    (transform_google_trends.py:47-62):
      - keyword columns = everything except ``date`` and a
        case-insensitive ``isPartial``
      - a missing isPartial column is synthesized as False
    Output: (date, keyword, score_raw string, is_partial).
    """
    partial_col = next((c for c in df.columns if c.lower() == "ispartial"), None)
    if partial_col is None:
        df = df.withColumn("isPartial", F.lit(False))
        partial_col = "isPartial"
    kw_cols = [c for c in df.columns if c != "date" and c.lower() != "ispartial"]
    long_df = melt(df, ["date", partial_col], kw_cols, "keyword", "score_raw")
    return long_df.select(
        F.col("date"),
        F.col("keyword"),
        F.col("score_raw"),
        F.coalesce(F.col(partial_col).cast("boolean"), F.lit(False)).alias("is_partial"),
    )


def union_concat(frames: list[DataFrame]) -> DataFrame:
    """R2 — multi-batch concat ≡ unionByName(allowMissingColumns=True)
    (transform_tiki.py:397-405; trends_dag.py:435)."""
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out
