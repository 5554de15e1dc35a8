"""Unit tests for sessionization, daily gap-fill resampling, and the
checks-report operator (golden-pair style, SURVEY.md §5)."""

import datetime as dt

from pyspark.sql import functions as F

from tiki_e_commerce_analytics_etl_spark.operators import quality, sessions


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute)


def test_sessionize_splits_on_gap(spark):
    rows = [
        (1, 100, _ts(0)),
        (2, 100, _ts(10)),   # same session (gap 600s <= 1800)
        (3, 100, _ts(50)),   # new session (gap 2400s > 1800)
        (4, 200, _ts(5)),    # other user: own session numbering
    ]
    df = spark.createDataFrame(rows, "event_id: long, user_id: long, ts: timestamp")
    out = sessions.sessionize(df, "user_id", "ts", 1800, ["event_id"])
    got = {r["event_id"]: r["session_seq"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}

    stats = sessions.session_stats(df, "user_id", "ts", 1800, ["event_id"]).collect()
    by_key = {(r["user_id"], r["session_seq"]): r for r in stats}
    assert by_key[(100, 1)]["n_events"] == 2
    assert by_key[(100, 1)]["session_end"] == _ts(10)
    assert by_key[(100, 2)]["n_events"] == 1


def test_resample_ffill_daily(spark):
    from tiki_e_commerce_analytics_etl_spark.operators import grouped

    rows = [
        (1, dt.date(2024, 1, 1), 10.0),
        (1, dt.date(2024, 1, 4), 40.0),   # 2-day gap → filled with 10.0
        (2, dt.date(2024, 2, 1), 5.0),    # single-day key
    ]
    df = spark.createDataFrame(
        rows, "product_id: long, snapshot_date: date, current_price: double"
    )
    out = grouped.resample_ffill_daily(df).collect()
    by_key = {(r["product_id"], str(r["snapshot_date"])): r for r in out}
    assert len(out) == 5  # 4 days for key 1 + 1 day for key 2
    assert by_key[(1, "2024-01-02")]["current_price"] == 10.0
    assert by_key[(1, "2024-01-02")]["is_observed"] is False
    assert by_key[(1, "2024-01-04")]["current_price"] == 40.0
    assert by_key[(1, "2024-01-04")]["is_observed"] is True
    assert by_key[(2, "2024-02-01")]["current_price"] == 5.0
    # the applyInPandas variant agrees row-for-row on deduped input
    pandas_out = grouped.resample_ffill_daily_pandas(df).collect()
    assert sorted(map(tuple, pandas_out)) == sorted(map(tuple, out))
    # observed NULL values carry the previous value like a missing day
    rows_n = rows + [(1, dt.date(2024, 1, 5), None)]
    dfn = spark.createDataFrame(
        rows_n, "product_id: long, snapshot_date: date, current_price: double"
    )
    a = sorted(map(tuple, grouped.resample_ffill_daily(dfn).collect()))
    b = sorted(map(tuple, grouped.resample_ffill_daily_pandas(dfn).collect()))
    assert a == b
    nrow = dict(((k, str(d)), (v, o)) for k, d, v, o in a)
    assert nrow[(1, "2024-01-05")] == (40.0, True)  # filled but observed


def test_checks_report_rows(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (None, 3.0)], "k: long, v: double"
    )
    checks = [
        quality.Check("no_negative_v", violation=F.col("v") < 0),
        quality.Check("no_null_k", violation=F.col("k").isNull()),
        quality.Check("nonempty", must_hold=F.count(F.lit(1)) > 0),
    ]
    rows = {r["check_name"]: r for r in quality.checks_report(df, checks).collect()}
    assert rows["no_negative_v"]["violations"] == 1
    assert rows["no_negative_v"]["passed"] is False
    assert rows["no_null_k"]["violations"] == 1
    assert rows["nonempty"]["violations"] is None
    assert rows["nonempty"]["passed"] is True


def test_resample_interp_daily(spark):
    """Linear gap-fill: hand-computed line between observations, ffill
    semantics only where one side is missing (all-NULL edge values)."""
    import datetime as _dt

    from tiki_e_commerce_analytics_etl_spark.operators import grouped

    d = _dt.date
    rows = [
        # key 1: obs at day 1 (10.0) and day 4 (16.0) -> days 2,3 on the line
        (1, d(2024, 1, 1), 10.0),
        (1, d(2024, 1, 4), 16.0),
        # key 2: single observation -> one observed row, nothing filled
        (2, d(2024, 1, 5), 7.0),
        # key 3: NULL edge value -> backfill from the only observation
        (3, d(2024, 1, 1), None),
        (3, d(2024, 1, 3), 9.0),
    ]
    df = spark.createDataFrame(
        rows, "product_id: long, snapshot_date: date, current_price: double"
    )
    out = {
        (r["product_id"], r["snapshot_date"]): (
            r["current_price"],
            r["is_observed"],
        )
        for r in grouped.resample_interp_daily(df).collect()
    }
    assert out[(1, d(2024, 1, 1))] == (10.0, True)
    assert out[(1, d(2024, 1, 2))] == (12.0, False)  # 10 + 6*(1/3)
    assert out[(1, d(2024, 1, 3))] == (14.0, False)  # 10 + 6*(2/3)
    assert out[(1, d(2024, 1, 4))] == (16.0, True)
    assert out[(2, d(2024, 1, 5))] == (7.0, True)
    # key 3: day 1 observed-but-NULL backfills to 9.0; day 2 has no
    # earlier non-null value either -> nearest (next) observation
    assert out[(3, d(2024, 1, 1))] == (9.0, True)
    assert out[(3, d(2024, 1, 2))] == (9.0, False)
    assert out[(3, d(2024, 1, 3))] == (9.0, True)
    assert len(out) == 4 + 1 + 3
