"""The oracle and the query answers, checked against a mart written
straight from the generator's truth — then with a planted fault."""

import datetime as dt
import os
import random

import pytest

import gen
import harness
import oracle
import queries
from tiki_e_commerce_analytics_etl_spark import acid, schemas

SPEC = gen.Spec(days=2, history=1, products_per_day=150, leaves_per_root=4, missing_fx_day=0)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    spark = harness.start_session(str(tmp_path_factory.mktemp("spark")), "dailybench-tests")
    yield spark
    harness.stop_session(spark)


def _write_mart(spark, wh, mart, tamper=None):
    rows = []
    for ds in mart.days:
        for r in mart.rows[ds]:
            rows.append((dt.date.fromisoformat(ds), r["pid"], r["name"], r["brand"], r["category"],
                         r["price"], r["original"], r["discount"], r["fx"], r["usd"], r["keyword"],
                         r["score"], r["status"], None))
    if tamper:
        rows = tamper(rows)
    df = spark.createDataFrame(rows, schemas.ANALYTICS_MART_SCHEMA)
    acid.atomic_overwrite_partitions(df, os.path.join(wh, "mart_daily_analytics"), ["date"])


def _write_trends(spark, wh, state):
    rows = [(dt.date.fromisoformat(d), kw, s, p, None) for (d, kw), (s, p) in state.items()]
    acid.atomic_overwrite_partitions(
        spark.createDataFrame(rows, schemas.FACT_GOOGLE_TRENDS_SCHEMA), os.path.join(wh, "fact_google_trends"))


@pytest.fixture(scope="module")
def truth(tmp_path_factory):
    return gen.generate(str(tmp_path_factory.mktemp("inputs")), SPEC, 5)


def test_true_mart_passes_every_check_and_query(spark, truth, tmp_path):
    wh = str(tmp_path)
    mart = oracle.MartTruth(truth, truth.days)
    _write_mart(spark, wh, mart)
    trends = oracle.trends_state(truth, truth.days)
    _write_trends(spark, wh, trends)
    for ds in truth.days:
        assert all(ok for _, ok, _ in oracle.check_day(spark, wh, mart, ds))
    scores = {k: s for k, (s, _) in trends.items()}
    rng = random.Random(1)
    for cls in queries.CLASSES:
        p = queries.pick_params(rng, cls, mart)
        got = queries.normalize(cls, queries.build(spark, wh, cls, p).collect())
        assert got == queries.expected(cls, p, mart, scores), cls


@pytest.mark.parametrize("fault", ["price", "drop", "status"])
def test_oracle_fires_on_a_planted_fault(spark, truth, tmp_path, fault):
    wh = str(tmp_path)
    mart = oracle.MartTruth(truth, truth.days)

    def tamper(rows):
        first = list(rows[0])
        if fault == "drop":
            return rows[1:]
        if fault == "price":
            first[5] += 1000.0
        else:
            first[12] = "Full Data" if first[12] != "Full Data" else "Unmapped"
        return [tuple(first)] + rows[1:]

    _write_mart(spark, wh, mart, tamper)
    ds = mart.days[0]
    failed = [name for name, ok, _ in oracle.check_day(spark, wh, mart, ds) if not ok]
    assert failed, fault
