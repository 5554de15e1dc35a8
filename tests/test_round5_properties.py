"""Property-based coverage of the round-5 surfaces: distributed
exact percentiles vs an independent Python model of Spark's
`percentile` semantics, AVI mux/demux round-trips on arbitrary frame
sets, and the bench --full contract (every queries() entry timed)."""

from __future__ import annotations

import hypothesis.strategies as st
from hypothesis import given, settings

# -- exact_percentiles vs the interpolation model --------------------------


def _model_percentile(values: list[float], p: float) -> float:
    """Spark Percentile / DuckDB quantile_cont: sorted values, rank
    p*(n-1), linear interpolation lower*(1-frac) + higher*frac."""
    s = sorted(values)
    r = p * (len(s) - 1)
    lo = int(r // 1)
    frac = r - lo
    if frac == 0.0:
        return float(s[lo])
    return float(s[lo]) * (1.0 - frac) + float(s[lo + 1]) * frac


@settings(max_examples=12, deadline=None)
@given(
    vals=st.lists(
        st.one_of(
            st.integers(min_value=-50, max_value=50).map(float),
            st.floats(
                min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
            ),
        ),
        min_size=1,
        max_size=120,
    ),
    probs=st.lists(
        st.sampled_from([0.0, 0.1, 0.25, 1 / 3, 0.5, 0.66, 0.75, 0.9, 0.99, 1.0]),
        min_size=1,
        max_size=5,
        unique=True,
    ),
    n_parts=st.sampled_from([1, 2, 5, 32]),
)
def test_exact_percentiles_matches_model(spark, vals, probs, n_parts):
    from tiki_e_commerce_analytics_etl_spark.operators.quality import (
        exact_percentiles,
    )

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = exact_percentiles(df, "v", probs, n_partitions=n_parts)
    want = [_model_percentile(vals, p) for p in probs]
    assert got == want  # bit-exact, any bucket count, ties included


# -- AVI container round-trip ----------------------------------------------


@settings(max_examples=25, deadline=None)
@given(
    frames=st.lists(st.binary(min_size=0, max_size=64), max_size=12),
    usec=st.integers(min_value=1, max_value=10_000_000),
    every_ms=st.integers(min_value=1, max_value=5000),
)
def test_avi_mux_demux_roundtrip_and_sampling(frames, usec, every_ms):
    from tiki_e_commerce_analytics_etl_spark.operators import multimodal as mm

    payload = mm.avi_mux(frames, usec_per_frame=usec)
    got_usec, got_frames = mm.avi_demux(payload)
    assert (got_usec, got_frames) == (usec, frames)
    stride = max(1, round((every_ms * 1000) / usec))
    assert mm.avi_frame_sampler(payload, every_ms) == frames[::stride]


# -- bench --full contract -------------------------------------------------


def test_bench_full_covers_every_query():
    """--full times sorted(queries()) — a new queries() entry can never
    silently fall outside the benchmarked set (the round-4 long-tail
    gap was 39 unmeasured queries)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod
    from bench import HEADLINE

    qs = set(entrymod.queries())
    assert set(HEADLINE) <= qs  # headline never drifts from the registry
    # --full mode iterates sorted(qs) by construction (bench.main);
    # assert the registry is what the oracle layer covers too
    assert set(entrymod.oracle_sql()) <= qs
    # compression_screen (rows-only check) is the one query without a
    # DuckDB twin; README names it
    assert qs - set(entrymod.oracle_sql()) == {"compression_screen"}
