"""Guard the ONE thing the driver reads from bench.py: the stdout line.

Rounds 3 and 4 both recorded ``parsed: null`` in BENCH_r{N}.json
because the line embedded every median and outgrew the driver's
~2000-char stdout tail capture.  This test pins the contract: the
line parses as JSON, carries the required keys, and stays well under
the capture window even for 128 queries with long names.
"""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import HEADLINE, format_stdout_line


def _fake_timings(n: int) -> dict:
    # Names at least as long as the real worst case, values with full
    # 3-decimal width.
    return {
        f"length_stratified_sample_variant_{i:03d}": round(0.123 + i * 0.017, 3)
        for i in range(n)
    }


def test_line_is_short_for_128_queries():
    line = format_stdout_line(_fake_timings(128), sf=0.1)
    assert len(line) < 1500, f"stdout line too long for driver capture: {len(line)}"


def test_line_is_short_for_headline_set():
    timings = {name: 1.234 for name in HEADLINE}
    line = format_stdout_line(timings, sf=0.1)
    assert len(line) < 1500


def test_line_schema_and_total():
    timings = _fake_timings(40)
    parsed = json.loads(format_stdout_line(timings, sf=0.01))
    assert parsed["metric"] == "headline_queries_total_wall_clock"
    assert parsed["unit"] == "sec"
    assert parsed["sf"] == 0.01
    assert parsed["n_queries"] == 40
    assert parsed["value"] == round(sum(timings.values()), 3)
    # Only the 10 slowest medians ride along.
    assert len(parsed["queries"]) == 10
    assert min(parsed["queries"].values()) >= max(
        v for k, v in timings.items() if k not in parsed["queries"]
    )


def test_full_mode_uses_distinct_metric_name():
    # --full totals cover ALL queries — a different population than
    # the headline suite (both are warm multi-rep medians since round
    # 7).  The metric name must differ so a trend tracker never mixes
    # the two series.
    parsed = json.loads(format_stdout_line(_fake_timings(132), sf=0.1, full=True))
    assert parsed["metric"] == "full_queries_total_wall_clock"
    assert len(format_stdout_line(_fake_timings(132), sf=0.1, full=True)) < 1500


def test_line_handles_fewer_than_ten():
    parsed = json.loads(format_stdout_line(_fake_timings(3), sf=None))
    assert len(parsed["queries"]) == 3
    assert parsed["sf"] is None


def test_headline_names_are_registry_queries():
    """bench.py looks every HEADLINE name up as ``qs[name]``, so a name
    the registry no longer has would only fail mid-run."""
    import __spark_entry__ as entrymod

    assert sorted(set(HEADLINE) - set(entrymod.queries())) == []
