"""Round-8 debut queries: structural invariants beyond the DuckDB
parity sweep (tests/test_oracle_parity.py covers value equality).

- r_retention_funnel: the driver-gate twin of the reference's published
  data-processing funnel (report.Rmd §5 / README.md:195-206), whose
  full-scale accounting test_golden_funnel.py pins at 1.18M rows.
- s_ingest_daily_grain: the batch twin of streaming/ingest.py's sink
  grain (stream parity pinned in tests/test_streaming.py).
- r_top_markets: the reference's top-markets headline table
  (README.md:218-225) through plans/report.top_markets.
"""

import pytest
from pyspark.sql import functions as F

from sportstv_streaming_data_warehouse_spark.plans.catalog import QUERIES
from sportstv_streaming_data_warehouse_spark.sources.fixtures import load_table

from .conftest import SF001


@pytest.fixture(scope="module")
def funnel(spark):
    return {
        r["stage"]: r for r in QUERIES["r_retention_funnel"](spark, SF001).collect()
    }


def test_funnel_stages_account_for_every_source_row(spark, funnel):
    assert set(funnel) == {
        "source_rows", "dim_matched", "orphan_recovered", "dropped", "retained",
    }
    n = {k: v["n_rows"] for k, v in funnel.items()}
    assert n["dim_matched"] + n["orphan_recovered"] + n["dropped"] == n["source_rows"]
    assert n["retained"] == n["dim_matched"] + n["orphan_recovered"]
    # the classification split is the anti-join's orphan set exactly
    orphans = QUERIES["ja_orphan_anti_join"](spark, SF001).agg(
        F.sum("orphan_events")
    ).collect()[0][0]
    assert n["orphan_recovered"] + n["dropped"] == orphans


def test_funnel_percentages_follow_counts(funnel):
    src = funnel["source_rows"]["n_rows"]
    assert funnel["source_rows"]["pct_of_source"] == 100.0
    for stage, row in funnel.items():
        assert row["pct_of_source"] == pytest.approx(100.0 * row["n_rows"] / src)
    # stage ordering is the funnel's narrative order
    assert [funnel[s]["stage_idx"] for s in (
        "source_rows", "dim_matched", "orphan_recovered", "dropped", "retained",
    )] == [1, 2, 3, 4, 5]


def test_ingest_grain_is_unique_and_totals_match_source(spark):
    df = QUERIES["s_ingest_daily_grain"](spark, SF001)
    rows = df.collect()
    keys = [(r["day"], r["event_type"]) for r in rows]
    assert len(keys) == len(set(keys)), "duplicate (day, event_type) grain"
    n_events = load_table(spark, SF001, "events").count()
    assert sum(r["transaction_count"] for r in rows) == n_events
    for r in rows:
        assert 1 <= r["unique_user_count"] <= r["transaction_count"]
        assert 0 <= r["completed_events"] <= r["transaction_count"]


def test_duration_ms_rejects_unknown_units_with_named_grammar():
    # round-7 advisor finding: user-facing state_ttl strings outside the
    # four-unit grammar must fail with the accepted units named, not a
    # bare KeyError/ValueError
    from sportstv_streaming_data_warehouse_spark.streaming.util import duration_ms

    assert duration_ms("3 days") == 3 * 86_400_000
    for bad in ("2 weeks", "30d", "days", "x days", "1 day extra"):
        with pytest.raises(ValueError, match="days.hours.minutes.seconds"):
            duration_ms(bad)


def test_funnel_state_ttl_defaults_to_no_eviction():
    # round-7 advisor finding: eviction re-emits duplicate stage rows for
    # returning users, so it must be OPT-IN (parity with
    # forward_fill_stream's None default)
    import inspect

    from sportstv_streaming_data_warehouse_spark.streaming.funnel import funnel_stream

    assert inspect.signature(funnel_stream).parameters["state_ttl"].default is None


def test_streaming_by_type_follows_report_invariants(spark):
    rows = QUERIES["r_streaming_by_type"](spark, SF001).collect()
    n_events = load_table(spark, SF001, "events").count()
    assert sum(r["total_streams"] for r in rows) == n_events
    for r in rows:
        assert r["avg_duration_min"] == pytest.approx(
            r["total_hours"] * 60.0 / r["total_streams"]
        )
    order = [(-r["total_streams"], r["sport_name"]) for r in rows]
    assert order == sorted(order)


def test_yoy_growth_first_year_null_then_formula(spark):
    rows = sorted(
        QUERIES["r_yoy_growth"](spark, SF001).collect(), key=lambda r: r["year"]
    )
    assert rows[0]["yoy_growth"] is None
    for prev, cur in zip(rows, rows[1:]):
        expect = (cur["transactions"] - prev["transactions"]) / prev["transactions"]
        assert cur["yoy_growth"] == pytest.approx(expect, abs=1e-12)


def test_top_markets_shares_sum_to_one_and_exclude_empty_markets(spark):
    rows = QUERIES["r_top_markets"](spark, SF001).collect()
    assert abs(sum(r["market_share"] for r in rows) - 1.0) < 1e-9
    # descending volume with the country_id tiebreaker (report ordering)
    streams = [(-r["total_streams"], r["country_id"]) for r in rows]
    assert streams == sorted(streams)
    # only countries that actually have subscribers with events appear
    nations = {
        r["n_nationkey"]
        for r in load_table(spark, SF001, "nation").select("n_nationkey").collect()
    }
    assert {r["country_id"] for r in rows} <= nations
