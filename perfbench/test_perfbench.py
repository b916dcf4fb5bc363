"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import warehouse  # noqa: E402
from stats import (  # noqa: E402
    check_metric_name,
    drift,
    geomean,
    percentile,
    supported_percentile,
    timing_record,
)
from tracing import SpanRecorder, self_times  # noqa: E402


def _digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


# --- generator --------------------------------------------------------------

def test_same_seed_gives_byte_identical_inputs(tmp_path):
    digests = []
    for i in range(2):
        d = tmp_path / str(i)
        d.mkdir()
        src = gen.warehouse_sources(7, 0.01)
        gen.write_sqlite(src["streaming_txns"], str(d / "op.db"))
        src["csv_txns"].to_csv(d / "a.csv", index=False)
        gen.write_catalog(gen.catalog_tables(0.001, 3), str(d / "sf"))
        files = ["op.db", "a.csv"] + [f"sf/{f}" for f in sorted(os.listdir(d / "sf"))]
        digests.append([_digest(d / f) for f in files])
    assert digests[0] == digests[1]


def test_other_seed_gives_other_inputs():
    a = gen.warehouse_sources(1, 0.01)["streaming_txns"]
    b = gen.warehouse_sources(2, 0.01)["streaming_txns"]
    assert not a.equals(b)


def test_quota_sums_and_splits_proportionally():
    counts = gen.quota(1000, [3, 1])
    assert counts.tolist() == [750, 250]
    assert gen.quota(7, [1, 1, 1]).sum() == 7


def test_full_scale_has_the_reference_shape():
    src = gen.warehouse_sources(42, 1.0)
    assert len(src["streaming_txns"]) == 1_083_131
    assert len(src["csv_txns"]) == 98_732
    exp = warehouse.expected(src)
    assert exp["source_rows"] == 1_181_863
    assert exp["kept_rows"] == 1_147_679
    # the published per-class volumes, exactly
    assert {k: v[0] for k, v in exp["by_sport"].items()} == gen.SPORT_WEIGHTS
    assert exp["by_country"] == gen.COUNTRY_WEIGHTS
    assert exp["by_year"] == gen.YEAR_WEIGHTS
    txns = src["streaming_txns"]["asset_id"]
    prefix = txns.str.split("-", n=1).str[0]
    csv_prefix = src["csv_txns"]["asset_id"].str.split("-", n=1).str[0]
    orphans = prefix.isin(["AHL", "ICE", "NLN", "SKA", "FIS", "ICEHL"]).sum() + csv_prefix.isin(
        ["AHL", "ICE", "NLN", "SKA", "FIS", "ICEHL"]
    ).sum()
    dropped = prefix.isin(gen.UNRECOVERABLE_PREFIXES).sum() + csv_prefix.isin(
        gen.UNRECOVERABLE_PREFIXES
    ).sum()
    assert orphans == 161_588
    assert dropped == 24_184
    dates = src["streaming_txns"]["streaming_date"]
    assert dates.min() == "2021-01-01" and dates.max() <= "2025-10-18"


def test_italy_and_slovakia_have_no_subscribers():
    src = gen.warehouse_sources(3, 0.01)
    users = (
        src["subscribers"]
        .merge(src["postal2city"], on="postal_code")
        .merge(src["cities"], on="city_id")
    )
    assert set(users["country_id"]) == {1, 2, 3, 4}
    assert {5, 6} <= set(src["countries"]["country_id"])


# --- arithmetic -------------------------------------------------------------

def test_percentile_interpolates_like_numpy():
    xs = [4, 1, 3, 2]
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 0) == 1 and percentile(xs, 100) == 4
    assert percentile(list(range(11)), 90) == pytest.approx(9.0)


def test_supported_percentile_keeps_ten_samples_beyond():
    assert supported_percentile(5) is None
    assert supported_percentile(20) == 50
    assert supported_percentile(100) == 90
    assert supported_percentile(200) == 95
    assert supported_percentile(1000) == 99


def test_timing_record_carries_count_and_percentile():
    rec = timing_record(list(range(1, 101)))
    assert rec["n"] == 100 and rec["p50"] == 50.5 and "p90" in rec


def test_geomean():
    assert geomean([1, 100]) == pytest.approx(10.0)
    with pytest.raises(ValueError):
        geomean([0, 1])


def test_drift_flags_an_unfinished_warm_up():
    assert drift([10, 10, 10, 10, 10, 10], 0.2)["ok"]
    assert not drift([10, 9, 8, 7, 6, 5], 0.2)["ok"]
    assert drift([10, 11, 12], 0.2)["ok"]  # slowing down is not warm-up
    assert drift([5], 0.2)["ok"]


def test_self_time_subtracts_covered_child_time():
    spans = [
        {"id": 0, "name": "op", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "start": 3.0, "end": 6.0},  # overlaps a
        {"id": 3, "name": "c", "parent": 0, "start": 9.0, "end": 12.0},  # clipped
        {"id": 4, "name": "d", "parent": 1, "start": 2.0, "end": 3.0},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)  # [1,6] and [9,10] covered
    assert st[1] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)


def test_span_recorder_nests_and_shares_op_ids(tmp_path):
    rec = SpanRecorder()
    with rec.op("op-1"), rec.span("outer"):
        with rec.span("inner"):
            pass
    outer, inner = rec.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["op"] == inner["op"] == "op-1"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    path = tmp_path / "spans.json"
    rec.write(str(path))
    assert len(json.loads(path.read_text())) == 2
    off = SpanRecorder(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


# --- metric names -----------------------------------------------------------

def test_every_metric_name_is_legal():
    for name, _ in run.END_TO_END + run.PER_LAYER:
        assert check_metric_name(name) == name
    with pytest.raises(ValueError):
        check_metric_name("plans.catalog.q/ms")


def test_benchmark_json_lists_exactly_the_emitted_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


# --- report checks ----------------------------------------------------------

def test_formatted_report_values_are_checked_to_their_rounding():
    exp = {"by_year": {2021: 1000, 2022: 1270}}
    good = [
        {"year": 2021, "transactions": "1,000", "yoy_growth": "-"},
        {"year": 2022, "transactions": "1,270", "yoy_growth": "27.0%"},
    ]
    assert warehouse.check_report("yoy_growth", good, exp) is None
    bad = [dict(good[0]), dict(good[1], yoy_growth="27.2%")]
    assert warehouse.check_report("yoy_growth", bad, exp) is not None
