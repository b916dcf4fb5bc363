"""Registry-ordering invariants: the driver records correctness for a
fixed-size prefix of queries(), so that prefix must be exactly the
window computed from the committed CORRECTNESS_r*.json files — every
entry oracle-backed — with rows-only checks last."""

import json
import pathlib
import re
import shutil

import pytest

from sportstv_streaming_data_warehouse_spark.plans.catalog import (
    ANCHORS,
    ORACLE,
    QUERIES,
    WINDOW_SIZE,
    all_oracles,
    all_queries,
    correctness_window,
    driver_green_rounds,
    staleness_period,
)

REPO = pathlib.Path(__file__).resolve().parent.parent


def _recorded_rounds(root: pathlib.Path) -> list[int]:
    return sorted(
        int(m.group(1))
        for f in root.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f.name))
    )


def _overdue(root: pathlib.Path, window: list[str]) -> list[str]:
    """Oracle-backed queries outside ``window`` whose last driver-green
    row under ``root`` is older than the staleness period allows for the
    round after the newest recorded one."""
    current_round = max(_recorded_rounds(root)) + 1
    greens = driver_green_rounds(root)
    p = staleness_period()
    return [
        name
        for name in all_oracles()
        if name not in window
        and max(greens.get(name, [0])) < current_round - p
    ]


def test_window_is_the_registry_prefix():
    window = correctness_window()
    names = list(all_queries())
    assert names[: len(window)] == window


def test_rows_only_queries_come_last():
    """Rows-only queries NOT borrowed into the window must form a
    contiguous tail of the registry, so the driver's oracle-compare
    prefix and oracle-backed overflow stay contiguous."""
    names = list(all_queries())
    oracles = all_oracles()
    overflow = names[len(correctness_window()):]
    tail_start = min(
        (i for i, n in enumerate(overflow) if n not in oracles),
        default=len(overflow),
    )
    assert all(n not in oracles for n in overflow[tail_start:]), (
        "rows-only queries must form a contiguous registry tail"
    )


def test_window_size_matches_driver_budget():
    assert len(correctness_window()) == 50


def test_cumulative_driver_coverage_complete():
    """Every oracle-backed query has either already earned a driver-green
    row (CORRECTNESS files) or sits in the current window (pending this
    round's run): cumulative coverage after this round is all
    oracle-backed queries."""
    greens = driver_green_rounds()
    oracles = set(all_oracles())
    covered = set(greens) | set(correctness_window())
    uncovered = oracles - covered
    assert not uncovered, f"oracle-backed queries never driver-scheduled: {uncovered}"
    unknown = set(greens) - set(all_queries())
    assert not unknown, f"driver-green names not in registry: {unknown}"


def test_every_oracle_has_portable_duckdb_result_types():
    """Planning-only screen of ALL oracle SQL: no result column may be
    HUGEINT/UHUGEINT/DECIMAL.  pandas represents those differently from
    the matching Spark type (HUGEINT -> float64 vs Spark BIGINT ->
    int64; DECIMAL -> object/Decimal vs Spark DOUBLE -> float64), which
    fails the driver's type-sensitive value-hash even when the values
    are identical — the round-4 x_boilerplate_ngrams /
    x_domain_mix_plan failure mode.  The fix is always a CAST in the
    oracle SQL."""
    from sportstv_streaming_data_warehouse_spark.plans.catalog import ORACLE

    from .conftest import SF001
    from .parity import assert_oracle_types_portable, duckdb_connection

    con = duckdb_connection(SF001)
    try:
        for name, sql in ORACLE.items():
            assert_oracle_types_portable(con, sql, name)
    finally:
        con.close()


def test_staleness_period_change_is_signed_off():
    """The derived staleness bar may only move together with the
    signed-off constant (round-6 advisor finding: a correctness-policy
    invariant must not weaken silently as the catalog grows)."""
    from sportstv_streaming_data_warehouse_spark.plans.catalog import (
        EXPECTED_STALENESS_PERIOD,
    )

    assert staleness_period() == EXPECTED_STALENESS_PERIOD, (
        f"staleness_period() moved to {staleness_period()} but the "
        f"signed-off constant is {EXPECTED_STALENESS_PERIOD} — review the "
        "capacity math in catalog.py and update EXPECTED_STALENESS_PERIOD "
        "with a rationale"
    )


def test_no_oracle_query_staler_than_budget_period():
    """Rotation policy: every oracle-backed query must either sit in the
    current window (pending this round's driver run) or have a driver
    green row no older than the budget-derived staleness period
    (catalog.staleness_period(): the tightest bar the driver's fixed
    50-slot budget can enforce — 2 rounds through round 6's 144-oracle
    point, loosening only as the catalog outgrows 48 slots/round).
    Keeps the 50-slot prefix honest as the catalog grows."""
    if not _recorded_rounds(REPO):
        pytest.skip("no CORRECTNESS files recorded yet (fresh clone)")
    stale = _overdue(REPO, correctness_window())
    assert not stale, (
        f"queries overdue for driver re-verification "
        f"(period {staleness_period()}): {stale}"
    )


def test_correctness_window_is_valid():
    """correctness_window() must give a window the registry invariants
    accept: exactly the driver budget, anchors first, unique entries,
    all oracle-backed, and EVERY stale query included."""
    window = correctness_window()
    assert len(window) == WINDOW_SIZE
    assert len(set(window)) == WINDOW_SIZE
    assert window[: len(ANCHORS)] == list(ANCHORS)
    assert set(window) <= set(all_oracles())
    recorded = _recorded_rounds(REPO)
    current = max(recorded) + 1 if recorded else 1
    stale = {
        n
        for n, rounds in driver_green_rounds().items()
        if n in ORACLE
        and max(rounds) < current - staleness_period()
        and n not in ANCHORS
    }
    assert stale <= set(window), stale - set(window)


def _write_round(root: pathlib.Path, rnd: int, green: list[str],
                 failed: tuple[str, ...] = ()) -> None:
    row = {"rows_match": True, "schema_match": True, "hash_match": True,
           "spark_rows": 1, "oracle_rows": 1, "err": None}
    rows = {name: dict(row) for name in green}
    for name in failed:
        rows[name]["hash_match"] = False
    (root / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def test_window_follows_the_next_correctness_artifact(tmp_path, monkeypatch):
    """The driver commits the next CORRECTNESS file for the current
    window; the window computed from the files after it must leave
    nothing overdue, keep an entry that failed its run, schedule an
    oracle that has never been green, and stay at the driver budget when
    more queries are overdue than it can hold."""
    for f in REPO.glob("CORRECTNESS_r*.json"):
        shutil.copy(f, tmp_path)
    window = correctness_window(tmp_path)
    failed = window[-1]  # the newest last-green pick: due only if it fails
    monkeypatch.setitem(QUERIES, "zz_never_green", QUERIES[ANCHORS[0]])
    monkeypatch.setitem(ORACLE, "zz_never_green", ORACLE[ANCHORS[0]])
    nxt = max(_recorded_rounds(tmp_path), default=0) + 1
    _write_round(tmp_path, nxt, window, failed=(failed,))

    after = correctness_window(tmp_path)
    assert len(after) == WINDOW_SIZE and len(set(after)) == WINDOW_SIZE
    assert after[: len(ANCHORS)] == list(ANCHORS)
    assert not _overdue(tmp_path, after), staleness_period()
    assert failed in after
    assert "zz_never_green" in after

    # no artifacts: the anchors plus the alphabetically first oracles
    empty = tmp_path / "empty"
    empty.mkdir()
    rest = sorted(n for n in ORACLE if n not in ANCHORS)
    assert correctness_window(empty) == [
        *ANCHORS, *rest[: WINDOW_SIZE - len(ANCHORS)]
    ]

    # more overdue queries than slots: still exactly the budget, and the
    # staleness check names the remainder
    flooded = tmp_path / "flooded"
    flooded.mkdir()
    _write_round(flooded, 16, list(ANCHORS))
    w = correctness_window(flooded)
    assert len(w) == WINDOW_SIZE and w[: len(ANCHORS)] == list(ANCHORS)
    assert len(_overdue(flooded, w)) == len(ORACLE) - WINDOW_SIZE
