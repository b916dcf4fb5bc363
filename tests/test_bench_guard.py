"""bench.py's stdout record: its one-line JSON contract, and that it
reports the run that produced it.

The record is the line a reader (or a driver parsing stdout) takes as
the bench result, so `emit_record` must print exactly one line that
round-trips through JSON and stays under RECORD_MAX_BYTES. And every
primary field must be this run's own measurement: `value`, `queries`,
the tiers and `cores` describe the session that ran, whatever
BENCH_history.jsonl holds. An 8-core run's 32-way `mt_speed_probe`
reads about 4x a 32-core run's by design; the record must still carry
the 8-core numbers, so core-count scaling is visible rather than
overwritten by another run's, and the run leaves the history file
beside bench.py byte-identical. Given query names, `bench.main` times
exactly those. The end-to-end cases drive `bench.main` with a stand-in
session whose queries cost a fixed few milliseconds, so they need no
real query work."""

from __future__ import annotations

import collections
import json
import time

import pytest


def _full_record(n_queries=56):
    return {
        "metric": "headline_queries_total",
        "value": 85.3,
        "unit": "sec",
        "queries": {f"query_{i:03d}": 1.234 for i in range(n_queries)},
        "sf": 0.1,
        "golden_tier": {"etl_sec": 5.5},
        "report_tier": {"materialize_sec": 1.9},
    }


def test_emit_record_round_trips_one_line():
    import json

    from bench import emit_record

    line = emit_record(_full_record())
    assert "\n" not in line and "\r" not in line
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total"
    assert parsed["value"] == 85.3 and len(parsed["queries"]) == 56
    assert parsed["golden_tier"]["etl_sec"] == 5.5


def test_emit_record_refuses_an_oversized_record():
    from bench import RECORD_MAX_BYTES, emit_record

    rec = _full_record()
    rec["note"] = ""
    rec["note"] = "x" * (RECORD_MAX_BYTES - len(json.dumps(rec).encode()))
    # a record exactly at the cap prints whole
    assert len(emit_record(rec).encode()) == RECORD_MAX_BYTES
    # one byte over raises: no key is dropped to make it fit
    rec["note"] += "x"
    with pytest.raises(ValueError, match="cap"):
        emit_record(rec)


def test_emit_record_fails_loudly_on_unserializable_values():
    import pytest

    from bench import emit_record

    rec = _full_record()
    rec["queries"] = {"q": object()}
    with pytest.raises(TypeError):
        emit_record(rec)


# --- the varied-core case: an 8-core run next to faster 32-core history ---

QUERY_SEC = 0.004    # what every stand-in query costs on the 8-core run
HISTORY_SEC = 0.001  # the same query on the 32-core history runs
HISTORY_MT = 0.35    # the 32-core runs' 32-way probe; the live run reads 4x


class _Frame:
    """Just enough DataFrame for bench.main's calls: the hash-force
    select/collect costs QUERY_SEC, everything else is free."""

    columns = ["h"]

    def select(self, *cols):
        return self

    def selectExpr(self, *exprs):
        return self

    def collect(self):
        time.sleep(QUERY_SEC)
        return []

    def count(self):
        return 60_000


class _Session:
    class sparkContext:
        defaultParallelism = 8

        @staticmethod
        def setLogLevel(level):
            pass

    def range(self, *args):
        return _Frame()

    def stop(self):
        pass


def _stub_bench(bench, monkeypatch, tmp_path) -> None:
    """Point bench.main at the 8-core stand-in session, with bench's
    module file inside tmp_path so any file it wrote would land there."""
    from sportstv_streaming_data_warehouse_spark.sources import fixtures

    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path / "sf0.1"))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ITERS", "3")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_GOLDEN", "0")
    monkeypatch.setattr(bench, "get_spark", lambda app_name: _Session())
    monkeypatch.setattr(
        bench, "QUERIES",
        collections.defaultdict(lambda: lambda spark, sf_dir: _Frame()),
    )
    monkeypatch.setattr(fixtures, "load_table", lambda spark, sf_dir, name: _Frame())
    monkeypatch.setattr(bench, "wait_for_quiet_box", lambda max_load: True)
    monkeypatch.setattr(bench, "cpu_speed_probe", lambda: 0.44)
    monkeypatch.setattr(bench, "spark_ref_probe", lambda spark, sf_dir: 0.30)
    monkeypatch.setattr(bench, "mt_speed_probe", lambda spark: 4 * HISTORY_MT)


def test_eight_core_run_reports_its_own_numbers(spark, tmp_path, monkeypatch, capsys):
    # `spark` only makes pyspark.sql.functions usable: hash_force builds
    # its real hash expression, which the stand-in frame then ignores
    import bench

    history = tmp_path / "BENCH_history.jsonl"
    # three quiet same-commit 32-core runs, every query 4x faster
    hist_lines = [
        json.dumps({
            "metric": "headline_queries_total",
            "value": round(HISTORY_SEC * len(bench.HEADLINE), 3),
            "unit": "sec",
            "queries": {n: HISTORY_SEC for n in bench.HEADLINE},
            "sf": 0.1,
            "cores": 32,
            "empty_job_ms": 77.0 + i,
            "cpu_speed_probe": 0.44,
            "ref_query_probe": 0.30,
            "mt_speed_probe": HISTORY_MT,
            "git": "abc1234",
            "wall_clock": f"2026-10-0{i + 1}T12:00:00",
        }) + "\n"
        for i in range(3)
    ]
    history.write_text("".join(hist_lines))
    before = history.read_bytes()
    _stub_bench(bench, monkeypatch, tmp_path)

    bench.main()

    record = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert record["cores"] == 8
    assert record["mt_speed_probe"] == 4 * HISTORY_MT
    # the live 8-core numbers, not the faster history's
    assert set(record["queries"]) == set(bench.HEADLINE)
    assert all(v >= QUERY_SEC for v in record["queries"].values())
    assert record["value"] == pytest.approx(sum(record["queries"].values()), abs=0.01)
    assert record["value"] > 2 * HISTORY_SEC * len(bench.HEADLINE)
    # the bench neither reads nor writes the history beside it
    assert history.read_bytes() == before


def test_main_with_names_times_exactly_those_names(spark, tmp_path, monkeypatch, capsys):
    import bench

    _stub_bench(bench, monkeypatch, tmp_path)
    timed = []
    time_query = bench.time_query

    def spy(spark, sf_dir, name, iters):
        timed.append(name)
        return time_query(spark, sf_dir, name, iters)

    monkeypatch.setattr(bench, "time_query", spy)

    bench.main(["x_sample_exact_k", "a4_global_summary"])

    record = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert timed == ["x_sample_exact_k", "a4_global_summary"]
    assert list(record["queries"]) == timed
    # the rollup was not timed, so there is no rollup throughput
    assert record["rollup_rows_per_sec"] is None
    assert record["iters"] == 3 and record["cores"] == 8
