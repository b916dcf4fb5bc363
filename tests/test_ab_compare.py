"""tools/ab_compare.py runs each checkout's own bench.py and alternates
which side runs first in each pair, so drift within a pair does not
always land on the same side. No Spark: the bench subprocess is
stubbed."""

import importlib.util
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_ab_compare():
    spec = importlib.util.spec_from_file_location(
        "ab_compare", os.path.join(ROOT, "tools", "ab_compare.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_pairs_alternate_which_side_runs_first(monkeypatch, tmp_path, capsys):
    ab = _load_ab_compare()
    repo_a, repo_b = str(tmp_path / "repo_a"), str(tmp_path / "repo_b")
    calls = []

    def fake_run(cmd, cwd, **kwargs):
        calls.append((cmd, cwd))
        record = {
            "value": 1.0 if cwd == repo_a else 2.0,
            "queries": {"q1": 0.5, "q2": 0.5},
            "golden_tier": {"skipped": "SPARK_GRAFT_BENCH_GOLDEN=0"},
            "ref_query_probe": 0.3,
        }
        # bench.py's contract: its record is the LAST stdout line
        stdout = "Spark noise\n" + json.dumps(record) + "\n"
        return subprocess.CompletedProcess(cmd, 0, stdout=stdout, stderr="")

    monkeypatch.setattr(ab.subprocess, "run", fake_run)
    monkeypatch.setattr(
        sys, "argv",
        ["ab_compare.py", repo_a, repo_b, "--rounds", "4",
         "--queries", "q1,q2", "--out", str(tmp_path / "ab.jsonl")],
    )
    ab.main()
    assert [cwd for _, cwd in calls] == [
        repo_a, repo_b,
        repo_b, repo_a,
        repo_a, repo_b,
        repo_b, repo_a,
    ]
    # each side is a plain run of that checkout's own bench.py
    for cmd, cwd in calls:
        assert cmd == [sys.executable, os.path.join(cwd, "bench.py"), "q1", "q2"]
    # the summary still attributes each run to its own side
    assert "A/B total ratio: 0.500" in capsys.readouterr().out
    assert len((tmp_path / "ab.jsonl").read_text().splitlines()) == 8


def _summary(monkeypatch, tmp_path, capsys, per_query_b):
    """ab_compare's printed summary for one pair in which side A takes
    1 s per query and side B ``per_query_b[q]``."""
    ab = _load_ab_compare()
    repo_a, repo_b = str(tmp_path / "repo_a"), str(tmp_path / "repo_b")

    def fake_run(cmd, cwd, **kwargs):
        times = per_query_b if cwd == repo_b else dict.fromkeys(per_query_b, 1.0)
        record = {
            "value": sum(times.values()),
            "queries": times,
            "golden_tier": {},
            "ref_query_probe": 0.3,
        }
        return subprocess.CompletedProcess(cmd, 0, stdout=json.dumps(record), stderr="")

    monkeypatch.setattr(ab.subprocess, "run", fake_run)
    monkeypatch.setattr(
        sys, "argv",
        ["ab_compare.py", repo_a, repo_b, "--rounds", "1",
         "--out", str(tmp_path / "ab.jsonl")],
    )
    ab.main()
    return capsys.readouterr().out


def test_three_queries_are_listed_once(monkeypatch, tmp_path, capsys):
    out = _summary(monkeypatch, tmp_path, capsys, {"q1": 2.0, "q2": 4.0, "q3": 0.5})
    for q in ("q1", "q2", "q3"):
        assert out.count(f"  {q}: ") == 1
    assert "smallest:" not in out


def test_smallest_never_repeats_largest(monkeypatch, tmp_path, capsys):
    times = {f"q{i}": 1.0 + i / 10 for i in range(10)}
    out = _summary(monkeypatch, tmp_path, capsys, times)
    largest, smallest = out.split("smallest:")
    listed = [l.split(":")[0].strip() for l in smallest.splitlines() if l.strip()]
    # 10 queries: the 8 largest A/B ratios, then the 2 not yet shown
    assert listed == ["q8", "q9"]
    assert all(f"  {q}: " not in largest for q in listed)
