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
