"""tools/ab_compare.py alternates which side runs first in each pair, so
drift within a pair does not always land on the same side. No Spark:
the worker is stubbed."""

import importlib.util
import os
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
    order = []

    def fake_worker(repo, out_path, queries=None, golden=1):
        order.append(repo)
        return {
            "git": repo,
            "total_min": 1.0 if repo == "repo_a" else 2.0,
            "queries": {"q": 1.0},
        }

    monkeypatch.setattr(ab, "run_worker", fake_worker)
    monkeypatch.setattr(
        sys, "argv",
        ["ab_compare.py", "repo_a", "repo_b", "--rounds", "4",
         "--out", str(tmp_path / "ab.jsonl")],
    )
    ab.main()
    assert order == [
        "repo_a", "repo_b",
        "repo_b", "repo_a",
        "repo_a", "repo_b",
        "repo_b", "repo_a",
    ]
    # the summary still attributes each run to its own side
    assert "A/B total ratio: 0.500" in capsys.readouterr().out
