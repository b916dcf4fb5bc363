"""Controlled same-box A/B of two checkouts — alternating bench runs.

Usage:  python tools/ab_compare.py REPO_A REPO_B [--rounds 3]
                                   [--queries q1,q2,...]
                                   [--out /tmp/ab_results.jsonl]

Runs each checkout's own `bench.py` (with cwd at the checkout, so it
imports that checkout's package) alternately (A B, B A, A B, ...: pair i
runs A first when i is even, B first when odd) so box drift
decorrelates from the code difference: a code regression shows up as a
CONSISTENT A-vs-B gap across adjacent pairs, while box inflation moves
both sides of a pair together — and drift WITHIN a pair lands on each
side equally often. Each side is therefore the same measurement as a
plain bench run: same timing loop, statistic and box probes.

`--queries` passes a subset to bench.py (default: its HEADLINE set).
The bench's environment passes through, so SPARK_GRAFT_BENCH_GOLDEN=0
skips the golden tier and SPARK_GRAFT_BENCH_ITERS sets the iterations.

Prints a per-pair table plus probe-normalized ratios, and appends every
bench record to --out for later inspection.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_bench(repo: str, out_path: str, names: list[str]) -> dict:
    """One `bench.py` run in checkout `repo`; returns its stdout record."""
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py"), *names],
        cwd=repo, capture_output=True, text=True,
    )
    if proc.returncode != 0:
        raise SystemExit(f"bench failed for {repo}:\n{proc.stderr[-2000:]}")
    rec = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(out_path, "a") as f:
        f.write(json.dumps(dict(rec, repo=repo)) + "\n")
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("repo_a")
    ap.add_argument("repo_b")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--out", default="/tmp/ab_results.jsonl")
    ap.add_argument(
        "--queries", default="",
        help="comma-separated query subset (default: bench.py's HEADLINE)",
    )
    args = ap.parse_args()
    names = [n for n in args.queries.split(",") if n]

    by_side: dict[str, list[dict]] = {"A": [], "B": []}
    repos = {"A": os.path.abspath(args.repo_a), "B": os.path.abspath(args.repo_b)}
    for i in range(args.rounds):
        # pair i runs A first when i is even, B first when odd
        for side in ("AB" if i % 2 == 0 else "BA"):
            print(f"--- pair {i + 1}/{args.rounds}: {side} ---", flush=True)
            by_side[side].append(run_bench(repos[side], args.out, names))
            print(json.dumps(_brief(by_side[side][-1])), flush=True)
    runs_a, runs_b = by_side["A"], by_side["B"]

    print("\n=== summary ===")
    for side, runs in (("A", runs_a), ("B", runs_b)):
        totals = [r["value"] for r in runs]
        goldens = [r["golden_tier"].get("etl_sec") for r in runs]
        print(
            f"{side} {repos[side]}: totals={totals} "
            f"median={statistics.median(totals):.2f} "
            f"goldens={goldens}"
        )
    med_a = statistics.median([r["value"] for r in runs_a])
    med_b = statistics.median([r["value"] for r in runs_b])
    print(f"A/B total ratio: {med_a / med_b:.3f}")
    # probe-normalized: divide by the ref-probe ratio so a box that
    # drifted between the two sides' sample windows doesn't masquerade
    # as a code delta (both sides interleave, so this should be ~1)
    refs_a = [r["ref_query_probe"] for r in runs_a if r.get("ref_query_probe")]
    refs_b = [r["ref_query_probe"] for r in runs_b if r.get("ref_query_probe")]
    if refs_a and refs_b:
        probe_ratio = statistics.median(refs_a) / statistics.median(refs_b)
        print(
            f"ref-probe ratio A/B: {probe_ratio:.3f}; "
            f"probe-normalized total ratio: {med_a / med_b / probe_ratio:.3f}"
        )
    # the per-query view: biggest same-pair deltas, medians across pairs
    deltas = []
    for n in runs_a[0]["queries"]:
        # skip queries either side lacks (two commits whose HEADLINE
        # sets differ) rather than take a median over a partial list
        vals_a = [r["queries"][n] for r in runs_a if n in r["queries"]]
        vals_b = [r["queries"][n] for r in runs_b if n in r["queries"]]
        if not vals_a or not vals_b:
            continue
        qa = statistics.median(vals_a)
        qb = statistics.median(vals_b)
        if qb:
            deltas.append((qa / qb, n, qa, qb))
    deltas.sort(reverse=True)
    print("largest A/B per-query ratios (median across pairs):")
    for ratio, n, qa, qb in deltas[:8]:
        print(f"  {n}: {qa:.2f}s vs {qb:.2f}s = {ratio:.2f}x")
    # the smallest four not already listed as largest
    smallest = deltas[8:][-4:]
    if smallest:
        print("smallest:")
    for ratio, n, qa, qb in smallest:
        print(f"  {n}: {qa:.2f}s vs {qb:.2f}s = {ratio:.2f}x")


def _brief(r: dict) -> dict:
    g = r["golden_tier"]
    return {
        "value": r["value"],
        "golden_etl": g.get("etl_sec"),
        "golden_stages": g.get("stage_sec"),
        "ref_probe": r.get("ref_query_probe"),
        "mt_probe": r.get("mt_speed_probe"),
        "empty_job_ms": r.get("empty_job_ms"),
        "contaminated": r.get("contaminated", False),
    }


if __name__ == "__main__":
    main()
