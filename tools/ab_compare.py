"""Controlled same-box A/B of two checkouts — alternating worker runs.

Usage:  python tools/ab_compare.py REPO_A REPO_B [--rounds 3]
                                   [--out /tmp/ab_results.jsonl]

Runs tools/ab_worker.py alternately against the two checkouts (A B,
B A, A B, ...: pair i runs A first when i is even, B first when odd) so
box drift decorrelates from the code difference: a code regression
shows up as a CONSISTENT A-vs-B gap across adjacent pairs, while box
inflation moves both sides of a pair together — and drift WITHIN a
pair lands on each side equally often. This is the
methodology that exonerated compact_index in round 12 (SCALE.md) and
the one the round-12 verdict (task 2) prescribes for attributing the
48.6-vs-37.8 s suite delta between round-12 HEAD and 9a82b1c.

Prints a per-pair table plus probe-normalized ratios, and appends every
worker record to --out for later inspection. Never writes
BENCH_history.jsonl (the workers don't call bench.main).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_worker(repo: str, out_path: str, queries: str | None = None,
               golden: int = 1) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "ab_worker.py"), "--repo", repo,
           "--golden", str(golden)]
    if queries:
        cmd += ["--queries", queries]
    proc = subprocess.run(
        cmd,
        capture_output=True, text=True, timeout=3600,
    )
    if proc.returncode != 0:
        raise SystemExit(
            f"worker failed for {repo}:\n{proc.stderr[-2000:]}"
        )
    rec = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(out_path, "a") as f:
        f.write(json.dumps(rec) + "\n")
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("repo_a")
    ap.add_argument("repo_b")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--out", default="/tmp/ab_results.jsonl")
    ap.add_argument(
        "--queries", default=None,
        help="comma-separated query subset (default: the frozen R6 set)",
    )
    ap.add_argument("--golden", type=int, default=1)
    args = ap.parse_args()

    by_side: dict[str, list[dict]] = {"A": [], "B": []}
    repos = {"A": args.repo_a, "B": args.repo_b}
    for i in range(args.rounds):
        # pair i runs A first when i is even, B first when odd
        for side in ("AB" if i % 2 == 0 else "BA"):
            print(f"--- pair {i + 1}/{args.rounds}: {side} ---", flush=True)
            by_side[side].append(
                run_worker(repos[side], args.out, args.queries, args.golden)
            )
            print(json.dumps(_brief(by_side[side][-1])), flush=True)
    runs_a, runs_b = by_side["A"], by_side["B"]

    print("\n=== summary ===")
    for side, runs in (("A", runs_a), ("B", runs_b)):
        totals = [r["total_min"] for r in runs]
        goldens = [
            r["golden_tier"]["etl_sec"]
            for r in runs
            if isinstance(r.get("golden_tier"), dict)
            and "etl_sec" in r["golden_tier"]
        ]
        print(
            f"{side} {runs[0]['git']}: totals={totals} "
            f"median={statistics.median(totals):.2f} "
            f"goldens={goldens}"
        )
    med_a = statistics.median([r["total_min"] for r in runs_a])
    med_b = statistics.median([r["total_min"] for r in runs_b])
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
    names = runs_a[0]["queries"].keys()
    deltas = []
    for n in names:
        # skip queries either side lacks BEFORE the median: a NaN in
        # the list breaks statistics.median's sort and can yield a
        # wrong FINITE number the qb == qb guard cannot catch
        # (round-13 ADVICE)
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
    print("smallest:")
    for ratio, n, qa, qb in deltas[-4:]:
        print(f"  {n}: {qa:.2f}s vs {qb:.2f}s = {ratio:.2f}x")


def _brief(r: dict) -> dict:
    g = r.get("golden_tier") or {}
    return {
        "git": r["git"],
        "total_min": r["total_min"],
        "golden_etl": g.get("etl_sec"),
        "golden_stages": g.get("stage_sec"),
        "ref_probe": r.get("ref_query_probe"),
        "mt_probe": r.get("mt_speed_probe"),
        "empty_job_ms": r.get("empty_job_ms"),
        "load": r.get("loadavg_1m"),
    }


if __name__ == "__main__":
    main()
