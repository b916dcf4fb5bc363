"""Compare the two most recent BENCH_history.jsonl entries at the same
scale factor: per-query median ratios, flagged beyond a noise band.

Run from the repo root: python tools/bench_diff.py [--band 2.0]
Shared-box guidance: judge ratios against the band, not to 1.0 — the
recorded loadavg of each entry is printed so a contaminated window is
visible (±30% is normal; >2x on one query with quiet loadavg on both
sides is a real regression candidate).
"""

from __future__ import annotations

import json
import os
import sys


def main() -> None:
    band = 2.0
    if "--band" in sys.argv:
        band = float(sys.argv[sys.argv.index("--band") + 1])
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH_history.jsonl")
    entries = [json.loads(line) for line in open(path) if line.strip()]
    if not entries:
        print("empty history")
        return
    # diff at the LATEST entry's scale factor (not the most-populated one)
    sf = entries[-1].get("sf")
    runs = [e for e in entries if e.get("sf") == sf]
    if len(runs) < 2:
        print(f"need two runs at sf={sf} to diff")
        return
    prev, cur = runs[-2], runs[-1]
    # entries from before the record carried `cores` say "unknown"
    cp, cc = prev.get("cores", "unknown"), cur.get("cores", "unknown")
    print(f"sf={sf}  prev git={prev.get('git')} cores={cp} "
          f"probe={prev.get('probe', 'count')} loadavg={prev.get('loadavg')}  "
          f"cur git={cur.get('git')} cores={cc} "
          f"probe={cur.get('probe', 'count')} loadavg={cur.get('loadavg')}")
    if cp != cc:
        print(f"WARNING: core counts differ ({cp} vs {cc}) — ratios mix "
              "core-count scaling with any code change; diff same-core "
              "entries to judge the code.")
    if prev.get("probe") != cur.get("probe"):
        print("WARNING: forcing probes differ between runs — ratios reflect "
              "the METHODOLOGY change (count() under-measures pruned "
              "expressions by up to ~6x), not performance. Compare only "
              "same-probe entries.")
    if prev.get("stat", "median") != cur.get("stat", "median"):
        print("WARNING: summary statistics differ between runs "
              f"({prev.get('stat', 'median')} vs {cur.get('stat', 'median')}) "
              "— min3-median (round 7+) reads systematically FASTER than "
              "the full-sample median on a noisy box. For a like-for-like "
              "diff use queries_median_all from the detail record.")
    sp, sc = prev.get("cpu_speed_probe"), cur.get("cpu_speed_probe")
    if sp and sc:
        # hypervisor-level contention is invisible to loadavg (round-8
        # lesson: 42.4 vs 52.4 s with loadavg 0.2) — the fixed-work CPU
        # probe ratio is the box-speed correction to read ratios against
        print(f"cpu speed probe: prev {sp}s cur {sc}s — box-speed ratio "
              f"{sc / sp:.2f}x; query ratios near this value are box "
              f"noise, not code")
    print(f"{'query':28} {'prev':>7} {'cur':>7} {'ratio':>6}")
    flagged = []
    for name, t in cur["queries"].items():
        p = prev["queries"].get(name)
        if p is None:
            print(f"{name:28} {'new':>7} {t:7.2f}")
            continue
        r = t / p if p else float("inf")
        mark = " <-- beyond band" if r > band or r < 1 / band else ""
        if mark:
            flagged.append(name)
        print(f"{name:28} {p:7.2f} {t:7.2f} {r:5.1f}x{mark}")
    removed = [n for n in prev["queries"] if n not in cur["queries"]]
    for name in removed:
        print(f"{name:28} {prev['queries'][name]:7.2f} {'removed':>7}")
    print(f"total: prev {prev['value']} -> cur {cur['value']}; "
          f"{len(flagged)} beyond {band}x band: {flagged}"
          + (f"; {len(removed)} removed: {removed}" if removed else ""))
    # round 13+: when the headline set differs between the entries, the
    # raw totals are not comparable — the frozen round-6 subtotal is
    if set(prev["queries"]) != set(cur["queries"]):
        rp, rc = prev.get("r6_comparable_total"), cur.get("r6_comparable_total")
        print("NOTE: headline sets differ — compare r6_comparable_total "
              f"instead: prev {rp} -> cur {rc}"
              + (f" ({rc / rp:.2f}x)" if rp and rc else ""))


if __name__ == "__main__":
    main()
