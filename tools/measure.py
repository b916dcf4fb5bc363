"""Per-query plan capture and timing for optimization work.

Captures `.explain("formatted")` for headline queries into
<outdir>/<name>_<tag>.txt and times each with the bench's own
hash-force probe (same methodology as bench.py: discarded warm-up, N
timed iterations, min3-median). Usage:

    python tools/measure.py plans/r15 before              # all headline queries
    python tools/measure.py plans/r15 after q1 q2 ...     # a subset, tagged 'after'
    python tools/measure.py --iters 5 plans/r15 before

Prints one JSON line {"tag": ..., "queries": {name: sec}} plus per-query
plan-shape stats (Exchange count, join strategies, BatchEvalPython) to
stderr so plan diffs are quick to eyeball.
"""

import argparse
import json
import os
import re
import statistics
import sys
import time
from contextlib import redirect_stdout
import io

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from sportstv_streaming_data_warehouse_spark.plans.catalog import QUERIES  # noqa: E402
from sportstv_streaming_data_warehouse_spark.session import get_spark  # noqa: E402


def headline() -> list[str]:
    import bench

    return list(bench.HEADLINE)


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_shape(text: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", text))
        - len(re.findall(r"ReusedExchange", text)),
        "reused_exchanges": len(re.findall(r"ReusedExchange", text)),
        "smj": len(re.findall(r"SortMergeJoin", text)),
        "bhj": len(re.findall(r"BroadcastHashJoin", text)),
        "shj": len(re.findall(r"ShuffledHashJoin", text)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", text)),
        "cartesian": len(re.findall(r"CartesianProduct", text)),
        "python": len(re.findall(r"(Batch|Arrow)EvalPython|MapInPandas|MapInArrow", text)),
        "scans": len(re.findall(r"Scan parquet", text)),
        "sorts": len(re.findall(r"\bSort \[", text)),
    }


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("outdir", help="directory for the captured plans")
    p.add_argument("tag", nargs="?", default="before")
    p.add_argument("queries", nargs="*", help="default: the headline set")
    p.add_argument("--iters", type=int, default=3)
    a = p.parse_args()
    tag, iters, outdir = a.tag, a.iters, a.outdir
    names = a.queries or headline()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)

    spark = get_spark(app_name="measure")
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    # same warmup as bench.py
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def run_full(name: str) -> None:
        df = QUERIES[name](spark, sf_dir)
        df.select(
            F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("h")
        ).collect()

    results: dict[str, float] = {}
    shapes: dict[str, dict] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"measure:{tag}:{name}")
        df = QUERIES[name](spark, sf_dir)
        text = plan_text(df)
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as f:
            f.write(text)
        shapes[name] = plan_shape(text)
        run_full(name)  # warm-up, discarded
        times = []
        for _ in range(iters):
            t0 = time.perf_counter()
            run_full(name)
            times.append(time.perf_counter() - t0)
        results[name] = round(statistics.median(sorted(times)[:3]), 3)
        print(
            json.dumps({"q": name, "sec": results[name], "shape": shapes[name]}),
            file=sys.stderr,
            flush=True,
        )
    print(json.dumps({"tag": tag, "total": round(sum(results.values()), 3), "queries": results}))
    spark.stop()


if __name__ == "__main__":
    main()
