"""Per-query plan capture and timing for optimization work.

Captures `.explain("formatted")` for headline queries into
<outdir>/<name>_<tag>.txt and times each through bench.time_query, the
bench's own timing loop (discarded warm-up, $SPARK_GRAFT_BENCH_ITERS
timed iterations with the bench's top-ups, min3-median). Usage:

    python tools/measure.py plans/r15 before              # all headline queries
    python tools/measure.py plans/r15 after q1 q2 ...     # a subset, tagged 'after'

`--conf JSON` adds session confs (get_spark's extra_conf). A config
A/B alternates the two sides in fresh processes, so box drift falls on
both equally; compare the per-pair ratios:

    for i in 1 2 3; do python tools/measure.py OUT base q1 q2
      python tools/measure.py --conf '{"spark.sql.shuffle.partitions": "64"}' OUT cand q1 q2; done

Prints one JSON line {"tag": ..., "queries": {name: sec}} plus per-query
plan-shape stats (Exchange count, join strategies, BatchEvalPython) to
stderr so plan diffs are quick to eyeball.
"""

import argparse
import json
import os
import re
import sys
from contextlib import redirect_stdout
import io

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from sportstv_streaming_data_warehouse_spark.plans.catalog import QUERIES  # noqa: E402
from sportstv_streaming_data_warehouse_spark.session import get_spark  # noqa: E402


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
    p.add_argument("--conf", type=json.loads, default={},
                   help="extra session confs as a JSON object")
    a = p.parse_args()
    tag, outdir = a.tag, a.outdir
    names = a.queries or bench.HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)

    spark = get_spark(app_name="measure", extra_conf=a.conf)
    spark.sparkContext.setLogLevel("ERROR")

    # JVM warm-up outside the timed region
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    results: dict[str, float] = {}
    shapes: dict[str, dict] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"measure:{tag}:{name}")
        df = QUERIES[name](spark, sf_dir)
        text = plan_text(df)
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as f:
            f.write(text)
        shapes[name] = plan_shape(text)
        times = bench.time_query(spark, sf_dir, name, bench.bench_iters())
        results[name] = round(bench.robust_stat(times), 3)
        print(
            json.dumps({"q": name, "sec": results[name], "shape": shapes[name]}),
            file=sys.stderr,
            flush=True,
        )
    print(json.dumps({"tag": tag, "total": round(sum(results.values()), 3), "queries": results}))
    spark.stop()


if __name__ == "__main__":
    main()
