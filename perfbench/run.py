"""Benchmark entry point.

    python3 perfbench/run.py --workload warehouse_batch --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

One workload per process, each on a fresh ``local[nproc]`` SparkSession.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it is a detail
record: every timing with its sample count and the highest percentile
the sample supports, set-up repetitions, the drift self-check and any
failure reasons. ``--workload all`` runs every workload untraced and
then traced, each in its own process, and reports tracing overhead.

Exit status is 0 only for a run whose outputs all checked correct; a
checkout without the program exits 2 before printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
from stats import check_metric_name, drift, timing_record  # noqa: E402
from tracing import ProcessProbe, SparkProbe, SpanRecorder, self_times  # noqa: E402

WORKLOADS = ("warehouse_batch", "catalog_mix")

#: (name, unit) of every end-to-end metric, in BENCHMARK.json order
END_TO_END = (
    ("setup_s", "s"),
    ("peak_rss_mb", "MiB"),
    ("cycle_s", "s"),
    ("op_ms", "ms"),
    ("cycle_cpu_s", "s"),
)


def _catalog_layers():
    from catalog_mix import MIX

    for q in MIX:
        yield f"plans.catalog.{q}.ms", "ms"
        yield f"plans.catalog.{q}.jobs", "count"


#: (name, unit) of every per-layer metric; a workload that does not
#: exercise a layer reports 0 for it
PER_LAYER = (
    ("session.start_s", "s"),
    ("spark.jobs_per_op", "count"),
    ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("jvm.gc_ms_per_op", "ms"),
    ("jvm.heap_peak_mb", "MiB"),
    ("trace.cycle_ms", "ms"),
    ("sources.read_sqlite.ms", "ms"),
    ("sources.read_sqlite.rows", "count"),
    ("sources.csv.ms", "ms"),
    ("sources.csv.rows", "count"),
    ("plans.star.enrich.ms", "ms"),
    ("plans.star.build_fact.ms", "ms"),
    ("plans.star.write_fact.ms", "ms"),
    ("plans.star.validate.ms", "ms"),
    ("plans.star.enrich.kept_ratio", "ratio"),
    ("plans.star.fact_rows", "count"),
    ("plans.star.fact_files", "count"),
    ("plans.star.fact_bytes", "bytes"),
    ("plans.report.streaming_by_sport.ms", "ms"),
    ("plans.report.top_markets.ms", "ms"),
    ("plans.report.yoy_growth.ms", "ms"),
    *_catalog_layers(),
    ("operators.dedup.pairs_cross.ms", "ms"),
    ("operators.dedup.candidate_pairs", "count"),
    ("operators.dedup.accept_ratio", "ratio"),
)


class Context:
    """What a workload needs from the harness: the work directory, the
    span recorder, the repeated set-up, and (traced runs only) the
    outside readers."""

    def __init__(self, work: str, traced: bool):
        self.work = work
        #: survives the run: results that depend only on fixed inputs
        self.cache = os.path.join(common.ROOT, ".perfbench_cache")
        self.traced = traced
        self.rec = SpanRecorder(enabled=traced)
        self.spark = None
        self.starts: list[float] = []
        self.warm_t0 = self.warm_s = None
        self.probe = None
        self.proc = None
        self.op_counts: list[dict] = []

    def setup(self) -> None:
        """Start the session SETUP_REPEATS times (the first start launches
        the JVM; later ones restart the SparkContext in it) and keep the
        last one. The workload's warm-up follows; set-up time is the
        median start plus that warm-up."""
        for i in range(common.SETUP_REPEATS):
            if self.spark is not None:
                self.spark.stop()
            t = time.perf_counter()
            self.spark = common.start_session(self.work)
            self.starts.append(time.perf_counter() - t)
        self.warm_t0 = time.perf_counter()
        probe = SparkProbe(self.spark)
        self.proc = ProcessProbe(probe.jvm_pid())
        if self.traced:
            self.probe = probe

    def warmed(self) -> None:
        """Mark the end of the warm-up: the first timed op starts now."""
        self.warm_s = time.perf_counter() - self.warm_t0
        self.op_counts.clear()

    def group(self):
        """Count the block's Spark jobs/stages/tasks in a traced run."""
        return self._counted() if self.probe else nullcontext({})

    @contextmanager
    def _counted(self):
        with self.probe.job_group() as counts:
            yield counts
        self.op_counts.append(counts)

    def cpu_s(self) -> float:
        """CPU seconds used so far by the Spark JVM, its Python workers
        and this driver process."""
        return self.proc.cpu_s() + time.process_time()

    def gc_ms(self) -> float:
        return self.probe.gc_ms() if self.probe else 0.0


def _workload(name):
    if name == "warehouse_batch":
        import warehouse as mod
    else:
        import catalog_mix as mod
    return mod


def _stop_spark(spark, pids) -> None:
    """Stop the session, shut the JVM down and wait for it and its
    Python workers to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 15
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)


def run_one(name: str, seed: int, seconds: float, traced: bool) -> int:
    try:
        common.import_program()
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
        return 2

    work_root = os.path.join(common.ROOT, ".perfbench_work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{name}-", dir=work_root)
    os.environ["TMPDIR"] = work
    ctx = Context(work, traced)
    try:
        res = _workload(name).run(seed, seconds, ctx)
        peak_mb = ctx.proc.peak_mb()
        heap_mb = ctx.probe.heap_peak_mb() if ctx.probe else 0.0
        pids = list(ctx.proc.hwm_kb)
        _stop_spark(ctx.spark, pids)
        ctx.spark = None
        # the JVM and the workers it reaped, now that it has exited
        usage = resource.getrusage(resource.RUSAGE_CHILDREN)
        spark_cpu_s = usage.ru_utime + usage.ru_stime
    finally:
        if ctx.spark is not None:
            try:
                _stop_spark(ctx.spark, list(ctx.proc.hwm_kb) if ctx.proc else [])
            except Exception as exc:  # the run already failed; report both
                print(f"perfbench: stopping Spark failed: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass

    tally = res["tally"]
    d = drift(res["cycle_ms"], common.DRIFT_TOLERANCE)
    med = statistics.median
    e2e = {
        "setup_s": med(ctx.starts) + ctx.warm_s,
        "peak_rss_mb": peak_mb,
        "cycle_s": med(res["cycle_ms"]) / 1000,
        "op_ms": med(res["op_ms"]) if res["op_ms"] else 0.0,
        "cycle_cpu_s": med(res["cycle_cpu_s"]),
    }
    detail = {
        "workload": name,
        "seed": seed,
        "traced": traced,
        "timings": {k: timing_record(v) for k, v in res["timings"].items() if v},
        "cycle_ms": timing_record(res["cycle_ms"]),
        "cycle_ms_each": res["cycle_ms"],
        "cycle_cpu_s_each": res["cycle_cpu_s"],
        "session_starts_s": ctx.starts,
        "warm_up_s": ctx.warm_s,
        "gen_s": res["gen_s"],
        "spark_cpu_s": spark_cpu_s,
        "drift": d,
        "context": res["context"],
        "errors": tally.errors,
    }
    if traced:
        n_ops = max(1, len(ctx.op_counts))
        layers = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
        layers.update(res["layers"])
        layers.update(
            {
                "session.start_s": ctx.starts[0],
                "spark.jobs_per_op": sum(c.get("jobs", 0) for c in ctx.op_counts) / n_ops,
                "spark.stages_per_op": sum(c.get("stages", 0) for c in ctx.op_counts) / n_ops,
                "spark.tasks_per_op": sum(c.get("tasks", 0) for c in ctx.op_counts) / n_ops,
                "jvm.gc_ms_per_op": res["gc_ms"] / n_ops,
                "jvm.heap_peak_mb": heap_mb,
                "trace.cycle_ms": med(res["cycle_ms"]),
            }
        )
        metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
        out_dir = os.path.join(common.ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        span_file = os.path.join(out_dir, f"{name}-seed{seed}-spans.json")
        ctx.rec.write(span_file)
        selfs = self_times(ctx.rec.spans)
        by_name: dict[str, list[float]] = {}
        for s in ctx.rec.spans:
            by_name.setdefault(s["name"], []).append(selfs[s["id"]] * 1000)
        detail["span_file"] = os.path.relpath(span_file, common.ROOT)
        detail["self_ms_p50"] = {k: med(v) for k, v in sorted(by_name.items())}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    for n in metrics:
        check_metric_name(n)
    correct = tally.failed == 0 and d["ok"]
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


def run_all(seed: int, seconds: float) -> int:
    """Every workload, untraced then traced, each in a fresh process."""
    summary = {}
    status = 0
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.abspath(__file__),
                "--workload", name, "--seed", str(seed),
                "--seconds", str(seconds), "--trace", str(trace),
            ]
            proc = subprocess.run(cmd, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                print(f"{name} trace={trace}: exit {proc.returncode}", file=sys.stderr)
                print(proc.stderr[-3000:], file=sys.stderr)
                status = 1
            if len(lines) < 2:
                continue
            detail = json.loads(lines[-2])["detail"]
            result = json.loads(lines[-1])
            summary.setdefault(name, {})[f"trace{trace}"] = result
            print(f"== {name} (trace={trace}) correct={result['correct']} "
                  f"failed/attempted={result['failed']}/{result['attempted']}")
            for k, rec in detail["timings"].items():
                extra = "".join(f" {p}={v:.1f}" for p, v in rec.items() if p.startswith("p") and p != "p50")
                print(f"   {k:<34} p50={rec['p50']:10.1f} {rec['unit']:<4} n={rec['n']}{extra}")
            for k, m in result["metrics"].items():
                print(f"   {k:<34} {m['value']:12.4f} {m['unit']}")
        runs = summary.get(name, {})
        if "trace0" in runs and "trace1" in runs:
            plain = runs["trace0"]["metrics"]["cycle_s"]["value"] * 1000
            traced = runs["trace1"]["metrics"]["trace.cycle_ms"]["value"]
            print(f"   tracing overhead on the cycle: {traced - plain:+.1f} ms "
                  f"({100 * (traced - plain) / plain:+.1f}% of {plain:.1f} ms)")
    print(json.dumps({"all": summary}))
    return status


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if a.workload == "all":
        return run_all(a.seed, a.seconds)
    return run_one(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
