"""What every workload shares: locating and importing the program,
starting the SparkSession, the timed closed loop, and the run record."""

from __future__ import annotations

import os
import statistics
import sys
import time

#: the checkout root (this file lives in <root>/perfbench/)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: driver heap for the benchmark's local session, fixed (initial = max)
#: so the JVM's footprint does not depend on when the collector grows the
#: heap. The program's default (16g) exceeds the RAM of small boxes; the
#: benchmark's inputs need far less.
DRIVER_MEM = "2g"

#: JVM options for steadiness, measured on a 4-core box:
#: - C1 only. With the default tiered C2 compiler a reload keeps getting
#:   faster for 8-15 ops (over a minute), longer than a run can spend
#:   warming up; with C1 alone it is flat from the second op on, at
#:   about 1.45x the C2 steady time.
#: - Parallel GC. Under G1, whole processes landed in a slow mode (JVM
#:   CPU per reload 6.3-8.0 s against 4.9-5.3 s); under Parallel GC,
#:   4.8-6.0 s in every process.
#: Figures are comparable between commits, not with a default JVM.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:+UseParallelGC"

#: the drift self-check's tolerance: the last third of a run's timed ops
#: may sit at most this share below the first third. Cycle times move by
#: about 15% from one cycle to the next on a shared 4-core box (40 runs
#: gave ratios of 0.81-1.05); a missing or much too short warm-up shows
#: far beyond this (a cold reload takes 4-5x a warm one).
DRIFT_TOLERANCE = 0.35

#: the session is started this many times per run and the median start
#: counted in set-up (the first start also launches the JVM)
SETUP_REPEATS = 3


def import_program():
    """Make the checkout's program importable here and in Spark's Python
    workers (which inherit PYTHONPATH), then import it. Raises
    ImportError when the program is not in the checkout."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + paths)
    import sportstv_streaming_data_warehouse_spark  # noqa: F401


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work_dir: str):
    """A fresh local[nproc] session with the program's own defaults."""
    from sportstv_streaming_data_warehouse_spark.session import get_spark

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep Spark's scratch space and the JVM's temp files inside
            # the run's work directory
            "spark.local.dir": work_dir,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work_dir} -XX:-UsePerfData "
                f"-Xms{DRIVER_MEM} {JVM_OPTS}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def closed_loop(seconds: float, cycle, cpu_s) -> tuple[list[float], list[float]]:
    """Call ``cycle(i)`` back to back; return each call's wall time (ms)
    and CPU time (s, from the cumulative ``cpu_s()``). Another cycle
    starts only while the median cycle so far still fits in
    ``seconds``; there is always at least one."""
    times: list[float] = []
    cpus: list[float] = []
    t0 = time.perf_counter()
    while not times or (
        time.perf_counter() - t0 + statistics.median(times) / 1000 <= seconds
    ):
        c = cpu_s()
        t = time.perf_counter()
        cycle(len(times))
        times.append((time.perf_counter() - t) * 1000)
        cpus.append(cpu_s() - c)
    return times, cpus


def timed(fn):
    """(result, milliseconds) of one call."""
    t0 = time.perf_counter()
    out = fn()
    return out, (time.perf_counter() - t0) * 1000


class Tally:
    """Attempted / failed op counts plus the reasons for failures."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, why: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(why)
        return ok
