"""SparkSession factory with scale-oriented defaults.

The reference hand-rolls memory management: 50,000-row batch loops
(loadAnalyticsDB.PractII.VarmaA.R:306,464) and 500-row bulk inserts
(etl.R:388) to keep peak RAM ~800 MB. On Spark none of that machinery
exists — the scan is partitioned, aggregation is partial+final hash-agg
with spill, and AQE re-plans partition counts / skew joins at runtime.

Defaults here are tuned so the SAME code runs on local[32] test boxes and
on a 1000-executor cluster against ~100 TB:

- AQE on (runtime coalescing + skew-join splitting): the static
  ``shuffle.partitions`` is only an upper bound pre-AQE, so a generous
  value is safe at any scale.
- ``files.maxPartitionBytes`` 128 MB: bounds per-task input so a 100 TB
  scan becomes ~800K well-sized tasks rather than a few giant ones.
- session timezone pinned to UTC so date/calendar semantics are
  deterministic and match the DuckDB oracle.
- Arrow enabled for any pandas_udf path (vectorized Python transfer).

Local-mode Python workers start through the package's own daemon module
(``daemon.py``), which drops Spark's ``pyspark.zip``, ``py4j-*-src.zip``
and jar entries from the worker's ``sys.path`` before ``pyspark.daemon``
runs. pyspark's worker calls ``importlib.invalidate_caches()`` before
every task, and on Python 3.11 that makes each zip importer re-read its
whole archive directory: about 250 ms of CPU per Python task (a no-op
4-task ``mapInArrow`` job took ~300 ms against ~50 ms for a JVM-only
job on a 4-core box). The archives are dropped only when the worker's
interpreter has an unzipped pyspark and py4j of the same versions;
otherwise the path is left as Spark built it. The package root goes on
``spark.executorEnv.PYTHONPATH`` so the daemon imports whatever the
JVM's working directory is. Non-local masters keep Spark's own daemon:
their executors may not have the package installed. There is no option
for any of this.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: the directory holding this package, put on the workers' PYTHONPATH
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return f"local[{cpus}]"


def get_spark(
    app_name: str = "sportstv-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    # Arrow/pandas workers do many SMALL numpy ops; letting each of 32
    # python workers spin up a multi-threaded BLAS pool oversubscribes
    # the box ~32x and turns microsecond matmuls into lock convoys.
    # Workers inherit the driver env in local mode — pin BLAS to 1
    # thread per worker (parallelism comes from Spark tasks, not BLAS).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
        )
    master = master or _default_master()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode runs driver+executors in ONE JVM whose default heap
        # is 1g — far under what 32 concurrent tasks need; on a cluster
        # this maps to ordinary per-executor memory sizing
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    extra_conf = dict(extra_conf or {})
    if master.startswith("local"):
        pythonpath = "spark.executorEnv.PYTHONPATH"
        extra_conf[pythonpath] = os.pathsep.join(
            p for p in (_PACKAGE_ROOT, extra_conf.get(pythonpath)) if p
        )
        builder = builder.config(
            "spark.python.daemon.module", f"{__package__}.daemon"
        )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
