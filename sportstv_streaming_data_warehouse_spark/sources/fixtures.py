"""Readers for the driver-provided parquet fixtures (TESTDATA.md).

The reference's extract tier is a SQLite full scan + a chunked CSV read
(loadAnalyticsDB.PractII.VarmaA.R:321-326, 479-488). Here every source is
one declarative ``spark.read`` — column pruning and predicate pushdown
reach the parquet scan via Catalyst, and the manual LIMIT/OFFSET paging
(etl.R:306) is replaced by Spark's partitioned scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: the reader conf that changes what parquet schema inference returns
#: for ``events.ts`` (long nanos instead of TIMESTAMP(NANOS))
_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

#: path -> (stamp, inferred schema); one entry per path, so a rewritten
#: fixture replaces its entry rather than adding one
_SCHEMAS: dict[str, tuple] = {}


def _stamp(path: str):
    """(inode, size, mtime_ns) of the file at ``path``, or of every file
    under it when it is a directory; None when it cannot be stat'ed
    (missing or non-local), which turns the schema memo off."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (st.st_ino, st.st_size, st.st_mtime_ns)
        files = []
        for root, dirs, names in os.walk(path):
            dirs.sort()
            for n in sorted(names):
                f = os.path.join(root, n)
                st = os.stat(f)
                files.append((f, st.st_ino, st.st_size, st.st_mtime_ns))
        return tuple(files)
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the inferred schema memoized.

    Inference runs a Spark job over the parquet footers (a median 79 ms
    per read of the sf0.01 ``lineitem`` on a 4-core box, against 16 ms
    with the schema given), and the catalog reads the same fixtures on
    every pass. The memo is keyed by the path, the inode, size and
    mtime_ns of every file it holds, and the nanos reader conf, so a
    rewritten fixture or a changed conf is inferred again.
    """
    stamp = _stamp(path)
    if stamp is not None:
        stamp = (stamp, spark.conf.get(_NANOS_CONF, "false"))
        hit = _SCHEMAS.get(path)
        if hit is not None and hit[0] == stamp:
            return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if stamp is not None:
        _SCHEMAS[path] = (stamp, df.schema)
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, pin_utc: bool = True
) -> DataFrame:
    """Read one fixture table. Pure metadata op — stays lazy; only the
    first read of a file infers its schema (one Spark job), later reads
    of the unchanged file reuse it and run none.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects; we read it as long nanos (legacy conf, runtime-
    settable so it also works under a driver-owned session) and rebuild
    the timestamp with exact integer division — no precision loss.

    SESSION-GLOBAL SIDE EFFECT: reading ``events`` pins
    ``spark.sql.session.timeZone`` to UTC (with a warning if it changes
    a non-UTC session) — the engine's calendar semantics and every
    DuckDB oracle twin are defined in UTC, and the TIMESTAMP_NTZ cast
    below interprets wall-clock in the session zone.  Callers that
    manage their own session timezone can pass ``pin_utc=False`` to
    skip the override; they then own the consequence that ``ts``
    instants (and everything downstream: to_date renders,
    unix_timestamp arithmetic, oracle parity) follow THEIR zone.
    """
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        spark.conf.set(_NANOS_CONF, "true")
        # The NTZ branch below interprets wall-clock in the SESSION zone,
        # and the catalog's calendar/instant semantics (to_date renders,
        # unix_timestamp arithmetic, the DuckDB oracle twins) are defined
        # in UTC — so the session timezone is pinned here, which makes
        # the catalog deterministic under a driver-owned vanilla session
        # too (the repo's own factory already pins UTC). This IS a
        # session-global override; warn instead of silently rewriting a
        # deliberately non-UTC session.
        current_tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
        if pin_utc:
            if current_tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
                import warnings

                warnings.warn(
                    "load_table('events') pins spark.sql.session.timeZone to "
                    f"UTC (was {current_tz!r}): the engine's calendar "
                    "semantics and oracle parity are defined in UTC; pass "
                    "pin_utc=False to keep your session timezone",
                    stacklevel=2,
                )
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
        # Normalize ts to session-zoned TIMESTAMP whatever the reader
        # produced: long nanos under the legacy shim (rebuild with exact
        # integer division), TIMESTAMP_NTZ where newer readers map
        # TIMESTAMP(NANOS) natively (cast is value-preserving — the
        # session timezone is pinned to UTC), or already TIMESTAMP for
        # re-written copies (scale replicas, compacted sinks).
        dt = df.schema["ts"].dataType
        if isinstance(dt, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(dt, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in FIXTURE_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql access."""
    for t in FIXTURE_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def read_csv_source(spark: SparkSession, path: str, schema, header: bool = True) -> DataFrame:
    """CSV ingestion with an explicit schema (replaces etl.R:479-488's
    header/headerless chunked read — one declarative call, no paging)."""
    return spark.read.schema(schema).option("header", str(header).lower()).csv(path)
