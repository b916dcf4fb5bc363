"""Benchmark harness — times the headline catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

    python bench.py                 # the 56 HEADLINE queries
    python bench.py q1 q2 ...       # only the named queries

Reference baseline (BASELINE.md): ~51 s end-to-end ETL over 1.18M rows
(~23K rows/s) + sub-second analytics. sf0.1 (~600K lineitem rows) is the
closest fixture; `flagship_daily_rollup` and `star_fact_events` are the
ETL analogs, the rest are the analytics catalog.

Every query is timed by `time_query`, the one timing loop for headline
measurements (tools/ab_compare.py runs this file; tools/measure.py
calls the function): a DISCARDED warm-up iteration followed by
$SPARK_GRAFT_BENCH_ITERS timed iterations (default 5; historically
noisy queries get 8 via EXTRA_ITERS, and any query whose sample spread
exceeds ADAPTIVE_SPREAD earns up to ADAPTIVE_MAX_EXTRA top-up samples).
The reported per-query statistic is the MEDIAN OF THE 3 FASTEST samples
(`robust_stat`): shared-box interference is additive and strictly
positive, so the fastest samples estimate true plan cost, and the
bottom-3 median keeps one lucky outlier from setting the number — a
plain median let a 6.68x-spread window shift queries 1.5x with no code
change. Full-sample medians, per-query MIN, spreads and the raw samples
go to the detail record on stderr, and any query whose full spread
exceeds OUTLIER_SPREAD (3x) is listed in `outliers` so a contaminated
sample window is visible instead of silently recorded.

Load gating: if the 1-minute loadavg exceeds
$SPARK_GRAFT_BENCH_MAX_LOAD (default 8) the run waits and retries up to
3 times; if the box is still busy it still emits its one-line stdout
record with `"contaminated": true`.

The record reports this run and nothing else: `value`, `queries` and
the tiers are always the live measurements, `cores` is the session's
default parallelism, and the box probes (empty_job_ms, cpu_speed_probe,
ref_query_probe, mt_speed_probe) are context for a reader comparing
runs. The bench reads and writes no file in the checkout. Comparing two
commits is the job of an interleaved A/B on one box
(tools/ab_compare.py) or of perfbench/.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from sportstv_streaming_data_warehouse_spark.plans.catalog import QUERIES
from sportstv_streaming_data_warehouse_spark.session import get_spark

HEADLINE = [
    "flagship_daily_rollup",   # the ETL rollup (A1+A2, etl.R:369-413)
    "star_fact_events",        # full star fact build incl. dim joins
    "j5_fact_by_country",      # 3-way join + agg (report.Rmd:315-325)
    "a4_global_summary",       # global multi-distinct agg
    "w2_peak_dow_per_flag",    # windowed per-group argmax
    "w3_yoy_order_growth",     # lag window
    "r1_pivot_year_matrix",    # pivot
    "w_sessionize",            # gap sessionization (lag + running sum)
    "a_rollup_hierarchy",      # one-pass ROLLUP
    "f_json_extract",          # JSON props extraction
    "x_asof_join_last_signup", # as-of join (union + window composition)
    "x_range_join_value_bands",# banded interval join
    "x_dedup_exact",           # extended: exact dedup
    "x_dedup_minhash_lsh",     # extended: MinHash LSH near-dup
    "x_knn_bruteforce",        # extended: cosine top-k
    "x_text_stats",            # extended: text analysis
    "x_dedup_embedding_cosine",# extended: banded semantic dedup (r2 rewrite)
    "x_quality_deciles",       # extended: distributed NTILE (r2 rewrite)
    "x_doc_chunking",          # extended: narrow scan-speed chunking (r3)
    "x_embedding_quantize",    # extended: narrow int8 quantization (r3)
    "x_tfidf_top_terms",       # extended: TF-IDF keyword extraction (r3)
    "x_dedup_survivors",       # extended: cluster survivor manifest (r3)
    "x_bm25_topk",             # extended: BM25 lexical retrieval (r4)
    "x_global_shuffle",        # extended: deterministic training order (r4)
    "x_quality_filter_by_lang",# extended: per-lang top-20% selection (r4)
    "x_kmeans_lloyd",          # extended: one Lloyd round, broadcast model (r4)
    "x_scd2_point_in_time",    # extended: SCD2 history + as-of attribution (r4)
    "x_dedup_incremental",     # extended: batch-vs-corpus ingest dedup (r4)
    "x_passage_dedup",         # extended: narrow intra-doc passage dedup (r5)
    "x_token_entropy",         # extended: explode-heavy entropy signal (r5)
    "a_cohort_retention",      # cohort matrix: self-join on custkey (r5)
    "w_event_transitions",     # lead-window bigram matrix (r5)
    "a_pareto_abc",            # distributed rank + decimal prefix sum (r5)
    "x_copurchase_pairs",      # bounded self-join pair mining + top-k (r5)
    "w_rolling_distinct_7d",   # contribution-explode rolling distinct (r5)
    "x_unigram_surprisal",     # corpus-LM typicality scoring (r5)
    "x_hard_negatives",        # banded hard-negative mining argmax (r5)
    "x_session_features",      # session-grain feature table (r5)
    "w_active_streaks",        # gaps-and-islands per-user streaks (r5)
    "w_daily_ohlc",            # single-agg OHLC bars (r5)
    "w_forward_fill",          # LOCF over per-series date spines (r5)
    "x_bigram_surprisal",      # bigram-LM typicality scoring (r5)
    "x_weighted_sample",       # E-S weighted top-k sampling (r5)
    "x_anomaly_zscore",        # exact-variance anomaly flags (r5)
    "x_sample_exact_k",        # per-stratum row_number() <= k window (r5)
    "x_salted_skew_join",      # hot-key salted enrichment join (r6)
    "x_heavy_hitters",         # two-round Misra-Gries exact heavy hitters (r6)
    "h_sketch_rollup_hll",     # mergeable HLL weekly rollup (r6)
    "w_event_sequences",       # per-user behavior trajectories (r6)
    "q_out_of_order_audit",    # distributed running-max lateness audit (r6)
    "x_cascade_delete_plan",   # GDPR cascade impact manifest (r6)
    # one timed representative per post-r6 tier, so the rounds 7-12
    # operators get regression coverage
    "x_knn_ivfpq_recall",      # IVF x PQ ANN + recall scorecard (r9/r10)
    "x_bpe_top_pairs",         # BPE round-0 pair statistics (r11)
    "x_pack_context",          # context-window packing layout (r11)
    "x_decontam_bloom",        # Bloom-screened decontamination (r11)
    "s_near_dup_gate_grain",   # streaming near-dup gate, two-batch replay (r12)
]

# Queries whose history shows multi-second shared-box variance get more
# timed iterations so one slow process window cannot set the median.
EXTRA_ITERS = {
    "x_quality_deciles": 8,
    "x_dedup_embedding_cosine": 8,
    "x_dedup_survivors": 8,
    "x_global_shuffle": 8,
    "x_dedup_minhash_lsh": 8,
    "x_range_join_value_bands": 8,
    "x_knn_bruteforce": 8,
    "x_hard_negatives": 8,
}
# max/min spread beyond which a query's sample is flagged as contaminated
OUTLIER_SPREAD = 3.0
# adaptive top-up (round-6 verdict task 4): if a query's full-sample
# spread exceeds this after its base iterations, keep sampling (up to
# ADAPTIVE_MAX_EXTRA more) — one slow process window then costs extra
# samples instead of poisoning the reported statistic
ADAPTIVE_SPREAD = 1.5
ADAPTIVE_MAX_EXTRA = 4


def robust_stat(times: list[float]) -> float:
    """Median of the 3 fastest samples. Shared-box interference is
    additive and strictly positive, so the fastest samples are the best
    estimate of true plan cost; taking the median of the bottom 3 (not
    the raw min) keeps one lucky cache hit from setting the number.
    Round-6 verdict: plain median let a 6.68x-spread window shift
    queries by 1.5x with no code change."""
    k = sorted(times)[:3]
    return statistics.median(k)


def cpu_speed_probe() -> float:
    """Seconds for a fixed pure-Python workload — a direct measure of
    effective CPU speed. Round-8 lesson: three same-code runs measured
    42.4 / 43.5 / 52.4 s with loadavg_1m as low as 0.2 at start — the
    contention was hypervisor-level (invisible to THIS guest's loadavg),
    so the load gate cannot see it. The probe pins the box's speed at
    both ends of the run; compare probes before comparing query times
    across rounds (a 1.2x probe ratio explains a 1.2x uniform query
    inflation — noise, not regression)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(5_000_000):
        acc += i ^ (i >> 3)
    assert acc != 0
    return round(time.perf_counter() - t0, 3)


def spark_ref_probe(spark, sf_dir: str) -> float | None:
    """Seconds (min of 3) for a FROZEN Spark reference workload — scan
    lineitem, one hash aggregate. Round-11 lesson: a run's queries read
    a uniform 1.37x slower while the empty-job floor (1.17x) and the cpu
    probe (1.05x) stayed nearly flat — that inflation mode lives in the
    IO/shuffle path, which neither an empty job nor a pure-Python loop
    exercises. This probe has the same execution shape as the workload
    (parquet scan → whole-stage codegen → hash agg) with none of the
    engine's own code in it, so it moves with the box, never with a code
    change.
    FROZEN: never edit this query — cross-round comparability is the
    entire point."""
    try:
        from pyspark.sql import functions as F

        def once() -> float:
            t0 = time.perf_counter()
            (
                spark.read.parquet(f"{sf_dir}/lineitem.parquet")
                .groupBy("l_returnflag")
                .agg(F.sum("l_quantity"), F.count("*"))
                .collect()
            )
            return time.perf_counter() - t0

        once()  # warm
        return round(min(once() for _ in range(3)), 3)
    except Exception:
        return None


def mt_speed_probe(spark) -> float | None:
    """Seconds (min of 3) for a fixed 32-way codegen workload — the
    MULTI-CORE throughput signal. The bench's own round-9 note (and the
    round-11 48.7s-vs-37.8s quiet-signals run) document the dominant
    inflation mode on this box: hypervisor contention that slows
    parallel stages 15-30% while the scheduling floor, the
    single-threaded python loop, AND the small reference scan all stay
    flat. A 32-partition fixed-work aggregate saturates every core the
    headline queries use, so it moves with exactly that mode. Its 32
    partitions run in ceil(32 / cores) waves, so it reads slower on a
    smaller session by design: compare it only between runs with the
    same `cores`. FROZEN like the other probes."""
    try:
        def once() -> float:
            t0 = time.perf_counter()
            spark.range(0, 1_024_000_000, 1, 32).selectExpr(
                "sum(id * 3 + 1)"
            ).collect()
            return time.perf_counter() - t0

        once()  # warm (JIT on the codegen'd loop)
        return round(min(once() for _ in range(3)), 3)
    except Exception:
        return None


def hash_force(df) -> None:
    """Force the COMPLETE plan of `df`: hash every column of every
    output row into one scalar. count() is NOT a valid probe — Catalyst
    prunes every expression count doesn't need, including aggregate
    VALUES under a count-of-groupBy (measured: the flagship rollup timed
    0.3 s under count vs 1.9 s forced — count skipped the exact
    countDistinct and the decimal sums) and whole projections of narrow
    queries. The noop sink agrees with this probe within noise; the
    hash-reduce is kept because it also exercises every output value
    without write-path configuration."""
    from pyspark.sql import functions as F

    df.select(
        F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("h")
    ).collect()


def bench_iters() -> int:
    """Base timed iterations per query: $SPARK_GRAFT_BENCH_ITERS, default 5."""
    return int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "5"))


def time_query(spark, sf_dir: str, name: str, iters: int) -> list[float]:
    """Timed samples (seconds) of catalog query `name` at `sf_dir`, each
    forcing its complete plan through `hash_force`. A discarded warm-up
    absorbs plan compilation and page-cache faults; then
    max(iters, EXTRA_ITERS[name]) timed runs, topped up by up to
    ADAPTIVE_MAX_EXTRA more while the max/min spread exceeds
    ADAPTIVE_SPREAD, so a noisy window costs extra samples instead of
    poisoning `robust_stat`."""

    def timed() -> float:
        t0 = time.perf_counter()
        hash_force(QUERIES[name](spark, sf_dir))
        return time.perf_counter() - t0

    timed()  # discarded warm-up
    base = max(iters, EXTRA_ITERS.get(name, 0))
    times = [timed() for _ in range(base)]
    while (
        max(times) / min(times) > ADAPTIVE_SPREAD
        and len(times) < base + ADAPTIVE_MAX_EXTRA
    ):
        times.append(timed())
    return times


#: hard cap on the emitted one-line stdout record
RECORD_MAX_BYTES = 262144


def emit_record(out: dict) -> str:
    """Serialize the stdout record under the one-line JSON contract
    (round-15, VERDICT r14 item 4 — BENCH_r13's record failed the
    driver's parse and silently cost the round its PERF table):

    - the result is a SINGLE line (no embedded newlines anywhere —
      json.dumps never emits raw newlines, asserted anyway);
    - it round-trips through json.loads (asserted before printing, so a
      non-serializable value fails HERE, loudly, not driver-side);
    - it stays under RECORD_MAX_BYTES: an oversized record raises
      ValueError rather than printing a line the driver may truncate.
      Every key is a measurement of this run, so none may be dropped."""
    line = json.dumps(out)
    size = len(line.encode("utf-8"))
    if size > RECORD_MAX_BYTES:
        raise ValueError(
            f"bench record is {size} bytes, over the {RECORD_MAX_BYTES}-byte cap"
        )
    assert "\n" not in line and "\r" not in line
    parsed = json.loads(line)
    assert parsed["metric"] == out["metric"] and parsed["queries"]
    return line


def wait_for_quiet_box(max_load: float, attempts: int = 3, wait_s: int = 30) -> bool:
    """Best-effort load gate: returns True once loadavg_1m <= max_load,
    False if the box stayed busy through all attempts."""
    for i in range(attempts):
        if os.getloadavg()[0] <= max_load:
            return True
        if i < attempts - 1:
            time.sleep(wait_s)
    return False


GOLDEN_N_SQLITE = 1_083_131  # the reference's published source sizes
GOLDEN_N_CSV = 98_732        # (README.md:204-206; tests/test_golden_funnel.py)


def run_golden_tier(spark) -> dict:
    """One cold extract→transform→load run at the reference's own
    1,181,863-row scale (see the call site for the full rationale).
    Setup — corpus generation and planting it as a SQLite file + CSV —
    is untimed (the reference's sources already existed on disk); the
    timed region is exactly what its ~51 s covers: read both sources,
    build the star schema, land the fact."""
    import shutil
    import sqlite3
    import tempfile

    from sportstv_streaming_data_warehouse_spark.plans import star
    from sportstv_streaming_data_warehouse_spark.sources.sqlite import read_sqlite
    from tests.fixtures_ref import generate

    workdir = tempfile.mkdtemp(prefix="bench-golden-")
    try:
        # ---- untimed setup: plant the operational sources ----
        corpus = generate(n_sqlite=GOLDEN_N_SQLITE, n_csv=GOLDEN_N_CSV)
        db_path = os.path.join(workdir, "operational.db")
        with sqlite3.connect(db_path) as con:
            # transaction_id is an INTEGER PRIMARY KEY (SQLite rowid
            # alias — costs nothing to maintain), as any operational DB
            # would have. Without it each shard reader's
            # `transaction_id BETWEEN lo AND hi` predicate full-scans
            # the whole table — O(shards x N), measured 1.55x
            # SUPER-linear at a 10x corpus (SCALE.md round-13 linearity
            # run). With it a shard reads only its own slice: O(N).
            con.execute(
                "CREATE TABLE streaming_txns ("
                "transaction_id INTEGER PRIMARY KEY, user_id INTEGER, "
                "asset_id TEXT, streaming_date TEXT, "
                "minutes_streamed INTEGER, completed INTEGER)"
            )
            corpus["streaming_txns"].to_sql(
                "streaming_txns", con, index=False, chunksize=50_000,
                if_exists="append",
            )
        csv_path = os.path.join(workdir, "activity.csv")
        corpus["csv_txns"].to_csv(csv_path, index=False)
        # a 20K-row CSV slice for the warm pass, so warming compiles the
        # plans without first running the full CSV leg
        warm_csv = os.path.join(workdir, "activity_warm.csv")
        corpus["csv_txns"].head(20_000).to_csv(warm_csv, index=False)
        csv_schema = (
            "transaction_id long, subscriber_id long, user_id long, "
            "asset_id string, streaming_date string, "
            "streaming_start_time string, minutes_streamed long, "
            "device_type string, quality_streamed string, completed string"
        )
        dims = {
            k: spark.createDataFrame(corpus[k])
            for k in ("subscribers", "postal2city", "cities", "countries", "assets")
        }
        n_rows = GOLDEN_N_SQLITE + GOLDEN_N_CSV
        core = [
            "transaction_id", "user_id", "asset_id",
            "streaming_date", "minutes_streamed", "completed",
        ]

        def etl(
            n_parts: int,
            out: str,
            predicate: str | None = None,
            csv: str | None = None,
            timings: dict | None = None,
        ) -> None:
            txns = read_sqlite(
                spark, db_path, "streaming_txns",
                columns=core,
                predicate=predicate,
                partition_column="transaction_id",
                lower_bound=1, upper_bound=GOLDEN_N_SQLITE,
                num_partitions=n_parts,
            )
            csv_txns = (
                spark.read.schema(csv_schema)
                .option("header", "true")
                .csv(csv or csv_path)
            )
            star.run_etl(
                spark,
                streaming_txns=txns,
                csv_txns=csv_txns,
                subscribers=dims["subscribers"],
                postal2city=dims["postal2city"],
                cities=dims["cities"],
                countries=dims["countries"],
                assets=dims["assets"],
                out_path=out,
                timings=timings,
            )

        # untimed pass over 20K-row slices of BOTH sources absorbs plan
        # compilation. Honesty note: the sources were written by this
        # process seconds earlier, so the timed run below reads a warm
        # page cache either way — golden_tier measures extract/transform/
        # load COMPUTE throughput, the same footing as the reference's
        # 51 s (its R script reads a just-loaded local SQLite file), not
        # cold-disk I/O.
        warm = os.path.join(workdir, "warm_fact")
        etl(2, warm, predicate="transaction_id <= 20000", csv=warm_csv)

        t0 = time.perf_counter()
        out = os.path.join(workdir, "fact")
        stage: dict[str, float] = {}
        # one SQLite shard per core the session actually has — the
        # number the record reports as `cores`
        etl(spark.sparkContext.defaultParallelism, out, timings=stage)
        wall = round(time.perf_counter() - t0, 2)
        # per-stage walls (round-12 verdict task 4): since the round-13
        # Observation fusion the timed region has ONE action — the
        # fused enrich+aggregate+write job (fact_write_sec, with the
        # date bounds riding as Observation metrics) — plus the
        # residual (other_sec: plan analysis, dim Arrow transfer,
        # parquet re-open). A 7-10x bimodal sample still says WHICH
        # part absorbed the spike.
        stage["other_sec"] = round(
            wall - sum(v for v in stage.values()), 2
        )
        # written fact layout: a file-count excursion (e.g. a changed
        # partitioning default) would explain a slow write on a quiet box
        fact_files = sum(
            1
            for _, _, files in os.walk(out)
            for f in files
            if f.endswith(".parquet")
        )

        fact = spark.read.parquet(out)
        v = star.validate_fact(fact, n_rows)
        return {
            "etl_sec": wall,
            "stage_sec": stage,
            "fact_files": fact_files,
            "rows_per_sec": round(n_rows / wall),
            "input_rows": n_rows,
            "fact_rows": fact.count(),
            "retention_pct": v["retention_pct"],
            "reference_sec": 51.0,         # BASELINE.md published numbers
            "reference_rows_per_sec": 23_000,
        }
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def main(names: list[str] | None = None) -> None:
    """Time `names` (default: HEADLINE) and the two tiers; print the record."""
    names = names or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    iters = bench_iters()
    max_load = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "8"))
    loadavg_pre_gate = [round(x, 2) for x in os.getloadavg()]
    quiet = wait_for_quiet_box(max_load)
    # captured AFTER the gate's wait: describes the actual sample window
    # (the pre-gate value is kept separately so a gated-then-clean run
    # doesn't read as contaminated — round-5 review finding)
    loadavg_start = [round(x, 2) for x in os.getloadavg()]
    speed_probe_start = cpu_speed_probe()
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="sportstv-bench")
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    # JVM/codegen warmup outside the timed region: exercise the parquet
    # reader + hash-agg + distinct codepaths on the tiny SF so the timed
    # queries measure steady-state execution, not first-plan compilation
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    QUERIES["flagship_daily_rollup"](spark, "/root/testdata/sf0.001").count()
    QUERIES["x_dedup_minhash_lsh"](spark, "/root/testdata/sf0.001").count()

    per_query: dict[str, float] = {}
    per_query_min: dict[str, float] = {}
    per_query_spread: dict[str, float] = {}
    raw_samples: dict[str, list[float]] = {}
    outliers: dict[str, float] = {}
    per_query_median_all: dict[str, float] = {}
    for name in names:
        times = time_query(spark, sf_dir, name, iters)
        bottom3 = sorted(times)[:3]
        per_query[name] = round(robust_stat(times), 3)
        per_query_median_all[name] = round(statistics.median(times), 3)
        per_query_min[name] = round(min(times), 3)
        # reported spread is over the SAMPLES THE STATISTIC USES (bottom
        # 3); the full-sample spread stays in raw_samples / outliers for
        # diagnosing how noisy the window was
        per_query_spread[name] = round(max(bottom3) / min(bottom3), 2)
        raw_samples[name] = [round(t, 3) for t in times]
        full_spread = round(max(times) / min(times), 2)
        if full_spread > OUTLIER_SPREAD:
            # fail-loud: record the spread so a contaminated window is
            # visible in the JSON rather than silently folded into total
            outliers[name] = full_spread

    total = round(sum(per_query.values()), 3)
    # records/s of the ETL-analog rollup, comparable to BASELINE.md's
    # ~23K rows/s reference throughput (None when the rollup was not timed)
    from sportstv_streaming_data_warehouse_spark.sources.fixtures import load_table

    n_rows = load_table(spark, sf_dir, "lineitem").count()
    rollup_sec = per_query.get("flagship_daily_rollup")
    throughput = round(n_rows / rollup_sec) if rollup_sec else None
    # a stdout tail capture could not hold a final line carrying 45
    # queries x (median + min + spread) dicts (BENCH_r05.json recorded
    # parsed=null). The stdout contract stays ONE compact JSON line
    # (totals + per-query statistics); the DETAIL record (min, spread,
    # outliers, raw samples, loadavg) goes to stderr.

    # Report-tier bench (round-7 verdict task #4): BASELINE.md's <100 ms
    # claim is measured against the reference's PRE-AGGREGATED MySQL
    # fact (createStarSchema schema.R:151-168) — the headline numbers
    # above instead pay a raw sf-scale scan per query, so they are not
    # apples-to-apples with that claim. Here the star fact materializes
    # ONCE (that cost is the ETL's, reported separately) and the three
    # published report tables are timed over the materialized daily
    # grain — the reference's actual report-serving setup.
    import shutil
    import tempfile

    from sportstv_streaming_data_warehouse_spark.plans import report as R

    # guarded end-to-end: a failure here must not discard the completed
    # headline measurements above (the stdout record still prints), and
    # the materialized fact must not leak in /tmp (round-8 review finding)
    fact_dir = tempfile.mkdtemp(prefix="bench-report-fact-")
    try:
        t0 = time.perf_counter()
        QUERIES["star_fact_events"](spark, sf_dir).write.mode(
            "overwrite"
        ).parquet(fact_dir)
        materialize_sec = round(time.perf_counter() - t0, 3)
        fact = (
            spark.read.parquet(fact_dir)
            .withColumnRenamed("event_type", "sport_name")
            .withColumnRenamed("txn_count", "transaction_count")
            .withColumnRenamed("total_value", "total_minutes_streamed")
            .withColumnRenamed("country", "country_id")
            # the reference's <100 ms probes hit MySQL's BUFFER POOL —
            # the fact pages are memory-resident across its report
            # queries. The Spark analog is caching the (tiny, ~3,750-row)
            # fact so each probe measures the aggregation, not a fresh
            # parquet file-listing + footer read per query (round-9
            # verdict task 4: streaming_by_sport probed 124.6 ms)
            .cache()
        )
        fact_rows = fact.count()  # also materializes the cache
        report_probes = {
            "streaming_by_sport": lambda: R.streaming_by_sport(fact, formatted=False),
            "top_markets": lambda: R.top_markets(fact, formatted=False),
            "yoy_growth": lambda: R.yoy_growth(fact, formatted=False),
        }
        report_ms: dict[str, float] = {}
        for rname, build in report_probes.items():
            build().collect()  # discarded warm-up (plan compilation)
            rtimes = []
            for _ in range(iters):
                t0 = time.perf_counter()
                build().collect()
                rtimes.append(time.perf_counter() - t0)
            report_ms[rname] = round(robust_stat(rtimes) * 1000, 1)
        report_tier = {
            "queries_ms": report_ms,
            "materialize_sec": materialize_sec,
            "fact_rows": fact_rows,
        }
    except Exception as exc:  # fail-visible, not fail-total
        report_tier = {"error": f"{type(exc).__name__}: {exc}"[:200]}
    finally:
        try:
            fact.unpersist()
        except Exception:
            pass
        shutil.rmtree(fact_dir, ignore_errors=True)

    # Golden tier (round-9 verdict task 3): the reference's published
    # number — ~51 s end-to-end ETL over 1,181,863 rows (~23K rows/s,
    # BASELINE.md) — measured at the reference's OWN scale instead of
    # extrapolated from sf0.1: the reference-shaped corpus is planted
    # into a real SQLite file + a real CSV (the reference's two
    # operational sources, untimed setup), then ONE timed cold run of
    # extract (sharded read_sqlite + schema'd CSV read) → transform
    # (star.run_etl) → load (fact written to parquet). Plan compilation
    # is absorbed by an untimed small-scale pass first — the reference's
    # 51 s is dominated by data movement, not R parse time.
    # SPARK_GRAFT_BENCH_GOLDEN=0 skips (local smoke runs).
    if os.environ.get("SPARK_GRAFT_BENCH_GOLDEN", "1") == "0":
        golden_tier = {"skipped": "SPARK_GRAFT_BENCH_GOLDEN=0"}
    else:
        try:
            golden_tier = run_golden_tier(spark)
        except Exception as exc:  # fail-visible, not fail-total
            golden_tier = {"error": f"{type(exc).__name__}: {exc}"[:200]}

    # Spark per-job scheduling floor (round-9 verdict task 6): the cost
    # of an EMPTY job on this session — DAG submit, one task, result
    # fetch. The report tier cannot go below this number no matter how
    # small the fact is, so the <100 ms comparison against the
    # reference's MySQL claim should be read as "at Spark's floor", not
    # "X ms of aggregation work" (BASELINE.md carries the standing note).
    try:
        spark.range(1).count()  # warm: plan compilation paid once
        ej: list[float] = []
        for _ in range(5):
            t0 = time.perf_counter()
            spark.range(1).count()
            ej.append(time.perf_counter() - t0)
        empty_job_ms = round(statistics.median(ej) * 1000, 1)
    except Exception:
        empty_job_ms = None

    # round 11+: frozen Spark reference workload (see spark_ref_probe)
    # — the IO/shuffle-path box-speed signal, measured AFTER the sweep
    # like the empty-job floor so placement is consistent across rounds
    ref_probe = spark_ref_probe(spark, sf_dir)
    # round 11+: 32-way fixed-work probe (see mt_speed_probe) — the
    # multi-core throughput signal
    mt_probe = mt_speed_probe(spark)

    detail = {
        "metric": "headline_queries_detail",
        "queries_min": per_query_min,
        "min_total": round(sum(per_query_min.values()), 3),
        "queries_median_all": per_query_median_all,
        "queries_spread": per_query_spread,
        "outlier_spread_threshold": OUTLIER_SPREAD,
        "outliers": outliers,
        # every timed sample, so spread questions are answerable after
        # the fact without widening the stdout line
        "queries_times": raw_samples,
        # shared-box context: 1/5/15-min load averages at start and end of
        # the run, so a contaminated sample window is diagnosable from the
        # record alone
        "loadavg_start": loadavg_start,
        "loadavg_pre_gate": loadavg_pre_gate,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "max_load_threshold": max_load,
        # fixed-work CPU probes bracketing the run (see cpu_speed_probe):
        # cross-round query ratios should be read NEXT TO the probe
        # ratio — hypervisor-level contention is invisible to loadavg
        "cpu_speed_probe_start": speed_probe_start,
        "cpu_speed_probe_end": cpu_speed_probe(),
    }
    record = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "rollup_rows_per_sec": throughput,
        "rollup_input_rows": n_rows,
        "iters": iters,
        # the session's default parallelism: the core count every number
        # in this record was measured on
        "cores": cores,
        "max_spread": max(per_query_spread.values()),
        "n_outliers": len(outliers),
        # round 8+: the pre-aggregated report-serving path, comparable
        # to BASELINE.md's <100 ms pre-aggregated probes (headline
        # queries pay a raw sf-scale scan and are NOT comparable to it)
        "report_tier": report_tier,
        # round 9+: one cold ETL run at the reference's own 1.18M-row
        # scale, directly comparable to its 51 s / 23K rows/s (see
        # run_golden_tier)
        "golden_tier": golden_tier,
        # round 8+: fixed-work CPU probe (seconds; see cpu_speed_probe)
        # — divide cross-round query ratios by the probe ratio before
        # calling anything a regression
        "cpu_speed_probe": speed_probe_start,
        # round 10+: per-job scheduling floor (ms) — the report tier's
        # hard lower bound on this box; see the BASELINE.md note
        "empty_job_ms": empty_job_ms,
        # round 11+: frozen scan+hash-agg reference workload (s) — the
        # IO/shuffle-path box-speed signal (see spark_ref_probe)
        "ref_query_probe": ref_probe,
        # round 11+: 32-way fixed-work codegen aggregate (s) — the
        # multi-core throughput signal (see mt_speed_probe), the box's
        # documented dominant inflation mode; scales with `cores`
        "mt_speed_probe": mt_probe,
    }
    if not quiet:
        # the box never went quiet: still honor the JSON-line stdout
        # contract, but mark the record
        record["contaminated"] = True

    print(json.dumps(detail), file=sys.stderr)
    # the one-line record is the contract, and it must be the LAST thing
    # on stdout: stop the JVM BEFORE printing so nothing Spark writes to
    # the shared stdout fd can land after (or interleave with) the line —
    # BENCH_r13's record failed the driver's parse despite rc 0, costing
    # round 14 its entire round-over-round PERF table (VERDICT r14 item 4)
    spark.stop()
    sys.stdout.flush()
    print(emit_record(record), flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
