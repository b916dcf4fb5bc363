"""warehouse_batch: the reference's own job, run in cycles.

One cycle is a full truncate-and-reload of the star fact
(``plans.star.run_etl`` over a sharded ``sources.sqlite.read_sqlite``
plus the CSV) followed by the three ``plans.report`` tables
(``formatted=True``) over a fresh read of the landed fact. Closed loop,
one client."""

from __future__ import annotations

import os
import time
from statistics import median

import pandas as pd

import gen
from common import closed_loop, timed

#: share of the reference's 1,181,863 source rows the workload loads.
#: A full-size reload takes over 15 s per op on a 4-core box, too long
#: for a run to collect enough timed ops; the generator keeps the
#: reference's shape at any scale.
SCALE = 1 / 16

#: full untimed cycles after set-up, the same on both sides of any A/B
WARMUP_CYCLES = 2

REPORTS = ("streaming_by_sport", "top_markets", "yoy_growth")


# ---------------------------------------------------------------------------
# Independent pandas computation of what the fact and reports must hold
# ---------------------------------------------------------------------------

def expected(src: dict[str, pd.DataFrame]) -> dict:
    """Totals per sport, country and year straight from the generated
    sources, with the ETL's semantics: orphan assets recovered by prefix,
    rows without a country, sport or date dropped, NULL metrics as 0."""
    csv = src["csv_txns"][gen.TXN_COLUMNS].copy()
    csv["completed"] = pd.to_numeric(csv["completed"]).astype("Int64")
    txns = pd.concat([src["streaming_txns"], csv], ignore_index=True)
    user_country = (
        src["subscribers"]
        .merge(src["postal2city"], on="postal_code")
        .merge(src["cities"], on="city_id")[["user_id", "country_id"]]
        .drop_duplicates()
    )
    assets = src["assets"]
    asset_sport = assets[assets["sport"].fillna("") != ""].set_index("asset_id")["sport"]
    prefix_sport = {p: s for s, p in gen.KNOWN_PREFIX.items()}
    for sport, prefixes in gen.RECOVERABLE_PREFIXES.items():
        prefix_sport.update({p: sport for p in prefixes})
    t = txns.merge(user_country, on="user_id", how="left")
    sport = t["asset_id"].map(asset_sport)
    recovered = t["asset_id"].str.split("-", n=1).str[0].map(prefix_sport)
    t["sport"] = sport.fillna(recovered)
    t = t.dropna(subset=["country_id", "sport", "streaming_date"])
    t = t.assign(
        minutes=t["minutes_streamed"].fillna(0).astype("int64"),
        done=t["completed"].fillna(0).astype("int64"),
        year=t["streaming_date"].str[:4].astype("int64"),
        country_id=t["country_id"].astype("int64"),
    )
    by_sport = t.groupby("sport").agg(
        streams=("minutes", "size"), minutes=("minutes", "sum"), completed=("done", "sum")
    )
    return {
        "source_rows": len(txns),
        "kept_rows": len(t),
        "by_sport": {k: tuple(int(x) for x in v) for k, v in by_sport.iterrows()},
        "by_country": {int(k): int(v) for k, v in t.groupby("country_id").size().items()},
        "by_year": {int(k): int(v) for k, v in t.groupby("year").size().items()},
    }


def _num(s: str) -> float:
    return float(s.replace(",", "").rstrip("%"))


def _close(shown: str, value: float, decimals: int) -> bool:
    """A formatted number matches ``value`` rounded to ``decimals``."""
    return abs(_num(shown) - value) <= 0.5 * 10 ** -decimals + 1e-9 * abs(value)


def check_report(name: str, rows: list, exp: dict) -> str | None:
    """None when a formatted report table matches the expected totals,
    else what differs."""
    if name == "streaming_by_sport":
        want = sorted(exp["by_sport"].items(), key=lambda kv: (-kv[1][0], kv[0]))
        if [r["sport_name"] for r in rows] != [k for k, _ in want]:
            return f"sport order {[r['sport_name'] for r in rows]}"
        for r, (_, (streams, minutes, _)) in zip(rows, want):
            hours = minutes / 60.0
            if not (
                _close(r["total_streams"], streams, 0)
                and _close(r["total_hours"], hours, 0)
                and _close(r["avg_duration_min"], hours * 60.0 / streams, 1)
            ):
                return f"sport row {r}"
    elif name == "top_markets":
        want = sorted(exp["by_country"].items(), key=lambda kv: (-kv[1], kv[0]))
        total = sum(exp["by_country"].values())
        if [r["country_id"] for r in rows] != [k for k, _ in want]:
            return f"country order {[r['country_id'] for r in rows]}"
        for r, (_, streams) in zip(rows, want):
            if not (
                _close(r["total_streams"], streams, 0)
                and _close(r["market_share"], 100.0 * streams / total, 1)
            ):
                return f"market row {r}"
    else:
        want = sorted(exp["by_year"].items())
        if [r["year"] for r in rows] != [k for k, _ in want]:
            return f"years {[r['year'] for r in rows]}"
        prev = None
        for r, (_, n) in zip(rows, want):
            growth_ok = (
                r["yoy_growth"] == "-"
                if prev is None
                else _close(r["yoy_growth"], 100.0 * (n - prev) / prev, 1)
            )
            if not (_close(r["transactions"], n, 0) and growth_ok):
                return f"year row {r}"
            prev = n
    return None


def check_fact(fact, exp: dict) -> str | None:
    """``validate_fact`` plus exact per-sport/country/year totals of the
    landed fact against the pandas computation."""
    from pyspark.sql import functions as F

    from sportstv_streaming_data_warehouse_spark.plans import star

    v = star.validate_fact(fact, exp["source_rows"])
    if not (v["week_range_ok"] and v["null_keys_ok"]):
        return f"validate_fact {v}"
    if v["fact_rows_represented"] != exp["kept_rows"]:
        return f"kept {v['fact_rows_represented']} != {exp['kept_rows']}"
    sums = [
        F.sum("transaction_count").alias("n"),
        F.sum("total_minutes_streamed").alias("m"),
        F.sum("completed_streams").alias("c"),
    ]
    by_sport = {
        r["sport_name"]: (r["n"], r["m"], r["c"])
        for r in fact.groupBy("sport_name").agg(*sums).collect()
    }
    if by_sport != exp["by_sport"]:
        return f"fact by sport {by_sport}"
    for key, want in (("country_id", "by_country"), ("year", "by_year")):
        got = {r[key]: r["n"] for r in fact.groupBy(key).agg(*sums[:1]).collect()}
        if got != exp[want]:
            return f"fact {want} {got}"
    return None


# ---------------------------------------------------------------------------
# The workload
# ---------------------------------------------------------------------------

class Warehouse:
    """Inputs planted once per run; ``bind`` attaches a session."""

    def __init__(self, seed: int, work: str):
        self.work = work
        self.src = gen.warehouse_sources(seed, SCALE)
        self.n_sqlite = len(self.src["streaming_txns"])
        self.db = os.path.join(work, "operational.db")
        self.csv = os.path.join(work, "activity.csv")
        gen.write_sqlite(self.src["streaming_txns"], self.db)
        self.src["csv_txns"].to_csv(self.csv, index=False)
        self.exp = expected(self.src)
        self.fact_path = os.path.join(work, "fact")
        self.spark = None

    def bind(self, spark) -> None:
        self.spark = spark
        self.dims = {
            k: spark.createDataFrame(self.src[k])
            for k in ("subscribers", "postal2city", "cities", "countries", "assets")
        }

    # --- the layers' public calls -------------------------------------
    def read_sqlite(self):
        from common import cores
        from sportstv_streaming_data_warehouse_spark.sources.sqlite import read_sqlite

        return read_sqlite(
            self.spark, self.db, "streaming_txns",
            columns=gen.TXN_COLUMNS,
            partition_column="transaction_id",
            lower_bound=1, upper_bound=self.n_sqlite,
            num_partitions=cores(),
        )

    def read_csv(self):
        return (
            self.spark.read.schema(gen.CSV_SCHEMA)
            .option("header", "true")
            .csv(self.csv)
        )

    def reload(self) -> None:
        from sportstv_streaming_data_warehouse_spark.plans import star

        d = self.dims
        star.run_etl(
            self.spark,
            streaming_txns=self.read_sqlite(),
            csv_txns=self.read_csv(),
            subscribers=d["subscribers"],
            postal2city=d["postal2city"],
            cities=d["cities"],
            countries=d["countries"],
            assets=d["assets"],
            out_path=self.fact_path,
        )

    def report(self, name: str, fact) -> list:
        from sportstv_streaming_data_warehouse_spark.plans import report

        return getattr(report, name)(fact, formatted=True).collect()

    # --- workload phases ------------------------------------------------
    def cycle(self, tally, ctx) -> dict:
        """One reload plus the three reports; returns their timings (ms).
        Every op counts as attempted; a raise or a mismatch counts as
        failed."""
        out = {"etl": None, "reports": {}}
        rec = ctx.rec
        with rec.span("warehouse.cycle"):
            try:
                with rec.span("plans.star.run_etl"), ctx.group():
                    _, out["etl"] = timed(self.reload)
                tally.record(True)
            except Exception as exc:
                tally.record(False, f"reload: {type(exc).__name__}: {exc}"[:300])
                return out
            fact = self.spark.read.parquet(self.fact_path)
            for name in REPORTS:
                try:
                    with rec.span(f"plans.report.{name}"), ctx.group():
                        rows, ms = timed(lambda: self.report(name, fact))
                    bad = check_report(name, [r.asDict() for r in rows], self.exp)
                    if tally.record(bad is None, f"{name}: {bad}"):
                        out["reports"][name] = ms
                except Exception as exc:
                    tally.record(False, f"{name}: {type(exc).__name__}: {exc}"[:300])
        return out

    def final_check(self, tally) -> None:
        bad = check_fact(self.spark.read.parquet(self.fact_path), self.exp)
        tally.record(bad is None, f"fact: {bad}")

    def stages(self, rec) -> dict:
        """Traced decomposition of one reload: each stage is called on
        its own and forced through a ``noop`` sink. Every forced stage
        recomputes its inputs, so a stage's time is its span minus the
        spans of the stages it consumes — an approximation of the one
        fused job ``run_etl`` actually runs."""
        from pyspark.sql import functions as F

        from sportstv_streaming_data_warehouse_spark.plans import star

        def force(df):
            df.write.format("noop").mode("overwrite").save()

        d = self.dims
        ms = {}
        counts = {}
        with rec.span("etl.stages"):
            txns = self.read_sqlite()
            with rec.span("sources.read_sqlite"):
                _, ms["sqlite"] = timed(lambda: force(txns))
            csv = self.read_csv()
            with rec.span("sources.csv"):
                _, ms["csv"] = timed(lambda: force(csv))
            counts["sqlite_rows"] = txns.count()
            counts["csv_rows"] = csv.count()
            union = txns.select(*gen.TXN_COLUMNS).unionByName(
                csv.withColumn("completed", F.col("completed").cast("int"))
                .select(*gen.TXN_COLUMNS)
            )
            asset_sport = d["assets"].filter(
                F.col("sport").isNotNull() & (F.col("sport") != "")
            ).select("asset_id", "sport")
            enriched = star.enrich_transactions(
                union,
                star.build_user_country(d["subscribers"], d["postal2city"], d["cities"]),
                asset_sport,
            )
            with rec.span("plans.star.enrich"):
                _, ms["enrich"] = timed(lambda: force(enriched))
            counts["kept_rows"] = enriched.count()
            fact = star.build_fact(enriched)
            with rec.span("plans.star.build_fact"):
                _, ms["build_fact"] = timed(lambda: force(fact))
            out = os.path.join(self.work, "stage_fact")
            with rec.span("plans.star.write_fact"):
                _, ms["write_fact"] = timed(lambda: star.write_fact(fact, out))
            landed = self.spark.read.parquet(out)
            with rec.span("plans.star.validate"):
                _, ms["validate"] = timed(
                    lambda: star.validate_fact(landed, self.exp["source_rows"])
                )
            counts["fact_rows"] = landed.count()
        files = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(out)
            for f in fs
            if f.endswith(".parquet")
        ]
        return {
            "sources.read_sqlite.ms": ms["sqlite"],
            "sources.read_sqlite.rows": counts["sqlite_rows"],
            "sources.csv.ms": ms["csv"],
            "sources.csv.rows": counts["csv_rows"],
            "plans.star.enrich.ms": max(0.0, ms["enrich"] - ms["sqlite"] - ms["csv"]),
            "plans.star.build_fact.ms": max(0.0, ms["build_fact"] - ms["enrich"]),
            "plans.star.write_fact.ms": max(0.0, ms["write_fact"] - ms["build_fact"]),
            "plans.star.validate.ms": ms["validate"],
            "plans.star.enrich.kept_ratio": counts["kept_rows"]
            / (counts["sqlite_rows"] + counts["csv_rows"]),
            "plans.star.fact_rows": counts["fact_rows"],
            "plans.star.fact_files": len(files),
            "plans.star.fact_bytes": sum(os.path.getsize(f) for f in files),
        }


def run(seed: int, seconds: float, ctx) -> dict:
    """Plant inputs, set up, warm up, then run timed cycles for
    ``seconds`` (at least one)."""
    from common import Tally

    t = time.perf_counter()
    w = Warehouse(seed, ctx.work)
    gen_s = time.perf_counter() - t

    ctx.setup()
    w.bind(ctx.spark)
    tally = Tally()
    for _ in range(WARMUP_CYCLES):
        w.cycle(tally, ctx)
    ctx.warmed()

    etl = []
    reports = {n: [] for n in REPORTS}

    def one(i):
        with ctx.rec.op(f"cycle-{i}"):
            c = w.cycle(tally, ctx)
        if c["etl"] is not None:
            etl.append(c["etl"])
        for n, ms in c["reports"].items():
            reports[n].append(ms)
        ctx.proc.sample()

    gc0 = ctx.gc_ms()
    cycles, cycle_cpu = closed_loop(seconds, one, ctx.cpu_s)
    gc_ms = ctx.gc_ms() - gc0
    w.final_check(tally)
    all_reports = [ms for v in reports.values() for ms in v]
    layers = {}
    if ctx.traced:
        layers = w.stages(ctx.rec)
        layers.update(
            {f"plans.report.{n}.ms": median(v) for n, v in reports.items() if v}
        )
    return {
        "tally": tally,
        "gen_s": gen_s,
        "op_ms": etl,
        "cycle_ms": cycles,
        "cycle_cpu_s": cycle_cpu,
        "timings": {"etl_p50_ms": etl, "report_p50_ms": all_reports},
        "context": {
            "rows_per_s": w.exp["source_rows"] / (median(etl) / 1000) if etl else None,
            "source_rows": w.exp["source_rows"],
            "kept_rows": w.exp["kept_rows"],
        },
        "gc_ms": gc_ms,
        "layers": layers,
    }
