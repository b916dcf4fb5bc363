"""catalog_mix: passes over a fixed mix of catalog queries.

Each pass runs every query of ``MIX`` once, in an order shuffled from
the run's seed, and forces each query's full output by hashing every
column of every row into one value. The data is a fixed fixture (the
generator's catalog tables at ``SF``, always from ``DATA_SEED``): the
seed only orders the queries. Closed loop, one client."""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import pickle
import random
import time
from decimal import Decimal
from statistics import median

import gen
from common import closed_loop, timed
from stats import geomean

#: scale factor of the generated catalog fixture (sf0.1 = 600K lineitem
#: rows); small enough for several passes per run on a 4-core box
SF = 0.01
DATA_SEED = 42

#: the queries the ROADMAP's optimisation directions and open items name
MIX = (
    "flagship_daily_rollup",
    "a4_global_summary",
    "x_sample_exact_k",
    "x_dedup_incremental",
    "x_dedup_embedding_cosine",
    "x_hard_negatives",
)

#: the operators.dedup layer probe: the near-dup gate's default
#: parameters (threshold 0.5) over a batch/corpus split of the documents
DEDUP_THRESHOLD = 0.5


# ---------------------------------------------------------------------------
# Result comparison against the DuckDB oracles
# ---------------------------------------------------------------------------

def _norm(v):
    """A cell as a comparable value: numbers to 9 significant digits,
    NaN as NULL, dates as ISO strings, arrays as tuples."""
    if v is None:
        return None
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, Decimal)):
        f = float(v)
        return None if math.isnan(f) else float(f"{f:.9g}")
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


def normalized_rows(pdf) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [
        tuple(_norm(v) for v in row)
        for row in pdf[cols].astype(object).itertuples(index=False, name=None)
    ]
    return sorted(rows, key=lambda r: tuple(str(x) for x in r))


def oracle_rows(sf_dir: str, sqls: dict[str, str]) -> dict[str, tuple]:
    """Each query's oracle result, as (sorted column names, rows)."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            name = f.removesuffix(".parquet")
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(sf_dir, f)}'"
            )
        out = {}
        for q, sql in sqls.items():
            pdf = con.execute(sql).df()
            out[q] = (sorted(pdf.columns), normalized_rows(pdf))
        return out
    finally:
        con.close()


def cached_oracle_rows(sf_dir: str, sqls: dict[str, str], cache_dir: str) -> dict:
    """``oracle_rows``, kept in ``cache_dir`` under a key made of the
    fixture's bytes and the oracle SQL: the fixture is fixed, so every
    run after the first in a checkout reuses the DuckDB results."""
    h = hashlib.sha256()
    for f in sorted(os.listdir(sf_dir)):
        with open(os.path.join(sf_dir, f), "rb") as fh:
            h.update(f.encode() + fh.read())
    h.update(json.dumps(sqls, sort_keys=True).encode())
    path = os.path.join(cache_dir, f"oracle-{h.hexdigest()[:32]}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    out = oracle_rows(sf_dir, sqls)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "wb") as fh:
        pickle.dump(out, fh)
    os.replace(tmp, path)
    return out


def check_against_oracle(pdf, want) -> str | None:
    cols, rows = want
    if sorted(pdf.columns) != cols:
        return f"columns {sorted(pdf.columns)} != {cols}"
    got = normalized_rows(pdf)
    if len(got) != len(rows):
        return f"{len(got)} rows != {len(rows)}"
    bad = sum(1 for a, b in zip(got, rows) if a != b)
    return f"{bad} rows differ, first {next(a for a, b in zip(got, rows) if a != b)}" if bad else None


# ---------------------------------------------------------------------------
# The workload
# ---------------------------------------------------------------------------

def force(df) -> int:
    """Run the whole plan: fold a hash of every column of every row into
    one order-insensitive value (``count()`` would let Catalyst prune
    columns)."""
    from pyspark.sql import functions as F

    return df.select(
        F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("h")
    ).first()["h"]


def dedup_layer(spark, sf_dir: str) -> dict:
    """operators.dedup seen from outside: the cross-side candidate join
    (``incremental_near_duplicates`` → ``banded_pairs_cross``) of the
    last fifth of the documents against the rest."""
    from pyspark.sql import functions as F

    from sportstv_streaming_data_warehouse_spark.operators.dedup import (
        incremental_near_duplicates,
    )
    from sportstv_streaming_data_warehouse_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cut = docs.agg(F.max("doc_id")).first()[0] * 4 // 5
    batch = docs.filter(F.col("doc_id") > cut)
    corpus = docs.filter(F.col("doc_id") <= cut)

    def pairs(threshold):
        return incremental_near_duplicates(
            corpus, batch, "doc_id", "text", threshold=threshold
        )

    accepted, ms = timed(lambda: pairs(DEDUP_THRESHOLD).count())
    candidates = pairs(0.0).count()
    return {
        "operators.dedup.pairs_cross.ms": ms,
        "operators.dedup.candidate_pairs": candidates,
        "operators.dedup.accept_ratio": accepted / candidates if candidates else 0.0,
    }


def run(seed: int, seconds: float, ctx) -> dict:
    from common import Tally
    from sportstv_streaming_data_warehouse_spark.plans.catalog import (
        all_oracles,
        all_queries,
    )

    t = time.perf_counter()
    sf_dir = os.path.join(ctx.work, "sf")
    gen.write_catalog(gen.catalog_tables(SF, DATA_SEED), sf_dir)
    oracles = all_oracles()
    sqls = {q: oracles[q] for q in MIX}  # every mix query has an oracle
    want = cached_oracle_rows(sf_dir, sqls, ctx.cache)
    gen_s = time.perf_counter() - t
    queries = all_queries()

    ctx.setup()
    spark = ctx.spark

    tally = Tally()
    # the warm-up is one untimed pass, which is also the run's oracle check
    for q in MIX:
        try:
            pdf = queries[q](spark, sf_dir).toPandas()
            bad = check_against_oracle(pdf, want[q])
            tally.record(bad is None, f"{q} vs oracle: {bad}")
        except Exception as exc:
            tally.record(False, f"{q}: {type(exc).__name__}: {exc}"[:300])

    ctx.warmed()
    rng = random.Random(seed)
    per_query: dict[str, list[float]] = {q: [] for q in MIX}
    jobs: dict[str, int] = {}
    hashes: dict[str, int] = {}

    def one(i):
        order = list(MIX)
        rng.shuffle(order)
        with ctx.rec.op(f"pass-{i}"), ctx.rec.span("catalog.pass"):
            for q in order:
                try:
                    with ctx.rec.span(f"plans.catalog.{q}"), ctx.group() as g:
                        h, ms = timed(lambda: force(queries[q](spark, sf_dir)))
                    jobs.setdefault(q, g.get("jobs", 0))
                    first = hashes.setdefault(q, h)
                    if tally.record(h == first, f"{q}: result hash changed"):
                        per_query[q].append(ms)
                except Exception as exc:
                    tally.record(False, f"{q}: {type(exc).__name__}: {exc}"[:300])
        ctx.proc.sample()

    gc0 = ctx.gc_ms()
    passes, cycle_cpu = closed_loop(seconds, one, ctx.cpu_s)
    gc_ms = ctx.gc_ms() - gc0
    medians = {q: median(v) for q, v in per_query.items() if v}
    layers = {}
    if ctx.traced:
        for q in MIX:
            layers[f"plans.catalog.{q}.ms"] = medians.get(q, 0.0)
            layers[f"plans.catalog.{q}.jobs"] = jobs.get(q, 0)
        with ctx.rec.span("operators.dedup.probe"):
            layers.update(dedup_layer(spark, sf_dir))
    return {
        "tally": tally,
        "gen_s": gen_s,
        "op_ms": [geomean(medians.values())] if medians else [],
        "cycle_ms": passes,
        "cycle_cpu_s": cycle_cpu,
        "timings": {
            "query_geomean_ms": [geomean(medians.values())] if medians else [],
            "pass_ms": passes,
            **{f"query.{q}_ms": v for q, v in per_query.items()},
        },
        "context": {"sf": SF, "queries": len(MIX), "passes": len(passes)},
        "gc_ms": gc_ms,
        "layers": layers,
    }
