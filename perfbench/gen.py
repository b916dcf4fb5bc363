"""Seeded, vectorized input generator for the benchmark.

Everything here is pure numpy/pandas and single-threaded: the same
``seed`` (and ``scale``/``sf``) always yields byte-identical frames and
files. Nothing imports Spark, so the generator runs (and is tested) on
its own.

Two input families:

- ``warehouse_sources`` — the SportsTV operational sources the star ETL
  reads (an SQLite transaction table plus a CSV superset and the
  snowflake dimensions), shaped like the reference's published data:
  1,083,131 SQLite + 98,732 CSV rows at ``scale=1``, 161,588 recoverable
  orphan assets, 24,184 ``OXXX-``/``MSL-`` rows that must drop, 10,000
  rows from users with no subscriber record (the remaining gap to the
  1,147,679 retained rows), a 60/26/14 sport split, four subscribed
  countries (Italy and Slovakia exist with none) and dates from
  2021-01-01 to 2025-10-18 in the published per-year volumes.
- ``catalog_tables`` — the TPC-H-like + events/documents/embeddings
  fixture the query catalog runs on, at scale factor ``sf`` (row counts
  follow the sf0.1 fixture: 600K lineitem rows at sf=0.1).
"""

from __future__ import annotations

import os
import sqlite3

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Warehouse sources (the reference ETL's input)
# ---------------------------------------------------------------------------

REF_SQLITE_ROWS = 1_083_131
REF_CSV_ROWS = 98_732
REF_RECOVERABLE = 161_588
REF_UNRECOVERABLE = 24_184
REF_UNKNOWN_USER = 10_000

#: published per-class volumes over the 1,147,679 retained rows; used as
#: weights, so every scale keeps the same split
SPORT_WEIGHTS = {"Ice Hockey": 687_234, "Ski Jumping": 298_451, "Inline Hockey": 161_994}
COUNTRY_WEIGHTS = {1: 687_234, 2: 245_891, 3: 156_432, 4: 58_122}
YEAR_WEIGHTS = {2021: 156_234, 2022: 198_456, 2023: 267_891, 2024: 312_456, 2025: 212_642}
LAST_DAY = np.datetime64("2025-10-18")

COUNTRIES = [
    (1, "Deutschland"),
    (2, "Österreich"),
    (3, "Schweiz"),
    (4, "Liechtenstein"),
    (5, "Italy"),
    (6, "Slovakia"),
]
#: city_id -> country_id (cities exist only in the subscribed countries)
CITY_COUNTRY = [1, 1, 1, 1, 1, 1, 2, 2, 2, 3, 3, 4]
N_POSTAL = 60
ASSETS_PER_SPORT = 40

#: asset prefixes present in the assets table
KNOWN_PREFIX = {"Ice Hockey": "DEL", "Ski Jumping": "SKJ", "Inline Hockey": "IHL"}
#: orphan prefixes (absent from assets) the ETL's prefix rules recover
RECOVERABLE_PREFIXES = {
    "Ice Hockey": ["AHL", "ICE", "NLN"],
    "Ski Jumping": ["SKA", "FIS"],
    "Inline Hockey": ["ICEHL"],
}
UNRECOVERABLE_PREFIXES = ["OXXX", "MSL"]

TXN_COLUMNS = [
    "transaction_id", "user_id", "asset_id",
    "streaming_date", "minutes_streamed", "completed",
]
CSV_COLUMNS = [
    "transaction_id", "subscriber_id", "user_id", "asset_id",
    "streaming_date", "streaming_start_time", "minutes_streamed",
    "device_type", "quality_streamed", "completed",
]
CSV_SCHEMA = (
    "transaction_id long, subscriber_id long, user_id long, "
    "asset_id string, streaming_date string, "
    "streaming_start_time string, minutes_streamed long, "
    "device_type string, quality_streamed string, completed string"
)


def quota(total: int, weights) -> np.ndarray:
    """Split ``total`` into integer counts proportional to ``weights``
    (largest remainder), so the counts always sum to ``total``."""
    w = np.asarray(list(weights), dtype=np.float64)
    exact = total * w / w.sum()
    counts = np.floor(exact).astype(np.int64)
    short = total - int(counts.sum())
    counts[np.argsort(-(exact - counts), kind="stable")[:short]] += 1
    return counts


def _shuffled_labels(rng: np.random.Generator, total: int, weights: dict) -> np.ndarray:
    """``total`` labels with exact per-label quotas, in random order."""
    labels = np.repeat(np.arange(len(weights)), quota(total, weights.values()))
    return rng.permutation(labels)


def _asset_ids(prefixes: np.ndarray, numbers: np.ndarray) -> np.ndarray:
    nums = pd.Series(numbers).astype(str).str.zfill(4)
    return (pd.Series(prefixes) + "-" + nums).to_numpy(dtype=object)


def warehouse_sources(seed: int, scale: float = 1.0) -> dict[str, pd.DataFrame]:
    """The operational sources at ``scale`` x the reference's size.

    Returns the five dimension frames plus ``streaming_txns`` (the
    SQLite table) and ``csv_txns`` (the CSV superset)."""
    rng = np.random.default_rng(seed)
    n_sqlite = round(REF_SQLITE_ROWS * scale)
    n_csv = round(REF_CSV_ROWS * scale)
    n = n_sqlite + n_csv
    n_unrec = round(REF_UNRECOVERABLE * scale)
    n_unknown = round(REF_UNKNOWN_USER * scale)
    n_kept = n - n_unrec - n_unknown
    n_orphan = round(REF_RECOVERABLE * scale)

    sports = list(SPORT_WEIGHTS)
    countries = pd.DataFrame(COUNTRIES, columns=["country_id", "country"])
    cities = pd.DataFrame(
        {"city_id": np.arange(1, 13), "country_id": CITY_COUNTRY}
    )
    postal_city = np.arange(N_POSTAL) % 12 + 1
    postal2city = pd.DataFrame(
        {
            "postal_code": [f"P{p:03d}" for p in range(N_POSTAL)],
            "city_id": postal_city,
        }
    )
    # users in country blocks; each picks a postal code of its country
    n_users = max(400, round(40_000 * scale))
    user_counts = quota(n_users, COUNTRY_WEIGHTS.values())
    user_country = np.repeat(list(COUNTRY_WEIGHTS), user_counts)
    postal_country = np.asarray(CITY_COUNTRY)[postal_city - 1]
    postal_of_user = np.empty(n_users, dtype=np.int64)
    for c in COUNTRY_WEIGHTS:
        pool = np.flatnonzero(postal_country == c)
        mask = user_country == c
        postal_of_user[mask] = pool[rng.integers(0, len(pool), mask.sum())]
    subscribers = pd.DataFrame(
        {
            "user_id": np.arange(1, n_users + 1),
            "postal_code": [f"P{p:03d}" for p in postal_of_user],
        }
    )
    user_start = np.concatenate([[0], np.cumsum(user_counts)[:-1]]) + 1

    asset_prefix = np.repeat([KNOWN_PREFIX[s] for s in sports], ASSETS_PER_SPORT)
    asset_num = np.tile(np.arange(ASSETS_PER_SPORT), len(sports))
    assets = pd.DataFrame(
        {
            "asset_id": list(_asset_ids(asset_prefix, asset_num))
            + ["JUNK-0001", "JUNK-0002"],
            "sport": list(np.repeat(sports, ASSETS_PER_SPORT)) + [None, ""],
        }
    )

    # row classes: 0 kept/known asset, 1 kept/recoverable orphan,
    # 2 unrecoverable orphan (dropped), 3 unknown user (dropped)
    cls = rng.permutation(
        np.repeat([0, 1, 2, 3], [n_kept - n_orphan, n_orphan, n_unrec, n_unknown])
    )
    kept = cls <= 1
    sport = np.zeros(n, dtype=np.int64)
    sport[kept] = _shuffled_labels(rng, n_kept, SPORT_WEIGHTS)
    sport[~kept] = rng.integers(0, len(sports), (~kept).sum())
    country = np.zeros(n, dtype=np.int64)
    country[kept] = _shuffled_labels(rng, n_kept, COUNTRY_WEIGHTS)
    country[~kept] = rng.integers(0, len(COUNTRY_WEIGHTS), (~kept).sum())

    user = user_start[country] + (rng.random(n) * user_counts[country]).astype(np.int64)
    user[cls == 3] = n_users + 1 + rng.integers(0, 1000, n_unknown)

    prefix = np.empty(n, dtype=object)
    number = rng.integers(0, 10_000, n)
    known = cls == 0
    prefix[known] = np.asarray([KNOWN_PREFIX[s] for s in sports], dtype=object)[sport[known]]
    number[known] %= ASSETS_PER_SPORT
    for i, s in enumerate(sports):
        m = (cls == 1) & (sport == i)
        choices = np.asarray(RECOVERABLE_PREFIXES[s], dtype=object)
        prefix[m] = choices[rng.integers(0, len(choices), m.sum())]
    m = cls == 2
    prefix[m] = np.asarray(UNRECOVERABLE_PREFIXES, dtype=object)[rng.integers(0, 2, m.sum())]
    m = cls == 3
    prefix[m] = np.asarray([KNOWN_PREFIX[s] for s in sports], dtype=object)[sport[m]]
    number[m] %= ASSETS_PER_SPORT
    asset_id = _asset_ids(prefix, number)

    # dates: kept rows follow the published per-year volumes
    years = np.asarray(list(YEAR_WEIGHTS))
    year = np.empty(n, dtype=np.int64)
    year[kept] = years[_shuffled_labels(rng, n_kept, YEAR_WEIGHTS)]
    year[~kept] = years[rng.integers(0, len(years), (~kept).sum())]
    y_start = np.array([np.datetime64(f"{y}-01-01") for y in years])
    y_end = np.minimum(
        np.array([np.datetime64(f"{y}-12-31") for y in years]), LAST_DAY
    )
    y_days = (y_end - y_start).astype(np.int64) + 1
    yi = year - years[0]
    day = y_start[yi] + (rng.random(n) * y_days[yi]).astype(np.int64).astype("timedelta64[D]")
    streaming_date = np.datetime_as_string(day, unit="D").astype(object)

    minutes = pd.array(rng.integers(1, 121, n), dtype="Int64")
    minutes[rng.random(n) < 0.02] = pd.NA
    completed = pd.array(rng.integers(0, 2, n), dtype="Int64")
    completed[rng.random(n) < 0.02] = pd.NA

    txns = pd.DataFrame(
        {
            "transaction_id": np.arange(1, n + 1, dtype=np.int64),
            "user_id": user,
            "asset_id": asset_id,
            "streaming_date": streaming_date,
            "minutes_streamed": minutes,
            "completed": completed,
        }
    )
    sqlite_txns = txns.iloc[:n_sqlite].reset_index(drop=True)
    csv_core = txns.iloc[n_sqlite:].reset_index(drop=True)
    # CSV ids sit past the SQLite range at every scale
    csv_core["transaction_id"] += 1_000_000
    csv_txns = csv_core.assign(
        subscriber_id=csv_core["user_id"] + 10_000,
        streaming_start_time="12:00:00",
        device_type="web",
        quality_streamed="HD",
        completed=csv_core["completed"].astype("string"),
    )[CSV_COLUMNS]
    return {
        "countries": countries,
        "cities": cities,
        "postal2city": postal2city,
        "subscribers": subscribers,
        "assets": assets,
        "streaming_txns": sqlite_txns,
        "csv_txns": csv_txns,
    }


def write_sqlite(txns: pd.DataFrame, path: str) -> None:
    """Plant the SQLite operational table. ``transaction_id`` is an
    INTEGER PRIMARY KEY, so each range slice of a sharded read touches
    only its own rows."""
    rows = txns[TXN_COLUMNS].astype(object).where(txns[TXN_COLUMNS].notna(), None)
    con = sqlite3.connect(path)
    try:
        con.execute(
            "CREATE TABLE streaming_txns ("
            "transaction_id INTEGER PRIMARY KEY, user_id INTEGER, "
            "asset_id TEXT, streaming_date TEXT, "
            "minutes_streamed INTEGER, completed INTEGER)"
        )
        con.executemany(
            "INSERT INTO streaming_txns VALUES (?, ?, ?, ?, ?, ?)",
            rows.itertuples(index=False, name=None),
        )
        con.commit()
    finally:
        con.close()


# ---------------------------------------------------------------------------
# Catalog fixture (TPC-H-like tables + events, documents, embeddings)
# ---------------------------------------------------------------------------

#: the document vocabulary of the catalog's text fixture
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANG_WEIGHTS = {"en": 41, "zh": 15, "es": 15, "fr": 15, "de": 14}
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
EMBED_DIM = 64


def _timestamps(rng, n, start: str, days: int, whole_days: bool) -> np.ndarray:
    base = np.datetime64(start, "us")
    if whole_days:
        off = rng.integers(0, days, n).astype("timedelta64[D]")
    else:
        off = (rng.random(n) * days * 86_400e6).astype(np.int64).astype("timedelta64[us]")
    return base + off


def catalog_tables(sf: float, seed: int = 42) -> dict[str, pa.Table]:
    """The query catalog's fixture tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, round(150_000 * sf))
    n_orders = 10 * n_cust
    n_line = 4 * n_orders
    n_part = max(200, round(200_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_events = max(1_000, round(1_000_000 * sf))
    n_users = max(15, n_cust // 10)
    n_docs = max(50, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))

    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.asarray(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[rng.integers(0, 5, n_cust)],
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": np.asarray(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
            "o_orderdate": _timestamps(rng, n_orders, "1995-01-01", 2400, True),
            "o_orderpriority": np.asarray(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_orders)],
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.asarray(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.asarray(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _timestamps(rng, n_line, "1995-01-02", 2500, True),
        }
    )
    events = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": np.sort(_timestamps(rng, n_events, "2024-01-01", 30, False)),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": np.asarray(EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )

    # documents: bags of words; 5% are an earlier doc plus one token, the
    # planted near-duplicates the dedup queries find
    lengths = rng.integers(10, 101, n_docs)
    words = np.asarray(DOC_WORDS, dtype=object)[rng.integers(0, len(DOC_WORDS), lengths.sum())]
    texts = np.asarray(
        [" ".join(w) for w in np.split(words, np.cumsum(lengths)[:-1])], dtype=object
    )
    planted = np.flatnonzero(rng.random(n_docs) < 0.05)
    planted = planted[planted > 0]
    sources = (rng.random(len(planted)) * planted).astype(np.int64)
    texts[planted] = texts[sources] + " dup"
    langs = list(LANG_WEIGHTS)
    documents = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts.tolist(),
            "lang": np.asarray(langs)[_shuffled_labels(rng, n_docs, LANG_WEIGHTS)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        }
    )

    # embeddings: unit vectors around one centroid per label
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.standard_normal((10, EMBED_DIM))
    vecs = centroids[labels] + 0.8 * rng.standard_normal((n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return {
        "nation": nation,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }


def write_catalog(tables: dict[str, pa.Table], sf_dir: str) -> None:
    """One ``<name>.parquet`` per table, the layout the catalog reads."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
