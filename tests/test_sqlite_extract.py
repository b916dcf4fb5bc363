"""The reference's operational SQLite extract leg, end-to-end against a
real SQLite file (round-7 verdict task #5).

The reference reads streaming_txns from SQLite in 50K LIMIT/OFFSET
batches through one connection (loadAnalyticsDB.PractII.VarmaA.R:
132-134, 321-326, column list transaction_id/user_id/asset_id/
streaming_date/minutes_streamed/completed). sources/sqlite.read_sqlite
replays that extract with S1's real JDBC-leg semantics: projection and
predicate pushed into the SQL at the adapter, range-sharded parallel
reads per Spark's JDBC partitioning convention.
"""

import sqlite3
from contextlib import closing

import pytest
from pyspark.sql import functions as F

from sportstv_streaming_data_warehouse_spark.sources.sqlite import (
    build_slice_sql,
    partition_clauses,
    read_sqlite,
)

N_TXNS = 4_000
TXN_COLS = [
    "transaction_id", "user_id", "asset_id",
    "streaming_date", "minutes_streamed", "completed",
]


@pytest.fixture(scope="module")
def db_path(tmp_path_factory):
    """An operational-store replica: streaming_txns shaped like the
    reference's (etl.R:321-326), deterministic rows, plus a NULL in the
    partition column to pin the slice-0 NULL ownership rule."""
    path = str(tmp_path_factory.mktemp("sqlite") / "operational.db")
    con = sqlite3.connect(path)
    con.execute(
        """CREATE TABLE streaming_txns (
             transaction_id INTEGER, user_id INTEGER, asset_id TEXT,
             streaming_date TEXT, minutes_streamed INTEGER,
             completed INTEGER, internal_audit_note TEXT)"""
    )
    rows = [
        (
            i,
            i % 300,
            f"IH-{i % 97}" if i % 7 else f"ZZ-{i % 11}",
            f"202{i % 4}-0{i % 9 + 1}-1{i % 9}",
            i % 180,
            i % 3 == 0,
            "never-extracted",
        )
        for i in range(1, N_TXNS)
    ]
    rows.append((N_TXNS, None, "IH-1", "2023-01-11", 30, 0, "null user"))
    con.executemany(
        "INSERT INTO streaming_txns VALUES (?,?,?,?,?,?,?)", rows
    )
    con.commit()
    con.close()
    return path


def test_partition_clauses_follow_spark_jdbc_convention():
    clauses = partition_clauses("transaction_id", 0, 100, 4)
    assert clauses == [
        '"transaction_id" < 25 OR "transaction_id" IS NULL',
        '"transaction_id" >= 25 AND "transaction_id" < 50',
        '"transaction_id" >= 50 AND "transaction_id" < 75',
        '"transaction_id" >= 75',
    ]
    # bounds shape the split, they never filter: the outer slices are
    # unbounded so stale bounds still cover the whole table
    assert "<" not in clauses[-1].replace(">=", "")
    assert partition_clauses("k", 0, 10, 1) == ["1=1"]


def test_partition_clauses_are_a_partition_of_the_key_space():
    # property: whatever the bounds/slice count, every key value —
    # inside the bounds, far outside them, or NULL — satisfies EXACTLY
    # one clause (no dup, no drop), evaluated by SQLite itself
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        lo=st.integers(-1000, 1000),
        span=st.integers(1, 2000),
        n=st.integers(1, 12),
        probes=st.lists(
            st.one_of(st.integers(-5000, 5000), st.none()),
            min_size=1, max_size=20,
        ),
    )
    def check(lo, span, n, probes):
        clauses = partition_clauses("k", lo, lo + span, n)
        with sqlite3.connect(":memory:") as con:
            con.execute("CREATE TABLE t (k INTEGER)")
            con.executemany(
                "INSERT INTO t VALUES (?)", [(p,) for p in probes]
            )
            total = sum(
                con.execute(
                    f"SELECT COUNT(*) FROM t WHERE {c}"
                ).fetchone()[0]
                for c in clauses
            )
        # COUNT(*) under each clause sums to the table size exactly
        assert total == len(probes), (clauses, probes)

    check()


def test_projection_and_predicate_are_pushed_into_the_sql():
    sql = build_slice_sql(
        "streaming_txns", ["user_id", "minutes_streamed"],
        "minutes_streamed > 60", '"transaction_id" < 25',
    )
    assert sql == (
        'SELECT "user_id", "minutes_streamed" FROM "streaming_txns" '
        'WHERE ("transaction_id" < 25) AND (minutes_streamed > 60)'
    )
    # the never-requested column must not appear anywhere in the SQL
    assert "internal_audit_note" not in sql


def test_sharded_extract_equals_single_connection_read(spark, db_path):
    df = read_sqlite(
        spark, db_path, "streaming_txns",
        columns=TXN_COLS,
        partition_column="transaction_id",
        lower_bound=1, upper_bound=N_TXNS, num_partitions=8,
    )
    assert df.columns == TXN_COLS
    assert df.rdd.getNumPartitions() == 8
    got = sorted(map(tuple, df.collect()))
    with sqlite3.connect(db_path) as con:
        expected = sorted(
            con.execute(
                f"SELECT {', '.join(TXN_COLS)} FROM streaming_txns"
            ).fetchall()
        )
    assert len(got) == N_TXNS
    assert got == expected


def test_null_and_boundary_rows_land_exactly_once(spark, db_path):
    # the union of slices is a partition of the table: no dup, no drop,
    # NULL partition keys owned by slice 0
    df = read_sqlite(
        spark, db_path, "streaming_txns",
        columns=["transaction_id", "user_id"],
        partition_column="user_id",  # has a NULL
        lower_bound=0, upper_bound=300, num_partitions=5,
    )
    ids = [r["transaction_id"] for r in df.collect()]
    assert len(ids) == len(set(ids)) == N_TXNS
    assert df.filter(F.col("user_id").isNull()).count() == 1


def test_predicate_pushdown_filters_at_the_source(spark, db_path):
    df = read_sqlite(
        spark, db_path, "streaming_txns",
        columns=["transaction_id", "minutes_streamed"],
        predicate="minutes_streamed >= 100",
        partition_column="transaction_id",
        lower_bound=1, upper_bound=N_TXNS, num_partitions=4,
    )
    rows = df.collect()
    assert rows and all(r["minutes_streamed"] >= 100 for r in rows)
    with sqlite3.connect(db_path) as con:
        n = con.execute(
            "SELECT COUNT(*) FROM streaming_txns WHERE minutes_streamed >= 100"
        ).fetchone()[0]
    assert len(rows) == n


def _untyped_db(tmp_path):
    path = str(tmp_path / "untyped.db")
    with closing(sqlite3.connect(path)) as con:
        con.execute("CREATE TABLE notes (k INTEGER, v, blank)")
        con.executemany(
            "INSERT INTO notes VALUES (?, ?, NULL)",
            [(i, f"note-{i}") for i in range(1, 11)],
        )
        con.commit()
    return path


def test_empty_probe_raises_a_schema_pointer(spark, tmp_path):
    # a column without a declared type is typed from the 100-row probe;
    # an empty probe (or an all-NULL one) must point the caller at the
    # schema= parameter, not crash or guess
    path = _untyped_db(tmp_path)
    with pytest.raises(ValueError, match="schema="):
        read_sqlite(spark, path, "notes", columns=["v"], predicate="k > 1000")
    with pytest.raises(ValueError, match="schema="):
        read_sqlite(spark, path, "notes", columns=["blank"])
    df = read_sqlite(spark, path, "notes", columns=["k", "v"])
    assert [f.dataType.simpleString() for f in df.schema] == ["bigint", "string"]
    assert df.count() == 10


def test_typed_read_matching_nothing_has_the_declared_schema(spark, db_path):
    # declared types need no probe: a predicate that matches nothing is
    # an empty result, not an error
    df = read_sqlite(
        spark, db_path, "streaming_txns",
        columns=["transaction_id", "asset_id"],
        predicate="minutes_streamed > 1000000",
    )
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("transaction_id", "bigint"), ("asset_id", "string"),
    ]
    assert df.count() == 0


def test_nulls_in_the_probe_window_keep_declared_integer_types(spark, tmp_path):
    # minutes_streamed/completed are NULL within the first 100 rows;
    # their declared INTEGER type must still come back bigint, not a
    # NULL-widened double
    path = str(tmp_path / "nulls.db")
    with closing(sqlite3.connect(path)) as con:
        con.execute(
            "CREATE TABLE streaming_txns (transaction_id INTEGER, "
            "minutes_streamed INTEGER, completed INTEGER, rating REAL, "
            "note VARCHAR(20))"
        )
        con.executemany(
            "INSERT INTO streaming_txns VALUES (?, ?, ?, ?, NULL)",
            [
                (i, None if i % 10 == 0 else i, None if i == 3 else i % 2, i / 2)
                for i in range(1, 301)
            ],
        )
        con.commit()
    df = read_sqlite(
        spark, path, "streaming_txns",
        partition_column="transaction_id",
        lower_bound=1, upper_bound=300, num_partitions=3,
    )
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("transaction_id", "bigint"), ("minutes_streamed", "bigint"),
        ("completed", "bigint"), ("rating", "double"), ("note", "string"),
    ]
    rows = {r["transaction_id"]: r for r in df.collect()}
    assert len(rows) == 300
    assert rows[10]["minutes_streamed"] is None
    assert rows[11]["minutes_streamed"] == 11
    assert rows[3]["completed"] is None and rows[5]["completed"] == 1
    assert rows[7]["rating"] == 3.5 and rows[7]["note"] is None


def test_value_the_declared_type_cannot_hold_fails_loudly(spark, tmp_path):
    # SQLite keeps 2.5 as REAL in an INTEGER column; truncating it to 2
    # would be silent corruption
    path = str(tmp_path / "lossy.db")
    with closing(sqlite3.connect(path)) as con:
        con.execute("CREATE TABLE t (k INTEGER)")
        con.executemany("INSERT INTO t VALUES (?)", [(1,), (2.5,)])
        con.commit()
    with pytest.raises(Exception, match="truncated"):
        read_sqlite(spark, path, "t").collect()


def test_unsharded_read_is_one_task_with_probe_schema(spark, db_path):
    df = read_sqlite(
        spark, db_path, "streaming_txns", columns=["asset_id"]
    )
    assert df.rdd.getNumPartitions() == 1
    assert [f.name for f in df.schema.fields] == ["asset_id"]
    assert df.count() == N_TXNS


def test_probe_clean_column_with_nulls_in_a_later_slice(spark, db_path):
    # user_id is non-NULL for the first 100 rows but the very last row
    # has a NULL user_id: the slice holding it must land that NULL as a
    # proper SQL NULL in the bigint column with every other value exact.
    df = read_sqlite(
        spark, db_path, "streaming_txns",
        columns=["transaction_id", "user_id"],
        partition_column="transaction_id",
        lower_bound=1, upper_bound=N_TXNS, num_partitions=4,
    )
    assert df.schema["user_id"].dataType.simpleString() == "bigint"
    nulls = df.filter(F.col("user_id").isNull()).collect()
    assert [r["transaction_id"] for r in nulls] == [N_TXNS]
    assert df.filter(F.col("user_id") == 299).count() > 0  # values intact
    assert df.count() == N_TXNS
