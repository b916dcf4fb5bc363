"""Semantics tests for the round-5 sixth-batch operators: exact-k
per-stratum sampling (a row_number() <= k window per language) and RFM
quintile segmentation (distributed NTILE chain)."""

import os
import random

import pandas as pd
from pyspark.sql import functions as F

from sportstv_streaming_data_warehouse_spark.functions import text as T
from sportstv_streaming_data_warehouse_spark.operators.ranking import (
    distributed_ntile,
    grouped_top_fraction,
)
from sportstv_streaming_data_warehouse_spark.plans.catalog import QUERIES
from sportstv_streaming_data_warehouse_spark.sources.fixtures import load_table

from .conftest import SF01


def _write_documents(sf_dir, rows):
    """A one-table fixture directory holding ``documents.parquet``."""
    os.makedirs(sf_dir)
    pd.DataFrame(rows, columns=["doc_id", "text", "lang", "n_chars"]).to_parquet(
        os.path.join(sf_dir, "documents.parquet"), index=False
    )
    return sf_dir


def _planted_docs():
    # 'en' holds more than the quota, 'fr' exactly the quota, 'de' fewer
    rows = []
    for lang, n in (("en", 45), ("fr", 20), ("de", 7)):
        for i in range(n):
            doc_id = len(rows)
            text = f"{lang} doc {doc_id} body {'x' * (doc_id % 11)}"
            rows.append((doc_id, text, lang, len(text)))
    return rows


def test_keep_count_validation(spark):
    # keep_permille is the ranker's only mode: required, in (0, 1000]
    df = spark.createDataFrame([("a", 1.0, 1)], ["g", "v", "rid"])
    import pytest

    with pytest.raises(TypeError):
        grouped_top_fraction(df, "g", "v", "rid")
    for bad in (0, 1001):
        with pytest.raises(ValueError):
            grouped_top_fraction(df, "g", "v", "rid", keep_permille=bad)


def test_sample_exact_k_catalog_contract(spark):
    out = QUERIES["x_sample_exact_k"](spark, SF01)
    counts = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    n_lang = {
        r["lang"]: r["n"]
        for r in load_table(spark, SF01, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # every language contributes exactly min(20, n_lang) docs, no dups
    assert out.count() == out.select("doc_id").distinct().count()
    assert counts == {lang: min(20, n) for lang, n in n_lang.items()}


def test_sample_exact_k_exact_quota_per_language(spark, tmp_path):
    rows = _planted_docs()
    sf_dir = _write_documents(str(tmp_path / "sf"), rows)
    got = QUERIES["x_sample_exact_k"](spark, sf_dir).collect()
    by_lang = {}
    for r in got:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    assert {g: len(ids) for g, ids in by_lang.items()} == {
        "en": 20, "fr": 20, "de": 7
    }
    # the kept docs are the lowest (fingerprint, doc_id) of each language
    fp = {
        r["doc_id"]: r["fp"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", T.fingerprint(F.col("text")).alias("fp"))
        .collect()
    }
    for lang, ids in by_lang.items():
        ranked = sorted(
            (fp[d], d) for d, _, g, _ in rows if g == lang
        )
        assert ids == {d for _, d in ranked[:20]}


def test_sample_exact_k_stable_under_row_reordering(spark, tmp_path):
    # content-addressed: the selected set does not depend on row order
    rows = _planted_docs()
    shuffled = list(rows)
    random.Random(7).shuffle(shuffled)

    def pick(name, table):
        sf_dir = _write_documents(str(tmp_path / name), table)
        return {
            (r["lang"], r["doc_id"], r["n_chars"])
            for r in QUERIES["x_sample_exact_k"](spark, sf_dir).collect()
        }

    a = pick("as_written", rows)
    assert a == pick("reversed", list(reversed(rows)))
    assert a == pick("shuffled", shuffled)
    assert len(a) == 47


def test_rfm_quintile_semantics(spark):
    # 10 customers with strictly increasing frequency/monetary and
    # decreasing recency: quintiles must be perfectly anti-aligned
    rows = []
    import datetime

    for c in range(10):
        for o in range(c + 1):  # frequency = c+1
            rows.append(
                (
                    c,
                    (
                        datetime.date(2024, 1, 1)
                        + datetime.timedelta(days=c * 10 + o)
                    ).isoformat(),
                    100.0 * (c + 1),
                )
            )
    o = spark.createDataFrame(rows, ["o_custkey", "o_orderdate", "o_totalprice"])
    ref = o.agg(F.max(F.to_date("o_orderdate")).alias("ref_date"))
    base = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_order"),
            F.count("*").alias("frequency"),
            F.sum("o_totalprice").alias("monetary"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "o_custkey",
            F.datediff("ref_date", "last_order").cast("long").alias("recency_days"),
            "frequency",
            "monetary",
            (-F.col("frequency")).alias("neg_f"),
            (-F.col("monetary")).alias("neg_m"),
        )
    )
    scored = distributed_ntile(
        distributed_ntile(
            distributed_ntile(base, 5, ["recency_days", "o_custkey"], out_col="r_q"),
            5, ["neg_f", "o_custkey"], out_col="f_q",
        ),
        5, ["neg_m", "o_custkey"], out_col="m_q",
    )
    got = {r["o_custkey"]: r for r in scored.collect()}
    # customer 9: most recent, most frequent, highest spend -> 1-1-1
    assert (got[9]["r_q"], got[9]["f_q"], got[9]["m_q"]) == (1, 1, 1)
    # customer 0: oldest, fewest, lowest -> 5-5-5
    assert (got[0]["r_q"], got[0]["f_q"], got[0]["m_q"]) == (5, 5, 5)
    # quintiles of 10 rows: exactly 2 customers per tile on every axis
    for axis in ("r_q", "f_q", "m_q"):
        from collections import Counter

        c = Counter(r[axis] for r in got.values())
        assert c == {1: 2, 2: 2, 3: 2, 4: 2, 5: 2}


def test_rfm_catalog_contract(spark):
    out = QUERIES["w_rfm_segmentation"](spark, SF01)
    rows = out.collect()
    n = len(rows)
    assert n > 0
    for r in rows[:100]:
        assert 1 <= r["r_q"] <= 5 and 1 <= r["f_q"] <= 5 and 1 <= r["m_q"] <= 5
        assert r["segment"] == f"{r['r_q']}-{r['f_q']}-{r['m_q']}"
        assert r["recency_days"] >= 0
    # each quintile holds n/5 ± 1 customers
    for axis in ("r_q", "f_q", "m_q"):
        counts = [
            r["c"]
            for r in out.groupBy(axis).agg(F.count("*").alias("c")).collect()
        ]
        assert len(counts) == 5
        assert max(counts) - min(counts) <= 1


def test_shared_passage_flags_planted_overlap(spark):
    from pyspark.sql import functions as F

    # doc 1 and 2 share the exact passage "a b c d e"; doc 3 is disjoint
    docs = spark.createDataFrame(
        [
            (1, "a b c d e x y z w v"),
            (2, "q r s a b c d e t u"),
            (3, "k l m n o p"),
            (4, "tiny doc"),  # < 5 tokens: excluded from output
        ],
        ["doc_id", "text"],
    )
    tk = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    sh = (
        docs.select("doc_id", tk.alias("tk"))
        .filter(F.size("tk") >= 5)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("tk") - 4),
                    lambda i: F.array_join(F.slice(F.col("tk"), i, 5), " "),
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    dfreq = sh.groupBy("shingle").agg(F.countDistinct("doc_id").alias("d"))
    got = {
        r["doc_id"]: (r["n"], r["s"])
        for r in sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("d") > 1, 1).otherwise(0)).alias("s"),
        )
        .collect()
    }
    # docs 1/2: 10 tokens -> 6 shingles each; exactly ONE shingle is the
    # shared window "a b c d e" (other windows straddle different text)
    assert got[1] == (6, 1) and got[2] == (6, 1)
    assert got[3] == (2, 0)
    assert 4 not in got  # sub-5-token doc excluded


def test_daily_ohlc_planted_bar(spark):
    import datetime

    from pyspark.sql import functions as F

    t0 = datetime.datetime(2024, 1, 1, 9, 0, 0)
    rows = [
        # one day, one type: values in a known arrival order
        ("click", 1, t0 + datetime.timedelta(minutes=0), 5.0),
        ("click", 2, t0 + datetime.timedelta(minutes=10), 9.0),
        ("click", 3, t0 + datetime.timedelta(minutes=20), 1.0),
        ("click", 4, t0 + datetime.timedelta(minutes=30), 7.0),
        # same-ts tie on open: event_id breaks it deterministically
        ("view", 10, t0, 3.0),
        ("view", 11, t0, 4.0),
    ]
    ev = spark.createDataFrame(rows, ["event_type", "event_id", "ts", "value"])
    out = {
        r["event_type"]: r
        for r in ev.groupBy("event_type", F.to_date("ts").alias("__d"))
        .agg(
            F.min(F.struct("ts", "event_id", "value")).alias("__first"),
            F.max(F.struct("ts", "event_id", "value")).alias("__last"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.count("*").alias("n_events"),
        )
        .select(
            "event_type",
            F.col("__first.value").alias("open_value"),
            "high_value",
            "low_value",
            F.col("__last.value").alias("close_value"),
            "n_events",
        )
        .collect()
    }
    c = out["click"]
    assert (c["open_value"], c["high_value"], c["low_value"], c["close_value"], c["n_events"]) == (5.0, 9.0, 1.0, 7.0, 4)
    v = out["view"]
    assert v["open_value"] == 3.0 and v["close_value"] == 4.0  # id tiebreak


def test_forward_fill_planted_gaps(spark):
    import datetime

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def d(day):
        return datetime.date(2024, 1, day)

    # series (1,'view'): observed days 1 (v=5) and 4 (v=7); spine days
    # 1..5 -> day 2,3 carry 5.0; day 5 carries 7.0. Series (2,'click')
    # starts day 3 -> days 1,2 stay null-filled (no value yet).
    daily = spark.createDataFrame(
        [
            (1, "view", d(1), 5.0),
            (1, "view", d(4), 7.0),
            (2, "click", d(3), 2.0),
        ],
        ["user_id", "event_type", "d", "v"],
    )
    from sportstv_streaming_data_warehouse_spark.operators.windows import (
        forward_fill,
    )

    days = spark.createDataFrame([(d(i),) for i in range(1, 6)], ["d"])
    got = {
        (r["user_id"], r["d"].day): (r["filled_value"], r["is_filled"])
        for r in forward_fill(
            daily, ["user_id", "event_type"], days
        ).collect()
    }
    assert got[(1, 1)] == (5.0, False)
    assert got[(1, 2)] == (5.0, True)
    assert got[(1, 3)] == (5.0, True)
    assert got[(1, 4)] == (7.0, False)
    assert got[(1, 5)] == (7.0, True)
    assert got[(2, 1)] == (None, True)   # before first observation
    assert got[(2, 2)] == (None, True)
    assert got[(2, 3)] == (2.0, False)


def test_forward_fill_catalog_contract(spark):
    from pyspark.sql import functions as F

    out = QUERIES["w_forward_fill"](spark, SF01)
    # observed cells are never flagged; filled cells carry a prior value
    # or null (before first observation) — and every series spans the
    # full observed-day spine
    bad = out.filter(~F.col("is_filled") & F.col("filled_value").isNull()).count()
    assert bad == 0
    n_days = out.select("d").distinct().count()
    per_series = out.groupBy("user_id", "event_type").count().select("count").distinct().collect()
    assert len(per_series) == 1 and per_series[0]["count"] == n_days


def test_bigram_surprisal_word_salad_scores_higher(spark):
    # corpus: "a b" repeated (predictable) vs the same unigrams in a
    # never-seen order: bigram surprisal separates them even though
    # unigram frequencies are identical — through THE shipped function
    # (functions/text.bigram_surprisal, which the catalog query calls)
    from sportstv_streaming_data_warehouse_spark.functions.text import (
        bigram_surprisal,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b a b"),
            (2, "b b a a b a b a"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["bigram_surprisal_nats"]
        for r in bigram_surprisal(docs, "doc_id", "text").collect()
    }
    assert out[2] > out[1]


def test_containment_dedup_quote_inside_article(spark):
    from sportstv_streaming_data_warehouse_spark.operators.dedup import (
        containment_pairs,
    )

    quote = "alpha beta gamma delta epsilon zeta"          # 6 tokens
    article = f"intro words here {quote} closing words after end"
    docs = spark.createDataFrame(
        [(1, article), (2, quote), (3, "totally different content here now")],
        ["doc_id", "text"],
    )
    got = {
        (r["id_a"], r["id_b"]): r
        for r in containment_pairs(
            docs, "doc_id", "text", shingle_tokens=5, max_df=20
        ).collect()
    }
    # the quote (doc 2, 6 tokens -> 2 shingles) is FULLY contained in
    # the article: containment on the quote side is 1.0, article side
    # is small — exactly the asymmetry Jaccard cannot express
    r = got[(1, 2)]
    assert r["containment_b"] == 1.0
    assert r["containment_a"] < 0.5
    assert (1, 3) not in got and (2, 3) not in got
