"""Planted-case tests for retrieval (inverted index, BM25),
substring-span dedup, and event-sequence analytics."""

from __future__ import annotations

import datetime
import math

import pytest
from pyspark.sql import functions as F

from nbi_oedi_etl_v2_spark.operators import analytics, dedup
from nbi_oedi_etl_v2_spark.operators import index as idx


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_inverted_index_postings(spark):
    docs = _docs(
        spark,
        [(1, "alpha beta alpha"), (2, "beta gamma"), (3, "Alpha!")],
    )
    rows = {r["tok"]: r for r in idx.inverted_index(docs, "doc_id", "text").collect()}
    assert rows["alpha"]["doc_freq"] == 2
    assert rows["alpha"]["total_tf"] == 3
    assert rows["alpha"]["postings"] == "1:2 3:1"
    assert rows["beta"]["postings"] == "1:1 2:1"
    assert rows["gamma"]["postings"] == "2:1"


def test_bm25_ranks_term_rich_doc_first(spark):
    docs = _docs(
        spark,
        [
            (1, "spark shuffle spark shuffle spark"),  # both terms, high tf
            (2, "spark filler filler filler filler"),  # one term
            (3, "nothing relevant here at all okay"),  # no terms
        ],
    )
    out = idx.bm25_topk(docs, "doc_id", "text", ["spark", "shuffle"], k=5).collect()
    assert [r["doc_id"] for r in out] == [1, 2]  # doc 3 never scores
    assert out[0]["bm25"] > out[1]["bm25"]


def test_bm25_empty_query_raises(spark):
    docs = _docs(spark, [(1, "x")])
    with pytest.raises(ValueError):
        idx.bm25_topk(docs, "doc_id", "text", [])


def test_duplicate_spans_planted(spark):
    shared = " ".join(f"w{i}" for i in range(8))  # one full window
    docs = _docs(
        spark,
        [
            (1, shared + " unique1 tail one"),
            (2, shared + " unique2 tail two"),
            (3, "completely different words here no overlap at all present"),
        ],
    )
    rows = {
        r["doc_id"]: r
        for r in dedup.duplicate_spans(
            docs, "doc_id", "text", window=8, stride=4
        ).collect()
    }
    # docs 1/2 share the window starting at token 1; doc 3 shares none
    assert rows[1]["n_dup_windows"] >= 1
    assert rows[2]["n_dup_windows"] >= 1
    assert rows[3]["n_dup_windows"] == 0
    assert rows[3]["dup_frac"] == 0.0
    # totality: every input doc has a row and >=1 window
    assert set(rows) == {1, 2, 3}
    assert all(r["n_windows"] >= 1 for r in rows.values())


def test_duplicate_spans_short_and_empty_docs(spark):
    docs = _docs(spark, [(1, "a b"), (2, "a b"), (3, ""), (4, "")])
    rows = {
        r["doc_id"]: r
        for r in dedup.duplicate_spans(
            docs, "doc_id", "text", window=8, stride=4
        ).collect()
    }
    # sub-window docs collapse to one whole-text window; empties match
    # empties (both pairs mutual duplicates)
    assert all(rows[i]["n_windows"] == 1 for i in (1, 2, 3, 4))
    assert all(rows[i]["n_dup_windows"] == 1 for i in (1, 2, 3, 4))


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_type string"
    )


def test_funnel_order_matters(spark):
    t0 = datetime.datetime(2024, 1, 1)
    m = datetime.timedelta(minutes=1)
    ev = _events(
        spark,
        [
            # user 1 completes in order
            (1, t0, "view"), (1, t0 + m, "click"), (1, t0 + 2 * m, "purchase"),
            # user 2: click BEFORE view -> stops at view
            (2, t0 + m, "view"), (2, t0, "click"),
            # user 3: view+click only
            (3, t0, "view"), (3, t0 + m, "click"),
            # user 4: purchase without view -> not even step 1
            (4, t0, "purchase"),
        ],
    )
    out = {r["step"]: r for r in analytics.funnel(ev, ["view", "click", "purchase"]).collect()}
    assert out["view"]["users"] == 3
    assert out["click"]["users"] == 2  # users 1 and 3
    assert out["purchase"]["users"] == 1
    assert out["purchase"]["conversion"] == pytest.approx(1 / 3, abs=1e-7)


def test_funnel_counts_are_monotone_on_fixture(spark, sf_dir):
    from nbi_oedi_etl_v2_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    out = analytics.funnel(ev, ["view", "click", "purchase"]).collect()
    users = [r["users"] for r in sorted(out, key=lambda r: r["step_index"])]
    assert users == sorted(users, reverse=True)


def test_cohort_retention_planted(spark):
    t0 = datetime.datetime(2024, 1, 1)  # a Monday
    w = datetime.timedelta(weeks=1)
    ev = _events(
        spark,
        [
            (1, t0, "view"), (1, t0 + w, "view"),        # cohort w0, active w0+w1
            (2, t0, "view"),                              # cohort w0, active w0
            (3, t0 + w, "view"), (3, t0 + 2 * w, "view"),  # cohort w1
        ],
    )
    rows = {
        (r["cohort_week"], r["week_offset"]): r["active_users"]
        for r in analytics.cohort_retention(ev).collect()
    }
    assert rows[(t0, 0)] == 2
    assert rows[(t0, 1)] == 1
    assert rows[(t0 + w, 0)] == 1
    assert rows[(t0 + w, 1)] == 1


def test_skyline_strict_dominance_ties_survive(spark):
    from nbi_oedi_etl_v2_spark.operators import analytics

    rows = [
        (1, 10.0, 5),   # dominated by id 3 (both axes strictly better)
        (2, 20.0, 3),   # front (best x among y<=3... dominated? see 5)
        (3, 15.0, 6),   # front
        (4, 15.0, 6),   # exact tie with 3 — both survive (strict dominance)
        (5, 20.0, 3),   # exact tie with 2 — both survive
        (6, 20.0, 2),   # same x as 2/5, lower y → dominated
        (7, 5.0, 7),    # front (highest y)
    ]
    df = spark.createDataFrame(rows, "id int, x double, y int")
    out = analytics.skyline_2d(df, "x", "y")
    assert sorted(r.id for r in out.collect()) == [2, 3, 4, 5, 7]


def test_gapfill_interp_planted(spark):
    """One entity, observations at hours 0 (v=10) and 4 (v=30), a lone
    hour-6 reading (v=50): interior gap hours interpolate linearly
    (10 + (30-10)*k/4), the hour-5 gap interpolates toward hour 6,
    and there are no leading/trailing gaps."""
    from nbi_oedi_etl_v2_spark.operators.downsample import (
        gapfill_hourly_interp,
    )

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def at(h):
        return t0 + datetime.timedelta(hours=h)

    df = spark.createDataFrame(
        [(1, at(0), 10.0), (1, at(4), 30.0), (1, at(6), 50.0)],
        "user_id bigint, ts timestamp, value double",
    )
    out = {
        r["hr"].hour: (r["is_gap"], r["value_interp"])
        for r in gapfill_hourly_interp(df, "ts", "user_id", "value").collect()
    }
    assert len(out) == 7
    assert out[0] == (False, 10.0)
    assert out[1] == (True, 15.0)
    assert out[2] == (True, 20.0)
    assert out[3] == (True, 25.0)
    assert out[4] == (False, 30.0)
    assert out[5] == (True, 40.0)
    assert out[6] == (False, 50.0)


def test_gapfill_interp_edge_fills(spark):
    """An entity whose series starts/ends with gap hours cannot exist
    (bounds come from observed hours), but single-observation entities
    and adjacent observations must pass through unchanged."""
    from nbi_oedi_etl_v2_spark.operators.downsample import (
        gapfill_hourly_interp,
    )

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    df = spark.createDataFrame(
        [
            (1, t0, 7.0),
            (2, t0, 1.0),
            (2, t0 + datetime.timedelta(hours=1), 2.0),
        ],
        "user_id bigint, ts timestamp, value double",
    )
    rows = gapfill_hourly_interp(df, "ts", "user_id", "value").collect()
    got = {(r["user_id"], r["hr"].hour): r["value_interp"] for r in rows}
    assert got == {(1, 0): 7.0, (2, 0): 1.0, (2, 1): 2.0}
    assert all(not r["is_gap"] for r in rows)


def test_hourly_mean_of_non_finite_readings(spark):
    """The hourly mean follows IEEE (pyarrow's ``mean``) on NaN and
    ±inf readings instead of dropping them from the sum while the
    count keeps them, and still skips NULLs."""
    from nbi_oedi_etl_v2_spark.operators.downsample import downsample

    inf, nan = float("inf"), float("nan")
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    readings = {1: [1.0, nan], 2: [1.0, inf], 3: [inf, -inf], 4: [-inf, 2.0],
                5: [1.0, None, 2.0], 6: [None, None], 7: [0.1, 0.2]}
    df = spark.createDataFrame(
        [(b, t0 + datetime.timedelta(minutes=15 * i), v)
         for b, vs in readings.items() for i, v in enumerate(vs)],
        "bldg_id bigint, timestamp timestamp, v double",
    )
    got = {r["bldg_id"]: r["v_mean"] for r in downsample(df).collect()}
    assert math.isnan(got.pop(1)) and math.isnan(got.pop(3))
    assert got == {2: inf, 4: -inf, 5: 1.5, 6: None, 7: 0.15}
