from __future__ import annotations

import datetime as dt

import pytest

from kgpipe.temporal import asof_join


def _ts(s):
    return dt.datetime(2026, 1, 1) + dt.timedelta(seconds=s)


@pytest.fixture()
def quotes_trades(spark):
    trades = spark.createDataFrame(
        [("A", _ts(3), 100), ("A", _ts(10), 200), ("B", _ts(5), 300),
         ("C", _ts(1), 400)],
        "sym string, ts timestamp, qty int",
    )
    quotes = spark.createDataFrame(
        [("A", _ts(1), 10.0), ("A", _ts(3), 11.0), ("A", _ts(7), 12.0),
         ("B", _ts(6), 20.0)],
        "sym string, ts timestamp, px double",
    )
    return trades, quotes


def test_asof_backward_inclusive(quotes_trades):
    trades, quotes = quotes_trades
    out = {(r["sym"], r["qty"]): (r["px_r"], r["ts_r"])
           for r in asof_join(trades, quotes, on="sym").collect()}
    assert out[("A", 100)] == (11.0, _ts(3))   # equal ts matches
    assert out[("A", 200)] == (12.0, _ts(7))   # latest at-or-before
    assert out[("B", 300)] == (None, None)     # quote is later -> no match
    assert out[("C", 400)] == (None, None)     # no quotes at all


def test_asof_backward_strict(quotes_trades):
    trades, quotes = quotes_trades
    out = {(r["sym"], r["qty"]): r["px_r"]
           for r in asof_join(trades, quotes, on="sym",
                              strict=True).collect()}
    assert out[("A", 100)] == 10.0  # equal ts excluded -> falls back to t=1


def test_asof_forward(quotes_trades):
    trades, quotes = quotes_trades
    out = {(r["sym"], r["qty"]): r["px_r"]
           for r in asof_join(trades, quotes, on="sym",
                              direction="forward").collect()}
    assert out[("A", 100)] == 11.0   # equal ts matches forward too
    assert out[("A", 200)] is None   # nothing after t=10
    assert out[("B", 300)] == 20.0   # earliest at-or-after


def test_asof_duplicate_ts_tiebreak(spark):
    left = spark.createDataFrame([("k", _ts(5), 1)],
                                 "id string, ts timestamp, x int")
    right = spark.createDataFrame(
        [("k", _ts(2), 7.0), ("k", _ts(2), 9.0)],
        "id string, ts timestamp, v double",
    )
    out = asof_join(left, right, on="id").collect()
    assert len(out) == 1 and out[0]["v_r"] == 9.0  # greatest value wins


def test_asof_preserves_left_row_count(spark):
    import random

    rng = random.Random(7)
    left = spark.createDataFrame(
        [(f"k{i % 5}", _ts(rng.randint(0, 100)), i) for i in range(200)],
        "id string, ts timestamp, x int",
    )
    right = spark.createDataFrame(
        [(f"k{i % 7}", _ts(rng.randint(0, 100)), float(i)) for i in range(50)],
        "id string, ts timestamp, v double",
    )
    joined = asof_join(left, right, on="id")
    assert joined.count() == 200
    # every matched ts is <= the left ts
    bad = joined.filter("ts_r IS NOT NULL AND ts_r > ts").count()
    assert bad == 0


def test_latest_by_key(spark):
    from kgpipe.temporal import latest_by_key

    rows = [
        ("u1", "status", "new", _ts(1)),
        ("u1", "status", "active", _ts(5)),
        ("u1", "plan", "free", _ts(2)),
        ("u2", "status", "banned", _ts(9)),
        # duplicate-ts tie -> greatest obj wins deterministically
        ("u2", "plan", "a", _ts(3)), ("u2", "plan", "b", _ts(3)),
    ]
    df = spark.createDataFrame(rows, ["subj", "pred", "obj", "ts"])
    got = {(r["subj"], r["pred"]): r["obj"]
           for r in latest_by_key(df).collect()}
    assert got == {("u1", "status"): "active", ("u1", "plan"): "free",
                   ("u2", "status"): "banned", ("u2", "plan"): "b"}


def test_validity_intervals(spark):
    from kgpipe.temporal import latest_by_key, validity_intervals

    rows = [
        ("u1", "status", "new", _ts(1)),
        ("u1", "status", "active", _ts(5)),
        ("u1", "status", "banned", _ts(9)),
        ("u2", "status", "new", _ts(2)),
    ]
    df = spark.createDataFrame(rows, ["subj", "pred", "obj", "ts"])
    iv = {(r["subj"], r["obj"]): (r["valid_from"], r["valid_to"])
          for r in validity_intervals(df).collect()}
    assert iv[("u1", "new")] == (_ts(1), _ts(5))
    assert iv[("u1", "active")] == (_ts(5), _ts(9))
    assert iv[("u1", "banned")] == (_ts(9), None)
    assert iv[("u2", "new")] == (_ts(2), None)
    # the open intervals are exactly the latest_by_key view
    open_rows = validity_intervals(df).filter("valid_to IS NULL") \
        .select("subj", "pred", "obj", "ts")
    latest = latest_by_key(df)
    assert sorted(map(tuple, open_rows.collect())) == \
        sorted(map(tuple, latest.collect()))


def test_state_at_cutoff_and_strict(spark):
    from kgpipe.temporal import state_at

    log = spark.createDataFrame(
        [("k1", _ts(1), "v1"), ("k1", _ts(5), "v2"), ("k1", _ts(9), "v3"),
         ("k2", _ts(7), "w1")],
        "key string, ts timestamp, val string",
    )
    got = {r["key"]: r["val"]
           for r in state_at(log, _ts(5), keys=("key",)).collect()}
    assert got == {"k1": "v2"}  # k2 not yet asserted at t=5
    strict = {r["key"]: r["val"]
              for r in state_at(log, _ts(5), keys=("key",),
                                strict=True).collect()}
    assert strict == {"k1": "v1"}
    late = {r["key"]: r["val"]
            for r in state_at(log, _ts(100), keys=("key",)).collect()}
    assert late == {"k1": "v3", "k2": "w1"}


def test_temporal_conflicts(spark):
    from kgpipe.temporal import temporal_conflicts

    iv = spark.createDataFrame(
        [
            # touching intervals (SCD-2 chain): NOT a conflict
            ("k", "u", _ts(0), _ts(5)), ("k", "v", _ts(5), _ts(9)),
            # cross-source overlap with different value: conflict
            ("k", "w", _ts(3), _ts(6)),
            # overlap with SAME value: not a conflict
            ("k", "u", _ts(1), _ts(4)),
            # zero-length interval inside another: excluded
            ("k", "z", _ts(2), _ts(2)),
            # open interval overlapping everything after t=8
            ("k", "q", _ts(8), None),
        ],
        "key string, obj string, valid_from timestamp, valid_to timestamp",
    )
    got = {(r["val_a"], r["val_b"]) for r in
           temporal_conflicts(iv, keys=("key",), value_col="obj",
                              ).collect()}
    # u[0,5) vs w[3,6) twice; v[5,9) vs w[3,6); q[8,inf) vs v[5,9)
    assert got == {("u", "w"), ("v", "w"), ("q", "v")}
    n = (temporal_conflicts(iv, keys=("key",), value_col="obj")
         .count())
    assert n == 4  # u appears twice against w (two u intervals)


def test_concept_trends(spark):
    from kgpipe.temporal import concept_trends

    rows = (
        # c1: bucket 0 has 1 mention, bucket 1 has 4 (spike), bucket 3
        # has 2 (observed-prev is bucket 1's 4 -> no spike at 200%)
        [("k", 0, "c1", 0, 1, "t")]
        + [("k", 8 + i, "c1", 0, 1, "t") for i in range(4)]
        + [("k", 24, "c1", 0, 1, "t"), ("k", 25, "c1", 0, 1, "t")]
        # c2: single first appearance -> cold-start spike
        + [("k", 3, "c2", 0, 1, "t")]
    )
    m = spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "concept_id", "begin", "end",
               "covered_text"])
    got = {(r["concept_id"], r["bucket"]): (r["n"], r["prev_n"], r["spike"])
           for r in concept_trends(m, bucket_turns=8,
                                   spike_pct=200).collect()}
    assert got[("c1", 0)] == (1, 0, True)    # cold start
    assert got[("c1", 1)] == (4, 1, True)    # 400 > 200
    assert got[("c1", 3)] == (2, 4, False)   # 200 > 800 is false
    assert got[("c2", 0)] == (1, 0, True)
    assert len(got) == 4
