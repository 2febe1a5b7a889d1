from __future__ import annotations

import datetime as dt

from kgpipe.convops import role_transitions, sessionize


def _ts(minutes):
    return dt.datetime(2025, 1, 1) + dt.timedelta(minutes=minutes)


def test_sessionize_gap_split(spark):
    rows = [
        ("c1", 0, "user", "hi", None, _ts(0)),
        ("c1", 1, "assistant", "hello", None, _ts(2)),
        ("c1", 2, "user", "later", None, _ts(40)),   # 38 min gap -> new
        ("c1", 3, "assistant", "ok", None, _ts(41)),
        ("c2", 0, "user", "solo", None, _ts(0)),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    got = {
        (r["conv_id"], r["turn_idx"]): r["session_idx"]
        for r in sessionize(df, gap_seconds=900).collect()
    }
    assert got[("c1", 0)] == 0 and got[("c1", 1)] == 0
    assert got[("c1", 2)] == 1 and got[("c1", 3)] == 1
    assert got[("c2", 0)] == 0


def test_sessionize_null_ts(spark):
    rows = [
        ("c1", 0, "user", "a", None, None),
        ("c1", 1, "assistant", "b", None, None),
        ("c1", 2, "user", "c", None, _ts(500)),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    got = [
        r["session_idx"]
        for r in sessionize(df).orderBy("turn_idx").collect()
    ]
    # NULL ts never opens a session boundary
    assert got == [0, 0, 0]


def test_sessionize_mixed_null_ts_gap_still_splits(spark):
    # a NULL-ts turn between timestamped turns must not swallow the gap:
    # the next timestamped turn compares against the LAST non-NULL ts
    rows = [
        ("c1", 0, "user", "a", None, _ts(0)),
        ("c1", 1, "tool", "b", None, None),       # untimestamped tool log
        ("c1", 2, "user", "c", None, _ts(40)),    # 40 min after turn 0
        ("c1", 3, "assistant", "d", None, _ts(41)),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    got = [
        r["session_idx"]
        for r in sessionize(df, gap_seconds=900).orderBy("turn_idx").collect()
    ]
    assert got == [0, 0, 1, 1]


def test_role_transitions(spark):
    rows = [
        ("c1", 0, "user"), ("c1", 1, "assistant"), ("c1", 2, "user"),
        ("c1", 3, "assistant"),
        ("c2", 0, "user"), ("c2", 1, "assistant"), ("c2", 2, "tool"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role"])
    got = {
        (r["from_role"], r["to_role"]): (r["n_transitions"], r["n_convs"])
        for r in role_transitions(df).collect()
    }
    assert got[("user", "assistant")] == (3, 2)
    assert got[("assistant", "user")] == (1, 1)
    assert got[("assistant", "tool")] == (1, 1)
    assert len(got) == 3


def test_conversation_features(spark):
    from kgpipe.convops import conversation_features

    t = spark.createDataFrame(
        [("c1", 0, "user", "hi", None, None),
         ("c1", 1, "assistant", "hello there", None, None),
         ("c1", 2, "tool", "result", "search", None),
         ("c2", 0, "user", "x", None, None)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    got = {r["conv_id"]: r for r in conversation_features(t).collect()}
    c1 = got["c1"]
    assert (c1["n_turns"], c1["n_user"], c1["n_assistant"],
            c1["n_tool_calls"]) == (3, 1, 1, 1)
    assert c1["total_chars"] == 2 + 11 + 6 and c1["max_turn_chars"] == 11
    assert got["c2"]["n_turns"] == 1


def test_topic_boundaries(spark):
    from kgpipe.convops import topic_boundaries

    t = spark.createDataFrame(
        [("c", 0, "alpha beta gamma"),
         ("c", 1, "alpha beta delta"),      # 2/4 = 50% overlap
         ("c", 2, "epsilon zeta eta"),      # 0/6 -> boundary
         ("d", 0, "solo turn here")],       # first turn: no row
        ["conv_id", "turn_idx", "text"])
    got = {r["turn_idx"]: (r["n_inter"], r["n_union"], r["boundary"])
           for r in topic_boundaries(t, threshold_pct=25).collect()}
    assert got == {1: (2, 4, False), 2: (0, 6, True)}


def test_dialogue_acts(spark):
    from kgpipe.convops import dialogue_acts

    t = spark.createDataFrame(
        [("c", 0, "user", "what is this?"),
         ("c", 1, "assistant", "merge the tables now"),
         ("c", 2, "user", "the weather is nice"),
         ("c", 3, "tool", "Sort results by key")],  # case-folded verb
        ["conv_id", "turn_idx", "role", "text"])
    got = {r["turn_idx"]: r["act"] for r in dialogue_acts(t).collect()}
    assert got == {0: "question", 1: "command", 2: "statement",
                   3: "command"}


def test_turn_retries(spark):
    from kgpipe.convops import turn_retries

    t = spark.createDataFrame(
        [("c", 0, "assistant", "try the merge again now"),
         ("c", 2, "assistant", "try the merge again now"),   # exact retry
         ("c", 4, "assistant", "something completely different here"),
         ("c", 1, "user", "try the merge again now")],       # other role
        ["conv_id", "turn_idx", "role", "text"])
    got = [(r["turn_a"], r["turn_b"], r["n_inter"], r["n_union"])
           for r in turn_retries(t, threshold_pct=80).collect()]
    assert got == [(0, 2, 5, 5)]  # only the same-role exact repeat


def test_conv_keywords(spark):
    from kgpipe.convops import conv_keywords

    rows = [
        ("c1", 0, "u", "alpha alpha beta gamma xy", None, None),
        ("c1", 1, "a", "beta beta beta gamma", None, None),
        ("c2", 0, "u", "delta", None, None),
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")
    got = conv_keywords(t, k=2, min_len=4).collect()
    c1 = sorted([(r["token"], r["n"], r["rank"]) for r in got
                 if r["conv_id"] == "c1"])
    # beta 4x beats alpha 2x; gamma 2x ties alpha -> token asc: alpha
    assert c1 == [("alpha", 2, 2), ("beta", 4, 1)]
    # "xy" dropped by min_len; c2 has its single keyword
    c2 = [(r["token"], r["rank"]) for r in got if r["conv_id"] == "c2"]
    assert c2 == [("delta", 1)]


def test_qa_pairs(spark):
    from kgpipe.convops import qa_pairs

    rows = [
        ("c1", 0, "user", "how do i merge?", None, None),
        ("c1", 1, "user", "also this?", None, None),
        ("c1", 2, "assistant", "like so", None, None),
        ("c1", 3, "user", "unanswered far q?", None, None),
        ("c1", 9, "assistant", "too late", None, None),
        ("c2", 0, "user", "q?", None, None),
        ("c2", 1, "user", "same role follows", None, None),
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")
    got = {(r["conv_id"], r["q_turn"]): (r["a_turn"], r["a_role"])
           for r in qa_pairs(t, max_gap=3).collect()}
    # both early questions answered by the FIRST different-role turn (2)
    assert got[("c1", 0)] == (2, "assistant")
    assert got[("c1", 1)] == (2, "assistant")
    # turn 3's only later turn is 6 turns away -> no row
    assert ("c1", 3) not in got
    # c2's only follow-up shares the role -> no row
    assert ("c2", 0) not in got


def test_conversation_fingerprints(spark):
    from kgpipe.convops import conversation_fingerprints

    rows = [
        # c1 and c3 are the same conversation content; c2 differs
        ("c1", 0, "u", "hello there", None, None),
        ("c1", 1, "a", "hi", None, None),
        ("c3", 1, "a", "hi", None, None),   # out-of-order input rows
        ("c3", 0, "u", "hello there", None, None),
        ("c2", 0, "u", "hello there", None, None),
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    got = {r["conv_id"]: r for r in
           conversation_fingerprints(t).collect()}
    assert got["c1"]["conv_hash"] == got["c3"]["conv_hash"]
    assert got["c2"]["conv_hash"] != got["c1"]["conv_hash"]
    # lexicographically first conv wins
    assert got["c1"]["keep"] and not got["c3"]["keep"]
    assert got["c2"]["keep"]


def test_conversation_fingerprints_delimiters_in_text(spark):
    """Turn text holding the encoding's delimiters cannot make two
    different conversations hash alike: ca's single turn "a|1:b" against
    cb's turns "a" and "b" (equal under a plain ':'/'|' join)."""
    from kgpipe.convops import conversation_fingerprints

    rows = [
        ("ca", 0, "u", "a|1:b", None, None),
        ("cb", 0, "u", "a", None, None),
        ("cb", 1, "u", "b", None, None),
        # NULL text and empty text are different turns
        ("cn", 0, "u", None, None, None),
        ("ce", 0, "u", "", None, None),
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    got = {r["conv_id"]: r for r in
           conversation_fingerprints(t).collect()}
    assert len({r["conv_hash"] for r in got.values()}) == 4
    assert all(r["keep"] for r in got.values())


def test_qa_pairs_across_buckets(spark):
    """The banded join finds every answer a conv_id-only join finds,
    whatever bucket boundary lies between question and answer (negative
    turn indices included)."""
    from kgpipe.convops import qa_pairs

    roles = ["user", "user", "assistant", "tool", "user", "assistant"]
    rows = [("c", i, roles[(i * 7) % 6], "q?" if i % 3 else "a", None, None)
            for i in range(-9, 30)]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    for max_gap in (1, 2, 3, 5):
        want = set()
        for _, qi, qr, text, _, _ in rows:
            if not text.endswith("?"):
                continue
            ans = [(ai, ar) for _, ai, ar, _, _, _ in rows
                   if qi < ai <= qi + max_gap and ar != qr]
            if ans:
                want.add(("c", qi, qr) + min(ans))
        got = {tuple(r) for r in qa_pairs(t, max_gap=max_gap).collect()}
        assert got == want, max_gap


def test_response_latency(spark):
    import datetime as dt

    from kgpipe.convops import response_latency

    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        ("c1", 0, "user", "q", None, ts(0)),
        ("c1", 1, "assistant", "a", None, ts(5)),
        ("c1", 2, "user", "q2", None, ts(65)),
        ("c1", 3, "assistant", "a2", None, ts(80)),
        ("c2", 0, "user", "q", None, ts(0)),
        ("c2", 1, "assistant", "a", None, None),  # NULL ts pair excluded
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    got = {(r["from_role"], r["to_role"]):
           (r["n_transitions"], r["total_gap_s"])
           for r in response_latency(t).collect()}
    assert got[("user", "assistant")] == (2, 20)   # 5 + 15
    assert got[("assistant", "user")] == (1, 60)
    assert len(got) == 2
