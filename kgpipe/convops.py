"""Conversation-structure analytics over the transcript table: gap-based
sessionization and role-transition statistics.

The reference pipeline's unit of work is a whole document flowing through
UIMA annotators (nlp-pipelines-runner PipelineBase); it has no notion of
time-structured dialogue.  These operators cover the transcript-payload
side of the task brief: multi-turn conversations carry a ``ts:timestamp``
column (BASELINE.json input_hint) and real agent logs need episode
segmentation and turn-taking statistics before KG construction.

Both operators are one hash-exchange-on-conv_id window plans — the same
shuffle shape as mention detection and co-occurrence, so at 100 TB they
ride the partitioning the pipeline already has.  Skew is bounded by
conversation length: a mega-conversation lands in one task.  These
operators have no guard for that; the KG path's guard is the fused plan's
``max_turns_per_group``, which replaces conversation-wide state with
side-table aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def sessionize(
    transcripts: DataFrame, gap_seconds: int = 900
) -> DataFrame:
    """Split each conversation into sessions at inactivity gaps: a turn
    starts a new session when it follows the conversation's most recent
    TIMESTAMPED turn (stable ``turn_idx`` order) by more than
    ``gap_seconds``.  Adds a 0-based ``session_idx`` column; turns with
    NULL ``ts`` never open a new session (offline transcripts without
    timestamps collapse to one session per conversation, preserving
    reference-parity turn grouping), and a NULL-ts turn sandwiched
    between timestamped turns does NOT suppress the gap on the next
    timestamped turn — the gap compares against the last non-NULL ``ts``
    (``last_value IGNORE NULLS``), not the immediate predecessor.

    Classic log sessionization: last-non-null lookback + cumulative-sum-
    of-boundaries over a per-conversation window — one exchange, local
    sort, no Python.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    prev_ts = F.last("ts", ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    boundary = (
        prev_ts.isNotNull()
        & F.col("ts").isNotNull()
        & (F.col("ts").cast("long") - prev_ts.cast("long") > gap_seconds)
    ).cast("int")
    session_idx = F.sum(boundary).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return transcripts.withColumn(
        "session_idx", session_idx.cast("int")
    )


def role_transitions(transcripts: DataFrame) -> DataFrame:
    """Turn-taking statistics: for each ordered role pair (who speaks
    after whom, in stable ``turn_idx`` order within a conversation),
    the number of transitions and the number of distinct conversations
    exhibiting it — ``(from_role, to_role, n_transitions, n_convs)``.

    The window exchange partitions on conv_id; the final aggregate is
    key-width (role vocabularies are tiny) with a map-side partial.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    staged = transcripts.select(
        "conv_id",
        F.lag("role").over(w).alias("from_role"),
        F.col("role").alias("to_role"),
    ).filter(F.col("from_role").isNotNull())
    return staged.groupBy("from_role", "to_role").agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.countDistinct("conv_id").alias("n_convs"),
    )


def conversation_features(transcripts: DataFrame) -> DataFrame:
    """Per-conversation curation features: ``(conv_id, n_turns, n_user,
    n_assistant, n_tool_calls, total_chars, max_turn_chars)`` — the
    aggregate profile transcript-level training-data filters select on
    (dialogue length, speaker balance, tool usage, degenerate-turn
    detection).  One hash aggregation keyed on conv_id with map-side
    partial aggregation; every feature is integer-exact so the whole
    profile is oracle-hashable.
    """
    return transcripts.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum((F.col("role") == "user").cast("int")).alias("n_user"),
        F.sum((F.col("role") == "assistant").cast("int"))
        .alias("n_assistant"),
        F.sum(F.col("tool").isNotNull().cast("int")).alias("n_tool_calls"),
        F.sum(F.length("text")).alias("total_chars"),
        F.max(F.length("text")).alias("max_turn_chars"),
    )


def topic_boundaries(
    transcripts: DataFrame, threshold_pct: int = 25
) -> DataFrame:
    """TextTiling-style lexical-cohesion topic segmentation (Hearst,
    CL 1997 — the adjacent-block token-overlap variant): for every turn
    after its conversation's first, compare the turn's distinct token
    set with the previous turn's; a topic boundary opens when the
    Jaccard overlap falls below ``threshold_pct`` percent.  Output =
    ``(conv_id, turn_idx, n_inter, n_union, boundary)`` with the
    comparison kept in EXACT integers (``n_inter * 100 <
    threshold_pct * n_union`` — no float ratio, so the flag is
    oracle-hashable and threshold semantics are engine-identical).

    One conv_id window exchange (the partitioning every transcript
    operator in this module rides) + JVM array set ops; token arrays
    live only inside the lag/compare, never in the shuffle key.
    """
    toks = F.array_distinct(F.split(F.lower(F.col("text")), " "))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    cur = transcripts.withColumn("_toks", toks)
    prev = F.lag("_toks").over(w)
    return (
        cur.withColumn("_prev", prev)
        .filter(F.col("_prev").isNotNull())
        .withColumn("n_inter",
                    F.size(F.array_intersect("_toks", "_prev")))
        .withColumn("n_union", F.size(F.array_union("_toks", "_prev")))
        .select(
            "conv_id", "turn_idx", "n_inter", "n_union",
            (F.col("n_inter") * 100
             < F.lit(int(threshold_pct)) * F.col("n_union"))
            .alias("boundary"),
        )
    )


DIALOGUE_ACT_VERBS = (
    "merge", "filter", "scan", "sort", "join", "group", "query",
    "run", "show", "list", "create", "delete", "update", "set",
)


def dialogue_acts(
    transcripts: DataFrame,
    imperative_verbs: tuple[str, ...] = DIALOGUE_ACT_VERBS,
) -> DataFrame:
    """Heuristic per-turn dialogue-act classification for agent
    transcripts: ``question`` when the trimmed text ends with ``?``,
    ``command`` when the first token (lowercased) is an imperative
    verb, else ``statement`` — ``(conv_id, turn_idx, role, act)``.
    The deterministic surface-form rule set (punctuation + initial
    verb) is the standard cheap baseline ahead of any learned DA
    tagger; swap the verb list per domain.

    Pure narrow column expressions on the existing partitioning — no
    window, no shuffle, no Python.
    """
    first_tok = F.lower(F.element_at(
        F.split(F.trim(F.col("text")), " "), 1))
    act = (
        F.when(F.trim(F.col("text")).endswith("?"), F.lit("question"))
        .when(first_tok.isin(*imperative_verbs), F.lit("command"))
        .otherwise(F.lit("statement"))
    )
    return transcripts.select(
        "conv_id", "turn_idx", "role", act.alias("act"))


def turn_retries(
    transcripts: DataFrame, threshold_pct: int = 60
) -> DataFrame:
    """Stuck-agent / retry detection: pairs of SAME-ROLE turns in one
    conversation whose distinct-token-set Jaccard overlap is at least
    ``threshold_pct`` percent — the repeated-assistant-retry loop every
    agent-log curation pass filters before KG construction:
    ``(conv_id, role, turn_a, turn_b, n_inter, n_union)`` with
    ``turn_a < turn_b`` and the threshold in exact integers
    (``n_inter * 100 >= threshold_pct * n_union``).

    One conv_id-keyed self-join: per-conversation cost is quadratic in
    the conversation's OWN turn count (the bounded-skew shape every
    operator in this module shares; unlike the fused plan's
    ``max_turns_per_group``, nothing here guards a mega-conversation),
    never in the corpus.
    """
    toks = F.array_distinct(F.split(F.lower(F.col("text")), " "))
    base = transcripts.select(
        "conv_id", "role", F.col("turn_idx"), toks.alias("_toks"))
    a = base.select("conv_id", "role",
                    F.col("turn_idx").alias("turn_a"),
                    F.col("_toks").alias("_ta"))
    b = base.select("conv_id", "role",
                    F.col("turn_idx").alias("turn_b"),
                    F.col("_toks").alias("_tb"))
    return (
        a.join(b, ["conv_id", "role"])
        .filter(F.col("turn_a") < F.col("turn_b"))
        .withColumn("n_inter", F.size(F.array_intersect("_ta", "_tb")))
        .withColumn("n_union", F.size(F.array_union("_ta", "_tb")))
        .filter(F.col("n_inter") * 100
                >= F.lit(int(threshold_pct)) * F.col("n_union"))
        .select("conv_id", "role", "turn_a", "turn_b",
                "n_inter", "n_union")
    )


def conv_keywords(
    transcripts: DataFrame, k: int = 5, min_len: int = 4
) -> DataFrame:
    """Per-conversation salient terms: the top-``k`` tokens by
    within-conversation frequency — ``(conv_id, token, n, rank)`` with
    tokens shorter than ``min_len`` characters dropped (the cheap
    stopword proxy for the reference's PubMed stopword list, which
    kgpipe.disambig applies where real IDF is wanted) and ties broken
    by token ascending so the cut is deterministic.

    One (conv_id, token) partial-aggregated exchange + one conv_id
    window for the rank — the token explode never shuffles raw text,
    only (conv_id, token) pairs, and the window input is the
    aggregate (distinct tokens per conversation), not the corpus.
    """
    tok = F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    counts = (
        transcripts.select("conv_id", tok)
        .filter(F.length("token") >= int(min_len))
        .groupBy("conv_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("conv_id").orderBy(
        F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
    )


def qa_pairs(transcripts: DataFrame, max_gap: int = 3) -> DataFrame:
    """Question->answer turn linking: for every question turn (trimmed
    text ends with ``?`` — the ``dialogue_acts`` question rule), the
    FIRST subsequent turn by a DIFFERENT role within ``max_gap`` turns,
    as ``(conv_id, q_turn, q_role, a_turn, a_role)``.  The structural
    edge a transcript KG wants alongside isPartOf/hasRole: who answered
    whom (unanswered questions simply emit no row).

    **Banded join** (the ``cooccurrence_pairs`` pattern): both sides
    key on (conv_id, turn bucket of width ``max_gap + 1``) and each
    question is replicated to its own bucket and the next one, so every
    candidate answer turn meets its question on exactly one key; then a
    row_number window picks the earliest answer.  A conversation costs
    O(turns * max_gap), never quadratic in its length.
    """
    width = max(int(max_gap), 0) + 1
    bucket = F.floor(F.col("turn_idx") / width)
    is_q = F.trim(F.col("text")).endswith("?")
    q = transcripts.filter(is_q).select(
        "conv_id",
        F.col("turn_idx").alias("q_turn"),
        F.col("role").alias("q_role"),
        F.explode(F.array(bucket, bucket + 1)).alias("_bkt"),
    )
    a = transcripts.select(
        "conv_id",
        F.col("turn_idx").alias("a_turn"),
        F.col("role").alias("a_role"),
        bucket.alias("_bkt"),
    )
    w = Window.partitionBy("conv_id", "q_turn", "q_role").orderBy(
        F.asc("a_turn"), F.asc("a_role"))
    return (
        q.join(a, ["conv_id", "_bkt"])
        .filter(
            (F.col("a_turn") > F.col("q_turn"))
            & (F.col("a_turn") <= F.col("q_turn") + int(max_gap))
            & (F.col("a_role") != F.col("q_role"))
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("conv_id", "q_turn", "q_role", "a_turn", "a_role")
    )


def conversation_fingerprints(transcripts: DataFrame) -> DataFrame:
    """Conversation-level exact dedup: ``(conv_id, conv_hash, keep)``
    where ``conv_hash`` is the md5 of the conversation's turns in
    (turn_idx, text) order, each encoded as
    ``<turn_idx>:<length(text)>:<text>`` (length -1 and empty text for a
    NULL text), and ``keep`` marks the lexicographically
    first conv_id per hash — replayed / re-run conversations (the
    agent-log analogue of document exact-dedup, which catches
    per-TURN duplicates but not whole replays) collapse to one keeper.

    One conv_id aggregation (sort_array over collected (turn_idx,
    text) structs, so the hash is order-canonical regardless of input
    row order) + one hash-keyed min window over the per-conversation
    digest table — the second exchange carries one row per
    conversation, never raw text.  The length prefix makes the encoding
    injective: text containing ``:`` or ``|`` cannot make two different
    conversations encode alike.
    """
    digest = (
        transcripts
        .groupBy("conv_id")
        .agg(F.sort_array(F.collect_list(
            F.struct("turn_idx", "text"))).alias("_turns"))
        .select(
            "conv_id",
            F.md5(F.array_join(F.transform(
                "_turns",
                lambda t: F.concat(
                    t["turn_idx"].cast("string"), F.lit(":"),
                    F.coalesce(F.length(t["text"]), F.lit(-1))
                    .cast("string"), F.lit(":"),
                    F.coalesce(t["text"], F.lit(""))),
            ), "")).alias("conv_hash"),
        )
    )
    w = Window.partitionBy("conv_hash")
    return digest.withColumn(
        "keep", F.col("conv_id") == F.min("conv_id").over(w))


def response_latency(transcripts: DataFrame) -> DataFrame:
    """Role-to-role response-time profile: for every adjacent turn pair
    inside a conversation, aggregate ``(from_role, to_role,
    n_transitions, total_gap_s)`` where the gap is the whole-second
    timestamp delta — the turn-taking latency table (how long the
    assistant keeps users waiting, how fast tools return) kept
    exact-integer so it is oracle-hashable (mean latency is one
    caller-side division).  Pairs with a NULL timestamp on either side
    are excluded, mirroring ``sessionize``'s gap semantics.

    One conv_id window (the shared transcript partitioning) + one
    tiny (role x role) aggregate.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    prev_role = F.lag("role").over(w)
    return (
        transcripts
        .withColumn("from_role", prev_role)
        .withColumn("gap_s", gap)
        .filter(F.col("from_role").isNotNull() & F.col("gap_s").isNotNull())
        .groupBy("from_role", F.col("role").alias("to_role"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_transitions"),
            F.sum("gap_s").cast("long").alias("total_gap_s"),
        )
    )
