"""Temporal operators over keyed event tables, all batch: distributed
as-of joins, current-state and point-in-time views (``latest_by_key``,
``state_at``, ``validity_intervals``), interval conflicts and concept
trends.  An incremental run resumes through kgpipe.lineage; this module
keeps no state of its own.

Spark has no built-in as-of join (pandas ``merge_asof`` is single-node;
Flink/kdb expose it natively).  The classic scalable formulation is a
UNION + window scan instead of a join: tag both sides, sort each key
group once by (ts, side), and carry the right side's values forward with
``last_value(... ignoreNulls)``.  That costs exactly ONE exchange (hash
partition on the key) and one within-partition sort — no join, no
range-explosion, no skew amplification beyond the key's own row count —
so it holds at 10^12-event scale where a naive range join would
quadratically explode on hot keys.

Semantics match ``pandas.merge_asof(direction='backward'/'forward')``
with ``allow_exact_matches`` = ``not strict``: for every left row, the
single right row with the greatest ``ts`` <= (or smallest ``ts`` >=)
the left row's ``ts`` on the same key.  Ties inside the right side
(duplicate (key, ts)) are broken deterministically by the greatest
value tuple; pre-aggregate the right side if a different policy is
needed.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window, functions as F

_SIDE = "__asof_side"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    ts: str = "ts",
    value_cols: Optional[Sequence[str]] = None,
    direction: str = "backward",
    strict: bool = False,
    suffix: str = "_r",
) -> DataFrame:
    """For every ``left`` row, attach the matching ``right`` row's
    ``value_cols`` (and its timestamp as ``ts + suffix``): the latest
    right row at-or-before the left timestamp (``direction='backward'``,
    default) or the earliest at-or-after (``'forward'``) per join key.
    ``strict=True`` excludes equal timestamps (strictly before/after).
    Unmatched left rows keep NULLs — a left outer as-of join.

    Plan shape: unionByName(tagged left, tagged right) → one window over
    (key) ordered by (ts, side[, value tie-break]) → filter back to left
    rows.  One exchange total; both inputs are scanned exactly once.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    keys = [on] if isinstance(on, str) else list(on)
    if value_cols is None:
        value_cols = [
            c for c in right.columns if c not in keys and c != ts
        ]
    value_cols = list(value_cols)

    carried = [f"{c}{suffix}" for c in value_cols] + [f"{ts}{suffix}"]
    l_tag = left.select(
        *left.columns,
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"{c}{suffix}")
          for c in value_cols],
        F.lit(None).cast(right.schema[ts].dataType).alias(f"{ts}{suffix}"),
        F.lit(1).alias(_SIDE),
    )
    r_tag = right.select(
        *keys,
        F.col(ts),
        *[F.col(c).alias(f"{c}{suffix}") for c in value_cols],
        F.col(ts).alias(f"{ts}{suffix}"),
        F.lit(0).alias(_SIDE),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in keys and c != ts],
    ).select(l_tag.columns)

    # ordering: right rows must sort before the left rows they may serve.
    #   backward, inclusive: (ts asc, side asc)  — right at equal ts wins
    #   backward, strict:    (ts asc, side desc) — left precedes equal-ts right
    #   forward: mirror with ts desc (last_value then sees later rows first)
    ts_ord = F.col(ts).asc() if direction == "backward" else F.col(ts).desc()
    side_ord = F.col(_SIDE).desc() if strict else F.col(_SIDE).asc()
    # deterministic duplicate-(key, ts) tie-break: greatest value tuple wins
    tie = [F.col(c).asc_nulls_first() for c in carried]
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts_ord, side_ord, *tie)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = l_tag.unionByName(r_tag).select(
        *[c for c in l_tag.columns if c not in carried and c != _SIDE],
        F.col(_SIDE),
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in carried],
    )
    return filled.filter(F.col(_SIDE) == 1).drop(_SIDE)


def latest_by_key(
    df: DataFrame,
    keys: Sequence[str] = ("subj", "pred"),
    ts: str = "ts",
    tie_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Current-state view of a temporal fact table: the single latest row
    per ``keys`` (greatest ``ts``; ties broken deterministically by
    ``tie_cols`` descending — default: every remaining column).  Applied
    to a timestamped triple table this turns an append-only assertion log
    into the KG's present state (the SCD-style "latest per (subj, pred)"
    read); applied to an event stream it yields per-entity last-known
    state.

    One exchange (hash partition on ``keys``) + one within-partition
    sort — the row_number window's TopK pushes partial evaluation
    map-side, so at 10^12-row scale the shuffle carries only each
    partition's per-key leaders.
    """
    keys = list(keys)
    if tie_cols is None:
        tie_cols = [c for c in df.columns if c not in keys and c != ts]
    order = [F.col(ts).desc()] + [F.col(c).desc() for c in tie_cols]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def state_at(
    df: DataFrame,
    at,
    keys: Sequence[str] = ("subj", "pred"),
    ts: str = "ts",
    tie_cols: Optional[Sequence[str]] = None,
    strict: bool = False,
) -> DataFrame:
    """Point-in-time (time-travel) view of a temporal fact table: the
    latest row per ``keys`` as of timestamp ``at`` — i.e.
    ``latest_by_key`` restricted to assertions with ``ts <= at``
    (``strict=True`` excludes the boundary instant).  Keys first
    asserted after ``at`` are absent, exactly as the KG looked then.

    The cutoff is a plain comparison pushed to the scan (partition/
    row-group pruning on a ts-partitioned table is free), then the same
    single-exchange top-1 window as ``latest_by_key`` — history depth
    adds scan volume but never extra shuffles.
    """
    cmp = F.col(ts) < F.lit(at) if strict else F.col(ts) <= F.lit(at)
    return latest_by_key(df.filter(cmp), keys, ts, tie_cols)


def validity_intervals(
    df: DataFrame,
    keys: Sequence[str] = ("subj", "pred"),
    ts: str = "ts",
    tie_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Turn an append-only assertion log into SCD-2 validity ranges: each
    row gains ``valid_from`` (its own ``ts``) and ``valid_to`` (the next
    assertion's ``ts`` for the same ``keys``, NULL while still current).
    ``latest_by_key`` == the ``valid_to IS NULL`` slice of this view.

    Same single-exchange window shape as ``latest_by_key`` (hash
    partition on ``keys``, one sort); ordering ties at equal ``ts`` are
    broken by ``tie_cols`` ascending (default: all remaining columns) so
    interval chaining is deterministic.
    """
    keys = list(keys)
    if tie_cols is None:
        tie_cols = [c for c in df.columns if c not in keys and c != ts]
    order = [F.col(ts).asc()] + [F.col(c).asc() for c in tie_cols]
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.select(
        *df.columns,
        F.col(ts).alias("valid_from"),
        F.lead(ts).over(w).alias("valid_to"),
    )


def temporal_conflicts(
    intervals: DataFrame,
    keys: Sequence[str] = ("subj", "pred"),
    value_col: str = "obj",
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """Pairs of validity intervals that OVERLAP in time on the same key
    while asserting DIFFERENT values — the temporal-KG integrity check
    run after merging multiple sources' ``validity_intervals`` outputs
    (one source's chained intervals never overlap by construction; a
    second source asserting a conflicting value at the same instant is
    exactly what this surfaces): ``(*keys, val_a, val_b, from_a, to_a,
    from_b, to_b)``, each conflicting pair once (``val_a < val_b``).

    Overlap is strict (``a.from < b.to AND b.from < a.to``; an open
    ``valid_to`` is NULL = unbounded), so intervals that merely touch
    at a boundary — the normal SCD-2 chaining — never match, and
    zero-length intervals (duplicate-ts chains) are excluded.

    One self-equi-join keyed on ``keys``: per-key cost is the square of
    that key's VERSION count (history depth), never of the corpus —
    the usual temporal-table shape where keys carry tens of versions.
    """
    keys = list(keys)
    nonzero = F.col(to_col).isNull() | (F.col(to_col) > F.col(from_col))
    base = intervals.select(
        *keys, value_col, from_col, to_col).filter(nonzero)
    a = base.select(
        *keys, F.col(value_col).alias("val_a"),
        F.col(from_col).alias("from_a"), F.col(to_col).alias("to_a"))
    b = base.select(
        *keys, F.col(value_col).alias("val_b"),
        F.col(from_col).alias("from_b"), F.col(to_col).alias("to_b"))
    return a.join(b, keys).filter(
        (F.col("val_a") < F.col("val_b"))
        & (F.col("to_b").isNull() | (F.col("from_a") < F.col("to_b")))
        & (F.col("to_a").isNull() | (F.col("from_b") < F.col("to_a")))
    )


def concept_trends(
    mentions, bucket_turns: int = 8, spike_pct: int = 200
):
    """Corpus-wide concept burst detection over the mention stream:
    per (concept, turn-bucket of width ``bucket_turns``) mention
    counts with the previous OBSERVED bucket's count and an
    exact-integer spike flag — ``(concept_id, bucket, n, prev_n,
    spike)`` where ``spike = n * 100 > spike_pct * prev_n`` (a bucket
    with no earlier observation compares against ``prev_n = 0``, so a
    concept's first appearance is flagged iff it appears at all —
    the cold-start convention every burst detector must pick;
    documented rather than hidden).  "Previous observed" (lag over
    existing buckets, not bucket-1) keeps sparse concepts comparable
    without densifying the bucket axis.

    One (concept, bucket) partial-aggregated exchange + one
    concept-keyed lag window over the AGGREGATE — per-concept window
    size is its observed-bucket count, so no skew amplification
    beyond the aggregation itself.
    """
    from pyspark.sql import Window, functions as F

    counts = (
        mentions
        .groupBy(
            "concept_id",
            F.floor(F.col("turn_idx") / int(bucket_turns))
            .cast("long").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("concept_id").orderBy("bucket")
    return (
        counts
        .withColumn(
            "prev_n", F.coalesce(F.lag("n").over(w), F.lit(0).cast("long")))
        .withColumn(
            "spike",
            F.col("n") * 100 > F.lit(int(spike_pct)) * F.col("prev_n"))
    )
