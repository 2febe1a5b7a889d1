"""Fuzzy entity-label matching for KG canonicalization: token-set
Jaccard similarity with rarest-token blocking.

The reference merges entities only through explicit ontology synonym
edges (OboToDictionary synonym expansion + the union-find merge in
kgpipe.canon).  Real KG construction also needs *string-level* entity
resolution — "Fast Table Engine" vs "fast table engine v2" — where no
curated synonym exists.  The standard scalable recipe (Papadakis et al.,
blocking surveys) is: block candidate pairs on each record's RAREST
tokens (rare tokens are selective, so blocks stay small), then verify
exact set similarity only inside blocks.

Scale shape: token document frequencies are one aggregation; rarest-k
selection is a per-record window over the token explode; the candidate
join is an equi-join on (token) between two id-sorted copies; exact
Jaccard verification touches only candidate ids.  A hot-token cap
(``max_block``: a token held by more records than that forms no block)
bounds every block, so candidates are O(n · block_tokens · max_block) —
never O(n²) — and the verify join carries token arrays only for
surviving candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

_TOKEN_SPLIT = "[^a-z0-9]+"


def label_tokens_col(c: Column) -> Column:
    """Deterministic label token SET: lowercase, split on non-alphanumeric
    runs, drop empties, dedupe, sort.  Mirrored literally by the DuckDB
    oracle (string_split_regex + list_filter + list_distinct + list_sort).
    """
    toks = F.split(F.lower(c), _TOKEN_SPLIT)
    return F.array_sort(
        F.array_distinct(F.filter(toks, lambda x: x != F.lit("")))
    )


def label_match_pairs(
    df: DataFrame,
    id_col: str,
    label_col: str,
    threshold: float = 0.5,
    max_block: int = 10_000,
) -> DataFrame:
    """Entity pairs whose label token-set Jaccard similarity is
    >= ``threshold``: ``(id_a, id_b, n_common, n_union)`` with
    ``id_a < id_b``.  Jaccard = n_common / n_union; the counts are
    returned instead of the float so results stay integer-hashable —
    compute the ratio downstream if needed.

    Blocking is EXACT prefix filtering (All-Pairs / PPJoin, Bayardo et
    al. 2007): under the global token order (document frequency
    ascending, ties by token ascending), a record of ``k`` tokens blocks
    on its first ``k - ceil(threshold*k) + 1`` tokens.  Any pair with
    Jaccard >= threshold must share >= ceil(t*k) tokens per side, so its
    order-smallest common token falls inside BOTH prefixes — zero false
    negatives from blocking itself.  The one deliberate recall trade is
    ``max_block``: tokens hotter than it are excluded from prefixes,
    bounding every block and keeping candidates O(n · prefix · max_block)
    instead of O(n²).
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        label_tokens_col(F.col(label_col)).alias("toks"),
    ).filter(F.size("toks") > 0)
    toks = toks.localCheckpoint(eager=True)  # reused by 3 branches

    exploded = toks.select("id", F.size("toks").alias("k"),
                           F.explode("toks").alias("tok"))
    dfreq = exploded.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy(F.asc("df"), F.asc("tok"))
    prefix_len = (
        F.col("k") - F.ceil(F.lit(threshold) * F.col("k")) + 1
    )
    blocks = (
        exploded.join(dfreq, "tok")
        .filter(F.col("df") <= max_block)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= prefix_len)
        .select("tok", "id")
    )
    cands = (
        blocks.alias("x")
        .join(blocks.alias("y"), "tok")
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    a = toks.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a"))
    b = toks.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b"))
    verified = (
        cands.join(a, "id_a").join(b, "id_b")
        .withColumn(
            "n_common", F.size(F.array_intersect("toks_a", "toks_b"))
        )
        .withColumn(
            "n_union",
            F.size("toks_a") + F.size("toks_b") - F.col("n_common"),
        )
        .filter(F.col("n_common") >= F.lit(threshold) * F.col("n_union"))
    )
    return verified.select("id_a", "id_b", "n_common", "n_union")


def match_merge_map(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Union-find merge map from verified match pairs: delegates to the
    distributed pointer-jumping connected components in kgpipe.canon,
    returning ``(node, component)`` where component is the string-min
    member id of each match cluster."""
    from kgpipe.canon import connected_components

    edges = pairs.select(
        F.col("id_a").cast("string").alias("src"),
        F.col("id_b").cast("string").alias("dst"),
    )
    return connected_components(edges, max_iter=max_iter)


def blocking_quality(
    cand_pairs: DataFrame,
    gold_pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Blocking-scheme evaluation, the pair-completeness half of the
    standard blocking metrics (Christen, TKDE 2012): one row
    ``(n_cand, n_gold, n_matched)`` over unordered-canonicalized
    DISTINCT pairs, where ``n_matched`` counts gold pairs the blocking
    scheme retained.  Pair completeness (blocking recall) is
    ``n_matched / n_gold``; the reduction ratio needs the caller's raw
    comparison-space size (integer-output policy).  The measurement
    every hot-token cap / band count / threshold choice in a blocking
    scheme should be tuned against.

    Two canonicalize+distinct passes + one left-semi equi-join + three
    1-row aggregates — everything keys on the id pair, no payloads.
    """
    def canon(df):
        a, b = F.col(a_col), F.col(b_col)
        return df.select(
            F.least(a, b).alias("_a"), F.greatest(a, b).alias("_b")
        ).distinct()

    c = canon(cand_pairs).localCheckpoint(eager=True)
    g = canon(gold_pairs)
    matched = g.join(c, ["_a", "_b"], "left_semi")
    return (
        c.agg(F.count(F.lit(1)).cast("long").alias("n_cand"))
        .join(g.agg(F.count(F.lit(1)).cast("long").alias("n_gold")))
        .join(matched.agg(
            F.count(F.lit(1)).cast("long").alias("n_matched")))
    )
