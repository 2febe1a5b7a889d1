"""Entity-link disambiguation.

Two stages, both declarative (no Python in the hot path):

1. ``mayla_filter`` — the reference's precision-oriented post-filter
   (``MaylaPostProcessingComponent.java:97-125``): per-mention drop rules
   based on surface-form casing, in-document surface frequency, and equality
   with the concept's canonical label.  Frequency becomes a substring-count
   column expression; canonical labels attach via a broadcast join.

2. ``tfidf_disambiguate`` — our scale extension (SURVEY.md §2.4 north-star):
   when one span maps to several concepts (shared synonyms), keep the
   concept with the strongest corpus support, scored by TF-IDF of its
   unambiguous evidence across conversations.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window, functions as F

GOLD_ANNOTATOR_ID = "99099099"  # reference's gold-set sentinel


def _substring_count(text_col, sub_col):
    """Occurrences of sub in text — StringUtils.countMatches analogue
    (``MaylaPostProcessingComponent.java:115``) without leaving the JVM."""
    return F.when(F.length(sub_col) > 0,
                  ((F.length(text_col) - F.length(F.replace(text_col, sub_col)))
                   / F.length(sub_col)).cast("int")).otherwise(F.lit(0))


def mayla_filter(
    mentions: DataFrame,
    transcripts: DataFrame,
    dictionary: DataFrame,
    concept_freq: Optional[int | dict[str, int]] = None,
    annotator_col: Optional[str] = None,
    default_freq: int = 1,
    freq_scope: str = "turn",
) -> DataFrame:
    """Keep/drop semantics of ``MaylaPostProcessingComponent.java:97-125``:

    - gold-set rows (annotator == 99099099) always pass;
    - no-freq mode (concept_freq is None): DROP unless the surface form is
      all-caps OR starts uppercase (keep acronyms / capitalized);
    - freq mode: DROP when (surface frequency in scope
      < concept_freq) AND surface != canonical label.

    ``concept_freq`` may be a single int or a per-ontology threshold map
    keyed by the mentions' ``ontology`` column (the reference selects the
    threshold per ontology namespace,
    ``MaylaPostProcessingComponent.java:151-181`` — those values live in
    ``MAYLA_CONCEPT_FREQ`` below); ontologies absent from the map fall back
    to ``default_freq`` (1 = always keep, since a covered surface occurs in
    its own turn at least once).

    ``freq_scope`` selects the frequency granularity:

    - ``'turn'`` (default): surface frequency within the mention's own
      turn text — SURVEY D1's "document text ≡ per-turn text" mapping,
      and the zero-extra-shuffle contract the fused plan relies on;
    - ``'conversation'``: frequency over the WHOLE conversation text
      (turns joined with ``\\n``) — the reference's exact granularity (it
      counts over the full document text,
      ``MaylaPostProcessingComponent.java:115``).  Computed as the sum of
      per-turn counts per (conversation, surface): a detected surface
      never contains ``\\n`` (``normalize.chunk_spans`` splits there), so
      no occurrence crosses a turn boundary and the sum is exact.  No task
      ever holds a conversation's text, so a mega-conversation costs
      shuffle rows, not task memory (the fused ``max_turns_per_group``
      plan relies on this).
    """
    if freq_scope not in ("turn", "conversation"):
        raise ValueError(
            f"freq_scope must be 'turn' or 'conversation', got {freq_scope!r}"
        )
    surface = F.col("covered_text")
    if freq_scope == "conversation" and concept_freq is not None:
        freq = (
            mentions.select("conv_id", "covered_text").distinct()
            .join(transcripts.select("conv_id", "text"), "conv_id")
            .groupBy("conv_id", "covered_text")
            .agg(F.sum(_substring_count(F.col("text"), surface))
                 .alias("__freq"))
        )
        m = mentions.join(freq, ["conv_id", "covered_text"], "left")
    else:
        text_src = transcripts.select("conv_id", "turn_idx", "text")
        m = mentions.join(text_src, ["conv_id", "turn_idx"], "left")
        m = m.withColumn("__freq", _substring_count(F.col("text"), surface))

    canon = dictionary.select("concept_id", "canonical").dropDuplicates(["concept_id"])
    m = m.join(F.broadcast(canon), "concept_id", "left")

    is_all_upper = (surface == F.upper(surface)) & (F.lower(surface) != surface)
    starts_upper = F.substring(surface, 1, 1).rlike("[A-Z]")

    if annotator_col and annotator_col in mentions.columns:
        is_gold = F.col(annotator_col) == F.lit(GOLD_ANNOTATOR_ID)
    else:
        is_gold = F.lit(False)

    if concept_freq is None:
        keep = is_gold | is_all_upper | starts_upper
    else:
        if isinstance(concept_freq, dict):
            pairs = [x for kv in sorted(concept_freq.items()) for x in kv]
            thr = F.coalesce(
                F.create_map(*[F.lit(x) for x in pairs])[F.col("ontology")],
                F.lit(default_freq),
            )
        else:
            thr = F.lit(concept_freq)
        keep = is_gold | (F.col("__freq") >= thr) | (
            surface == F.col("canonical"))

    return m.filter(keep).select(*mentions.columns)


def mayla_keep_py(
    surface: Optional[str],
    turn_text: Optional[str],
    ontology: Optional[str],
    canonical: Optional[str],
    concept_freq: Optional[int | dict],
    default_freq: int = 1,
) -> bool:
    """Pure-Python twin of ``mayla_filter``'s keep predicate (identical
    rules, ``MaylaPostProcessingComponent.java:97-125``) for
    per-conversation scans (``kgpipe.fused``) where mentions never leave
    the Python worker.  Mayla is document-local — surface casing, surface
    frequency within the mention's own turn text, canonical-label equality
    — so it needs no corpus shuffle.  Gold-set passthrough is staged-only
    (detected mentions carry no annotator id)."""
    surface = surface or ""
    if concept_freq is None:
        is_all_upper = surface == surface.upper() and surface.lower() != surface
        starts_upper = bool(surface) and "A" <= surface[0] <= "Z"
        return is_all_upper or starts_upper
    if isinstance(concept_freq, dict):
        thr = concept_freq.get(ontology, default_freq)
    else:
        thr = concept_freq
    # non-overlapping count ≡ _substring_count's length arithmetic
    freq = (turn_text or "").count(surface) if surface else 0
    return freq >= thr or surface == canonical


# per-namespace frequency thresholds (MaylaPostProcessingComponent.java:151-181)
MAYLA_CONCEPT_FREQ: dict[str, int] = {
    "CHEBI": 4, "PR": 40, "FUNK_GO_MF": 1, "FUNK_GO_BP": 20, "FUNK_GO_CC": 15,
    "CL": 2, "SO": 1, "NCBI_TAXON": 26, "GO_MF": 4, "GO_BP": 7, "GO_CC": 10,
}


def tfidf_scores(mentions: DataFrame, exact: bool = False) -> DataFrame:
    """TF-IDF of each concept per conversation: TF = mentions of the concept
    in the conversation; DF = number of conversations mentioning it.
    ``approx_count_distinct`` keeps the DF aggregation one-pass at scale;
    ``exact=True`` switches to countDistinct (for oracle comparisons).

    Fully lazy: the corpus size N enters as a broadcast 1-row join rather
    than a driver-side ``count()`` action, so calling this never triggers a
    premature (and possibly duplicated) execution of the upstream plan."""
    tf = mentions.groupBy("conv_id", "concept_id").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # df and N derive from the (small) tf aggregate instead of re-scanning
    # the corpus: a tf row IS one distinct (conv, concept) pair, so
    # count-per-concept == countDistinct(conv) and distinct convs in tf ==
    # distinct convs with mentions.  ONE corpus-scale shuffle instead of
    # three (Catalyst's ReuseExchange shares the tf exchange across the
    # three consumers).
    cd = F.countDistinct("conv_id") if exact else F.approx_count_distinct("conv_id")
    n_convs_df = tf.agg(cd.alias("n_convs"))
    df = tf.groupBy("concept_id").agg(F.count(F.lit(1)).cast("long").alias("df"))
    return (
        tf.join(df, "concept_id")
        .join(F.broadcast(n_convs_df))
        .withColumn(
            "tfidf",
            F.col("tf")
            * F.log((F.col("n_convs").cast("double") + 1.0) / (F.col("df") + 1.0)),
        )
        .drop("n_convs")
    )


def embedding_disambiguate(
    mentions: DataFrame,
    turn_embeddings: DataFrame,
    concept_embeddings: DataFrame,
) -> DataFrame:
    """Embedding-scored entity linking (the north-star's second scorer):
    for span-ambiguous mentions, keep the candidate whose concept embedding
    is closest (cosine) to the turn's context embedding.

    turn_embeddings: (conv_id, turn_idx, ctx_emb array<double>) — typically
    produced upstream by an encoder over turn text.
    concept_embeddings: (concept_id, con_emb array<double>) — ontology-sized,
    broadcast.  Scoring is `zip_with`+`aggregate` column math (JVM-side);
    the only corpus-scale shuffle is the join on (conv_id, turn_idx).
    """
    from .similarity import cosine_col

    m = mentions.join(turn_embeddings, ["conv_id", "turn_idx"], "left").join(
        F.broadcast(concept_embeddings), "concept_id", "left"
    )
    score = F.when(
        F.col("ctx_emb").isNotNull() & F.col("con_emb").isNotNull(),
        cosine_col(F.col("ctx_emb"), F.col("con_emb")),
    ).otherwise(F.lit(-2.0))
    m = m.withColumn("emb_score", score)
    w = Window.partitionBy("conv_id", "turn_idx", "begin", "end").orderBy(
        F.desc("emb_score"), F.asc("concept_id")
    )
    return (
        m.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") == 1)
        .drop("__rank", "ctx_emb", "con_emb", "emb_score")
    )


def tfidf_disambiguate(mentions: DataFrame, exact: bool = False) -> DataFrame:
    """Resolve span-ambiguous mentions (same (conv, turn, begin, end), several
    concept ids — shared synonyms): keep the candidate with the highest
    conversation-level TF-IDF support; ties break on concept_id for
    determinism.

    ONE corpus-scale exchange: mentions repartition on conv_id, then
    - TF as a window count over (conv_id, concept_id) — satisfied by the
      conv_id clustering, so it costs a local sort, not a shuffle;
    - DF (concepts × distinct convs) and N (distinct convs) aggregate off
      the SAME exchange (Catalyst ReuseExchange) down to ontology-/1-sized
      results that broadcast back onto the stream;
    - the span-ambiguity window (conv, turn, begin, end) is again satisfied
      by the conv_id clustering — local sort only (plan-audited: both
      Windows sit on the one REPARTITION_BY_COL exchange).
    The output stays hash-partitioned by conv_id; downstream windows and
    per-conv aggregations with conv-prefixed keys reuse the clustering
    (equi-joins still insert their own exact-key exchanges)."""
    from .session import cpu_partition_count

    # explicit partition count (session.cpu_partition_count): a bare
    # repartition("conv_id") is an AQE coalescing target that can collapse
    # a byte-light stream to 1-2 partitions and serialize both windows
    m = mentions.repartition(
        cpu_partition_count(mentions.sparkSession), "conv_id"
    )
    cd = F.countDistinct("conv_id") if exact else F.approx_count_distinct("conv_id")
    # aggregate straight off the (cached) mention stream — routing these
    # through the conv_id repartition would add a useless exchange under
    # each tiny aggregate (audited via .explain)
    df_small = mentions.groupBy("concept_id").agg(cd.alias("__df"))
    n_row = mentions.agg(cd.alias("__n"))
    w_tf = Window.partitionBy("conv_id", "concept_id")
    scored = (
        m.withColumn("__tf", F.count(F.lit(1)).over(w_tf))
        .join(F.broadcast(df_small), "concept_id", "left")
        .join(F.broadcast(n_row))
        .withColumn(
            "__tfidf",
            F.col("__tf")
            * F.log((F.col("__n").cast("double") + 1.0) / (F.col("__df") + 1.0)),
        )
    )
    w = Window.partitionBy("conv_id", "turn_idx", "begin", "end").orderBy(
        F.desc("__tfidf"), F.asc("concept_id")
    )
    return (
        scored.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") == 1)
        .drop("__rank", "__tf", "__df", "__n", "__tfidf")
    )


def coherence_disambig(
    candidates: DataFrame,
    cooc: DataFrame,
    concept_col: str = "concept_id",
) -> DataFrame:
    """Coherence-based candidate disambiguation — the third leg of the
    disambiguation family (frequency ``mayla_filter``, corpus-support
    ``tfidf_disambiguate``, and this: global-coherence voting a la
    collective entity linking): for every AMBIGUOUS span (a
    (conv_id, turn_idx, begin, end) key carrying >1 candidate concept),
    keep the candidate with the strongest co-occurrence support against
    the conversation's unambiguous ANCHOR concepts, scored as
    ``sum(n_pair)`` over corpus-level co-occurrence counts
    (``kgpipe.triples.cooccurrence_stats`` shape: (ca, cb, n_pair),
    ca < cb).  Ties break to the ascending concept id; spans in
    conversations with no anchors score 0 and resolve by the same
    tie-break.  Unambiguous spans pass through with NULL score.

    Plan: anchor set = one distinct per conversation (vocabulary-sized
    per conv); the candidate x anchor join is conv-keyed with per-conv
    cost |candidates| x |anchor vocab| — never corpus-quadratic; the
    cooc lookup is an equi-join on the normalized (least, greatest)
    pair key against a vocabulary²-bounded table (broadcast-sized in
    practice).  All scores are exact integers.
    """
    span = ["conv_id", "turn_idx", "begin", "end"]
    cand = candidates.select(*span, concept_col).distinct()
    w = Window.partitionBy(*span)
    cand = cand.withColumn("_nc", F.count(F.lit(1)).over(w))
    unamb = cand.filter(F.col("_nc") == 1).drop("_nc")
    amb = cand.filter(F.col("_nc") > 1).drop("_nc")
    anchors = unamb.select(
        "conv_id", F.col(concept_col).alias("_anchor")).distinct()
    paired = (
        amb.join(anchors, "conv_id")
        .filter(F.col("_anchor") != F.col(concept_col))
        .withColumn("_ka", F.least(concept_col, "_anchor"))
        .withColumn("_kb", F.greatest(concept_col, "_anchor"))
    )
    cooc_n = cooc.select("ca", "cb", "n_pair")
    scored = (
        paired.join(
            cooc_n,
            (F.col("_ka") == F.col("ca")) & (F.col("_kb") == F.col("cb")),
            "left")
        .groupBy(*span, concept_col)
        .agg(F.sum(F.coalesce(F.col("n_pair"), F.lit(0)))
             .cast("long").alias("score"))
    )
    all_amb = (
        amb.join(scored, span + [concept_col], "left")
        .fillna(0, subset=["score"])
    )
    wr = Window.partitionBy(*span).orderBy(
        F.desc("score"), F.asc(concept_col))
    winners = (
        all_amb.withColumn("_rk", F.row_number().over(wr))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    return unamb.withColumn(
        "score", F.lit(None).cast("long")).unionByName(winners)
