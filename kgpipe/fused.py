"""Fused conversation-local pipeline: transcripts → triples in ONE wide
dependency.

The staged pipeline (detect → TF-IDF disambiguation → canonicalize →
triple fan-out) pays several shuffles; every one of them except the first
groups by conv-derived keys.  This operator exploits that: co-locate each
conversation once (repartition by conv_id + sort within partitions), then
run the whole per-conversation computation — trie detection per turn,
duplicate removal, the Mayla precision filter (document-local, so it
belongs here), span disambiguation by conversation-level term
frequency, canonical-id mapping (broadcast union-find map), co-occurrence
pairing — inside a single Arrow-batched ``mapInPandas`` pass (ONE Python
call per Arrow batch; conversations are contiguous in the sorted partition
and the only cross-batch carry is the last, possibly incomplete, group).
Structure triples (conv rdf:type, turn partOf, role, tool) come from a
narrow JVM column plan unioned with the scan output — no Python, and
role/tool never enter the shuffle.  The only remaining wide steps are that
one shuffle and the output write.

Trade-offs vs the staged path (kgpipe.pipeline):
- disambiguation uses conversation-local TF (ties → min concept id); the
  staged path scores with global IDF — use it when corpus-level statistics
  must participate;
- a single conversation must fit in one task — unless
  ``max_turns_per_group`` is set and some conversation has more turns
  than that, which routes the run to ``_exact_conv_plan`` for adversarial
  mega-conversations: a detect scan over turns spread by (conv_id,
  turn_idx) with no conversation co-location, conversation-level scores
  (TF disambiguation, conv-scope Mayla frequency) from pre-aggregated side
  tables joined back onto the mentions, and the banded co-occurrence
  join.  Per-task state is bounded
  by window density, the output equals the scan's for every config, and
  detect errors quarantine per turn instead of per conversation.

At 1000 executors this is the plan you want: shuffle bytes ≈ input bytes,
exactly once, no barrier between per-conversation products.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .canon import components_from_rows
from .detect import build_tries, collect_dictionary
from .disambig import mayla_keep_py
from .trie import pretokenize
from .normalize import MatchConfig
from .triples import (
    CONV_NS,
    OBO_PREFIX,
    PRED_COOCCURS,
    PRED_DENOTES,
    conversation_triples,
)

_FLAT_SCHEMA = (
    "subj string, pred string, obj string, conv_id string, turn_idx int,"
    " ev_begin int, ev_end int, ev_text string"
)

#: pred value of quarantined failures (obj = message): one row per failed
#: conversation from the scan, per failed turn from ``_exact_conv_plan``;
#: consumed by kgpipe.pipeline's lineage integration, never written to the
#: triple table
ERROR_PRED = "__ERROR__"


def _concept_uri(cid: str) -> str:
    if cid.startswith("http"):
        return cid
    return OBO_PREFIX + cid.replace(":", "_")


def conv_tf_disambiguate(mentions: DataFrame) -> DataFrame:
    """Conversation-level TF disambiguation — the declarative twin of the
    fused scan's in-Python rule (keep the span candidate with the highest
    conversation-level mention frequency, ties to the smaller concept id).
    ONE conv_id exchange; both windows ride it (same shape as
    disambig.tfidf_disambiguate minus the IDF broadcasts)."""
    from pyspark.sql import Window

    from .session import cpu_partition_count

    m = mentions.repartition(
        cpu_partition_count(mentions.sparkSession), "conv_id")
    w_tf = Window.partitionBy("conv_id", "concept_id")
    w = Window.partitionBy("conv_id", "turn_idx", "begin", "end").orderBy(
        F.desc("__tf"), F.asc("concept_id"))
    return (
        m.withColumn("__tf", F.count(F.lit(1)).over(w_tf))
        .withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") == 1)
        .drop("__rank", "__tf")
    )


def _exact_conv_plan(
    transcripts: DataFrame,
    dictionary: DataFrame,
    configs,
    cooc_window: int,
    disambiguate: bool,
    canonical: bool,
    quarantine_errors: bool,
    cache_registry: Optional[list],
    mayla: bool,
    mayla_concept_freq,
    mayla_default_freq: int,
    mayla_freq_scope: str,
) -> DataFrame:
    """The ``max_turns_per_group`` plan: the detect scan needs no
    conversation co-location (turns are spread by (conv_id, turn_idx)) and
    the conversation-level scores come from pre-aggregated side tables
    joined back onto the mention stream —

    - Mayla conv frequency: per-(conv, surface) sums of per-turn
      substring counts (disambig.mayla_filter; never assembles a
      conversation's text in one task);
    - TF disambiguation: a (conv, concept) window count + span argmax on
      one conv_id exchange (conv_tf_disambiguate);
    - co-occurrence: the banded (conv, turn-bucket) equi-join
      (triples.cooccurrence_pairs), not an in-task pair walk.

    Output equals the unsplit fused plan's for every config
    (test-asserted), and per-task state is bounded by window density, so
    a hot conversation costs shuffle rows, not task memory.  Detect errors
    quarantine PER TURN as ERROR_PRED rows; with
    ``quarantine_errors=False`` an error row fails the job, as it does in
    the unsplit scan."""
    from .canon import canonicalize_with_map
    from .detect import detect_mentions
    from .disambig import mayla_filter
    from .session import cpu_partition_count
    from .triples import cooccurrence_triples, mention_triples

    rows = collect_dictionary(dictionary)
    # spread turns over CPU-sized partitions before the Python detect: the
    # input's own partitioning follows its files (one small file = one
    # serial detect task), and a turn-level key also splits a hot
    # conversation across tasks
    turns = transcripts.repartition(
        cpu_partition_count(transcripts.sparkSession), "conv_id", "turn_idx")
    raw = detect_mentions(turns, dictionary, configs,
                          local_rows=rows).persist()
    if cache_registry is not None:
        cache_registry.append(raw)
    is_err = F.col("concept_id") == "__ERROR__"
    if quarantine_errors:
        ok = raw.filter(~is_err)
    else:
        ok = raw.withColumn("concept_id", F.when(
            is_err, F.raise_error(F.concat(
                F.lit("detect failed in conversation "), F.col("conv_id"),
                F.lit(": "), F.col("error"))),
        ).otherwise(F.col("concept_id")))
    if mayla:
        ok = mayla_filter(ok, transcripts, dictionary, mayla_concept_freq,
                          default_freq=mayla_default_freq,
                          freq_scope=mayla_freq_scope)
    if disambiguate:
        ok = conv_tf_disambiguate(ok)
    concept_col = "concept_id"
    if canonical:
        ok = canonicalize_with_map(ok, components_from_rows(rows))
        concept_col = "canonical_id"
    result = (
        mention_triples(ok, concept_col)
        .unionByName(cooccurrence_triples(ok, cooc_window, concept_col))
        .unionByName(conversation_triples(transcripts))
    )
    if quarantine_errors:
        err_rows = raw.filter(is_err).select(
            F.concat(F.lit(CONV_NS), F.col("conv_id")).alias("subj"),
            F.lit(ERROR_PRED).alias("pred"),
            F.col("error").alias("obj"),
            "conv_id",
            F.lit(None).cast("int").alias("turn_idx"),
            F.lit(None).cast("struct<begin:int,end:int,text:string>")
            .alias("evidence"),
        )
        result = result.unionByName(err_rows)
    return result


def fused_conv_triples(
    transcripts: DataFrame,
    dictionary: DataFrame,
    configs: Optional[dict[str, MatchConfig]] = None,
    cooc_window: int = 3,
    disambiguate: bool = True,
    canonical: bool = True,
    max_turns_per_group: Optional[int] = None,
    quarantine_errors: bool = False,
    cache_registry: Optional[list] = None,
    mayla: bool = False,
    mayla_concept_freq: Optional[int | dict] = None,
    mayla_default_freq: int = 1,
    mayla_freq_scope: str = "turn",
) -> DataFrame:
    """transcripts → full triple set with one shuffle (see module doc).

    ``max_turns_per_group`` is the mega-conversation skew guard (SURVEY.md
    §7 "Skew"; must be >= cooc_window): when some conversation has MORE
    turns than this (one max-count aggregate over *transcripts* decides),
    the run goes through ``_exact_conv_plan`` instead of the
    per-conversation scan, so no task ever holds a whole conversation
    however hot it is.  Its output is IDENTICAL to the scan's for every
    disambiguation/Mayla config (test-asserted); the price is the banded
    co-occurrence join and the side-table exchanges instead of the in-task
    pair walk.  Detect errors then quarantine per turn; the scan
    quarantines the whole conversation.  Persisted intermediates are
    appended to *cache_registry* for release after the caller's terminal
    action.
    """
    if mayla_freq_scope not in ("turn", "conversation"):
        raise ValueError(
            f"mayla_freq_scope must be 'turn' or 'conversation', "
            f"got {mayla_freq_scope!r}"
        )
    if max_turns_per_group is not None:
        if max_turns_per_group < cooc_window:
            raise ValueError("max_turns_per_group must be >= cooc_window")
        longest = (transcripts.groupBy("conv_id").count()
                   .agg(F.max("count")).first()[0])
        if (longest or 0) > max_turns_per_group:
            return _exact_conv_plan(
                transcripts, dictionary, configs, cooc_window, disambiguate,
                canonical, quarantine_errors, cache_registry, mayla,
                mayla_concept_freq, mayla_default_freq, mayla_freq_scope,
            )
    spark = transcripts.sparkSession
    rows = collect_dictionary(dictionary)
    tries = build_tries(rows, configs)
    comp_map = components_from_rows(rows) if canonical else {}
    # Mayla precision filter runs INSIDE the per-conversation scan: its
    # inputs (surface casing, in-turn surface frequency, canonical-label
    # equality — MaylaPostProcessingComponent.java:97-125) are all
    # turn-local, so the production one-shuffle plan expresses it without
    # any extra exchange.  The canonical-label map is ontology-sized and
    # rides the existing broadcast.
    # freq_scope='conversation' counts the surface over the WHOLE group's
    # text (the reference's document granularity) — free here because the
    # group IS the conversation.
    mayla_cfg = None
    if mayla:
        canon_label: dict = {}
        for r in rows:
            canon_label.setdefault(r["concept_id"], r.get("canonical"))
        mayla_cfg = (mayla_concept_freq, mayla_default_freq, canon_label,
                     mayla_freq_scope == "conversation")
    bc = spark.sparkContext.broadcast((tries, comp_map, mayla_cfg))

    def _process_conv(conv_id, turns, emit, tries_l, comp, mcfg) -> None:
        """One conversation: *turns* is ``[(ti, text)]`` already in turn
        order (the partition is sorted); *emit* appends into the CALLING
        BATCH's shared output columns — no per-conversation pandas objects
        anywhere on this path.

        Structure triples (conv rdf:type, turn partOf, role, tool) are NOT
        emitted here — they are pure column expressions and come from a
        narrow JVM-side plan (``conversation_triples``) unioned after the
        scan.  The Python pass produces only what needs the trie: denotes
        triples and co-occurrence pairs (plus quarantined error rows).
        This also narrows the shuffle: role/tool never leave the scan side.
        """
        turns = [(ti, text) for ti, text in turns
                 if text is not None
                 and not (isinstance(text, float) and pd.isna(text))]
        # detect per turn (turn-relative offsets — the per-turn text
        # equality invariant), dedupe identical (turn, concept, span).
        mentions: list[tuple[int, str, int, int, str]] = []
        seen: set = set()
        # conversation-scope Mayla frequency text: the turns joined in
        # (turn_idx, text) order — identical to the staged
        # mayla_filter(freq_scope='conversation') count
        conv_text = None
        if mcfg is not None and mcfg[3]:
            conv_text = "\n".join(t for _, t in sorted(turns))
        for ti, text in turns:
            pretok = pretokenize(text) if len(tries_l) > 1 else None
            for trie in tries_l.values():
                for ont, cid, b, e, cov in trie.scan_text(text, pretok):
                    key = (ti, cid, b, e)
                    if key not in seen:
                        seen.add(key)
                        # Mayla after turn-local dedup, before TF
                        # disambiguation — the staged chain's order
                        # (pipeline.build_mentions)
                        if mcfg is not None and not mayla_keep_py(
                            cov,
                            conv_text if conv_text is not None else text,
                            ont, mcfg[2].get(cid), mcfg[0], mcfg[1],
                        ):
                            continue
                        mentions.append((ti, cid, b, e, cov))

        # conversation-local TF disambiguation: for span-ambiguous mentions
        # keep the concept with the highest conv-level frequency, ties to
        # the smaller id (deterministic)
        if disambiguate and mentions:
            tf: dict[str, int] = {}
            for _, cid, _, _, _ in mentions:
                tf[cid] = tf.get(cid, 0) + 1
            by_span: dict[tuple[int, int, int], tuple] = {}
            for m in mentions:
                ti, cid, b, e, cov = m
                k = (ti, b, e)
                best = by_span.get(k)
                if best is None or (-tf[cid], cid) < (-tf[best[1]], best[1]):
                    by_span[k] = m
            mentions = sorted(by_span.values())

        # canonical mapping + denotes triples + windowed co-occurrence
        pair_counts: dict[tuple[str, str], int] = {}
        canon_mentions = []
        for ti, cid, b, e, cov in mentions:
            ccid = comp.get(cid, cid)
            canon_mentions.append((ti, ccid))
            emit(f"{CONV_NS}{conv_id}#t{ti}", PRED_DENOTES,
                 _concept_uri(ccid), conv_id, ti, (b, e, cov))
        # co-occurrence: |Δturn| <= window, distinct concepts, each
        # unordered mention pair counted once under (min, max) concept
        # order.  Mentions are turn-sorted, so a forward scan that breaks
        # at Δturn > window is O(n · window-density), not O(n²) — the
        # difference between minutes and seconds on a mega-conversation.
        canon_mentions.sort(key=lambda m: m[0])
        n = len(canon_mentions)
        for i in range(n):
            ta, ca = canon_mentions[i]
            for j in range(i + 1, n):
                tb, cb = canon_mentions[j]
                if tb - ta > cooc_window:
                    break
                if ca == cb:
                    continue
                key = (ca, cb) if ca < cb else (cb, ca)
                pair_counts[key] = pair_counts.get(key, 0) + 1
        for (ca, cb), _cnt in sorted(pair_counts.items()):
            emit(_concept_uri(ca), PRED_COOCCURS, _concept_uri(cb), conv_id)

    _OUT_COLS = ("subj", "pred", "obj", "conv_id", "turn_idx",
                 "ev_begin", "ev_end", "ev_text")

    def scan_partition(batches):
        """Per-PARTITION harness: one Python call AND one output DataFrame
        per Arrow batch, not per conversation.  ``groupBy(conv)
        .applyInPandas`` invokes Python once per GROUP — one pandas frame
        per conversation, which dominates runtime on many-short-
        conversation corpora.  Data arrives repartitioned by conv_id and
        sorted within the partition, so conversations are contiguous row
        runs; a plain walk over the batch's column arrays slices them with
        zero pandas machinery, and the only carry between batches is the
        (possibly incomplete) LAST conversation."""
        tries_l, comp, mcfg = bc.value
        pending_conv = None
        pending_turns: list = []

        def make_emit(out):
            def emit(subj, pred, obj, conv_id, turn_idx=None,
                     ev=(None, None, None)):
                out["subj"].append(subj)
                out["pred"].append(pred)
                out["obj"].append(obj)
                out["conv_id"].append(conv_id)
                out["turn_idx"].append(turn_idx)
                out["ev_begin"].append(ev[0])
                out["ev_end"].append(ev[1])
                out["ev_text"].append(ev[2])
            return emit

        def process(conv_id, turns, emit):
            try:
                _process_conv(conv_id, turns, emit, tries_l, comp, mcfg)
            except Exception as exc:
                if not quarantine_errors:
                    raise
                # per-conversation quarantine (the reference records
                # per-doc errors in its run catalog,
                # RunCatalogAE.java:107-112): one ERROR_PRED row instead
                # of a failed task; kgpipe.pipeline's lineage integration
                # turns it into an ERROR lineage bucket
                emit(CONV_NS + conv_id, ERROR_PRED,
                     f"{type(exc).__name__}: {exc}", conv_id)

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            out = {k: [] for k in _OUT_COLS}
            emit = make_emit(out)
            conv_a = pdf["conv_id"].to_numpy()
            ti_a = pdf["turn_idx"].to_numpy()
            text_a = pdf["text"].to_numpy()
            cur_conv, cur_turns = pending_conv, pending_turns
            for i in range(n):
                # a group is never empty, so an empty list marks "no group
                # yet" (a NULL conv_id is still a group of its own)
                if conv_a[i] != cur_conv or not cur_turns:
                    if cur_turns:
                        process(cur_conv, cur_turns, emit)
                    cur_conv, cur_turns = conv_a[i], []
                cur_turns.append((int(ti_a[i]), text_a[i]))
            pending_conv, pending_turns = cur_conv, cur_turns
            if out["subj"]:
                yield pd.DataFrame(out)
        if pending_turns:  # flush the partition's last group
            out = {k: [] for k in _OUT_COLS}
            process(pending_conv, pending_turns, make_emit(out))
            if out["subj"]:
                yield pd.DataFrame(out)

    # explicit partition count: a bare repartition("conv_id") is an AQE
    # coalescing target — on a text-light corpus it collapses to one or two
    # ~64MB partitions and SERIALIZES the Python scan stage (measured: 2→8
    # core efficiency fell from ≥0.9 to 0.73).  The Python cost per byte is
    # far higher than a shuffle-read's, so partition count must track CPU,
    # not bytes.
    from .session import cpu_partition_count

    flat = (
        transcripts.select("conv_id", "turn_idx", "text")
        .repartition(cpu_partition_count(spark), "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .mapInPandas(scan_partition, schema=_FLAT_SCHEMA)
    )
    return flat.select(
        "subj", "pred", "obj", "conv_id", "turn_idx",
        F.when(
            F.col("ev_begin").isNotNull(),
            F.struct(
                F.col("ev_begin").alias("begin"),
                F.col("ev_end").alias("end"),
                F.col("ev_text").alias("text"),
            ),
        ).alias("evidence"),
    ).unionByName(
        # structure triples (conv rdf:type, turn partOf, role, tool) from a
        # narrow JVM plan over the original transcripts — column
        # expressions, no Python, and identical to the staged path's
        # conversation_triples (including for conversations whose detect
        # quarantined: structure survives, matching staged error semantics)
        conversation_triples(transcripts)
    )
