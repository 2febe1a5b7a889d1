"""End-to-end KG-construction pipeline and spark-submit entrypoint.

transcripts → detect (broadcast trie, mapInPandas) → filters → Mayla/TF-IDF
disambiguation → union-find canonicalization → triples → partitioned write,
with per-partition lineage (resume = anti-join).  Mirrors the reference's
three pipeline entry points (SURVEY.md §3) in one configurable driver.

Run: ``spark-submit --py-files kgpipe.zip -m kgpipe.pipeline <args>`` or
``python -m kgpipe.pipeline --transcripts ... --obo CL=path.obo --out ...``.
"""

from __future__ import annotations

import argparse
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from .canon import canonicalize
from .detect import build_dictionary_df, detect_mentions
from .disambig import mayla_filter, tfidf_disambiguate
from .lineage import run_with_lineage
from .session import get_spark
from .triples import all_triples, write_triples


@dataclass
class PipelineConfig:
    obo_paths: dict[str, str] = field(default_factory=dict)
    run_key: str = "CONCEPTMAPPER_DEFAULT"
    cooc_window: int = 3
    mayla: bool = False
    # int, or per-ontology threshold map (e.g. disambig.MAYLA_CONCEPT_FREQ)
    mayla_concept_freq: Optional[int | dict] = None
    # 'turn' (SURVEY D1 mapping) or 'conversation' (the reference's
    # whole-document frequency granularity) — honored by BOTH plans
    mayla_freq_scope: str = "turn"
    disambiguate: bool = True
    canonical: bool = True
    n_buckets: int = 64
    salt_partitions: Optional[int] = None  # repartition width for skewed input
    fused: bool = False  # one-shuffle conversation-local plan (kgpipe.fused)
    # detect dedupes turn-locally assuming (conv_id, turn_idx) rows are
    # unique (the input invariant); set False for sources that may replay
    # rows to restore a corpus-wide duplicate-annotation removal pass
    assume_unique_turns: bool = True
    # fused-plan mega-conversation guard (>= cooc_window): when some
    # conversation has more turns than this, the run takes the exact
    # side-table plan (kgpipe.fused._exact_conv_plan) — same output as the
    # per-conversation scan, no whole conversation in one task, detect
    # errors quarantined per turn
    max_turns_per_group: Optional[int] = None
    # atomic snapshot-committed sink: readers never see partial data.
    # Alone → triples.write_triples_snapshot (one-shot commit); combined
    # with lineage_path → per-bucket resumable staging whose snapshot
    # flips only when every bucket is COMPLETE (the reference's
    # data-then-catalog-commit coupling, RunCatalogAE.java:64-113)
    snapshot: bool = False
    # per-ontology ConceptMapper knob overrides (MatchConfig); None → the
    # per-ontology optimized defaults (EntityFinder.java:133-170)
    detect_configs: Optional[dict] = None


def build_mentions(
    transcripts: DataFrame,
    dictionary: DataFrame,
    cfg: PipelineConfig,
    cache_registry: Optional[list] = None,
) -> DataFrame:
    """transcripts → mentions with the configured post-processing chain.

    When ``cfg.disambiguate``, the detect output is persisted before
    ``tfidf_disambiguate`` — its DF/N aggregations are separate consumers
    of the mention stream, and without a cache each one re-runs the Python
    detection stage.  Conversation-scope Mayla persists it for the same
    reason (its frequency side table reads the mentions too).  Persisted
    frames are appended to *cache_registry* (when given) so the caller can
    unpersist after its terminal action."""
    if cfg.salt_partitions:
        # salted repartition before per-conversation work: conv_id plus a
        # random-ish salt derived from turn_idx spreads hot conversations
        # across tasks (SURVEY.md §4 custom piece #2); detection itself is
        # per-row so correctness is unaffected.
        from pyspark.sql import functions as F

        transcripts = transcripts.repartition(
            cfg.salt_partitions,
            F.col("conv_id"),
            F.pmod(F.col("turn_idx"), F.lit(8)),
        )
    # detect_mentions dedupes identical annotations turn-locally inside the
    # scan (narrow) — no corpus-wide remove_duplicates shuffle needed when
    # the unique-(conv, turn) input invariant holds
    mentions = detect_mentions(transcripts, dictionary, cfg.detect_configs)
    if not cfg.assume_unique_turns:
        from .filters import remove_duplicates

        mentions = remove_duplicates(mentions)

    def _persist(df: DataFrame) -> DataFrame:
        df = df.persist()
        if cache_registry is not None:
            cache_registry.append(df)
        return df

    if cfg.mayla:
        if (cfg.mayla_freq_scope == "conversation"
                and cfg.mayla_concept_freq is not None):
            # the conversation frequency side table is a second consumer
            mentions = _persist(mentions)
        mentions = mayla_filter(
            mentions, transcripts, dictionary, cfg.mayla_concept_freq,
            freq_scope=cfg.mayla_freq_scope,
        )
    if cfg.disambiguate:
        # persisted again even after the Mayla persist: without it each
        # TF-IDF consumer re-runs the Mayla joins (measured slower)
        mentions = tfidf_disambiguate(_persist(mentions))
    if cfg.canonical:
        mentions = canonicalize(mentions, dictionary)
    return mentions


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig,
    output_path: str,
    lineage_path: Optional[str] = None,
) -> DataFrame:
    """Full run; with *lineage_path* the run is resumable per bucket."""
    # the SAME per-ontology configs must shape both sides: the dictionary
    # build (variant_norm normalization, synonym filtering) and the scan
    # (grid.run_grid passes configs to both for exactly this reason) — a
    # config override applied to only one side silently mismatches the trie
    dictionary = build_dictionary_df(spark, cfg.obo_paths, cfg.detect_configs)
    concept_col = "canonical_id" if cfg.canonical else "concept_id"

    def _write(triples: DataFrame) -> None:
        if cfg.snapshot:
            from .triples import write_triples_snapshot

            write_triples_snapshot(triples, output_path, cfg.n_buckets)
        else:
            write_triples(triples, output_path, cfg.n_buckets,
                          mode="overwrite")

    if cfg.fused:
        # staged-only options must not silently no-op under --fused
        # (Mayla IS fused-capable: it is document-local and runs inside
        # the per-conversation scan — kgpipe.fused)
        if cfg.salt_partitions or not cfg.assume_unique_turns:
            raise ValueError(
                "fused mode does not support salt_partitions/"
                "assume_unique_turns=False; use the staged path for those"
            )
        from pyspark.sql import functions as F

        from .fused import ERROR_PRED, fused_conv_triples
        from .triples import PRED_DENOTES

        fused_caches: list[DataFrame] = []

        def _make_flat(tdf: DataFrame) -> DataFrame:
            return fused_conv_triples(
                tdf, dictionary, configs=cfg.detect_configs,
                cooc_window=cfg.cooc_window,
                disambiguate=cfg.disambiguate, canonical=cfg.canonical,
                max_turns_per_group=cfg.max_turns_per_group,
                quarantine_errors=bool(lineage_path),
                cache_registry=fused_caches,
                mayla=cfg.mayla,
                mayla_concept_freq=cfg.mayla_concept_freq,
                mayla_freq_scope=cfg.mayla_freq_scope,
            )

        if lineage_path:
            # resumable fused run (RunCatalogCollectionReader.java:62-94
            # semantics on the production one-shuffle plan): process only
            # OUTSTANDING buckets, quarantine per-conversation errors as
            # ERROR_PRED rows, derive the per-bucket mention/triple counts
            # from the single applyInPandas output.
            persisted: list[DataFrame] = []

            def _fused_stage(tdf: DataFrame):
                flat = _make_flat(tdf).persist()
                persisted.append(flat)
                persisted.extend(fused_caches)  # side-table detect cache
                fused_caches.clear()
                errors = flat.filter(F.col("pred") == ERROR_PRED).select(
                    "conv_id",
                    F.lit("__ERROR__").alias("concept_id"),
                    F.col("obj").alias("error"),
                )
                ok = flat.filter(F.col("pred") != ERROR_PRED)
                mentions_view = ok.filter(
                    F.col("pred") == PRED_DENOTES
                ).select(
                    "conv_id",
                    F.lit("mention").alias("concept_id"),
                    F.lit(None).cast("string").alias("error"),
                ).unionByName(errors)
                return mentions_view, ok

            try:
                return run_with_lineage(
                    spark, transcripts, _fused_stage, cfg.run_key,
                    lineage_path, output_path, cfg.n_buckets,
                    snapshot=cfg.snapshot,
                )
            finally:
                for df in persisted:
                    df.unpersist()

        triples = _make_flat(transcripts)
        _write(triples)
        for df in fused_caches:
            df.unpersist()
        return triples

    caches: list[DataFrame] = []

    def _stage(tdf: DataFrame):
        mentions = build_mentions(tdf, dictionary, cfg, cache_registry=caches)
        triples = all_triples(
            tdf, mentions.filter(mentions["concept_id"] != "__ERROR__"),
            concept_col=concept_col, cooc_window=cfg.cooc_window,
        )
        return mentions, triples

    try:
        if lineage_path:
            return run_with_lineage(
                spark, transcripts, _stage, cfg.run_key, lineage_path,
                output_path, cfg.n_buckets, snapshot=cfg.snapshot,
            )
        mentions, triples = _stage(transcripts)
        mentions.persist()  # triple fan-out reads mentions multiple times
        caches.append(mentions)
        _write(triples)
        return triples
    finally:
        for df in caches:
            df.unpersist()


def main(argv: Optional[list[str]] = None) -> None:
    ap = argparse.ArgumentParser(description="kgpipe KG-construction run")
    ap.add_argument("--transcripts", required=True, help="parquet path or table")
    ap.add_argument("--obo", action="append", default=[],
                    help="ONTOLOGY=path.obo (repeatable)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--lineage", default=None)
    ap.add_argument("--run-key", default="CONCEPTMAPPER_DEFAULT")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--cooc-window", type=int, default=3)
    ap.add_argument("--mayla", action="store_true")
    ap.add_argument("--mayla-freq", type=int, default=None,
                    help="Mayla frequency-mode threshold (omit for the "
                         "acronym/case no-freq mode)")
    ap.add_argument("--mayla-ns-freq", action="store_true",
                    help="use the per-namespace threshold table "
                         "(MAYLA_CONCEPT_FREQ)")
    ap.add_argument("--no-disambiguate", action="store_true",
                    help="skip TF-IDF span disambiguation")
    ap.add_argument("--no-canonical", action="store_true",
                    help="skip union-find canonicalization")
    ap.add_argument("--salt-partitions", type=int, default=None,
                    help="staged path: salted repartition width for "
                         "skewed inputs")
    ap.add_argument("--fused", action="store_true",
                    help="one-shuffle conversation-local plan")
    ap.add_argument("--max-turns-per-group", type=int, default=None,
                    help="fused mode skew guard (>= --cooc-window): if "
                         "some conversation has more turns than this, score "
                         "conversations from side tables over a narrow "
                         "detect scan so no task holds a whole "
                         "conversation; same output, errors quarantined "
                         "per turn")
    ap.add_argument("--mayla-conv-scope", action="store_true",
                    help="Mayla frequency over the whole conversation "
                         "(the reference's document granularity) instead "
                         "of the turn")
    ap.add_argument("--snapshot", action="store_true",
                    help="atomic snapshot-committed sink (crash-consistent "
                         "table commits); with --lineage, buckets stage "
                         "resumably and the snapshot flips only when all "
                         "buckets are COMPLETE")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    spark = get_spark("kgpipe", master=args.master)
    transcripts = (
        spark.read.parquet(args.transcripts)
        if "/" in args.transcripts
        else spark.read.table(args.transcripts)
    )
    if args.mayla_ns_freq:
        from .disambig import MAYLA_CONCEPT_FREQ
        mayla_freq = MAYLA_CONCEPT_FREQ
    else:
        mayla_freq = args.mayla_freq
    # a threshold flag implies the Mayla stage itself
    mayla = args.mayla or args.mayla_ns_freq or args.mayla_freq is not None
    cfg = PipelineConfig(
        obo_paths=dict(kv.split("=", 1) for kv in args.obo),
        run_key=args.run_key,
        n_buckets=args.buckets,
        cooc_window=args.cooc_window,
        mayla=mayla,
        mayla_concept_freq=mayla_freq,
        disambiguate=not args.no_disambiguate,
        canonical=not args.no_canonical,
        salt_partitions=args.salt_partitions,
        fused=args.fused,
        max_turns_per_group=args.max_turns_per_group,
        mayla_freq_scope=("conversation" if args.mayla_conv_scope
                          else "turn"),
        snapshot=args.snapshot,
    )
    run_pipeline(spark, transcripts, cfg, args.out, args.lineage)
    spark.stop()


if __name__ == "__main__":
    main()
