"""Mention detection: broadcast dictionary trie × transcripts, as an
Arrow-batched ``mapInPandas`` operator.

This is the Spark-first rendering of the reference's core operator — the
ConceptMapper dictionary lookup (aggregate built at
``ConceptMapperPipelineFactory.java:94-96``, invoked per sentence by
``EntityFinder.java:97-125``).  Design (SURVEY.md §2.3 "dictionary lookup"):

- the dictionary (10^4–10^6 rows) is built driver-side, compiled into a
  token trie, and **broadcast** — no shuffle of the 10^12-row transcript side;
  its DataFrame form (for Mayla's label map and canonicalization) is an
  Arrow table decoded in the JVM (``session.local_frame``), so no Python
  worker runs outside the detect map;
- detection is a **narrow** transformation: one fused stage from the
  transcripts scan to the mentions output, no wide dependency, so it scales
  linearly with executors (the scaling-efficiency target);
- Python cost is one call per Arrow batch (``mapInPandas``), never per row;
  each turn is scanned by ``trie.scan_turn``, the one per-turn scan kernel
  (NULL skip, one tokenisation across ontologies, turn-local dedup);
- errors are quarantined per row into an ``error`` column instead of failing
  the task (the reference records per-document errors in its run catalog,
  ``RunCatalogAE.java:107-112``; we do the same per partition in
  kgpipe.lineage).
"""

from __future__ import annotations

from typing import Iterable, Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import schemas
from .normalize import MatchConfig, config_for
from .obo import dictionary_rows, parse_ontology
from .session import local_frame
from .trie import DictionaryTrie, scan_turn


def build_dictionary_df(
    spark: SparkSession,
    obo_paths: dict[str, str],
    configs: Optional[dict[str, MatchConfig]] = None,
) -> DataFrame:
    """Parse OBO/OWL files into one dictionary DataFrame (driver-side build
    with per-namespace modifiers, mirroring
    ``ConceptMapperDictionaryFileFactory.java:267-284``; format dispatch by
    extension like the reference's OWLAPI load)."""
    all_rows: list[dict] = []
    for ontology, path in sorted(obo_paths.items()):
        cfg = (configs or {}).get(ontology) or config_for(ontology)
        all_rows.extend(dictionary_rows(parse_ontology(path), ontology, cfg))
    # Arrow-decoded in the JVM: a list-built frame would start Python
    # workers on every evaluation (Mayla's label map, each broadcast build)
    df = local_frame(spark, all_rows, schemas.DICTIONARY)
    # the rows already live on the driver — let collect_dictionary skip the
    # driver→executor→driver round trip (a fixed seconds-scale job that
    # erodes scaling efficiency; parquet-sourced dictionaries still
    # collect), and let canonicalize union-find them without a Spark job
    df._kgpipe_local_rows = all_rows  # type: ignore[attr-defined]
    return df


def build_tries(
    dictionary_rows_local: Iterable[dict],
    configs: Optional[dict[str, MatchConfig]] = None,
) -> dict[str, DictionaryTrie]:
    """Group dictionary rows by ontology and compile one trie each (each
    ontology carries its own knob config — per-ontology optimized params,
    ``EntityFinder.java:133-170``)."""
    by_ont: dict[str, list[dict]] = {}
    for r in dictionary_rows_local:
        by_ont.setdefault(r["ontology"], []).append(r)
    out: dict[str, DictionaryTrie] = {}
    for ont, rows in by_ont.items():
        cfg = (configs or {}).get(ont) or config_for(ont)
        out[ont] = DictionaryTrie.from_rows(rows, cfg)
    return out


def collect_dictionary(dictionary: DataFrame) -> list[dict]:
    """Collect the (ontology-sized) dictionary once; reusable across the
    trie build, canonicalization, and Mayla label maps without re-running
    the dictionary job per stage.  DataFrames produced by
    ``build_dictionary_df`` carry their driver-side rows and skip the
    collect job entirely (any transformation drops the attribute, so a
    filtered/modified dictionary falls back to a real collect).

    Always returns fresh row dicts: the cached list feeds the trie build,
    canonicalization and Mayla's label map, so handing out the shared
    objects would let one caller's mutation corrupt every other consumer."""
    rows = getattr(dictionary, "_kgpipe_local_rows", None)
    if rows is not None:
        return [dict(r) for r in rows]
    return [r.asDict() for r in dictionary.collect()]


def detect_mentions(
    transcripts: DataFrame,
    dictionary: DataFrame,
    configs: Optional[dict[str, MatchConfig]] = None,
    local_rows: Optional[list[dict]] = None,
) -> DataFrame:
    """transcripts × dictionary → mentions.

    Mentions carry turn-relative char offsets (per-row invariant: per-turn
    text equality under stable turn ordering — offsets never depend on
    neighbouring turns, so partitioning is free to split conversations).
    Each turn goes through ``trie.scan_turn``, which drops identical
    (concept, begin, end) annotations turn-locally (narrow; no shuffle).
    """
    spark = transcripts.sparkSession
    if local_rows is None:
        local_rows = collect_dictionary(dictionary)
    tries = build_tries(local_rows, configs)
    bc = spark.sparkContext.broadcast(tries)

    def scan_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tries_local = tuple(bc.value.values())
        for pdf in batches:
            out = {
                "conv_id": [], "turn_idx": [], "ontology": [], "concept_id": [],
                "begin": [], "end": [], "covered_text": [], "error": [],
            }
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"].values, pdf["turn_idx"].values, pdf["text"].values
            ):
                try:
                    hits = scan_turn(text, tries_local)
                except Exception as exc:  # quarantine, don't fail the task
                    hits = [(None, "__ERROR__", -1, -1, None)]
                    error = f"{type(exc).__name__}: {exc}"
                else:
                    error = None
                for ont, cid, b, e, cov in hits:
                    out["conv_id"].append(conv_id)
                    out["turn_idx"].append(int(turn_idx))
                    out["ontology"].append(ont)
                    out["concept_id"].append(cid)
                    out["begin"].append(b)
                    out["end"].append(e)
                    out["covered_text"].append(cov)
                    out["error"].append(error)
            yield pd.DataFrame(out)

    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        scan_batches, schema=schemas.MENTIONS
    )
