"""ConceptMapper parameter-grid evaluation.

The reference sweeps 577 knob permutations serially over the full corpus
(``RunConceptMapperCraftEvals.java:45`` loops ``i < 577``; the knob
vocabulary is in ``ConceptMapperEvalOutputCompiler.java:83-100``) and then
compiles the per-index result files into one TSV
(``ConceptMapperEvalOutputCompiler.java:122-150, 523-558``).

Here the grid is an explicit enumeration (3 SearchStrategy × 4 CaseMatch ×
3 Stemmer × 2 Stopwords × 2 OrderIndependent × 2 FindAllMatches ×
2 SynonymType = 576 combos + the reference's one extra hand-tuned entry ≈
577), and each permutation is an independent detect+evaluate job — they
parallelize trivially (the reference runs them serially in one JVM).
"""

from __future__ import annotations

from dataclasses import dataclass
from itertools import product
from typing import Iterable, Optional

from pyspark.sql import DataFrame, SparkSession

from .normalize import (
    CASE_FOLD_DIGITS, CASE_IGNORE, CASE_INSENSITIVE, CASE_SENSITIVE,
    MatchConfig, SEARCH_CONTIGUOUS, SEARCH_SKIP_ANY, SEARCH_SKIP_ANY_OVERLAP,
    STEM_BIOLEMMATIZER, STEM_NONE, STEM_PORTER, STOP_NONE, STOP_PUBMED,
    SYN_ALL, SYN_EXACT_ONLY,
)

_SEARCH = [SEARCH_CONTIGUOUS, SEARCH_SKIP_ANY, SEARCH_SKIP_ANY_OVERLAP]
_CASE = [CASE_FOLD_DIGITS, CASE_IGNORE, CASE_SENSITIVE, CASE_INSENSITIVE]
_STEM = [STEM_PORTER, STEM_NONE, STEM_BIOLEMMATIZER]
_STOP = [STOP_NONE, STOP_PUBMED]
_OIL = [False, True]
_FAM = [False, True]
_SYN = [SYN_EXACT_ONLY, SYN_ALL]


def param_grid() -> list[MatchConfig]:
    """All 576 knob permutations, deterministic order (the reference's
    0..576 index space; index decoding lives in an external artifact, so we
    define our own stable ordering and carry it everywhere)."""
    return [
        MatchConfig(ss, cm, st, sw, oil, fam, syn)
        for ss, cm, st, sw, oil, fam, syn in product(
            _SEARCH, _CASE, _STEM, _STOP, _OIL, _FAM, _SYN
        )
    ]


def config_from_index(i: int) -> MatchConfig:
    """OUR stable index space: position in ``param_grid()`` (mixed radix,
    SearchStrategy slowest → SynonymType fastest, value orders as the
    ``_SEARCH``.. lists above).  NOT the reference's index space: the
    reference decodes indices through ``ConceptMapperPermutationFactory``
    in the external ccp-nlp artifact (imported at
    ``EntityFinder.java:76``), whose source is not in the reference tree.
    A mixed-radix constraint solve over the published (index, winning
    config) pairs from ``ConceptMapperParams.java:47-63`` + Funk et al.
    2014 shows NO factor/value ordering reproduces more than two of them
    (e.g. PR=478 and NCBI_TAXON=535 carry identical published knobs), so
    the per-ontology configs in ``normalize.ONTOLOGY_CONFIGS`` are pinned
    as explicit knob tables (REFERENCE_OPTIMIZED_INDICES below) rather
    than decoded — auditable in tests/test_grid_sources_streaming.py."""
    grid = param_grid()
    if not 0 <= i < len(grid):
        raise IndexError(f"param index {i} outside 0..{len(grid) - 1}")
    return grid[i]


def index_of_config(cfg: MatchConfig) -> int:
    """Inverse of ``config_from_index`` (our index space)."""
    return (
        ((((
            _SEARCH.index(cfg.search_strategy) * 4
            + _CASE.index(cfg.case_match)) * 3
            + _STEM.index(cfg.stemmer)) * 2
            + _STOP.index(cfg.stopwords)) * 2
            + int(cfg.order_independent)) * 4
        + int(cfg.find_all_matches) * 2
        + _SYN.index(cfg.synonym_type)
    )


#: The reference's published per-ontology optimized indices — F-score and
#: precision variants (``ConceptMapperParams.java:47-63``, wired at
#: ``EntityFinder.java:133-170``; values from Funk et al. 2014, BMC
#: Bioinformatics 15:59).  Kept as DATA so the mapping our
#: ``normalize.ONTOLOGY_CONFIGS`` stands in for is pinned and auditable,
#: even though the index→knob decode itself lives outside the reference.
REFERENCE_OPTIMIZED_INDICES: dict[str, tuple[int, int]] = {
    # ontology: (f_score_index, precision_index)
    "GO_CC": (31, 31),
    "GO_MF": (111, 111),
    "GO_BP": (28, 47),
    "SO": (31, 191),
    "PR": (478, 286),
    "CL": (31, 143),
    "NCBI_TAXON": (535, 279),
    "CHEBI": (13, 189),
    "DOID": (31, 47),
    "HP": (31, 47),
}

#: The reference's sweep runs ``i < 577`` (``RunConceptMapperCraftEvals
#: .java:45``) over a 3·4·3·2·2·2·2 = 576-combination space — one index
#: past the product.  With the external decode artifact absent, the 577th
#: entry is documented (not enumerable); our grid carries the full
#: 576-product.
REFERENCE_SWEEP_SIZE = 577


def param_string(cfg: MatchConfig) -> str:
    """The reference's knob-string format
    (``ConceptMapperEvalOutputCompiler.java:83-100``)."""
    return "_".join(
        [
            f"SearchStrategy:{cfg.search_strategy}",
            f"CaseMatch:{cfg.case_match}",
            f"Stemmer:{cfg.stemmer}",
            f"Stopwords:{cfg.stopwords}",
            f"OrderIndependentLookup:{'ON' if cfg.order_independent else 'OFF'}",
            f"FindAllMatches:{'YES' if cfg.find_all_matches else 'NO'}",
            f"SynonymType:{cfg.synonym_type}",
        ]
    )


@dataclass
class GridResult:
    index: int
    params: str
    tp: int
    fp: int
    fn: int

    @property
    def precision(self) -> float:
        return self.tp / (self.tp + self.fp) if self.tp + self.fp else 0.0

    @property
    def recall(self) -> float:
        return self.tp / (self.tp + self.fn) if self.tp + self.fn else 0.0

    @property
    def f1(self) -> float:
        p, r = self.precision, self.recall
        return 2 * p * r / (p + r) if p + r else 0.0


def run_grid(
    spark: SparkSession,
    transcripts: DataFrame,
    obo_paths: dict[str, str],
    gold: DataFrame,
    ontology: str = "CL",
    indices: Optional[Iterable[int]] = None,
    span: str = "STRICT",
) -> list[GridResult]:
    """Run detect+evaluate for each grid index; returns one summary row per
    permutation (the reference's compiled-TSV analogue).

    The dictionary is rebuilt per permutation (normalization knobs change
    the variant_norm side), mirroring the reference's per-index dictionary
    regeneration (``EntityFinder.java:176-179`` cache keyed by params)."""
    from .detect import build_dictionary_df, detect_mentions
    from .evaluate import compare, summary

    grid = param_grid()
    chosen = list(indices) if indices is not None else range(len(grid))
    out: list[GridResult] = []
    # gold is deduped on the annotation key in BOTH grid paths (here and in
    # run_grid_fused) so duplicated gold rows cannot make the serial and
    # fused sweeps diverge — the grid's TP/FN space is the distinct gold set
    keys = ["conv_id", "turn_idx", "concept_id", "begin", "end"]
    gold = gold.select(*keys).dropDuplicates(keys)
    for i in chosen:
        cfg = grid[i]
        ddf = build_dictionary_df(spark, {ontology: obo_paths[ontology]},
                                  configs={ontology: cfg})
        mentions = detect_mentions(transcripts, ddf, configs={ontology: cfg})
        s = summary(
            compare(gold, mentions.select(*keys), span=span)
        ).first()
        out.append(GridResult(i, param_string(cfg), s.tp or 0, s.fp or 0,
                              s.fn or 0))
    return out


def run_grid_fused(
    spark: SparkSession,
    transcripts: DataFrame,
    obo_paths: dict[str, str],
    gold: DataFrame,
    ontology: str = "CL",
    indices: Optional[Iterable[int]] = None,
    span: str = "STRICT",
) -> DataFrame:
    """ALL permutations in ONE job — the Spark-first answer to the
    reference's 577 serial full-corpus evaluations
    (``RunConceptMapperCraftEvals.java:45``).

    Every permutation's trie is built driver-side from one OBO parse and
    broadcast together; a single ``mapInPandas`` pass scans each turn once
    per permutation, emitting a ``param_idx`` column; STRICT evaluation
    then reduces to one dedup + one join + two aggregations over the whole
    param space.  The corpus is read and shuffled once, not
    |grid| times — at 577 permutations that is the difference between one
    cluster job and a day of serial reruns.

    Returns one row per param index: ``(param_idx, params, tp, fp, fn,
    precision, recall, f1)``.  STRICT span only (the grid compiler's
    comparison mode); other comparators go through ``run_grid``.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    from .obo import dictionary_rows, parse_obo
    from .trie import DictionaryTrie, pretokenize, scan_turn

    if span != "STRICT":
        raise ValueError("run_grid_fused evaluates STRICT span only")
    grid = param_grid()
    chosen = list(indices) if indices is not None else list(range(len(grid)))
    terms = parse_obo(obo_paths[ontology])
    tries = {}
    for i in chosen:
        cfg = grid[i]
        rows = dictionary_rows(terms, ontology, cfg)
        tries[i] = DictionaryTrie.from_rows(rows, cfg)
    bc = spark.sparkContext.broadcast(tries)

    def scan(batches):
        tries_local = bc.value
        for pdf in batches:
            out = {"param_idx": [], "conv_id": [], "turn_idx": [],
                   "concept_id": [], "begin": [], "end": []}
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"]
            ):
                ti = int(turn_idx)
                # tokenize ONCE per turn for the whole permutation space
                # (chunking/raw tokens are knob-independent) — at 576
                # permutations this removes 575 re-tokenizations per turn;
                # scan_turn returns [] for a missing (NULL/NaN) turn
                pretok = pretokenize(text) if isinstance(text, str) else None
                for idx, trie in tries_local.items():
                    for _, cid, b, e, _cov in scan_turn(text, (trie,), pretok):
                        out["param_idx"].append(idx)
                        out["conv_id"].append(conv_id)
                        out["turn_idx"].append(ti)
                        out["concept_id"].append(cid)
                        out["begin"].append(b)
                        out["end"].append(e)
            yield pd.DataFrame(out)

    keys = ["conv_id", "turn_idx", "concept_id", "begin", "end"]
    mentions = (
        transcripts.select("conv_id", "turn_idx", "text")
        .mapInPandas(scan, schema=("param_idx int, conv_id string,"
                                   " turn_idx int, concept_id string,"
                                   " begin int, end int"))
    )
    g = gold.select(*keys).dropDuplicates(keys)
    n_gold = g.count()
    per_idx = (
        mentions.join(g.withColumn("__hit", F.lit(1)), keys, "left")
        .groupBy("param_idx")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.sum(F.coalesce("__hit", F.lit(0))).alias("tp"),
        )
        .select(
            "param_idx",
            F.col("tp").cast("long").alias("tp"),
            (F.col("n_mentions") - F.col("tp")).cast("long").alias("fp"),
            (F.lit(n_gold) - F.col("tp")).cast("long").alias("fn"),
        )
    )
    rows = {r["param_idx"]: r for r in per_idx.collect()}
    out = []
    for i in chosen:  # param combos that detect nothing still get a row
        r = rows.get(i)
        tp = int(r["tp"]) if r else 0
        fp = int(r["fp"]) if r else 0
        fn = int(r["fn"]) if r else n_gold
        gr = GridResult(i, param_string(grid[i]), tp, fp, fn)
        out.append((i, gr.params, tp, fp, fn, round(gr.precision, 6),
                    round(gr.recall, 6), round(gr.f1, 6)))
    return spark.createDataFrame(
        out,
        "param_idx int, params string, tp long, fp long, fn long,"
        " precision double, recall double, f1 double",
    )


def compile_results(spark: SparkSession, results: list[GridResult]) -> DataFrame:
    """One row per param index with P/R/F — the output-compiler analogue."""
    rows = [
        (r.index, r.params, r.tp, r.fp, r.fn,
         round(r.precision, 6), round(r.recall, 6), round(r.f1, 6))
        for r in results
    ]
    return spark.createDataFrame(
        rows,
        "param_idx int, params string, tp long, fp long, fn long,"
        " precision double, recall double, f1 double",
    )


def iso_f_precision(f: float, r: float) -> float | None:
    """Precision on the iso-F curve at recall *r* for F-score *f*:
    ``p = f·r / (2r − f)`` (``ConceptMapperEvalOutputCompiler.java:213-223``
    — the math behind the compiler's P/R scatter iso-F overlays; charting
    itself is out of scope).  Returns None where the curve is undefined
    (r <= f/2: no precision can achieve F=f at that recall)."""
    denom = 2.0 * r - f
    if denom <= 0:
        return None
    p = f * r / denom
    return p if p <= 1.0 else None  # p > 1 is equally unreachable


def iso_f_curve(f: float, n_points: int = 50,
                r_max: float = 1.0) -> list[tuple[float, float]]:
    """(recall, precision) samples of the iso-F curve for overlaying on a
    P/R scatter: recall sweeps (f/2, r_max], undefined points skipped."""
    lo = f / 2.0
    out = []
    for i in range(1, n_points + 1):
        r = lo + (r_max - lo) * i / n_points
        p = iso_f_precision(f, r)
        if p is not None:  # None covers both undefined and p > 1
            out.append((round(r, 6), round(p, 6)))
    return out
