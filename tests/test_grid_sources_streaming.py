from __future__ import annotations

from conftest import MINI_OBO
from kgpipe.grid import compile_results, param_grid, param_string, run_grid
from kgpipe.sources import (
    load_catalog,
    read_text_dir,
    read_transcripts,
    text_dir_to_transcripts,
)


def test_param_grid_size_and_strings():
    grid = param_grid()
    assert len(grid) == 576  # 3*4*3*2*2*2*2 — the reference's 577 ≈ grid + 1
    s = param_string(grid[0])
    assert "SearchStrategy:CONTIGUOUS_MATCH" in s
    assert "SynonymType:EXACT_ONLY" in s
    assert len({param_string(c) for c in grid}) == 576  # all distinct


def test_param_index_roundtrip_and_reference_indices():
    """Our index space is pinned: config_from_index ↔ index_of_config
    roundtrip over the full 576-product, and the reference's published
    per-ontology optimized indices are carried as auditable data
    (ConceptMapperParams.java:47-63, EntityFinder.java:133-170)."""
    from kgpipe.grid import (
        REFERENCE_OPTIMIZED_INDICES, REFERENCE_SWEEP_SIZE,
        config_from_index, index_of_config,
    )

    grid = param_grid()
    for i in (0, 1, 31, 111, 478, 535, 575):
        assert index_of_config(config_from_index(i)) == i
    assert [index_of_config(c) for c in grid] == list(range(576))
    assert REFERENCE_SWEEP_SIZE == len(grid) + 1  # the 577th hand entry
    # every reference index is inside the sweep space (the 577th entry
    # aside) — both the F-score and the precision variants
    for ont, (fi, pi) in REFERENCE_OPTIMIZED_INDICES.items():
        assert 0 <= fi < REFERENCE_SWEEP_SIZE and 0 <= pi < REFERENCE_SWEEP_SIZE
    assert REFERENCE_OPTIMIZED_INDICES["PR"] == (478, 286)
    assert REFERENCE_OPTIMIZED_INDICES["NCBI_TAXON"] == (535, 279)


def test_ontology_config_knob_strings_golden():
    """Golden table: the knob string of every per-ontology optimized
    config, in the reference's format (ConceptMapperEvalOutputCompiler
    .java:83-100).  These are the Funk et al. 2014 winning settings our
    pipeline stands in for the published indices — pinned so any future
    recalibration is an explicit, reviewed change."""
    from kgpipe.normalize import config_for

    golden = {
        "CL": "SearchStrategy:CONTIGUOUS_MATCH_CaseMatch:CASE_INSENSITIVE"
              "_Stemmer:PORTER_Stopwords:NONE_OrderIndependentLookup:OFF"
              "_FindAllMatches:NO_SynonymType:EXACT_ONLY",
        "GO_CC": "SearchStrategy:CONTIGUOUS_MATCH_CaseMatch:CASE_INSENSITIVE"
                 "_Stemmer:PORTER_Stopwords:NONE_OrderIndependentLookup:OFF"
                 "_FindAllMatches:NO_SynonymType:EXACT_ONLY",
        "GO_BP": "SearchStrategy:CONTIGUOUS_MATCH_CaseMatch:CASE_INSENSITIVE"
                 "_Stemmer:PORTER_Stopwords:NONE_OrderIndependentLookup:OFF"
                 "_FindAllMatches:NO_SynonymType:ALL",
        "GO_MF": "SearchStrategy:CONTIGUOUS_MATCH_CaseMatch:CASE_INSENSITIVE"
                 "_Stemmer:PORTER_Stopwords:PUBMED_OrderIndependentLookup:OFF"
                 "_FindAllMatches:NO_SynonymType:ALL",
        "SO": "SearchStrategy:CONTIGUOUS_MATCH_CaseMatch:CASE_INSENSITIVE"
              "_Stemmer:PORTER_Stopwords:NONE_OrderIndependentLookup:OFF"
              "_FindAllMatches:NO_SynonymType:EXACT_ONLY",
        "PR": "SearchStrategy:CONTIGUOUS_MATCH_CaseMatch:CASE_SENSITIVE"
              "_Stemmer:NONE_Stopwords:NONE_OrderIndependentLookup:ON"
              "_FindAllMatches:NO_SynonymType:ALL",
        "NCBI_TAXON": "SearchStrategy:CONTIGUOUS_MATCH"
                      "_CaseMatch:CASE_SENSITIVE_Stemmer:NONE_Stopwords:NONE"
                      "_OrderIndependentLookup:ON_FindAllMatches:NO"
                      "_SynonymType:ALL",
        "CHEBI": "SearchStrategy:CONTIGUOUS_MATCH_CaseMatch:CASE_INSENSITIVE"
                 "_Stemmer:NONE_Stopwords:NONE_OrderIndependentLookup:OFF"
                 "_FindAllMatches:NO_SynonymType:EXACT_ONLY",
        "DOID": "SearchStrategy:CONTIGUOUS_MATCH_CaseMatch:CASE_INSENSITIVE"
                "_Stemmer:PORTER_Stopwords:NONE_OrderIndependentLookup:OFF"
                "_FindAllMatches:NO_SynonymType:EXACT_ONLY",
        "HP": "SearchStrategy:CONTIGUOUS_MATCH_CaseMatch:CASE_INSENSITIVE"
              "_Stemmer:PORTER_Stopwords:NONE_OrderIndependentLookup:OFF"
              "_FindAllMatches:NO_SynonymType:EXACT_ONLY",
    }
    for ont, want in golden.items():
        assert param_string(config_for(ont)) == want, ont


def test_run_grid_small(spark):
    rows = [
        ("c1", 0, "user", "the neuron and another cell", None, None),
        ("c1", 1, "user", "Neurons fire; the interneuron waits.", None, None),
    ]
    tdf = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    gold = spark.createDataFrame(
        [
            ("c1", 0, "CL:0000540", 4, 10),
            ("c1", 0, "CL:0000000", 23, 27),
            ("c1", 1, "CL:0000540", 0, 7),
            ("c1", 1, "CL:0000099", 18, 29),
        ],
        "conv_id string, turn_idx int, concept_id string, begin int, end int",
    )
    # index 0 = CONTIGUOUS/FOLD_DIGITS/PORTER/EXACT_ONLY; find one
    # case-insensitive+porter combo and check it reaches perfect parity
    grid = param_grid()
    best_idx = next(
        i for i, c in enumerate(grid)
        if c.case_match == "CASE_INSENSITIVE" and c.stemmer == "PORTER"
        and c.search_strategy == "CONTIGUOUS_MATCH"
        and c.stopwords == "NONE" and not c.find_all_matches
        and not c.order_independent and c.synonym_type == "EXACT_ONLY"
    )
    results = run_grid(
        spark, tdf, {"CL": MINI_OBO}, gold, "CL", indices=[0, best_idx]
    )
    by_idx = {r.index: r for r in results}
    assert by_idx[best_idx].fn == 0 and by_idx[best_idx].fp == 0
    # CASE_FOLD_DIGITS (index 0) misses "Neurons" (capital, no digits)
    assert by_idx[0].fn >= 1
    cdf = compile_results(spark, results)
    row = cdf.filter(cdf["param_idx"] == best_idx).first()
    assert row.f1 == 1.0


def test_read_text_dir_and_split(spark, tmp_path):
    (tmp_path / "a.txt").write_text("first line\nsecond line\n")
    (tmp_path / "b.txt").write_text("only line\n")
    docs = read_text_dir(spark, str(tmp_path))
    assert {r.doc_id for r in docs.collect()} == {"a", "b"}
    t = text_dir_to_transcripts(docs)
    rows = {(r.conv_id, r.turn_idx): r.text for r in t.collect()}
    assert rows[("a", 0)] == "first line" and rows[("a", 1)] == "second line"
    # skip/limit determinism
    assert read_text_dir(spark, str(tmp_path), num=1).first().doc_id == "a"
    assert read_text_dir(spark, str(tmp_path), skip=1).first().doc_id == "b"


def test_read_text_dir_window_membership(spark, tmp_path):
    """skip/num selects by MEMBERSHIP in the listed window (not a
    name range), and percent-encoded basenames from input_file_name()
    (e.g. filenames with spaces) still match the listing."""
    (tmp_path / "a b.txt").write_text("space doc\n")
    (tmp_path / "c.txt").write_text("c doc\n")
    (tmp_path / "d.txt").write_text("d doc\n")
    got = {r.doc_id for r in
           read_text_dir(spark, str(tmp_path), skip=0, num=2).collect()}
    assert got == {"a b", "c"}
    assert read_text_dir(spark, str(tmp_path), skip=2).first().doc_id == "d"


def test_read_transcripts_schema_check(spark, tmp_path):
    import pytest

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [("c", 0, "user", "x", None, None)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    ).write.parquet(p)
    assert read_transcripts(spark, p).count() == 1
    bad = str(tmp_path / "bad.parquet")
    spark.createDataFrame([("c",)], "conv_id string").write.parquet(bad)
    with pytest.raises(ValueError, match="missing columns"):
        read_transcripts(spark, bad)


def test_load_catalog_metadata_join(spark):
    files = spark.createDataFrame(
        [("PMC1.nxml.gz",), ("PMC2.nxml.gz",)], "filename string"
    )
    meta = spark.createDataFrame(
        [("PMC1.nxml.gz", "J Biol", "CC-BY")],
        "filename string, journal string, license string",
    )
    out = {r.filename: r for r in load_catalog(files, meta).collect()}
    assert out["PMC1.nxml.gz"].journal == "J Biol"
    assert out["PMC2.nxml.gz"].journal is None
    assert len(out["PMC1.nxml.gz"].dir1) == 2


def test_run_grid_fused_matches_serial(spark):
    """The one-job fused sweep must produce identical TP/FP/FN per
    permutation as the serial per-index loop."""
    from kgpipe.grid import run_grid_fused

    rows = [
        ("c1", 0, "user", "the neuron and another cell", None, None),
        ("c1", 1, "user", "Neurons fire; the interneuron waits.", None, None),
        ("c2", 0, "tool", "a fibroblast, then a neuron", None, None),
    ]
    tdf = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    gold = spark.createDataFrame(
        [
            ("c1", 0, "CL:0000540", 4, 10),
            ("c1", 1, "CL:0000540", 0, 7),
            ("c2", 0, "CL:0000057", 2, 12),
        ],
        "conv_id string, turn_idx int, concept_id string, begin int, end int",
    )
    indices = [0, 7, 63, 200, 575]
    serial = {
        r.index: (r.tp, r.fp, r.fn)
        for r in run_grid(spark, tdf, {"CL": MINI_OBO}, gold, "CL",
                          indices=indices)
    }
    fused = {
        r.param_idx: (r.tp, r.fp, r.fn)
        for r in run_grid_fused(spark, tdf, {"CL": MINI_OBO}, gold, "CL",
                                indices=indices).collect()
    }
    assert fused == serial


def test_run_grid_duplicate_gold_rows_agree(spark):
    """Duplicated gold rows must not diverge the serial vs fused sweeps:
    both dedupe gold on the annotation key (documented invariant)."""
    from kgpipe.grid import run_grid_fused

    rows = [
        ("c1", 0, "user", "the neuron and another cell", None, None),
        ("c2", 0, "tool", "a fibroblast, then a neuron", None, None),
    ]
    tdf = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    gold = spark.createDataFrame(
        [
            ("c1", 0, "CL:0000540", 4, 10),
            ("c1", 0, "CL:0000540", 4, 10),  # exact duplicate
            ("c2", 0, "CL:0000057", 2, 12),
        ],
        "conv_id string, turn_idx int, concept_id string, begin int, end int",
    )
    indices = [0, 63]
    serial = {
        r.index: (r.tp, r.fp, r.fn)
        for r in run_grid(spark, tdf, {"CL": MINI_OBO}, gold, "CL",
                          indices=indices)
    }
    fused = {
        r.param_idx: (r.tp, r.fp, r.fn)
        for r in run_grid_fused(spark, tdf, {"CL": MINI_OBO}, gold, "CL",
                                indices=indices).collect()
    }
    assert fused == serial


def test_iso_f_math():
    """p = f*r/(2r-f) — the eval compiler's iso-F overlay math
    (ConceptMapperEvalOutputCompiler.java:213-223): every point on the
    curve reproduces F, undefined region returns None."""
    from kgpipe.grid import iso_f_curve, iso_f_precision

    f = 0.6
    for r, p in iso_f_curve(f, n_points=20):
        # curve points are rounded to 6 decimals → F reproduces to ~1e-6
        assert abs(2 * p * r / (p + r) - f) < 1e-5
    assert iso_f_precision(0.6, 0.3) is None     # r == f/2: undefined
    assert iso_f_precision(0.6, 0.2) is None     # below the asymptote
    assert abs(iso_f_precision(0.5, 0.5) - 0.5) < 1e-12  # symmetric point
