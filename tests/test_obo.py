from __future__ import annotations

from conftest import MINI_OBO, load_perfbench_gen
from kgpipe.normalize import MatchConfig
from kgpipe.obo import (
    CHEBI_DROP_IDS,
    chebi_entry_modifier,
    concept_uri,
    dictionary_rows,
    parse_obo,
    pr_entry_modifier,
    read_dictionary_xml,
    subtree_closure,
    write_dictionary_xml,
)

CFG = MatchConfig(stemmer="NONE", synonym_type="ALL")


def test_parse_mini_obo():
    terms = parse_obo(MINI_OBO)
    by_id = {t.id: t for t in terms}
    assert by_id["CL:0000540"].name == "neuron"
    assert ("nerve cell", "EXACT") in by_id["CL:0000540"].synonyms
    assert ("neuronal cell", "RELATED") in by_id["CL:0000540"].synonyms
    assert by_id["CL:0009999"].is_obsolete
    assert by_id["CL:0009999"].replaced_by == "CL:0000000"
    assert by_id["CL:0000540"].is_a == ["CL:0000003"]
    assert by_id["CL:0000540"].xrefs == ["FMA:54527"]


def test_dictionary_rows_excludes_obsolete_and_scopes():
    terms = parse_obo(MINI_OBO)
    rows = dictionary_rows(terms, "CL", CFG)
    ids = {r["concept_id"] for r in rows}
    assert "CL:0009999" not in ids  # obsolete excluded
    variants = {r["variant"] for r in rows if r["concept_id"] == "CL:0000540"}
    assert variants == {"neuron", "nerve cell", "neuronal cell"}
    exact_cfg = MatchConfig(stemmer="NONE", synonym_type="EXACT_ONLY")
    rows_e = dictionary_rows(terms, "CL", exact_cfg)
    variants_e = {r["variant"] for r in rows_e if r["concept_id"] == "CL:0000540"}
    assert variants_e == {"neuron", "nerve cell"}  # RELATED dropped


def test_entry_modifiers():
    # CHEBI: 4 ids dropped (CHEBIDictionaryEntryModifier.java:47-63)
    cid = next(iter(CHEBI_DROP_IDS))
    assert chebi_entry_modifier(cid, "x", [("x", "EXACT")]) is None
    assert chebi_entry_modifier("CHEBI:1", "x", [("x", "EXACT")]) is not None
    # PR: synonyms "2-1"/"20.5" pruned (PRDictionaryEntryModifier.java:52-69)
    _, _, kept = pr_entry_modifier(
        "PR:1", "p", [("2-1", "EXACT"), ("real name", "EXACT")]
    )
    assert kept == [("real name", "EXACT")]


def test_concept_uri():
    assert concept_uri("CL:0000540") == (
        "http://purl.obolibrary.org/obo/CL_0000540"
    )
    assert concept_uri("http://x.org/y") == "http://x.org/y"


def test_xml_dictionary_roundtrip(tmp_path):
    terms = parse_obo(MINI_OBO)
    rows = dictionary_rows(terms, "CL", CFG)
    p = str(tmp_path / "cmDict-CL.xml")
    write_dictionary_xml(rows, p)
    body = open(p).read()
    assert body.startswith('<?xml version="1.0" encoding="UTF-8" ?>\n<synonym>')
    assert '<variant base="nerve cell"/>' in body
    id2label = read_dictionary_xml(p)
    assert id2label["http://purl.obolibrary.org/obo/CL_0000540"] == "neuron"


def test_subtree_closure():
    terms = parse_obo(MINI_OBO)
    closure = subtree_closure(terms, {"CL:0000540"})
    # neuron -> interneuron -> amacrine cell
    assert closure == {"CL:0000540", "CL:0000099", "CL:0000561"}
    assert "CL:0000000" not in closure


def test_parse_owl_matches_term_model():
    """OWL (RDF/XML, OBO-in-OWL vocabulary) parses into the same Term
    records the OBO parser yields (ConceptMapperDictionaryFileFactory
    accepts both via OWLAPI)."""
    import os

    from kgpipe.obo import parse_ontology, parse_owl

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "fixtures", "mini.owl")
    terms = {t.id: t for t in parse_owl(path)}
    assert set(terms) == {"CL:0000000", "CL:0000540", "CL:0000099",
                          "CL:0009999"}
    n = terms["CL:0000540"]
    assert n.name == "neuron"
    assert ("nerve cell", "EXACT") in n.synonyms
    assert ("neuronal cell", "RELATED") in n.synonyms
    assert n.is_a == ["CL:0000000"]
    assert n.xrefs == ["FMA:54527"]
    assert n.namespace == "cell"
    # anonymous restriction subClassOf is skipped, named parent kept
    assert terms["CL:0000099"].is_a == ["CL:0000540"]
    ghost = terms["CL:0009999"]
    assert ghost.is_obsolete and ghost.replaced_by == "CL:0000540"
    # dispatch helper picks the OWL parser by extension
    assert {t.id for t in parse_ontology(path)} == set(terms)


def test_owl_dictionary_detects_like_obo(spark):
    """An OWL-built dictionary drives the same detection path."""
    import os

    from kgpipe.detect import build_dictionary_df, detect_mentions

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "fixtures", "mini.owl")
    tdf = spark.createDataFrame(
        [("c1", 0, "user", "a neuron and a nerve cell appear", None, None)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    d = build_dictionary_df(spark, {"CL": path})
    got = {(r.concept_id, r.covered_text)
           for r in detect_mentions(tdf, d).collect()}
    assert ("CL:0000540", "neuron") in got
    assert ("CL:0000540", "nerve cell") in got


def _direct_rows(terms, ontology, config):
    """dictionary_rows with the per-token normalization spelled out (no
    memo, its own tokenizer): the reference the shared normalizer must
    reproduce."""
    import re

    rows = dictionary_rows(terms, ontology, config)
    for r in rows:
        r["variant_norm"] = " ".join(
            config.normalize_token(tok)
            for tok in re.findall(r"[A-Za-z0-9]+", r["variant"])
            if not config.is_stopword(tok))
    return rows


def test_dictionary_rows_shared_normalizer_unchanged():
    """variant_norm from the memoised normalizer equals the direct
    per-token normalization, on the mini fixture and on the benchmark
    generator's CL / GO_MF / PR ontologies, under every per-ontology
    config."""
    from kgpipe import normalize

    gen = load_perfbench_gen()
    cases = [("CL", parse_obo(MINI_OBO))]
    for seed in (1, 2):
        cases += [(name, parse_obo(o.obo, from_text=True))
                  for name, o in gen.make_ontologies(seed).items()]
    configs = set(normalize.ONTOLOGY_CONFIGS.values())
    for ontology, terms in cases:
        for cfg in configs:
            normalize._TOKEN_MEMOS.clear()
            got = dictionary_rows(terms, ontology, cfg)
            assert got == _direct_rows(terms, ontology, cfg)
            assert got  # the comparison is not vacuous
