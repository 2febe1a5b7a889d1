"""Reference-parity gate (SURVEY.md §5 tier 1): the reference's golden
end-to-end test (``EntityFinderTest.java:86-144``) runs EntityFinder on
article 17608565 with cl-basic.obo / doid.obo and checks the emitted `.a1`
annotations.  We require P/R >= 0.95 strict-span+concept (BASELINE.json);
CL and DOID both achieve P=R=1.0 (the round-1 DOID precision gap was
two-letter acronym synonyms matching author initials; excluded by the
reference dictionary builder's 3-char minimum term length).
"""

from __future__ import annotations

import pytest

from conftest import (
    ARTICLE_TXT, CL_A1, CL_OBO, DOID_A1, DOID_OBO, load_a1, prf,
    require_reference,
)
from kgpipe.normalize import MatchConfig, config_for
from kgpipe.obo import concept_uri, dictionary_rows, parse_obo
from kgpipe.trie import DictionaryTrie

CL_CFG = MatchConfig(
    "CONTIGUOUS_MATCH", "CASE_INSENSITIVE", "PORTER", "NONE", False, False,
    "EXACT_ONLY",
)


def scan(obo_path: str, ontology: str, cfg: MatchConfig) -> set:
    terms = parse_obo(obo_path)
    rows = dictionary_rows(terms, ontology, cfg)
    trie = DictionaryTrie.from_rows(rows, cfg)
    with open(ARTICLE_TXT, encoding="utf-8") as f:
        text = f.read()
    return {(cid, b, e) for _, cid, b, e, _ in trie.scan_text(text)}


def test_cl_parity_exact():
    require_reference(CL_OBO, ARTICLE_TXT, CL_A1)
    mine = scan(CL_OBO, "CL", CL_CFG)
    gold = load_a1(CL_A1)
    p, r, f = prf(mine, gold)
    assert p >= 0.95 and r >= 0.95, (p, r)
    # calibrated: currently perfect parity
    assert p == 1.0 and r == 1.0


def test_doid_parity():
    require_reference(DOID_OBO, ARTICLE_TXT, DOID_A1)
    mine = scan(DOID_OBO, "DOID", CL_CFG)
    mine = {(concept_uri(c), b, e) for c, b, e in mine}
    gold = load_a1(DOID_A1)
    p, r, f = prf(mine, gold)
    assert p >= 0.95 and r >= 0.95, (p, r)
    # calibrated: min-variant-length 3 (OboToDictionary parity) gives
    # perfect agreement here too
    assert p == 1.0 and r == 1.0


def test_configured_cl_matches_calibration():
    # the shipped per-ontology config must be the calibrated one
    assert config_for("CL") == CL_CFG


@pytest.mark.spark
def test_spark_detection_parity(spark):
    """End-to-end through the mapInPandas operator: article split into turns,
    detection per turn, offsets mapped back to document offsets must equal
    the golden .a1 set."""
    from kgpipe.detect import build_dictionary_df, detect_mentions

    require_reference(ARTICLE_TXT, CL_OBO, CL_A1)
    with open(ARTICLE_TXT, encoding="utf-8") as f:
        content = f.read()

    # split into line turns, tracking each turn's char offset in the article
    rows = []
    offsets = {}
    ti = 0
    pos = 0
    for line in content.split("\n"):
        if line.strip():
            rows.append(("pmid17608565", ti, "user", line, None, None))
            offsets[ti] = pos
            ti += 1
        pos += len(line) + 1

    tdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    ddf = build_dictionary_df(spark, {"CL": CL_OBO})
    mentions = detect_mentions(tdf, ddf).collect()

    mine = {
        (m.concept_id, offsets[m.turn_idx] + m.begin, offsets[m.turn_idx] + m.end)
        for m in mentions
    }
    gold = load_a1(CL_A1)
    p, r, f = prf(mine, gold)
    assert p >= 0.95 and r >= 0.95, (p, r)


@pytest.mark.spark
def test_multi_ontology_detection(spark):
    """The production shape — several ontology tries over one corpus
    (north-star: CHEBI+GO+PR+CL+TAXON) — must equal the union of
    per-ontology runs; exercises the tokenize-once pretokenize path."""
    from conftest import MINI_OBO
    from kgpipe.detect import build_dictionary_df, detect_mentions

    require_reference(CL_OBO, DOID_OBO)
    rows = [
        ("c1", 0, "user", "a neuron with melanoma markers", None, None),
        ("c1", 1, "tool", "the fibroblast shows no carcinoma", None, None),
        ("c2", 0, "user", "plain text with nothing at all", None, None),
    ]
    tdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
              " tool string, ts timestamp")

    # compare on the annotation identity key (concept, span) — detect's
    # turn-local dedup is ontology-agnostic (mini.obo reuses CL ids), so
    # the combined run keeps one row where two namespaces agree
    key = lambda m: (m.concept_id, m.conv_id, m.turn_idx, m.begin, m.end)
    combined = build_dictionary_df(
        spark, {"CL": CL_OBO, "DOID": DOID_OBO, "MINI": MINI_OBO})
    got = {key(m) for m in detect_mentions(tdf, combined).collect()}

    expected = set()
    for ont, obo in [("CL", CL_OBO), ("DOID", DOID_OBO), ("MINI", MINI_OBO)]:
        single = build_dictionary_df(spark, {ont: obo})
        expected |= {key(m) for m in detect_mentions(tdf, single).collect()}
    assert got == expected
    cids = {g[0] for g in got}
    assert any(c.startswith("CL:") for c in cids)
    assert any(c.startswith("DOID:") for c in cids)
