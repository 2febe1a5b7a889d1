"""Mayla disambiguation truth-table (FIXTURES.md F7), ported from
``MaylaPostProcessingComponentTest.java:60-125`` and the
``_ConceptFrequency`` variant: 4 mentions over the fixture sentence;
no-freq mode keeps the acronym/capitalized surfaces (2 survive)."""

from __future__ import annotations

import pytest

from kgpipe.disambig import mayla_filter, tfidf_disambiguate

DOC = (
    "As we look at the structure of TRF-10, we see how large it is "
    "and want to make sure that Kit (stem cell factor receptor activity) is not on."
)

MENTIONS = [
    # conv, turn, ontology, concept, begin, end, covered, error
    ("d1", 0, "PR", "PR_1", 31, 37, DOC[31:37], None),    # "TRF-10"
    ("d1", 0, "PR", "PR_2", 42, 45, DOC[42:45], None),    # "see"
    ("d1", 0, "GO", "GO_1", 89, 92, DOC[89:92], None),    # "Kit"
    ("d1", 0, "GO", "GO_1", 94, 128, DOC[94:128], None),  # long form
]

DICT_ROWS = [
    ("PR", "PR_1", "TRF-10 protein", "TRF-10", True, "trf 10"),
    ("PR", "PR_2", "visual perception", "see", True, "see"),
    ("GO", "GO_1", "stem cell factor receptor activity",
     "stem cell factor receptor activity", True,
     "stem cell factor receptor activity"),
]

M_SCHEMA = ("conv_id string, turn_idx int, ontology string, concept_id string,"
            " begin int, end int, covered_text string, error string")
D_SCHEMA = ("ontology string, concept_id string, canonical string,"
            " variant string, is_official boolean, variant_norm string")


@pytest.fixture()
def frames(spark):
    mentions = spark.createDataFrame(MENTIONS, M_SCHEMA)
    transcripts = spark.createDataFrame(
        [("d1", 0, "user", DOC, None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    dictionary = spark.createDataFrame(DICT_ROWS, D_SCHEMA)
    return mentions, transcripts, dictionary


def test_mayla_no_freq_mode(spark, frames):
    mentions, transcripts, dictionary = frames
    kept = mayla_filter(mentions, transcripts, dictionary, concept_freq=None)
    rows = {(r.concept_id, r.begin) for r in kept.collect()}
    # reference expects 2 survivors: "TRF-10" (all caps+digits ⇒ starts
    # upper) and "Kit" (initial uppercase); "see" and the long lowercase
    # form are dropped (MaylaPostProcessingComponentTest expectedAnnotCount=2)
    assert rows == {("PR_1", 31), ("GO_1", 89)}


def test_mayla_freq_mode(spark, frames):
    mentions, transcripts, dictionary = frames
    kept = mayla_filter(mentions, transcripts, dictionary, concept_freq=3)
    rows = {(r.concept_id, r.begin) for r in kept.collect()}
    # freq mode: every surface occurs once (<3) ⇒ dropped unless the
    # surface equals the canonical label — only the long GO_1 form matches
    # its canonical
    assert rows == {("GO_1", 94)}


def test_mayla_freq_scope_truth_table(spark):
    # a surface occurring ONCE PER TURN across 3 turns: turn scope sees
    # frequency 1 (dropped at thr=2), conversation scope sees 3 (kept) —
    # the reference counts over the whole document
    # (MaylaPostProcessingComponent.java:115), which maps to
    # freq_scope='conversation' for multi-turn conversations
    mentions = spark.createDataFrame(
        [("c1", 0, "PR", "PR_9", 4, 9, "motif", None)], M_SCHEMA
    )
    transcripts = spark.createDataFrame(
        [("c1", 0, "user", "the motif appears", None, None),
         ("c1", 1, "assistant", "that motif again", None, None),
         ("c1", 2, "user", "same motif indeed", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    dictionary = spark.createDataFrame(
        [("PR", "PR_9", "motif protein", "motif", True, "motif")], D_SCHEMA
    )
    turn = mayla_filter(mentions, transcripts, dictionary, concept_freq=2,
                        freq_scope="turn").count()
    conv = mayla_filter(mentions, transcripts, dictionary, concept_freq=2,
                        freq_scope="conversation").count()
    assert (turn, conv) == (0, 1)
    # conversation scope with an unreachable threshold still drops
    assert mayla_filter(mentions, transcripts, dictionary, concept_freq=4,
                        freq_scope="conversation").count() == 0
    # canonical-label equality still short-circuits in conversation scope
    m2 = spark.createDataFrame(
        [("c1", 0, "PR", "PR_9", 0, 13, "motif protein", None)], M_SCHEMA
    )
    assert mayla_filter(m2, transcripts, dictionary, concept_freq=99,
                        freq_scope="conversation").count() == 1
    # per-ontology threshold map in conversation scope: PR's 3 >= 3 keeps,
    # an unmapped ontology falls back to default_freq (4 > 3 drops)
    assert mayla_filter(mentions, transcripts, dictionary,
                        concept_freq={"PR": 3},
                        freq_scope="conversation").count() == 1
    assert mayla_filter(mentions, transcripts, dictionary,
                        concept_freq={"GO": 1}, default_freq=4,
                        freq_scope="conversation").count() == 0
    # a gold-annotator row passes an unreachable conversation threshold
    gold = spark.createDataFrame(
        [("c1", 0, "PR", "PR_9", 4, 9, "motif", None, "99099099"),
         ("c1", 1, "PR", "PR_9", 5, 10, "motif", None, "7")],
        M_SCHEMA + ", annotator string",
    )
    kept = mayla_filter(gold, transcripts, dictionary, concept_freq=99,
                        annotator_col="annotator",
                        freq_scope="conversation")
    assert [r.annotator for r in kept.collect()] == ["99099099"]
    with pytest.raises(ValueError):
        mayla_filter(mentions, transcripts, dictionary, concept_freq=2,
                     freq_scope="document")


def test_tfidf_disambiguate_resolves_shared_span(spark):
    # same span maps to two concepts; A has corpus support elsewhere
    rows = [
        ("c1", 0, "SYN", "SYN:A", 0, 5, "gizmo", None),
        ("c1", 0, "SYN", "SYN:B", 0, 5, "gizmo", None),
        ("c1", 3, "SYN", "SYN:A", 2, 7, "alpha", None),
        ("c1", 5, "SYN", "SYN:A", 2, 7, "alpha", None),
    ]
    m = spark.createDataFrame(rows, M_SCHEMA)
    out = tfidf_disambiguate(m)
    picked = {(r.turn_idx, r.begin): r.concept_id for r in out.collect()}
    assert picked[(0, 0)] == "SYN:A"
    assert out.count() == 3  # one winner per distinct span


def test_mayla_per_namespace_thresholds(spark):
    """Truth table for the per-ontology threshold map
    (MaylaPostProcessingComponent.java:151-181 analogue): the same surface
    frequency passes one namespace's threshold and fails another's, the
    canonical-label escape hatch applies per concept, and unmapped
    ontologies fall back to default_freq."""
    from pyspark.sql import functions as F

    from kgpipe.disambig import mayla_filter

    tdf = spark.createDataFrame(
        [("c1", 0, "user", "foo foo bar baz qux", None, None)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    ddf = spark.createDataFrame(
        [
            ("A", "A:1", "Foo Label", "foo", True, "foo"),
            ("B", "B:1", "Bar Label", "bar", True, "bar"),
            ("B", "B:2", "baz", "baz", True, "baz"),
            ("C", "C:1", "Qux Label", "qux", True, "qux"),
        ],
        "ontology string, concept_id string, canonical string,"
        " variant string, is_official boolean, variant_norm string",
    )
    mentions = spark.createDataFrame(
        [
            # freq(foo)=2: A threshold 2 → keep
            ("c1", 0, "A", "A:1", 0, 3, "foo", None),
            # freq(bar)=1: B threshold 3, surface != canonical → drop
            ("c1", 0, "B", "B:1", 8, 11, "bar", None),
            # freq(baz)=1 < 3 but surface == canonical label → keep
            ("c1", 0, "B", "B:2", 12, 15, "baz", None),
            # ontology C unmapped → default_freq=1 → keep
            ("c1", 0, "C", "C:1", 16, 19, "qux", None),
        ],
        "conv_id string, turn_idx int, ontology string, concept_id string,"
        " begin int, end int, covered_text string, error string",
    )
    kept = {r.concept_id for r in
            mayla_filter(mentions, tdf, ddf,
                         concept_freq={"A": 2, "B": 3}).collect()}
    assert kept == {"A:1", "B:2", "C:1"}
    # stricter default for unmapped namespaces drops C too
    kept2 = {r.concept_id for r in
             mayla_filter(mentions, tdf, ddf, concept_freq={"A": 2, "B": 3},
                          default_freq=5).collect()}
    assert kept2 == {"A:1", "B:2"}


def test_coherence_disambig(spark):
    from kgpipe.disambig import coherence_disambig

    # span (c1, 0, 0, 5) is ambiguous {A, B}; anchors in c1: {X, Y}
    cand = spark.createDataFrame(
        [("c1", 0, 0, 5, "A"), ("c1", 0, 0, 5, "B"),
         ("c1", 1, 0, 3, "X"), ("c1", 2, 0, 3, "Y"),
         # conv with an ambiguous span but NO anchors: tie-break wins
         ("c2", 0, 0, 5, "A"), ("c2", 0, 0, 5, "B")],
        ["conv_id", "turn_idx", "begin", "end", "concept_id"])
    cooc = spark.createDataFrame(
        [("A", "X", 1), ("B", "X", 4), ("B", "Y", 2)],
        ["ca", "cb", "n_pair"])
    got = {(r["conv_id"], r["turn_idx"], r["begin"]):
           (r["concept_id"], r["score"])
           for r in coherence_disambig(cand, cooc).collect()}
    # B scores 4+2=6 > A's 1+0; c2 has no anchors -> score 0, 'A' wins
    assert got[("c1", 0, 0)] == ("B", 6)
    assert got[("c2", 0, 0)] == ("A", 0)
    assert got[("c1", 1, 0)] == ("X", None)  # unambiguous passthrough
