from __future__ import annotations

from kgpipe.serde import (
    a1_lines_to_text,
    annot_json_to_mentions,
    load_generic_annotations,
    mentions_to_a1_lines,
    mentions_to_annot_json,
    parse_a1_text,
)

M_SCHEMA = ("conv_id string, turn_idx int, ontology string, concept_id string,"
            " begin int, end int, covered_text string, error string")


def test_annot_json_golden_shape(spark):
    """Byte parity with the reference codec golden string
    (``AnnotationSerializerTest.java:28``): field order documentId,
    annotatorName, type, spans, coveredText; slots omitted when null."""
    m = spark.createDataFrame(
        [("12345", 0, "X", "token", 3, 5, "an", None)], M_SCHEMA
    )
    line = mentions_to_annot_json(m, annotator_name="annotatorName").first().value
    assert line == (
        '{"documentId":"12345:0","annotatorName":"annotatorName",'
        '"type":"token","spans":[[3,5]],"coveredText":"an"}'
    )


def test_annot_json_with_slots(spark):
    """Slots variant (``AnnotationSerializerAeTest.java:79``)."""
    m = spark.createDataFrame(
        [("12345", 0, "X", "token", 0, 4, "This", None,
          {"TOKEN_PARTOFSPEECH": ["DT"]})],
        M_SCHEMA + ", slots map<string,array<string>>",
    )
    line = mentions_to_annot_json(m, annotator_name="annotator name").first().value
    assert line == (
        '{"documentId":"12345:0","annotatorName":"annotator name",'
        '"type":"token","spans":[[0,4]],"coveredText":"This",'
        '"slots":{"TOKEN_PARTOFSPEECH":["DT"]}}'
    )


def test_annot_json_roundtrip(spark):
    m = spark.createDataFrame(
        [("c9", 7, "CL", "CL:0000540", 4, 10, "neuron", None)], M_SCHEMA
    )
    back = annot_json_to_mentions(mentions_to_annot_json(m)).first()
    assert (back.conv_id, back.turn_idx, back.concept_id, back.begin,
            back.end, back.covered_text) == ("c9", 7, "CL:0000540", 4, 10, "neuron")


def test_a1_roundtrip(spark, tmp_path):
    m = spark.createDataFrame(
        [
            ("doc", 0, "CL", "CL:0000540", 12, 20, "Neuronal", None),
            ("doc", 0, "CL", "CL:0000000", 45, 49, "Cell", None),
        ],
        M_SCHEMA,
    )
    body = a1_lines_to_text(mentions_to_a1_lines(m)).first().body
    assert body.splitlines()[0] == "T1\tontology_term 12 20\tNeuronal"
    assert body.splitlines()[1] == "N1\tReference T1 CL:0000540\t"
    p = tmp_path / "doc.a1"
    p.write_text(body + "\n")
    back = {(r.concept_id, r.begin, r.end) for r in
            parse_a1_text(spark, str(p)).collect()}
    assert back == {("CL:0000540", 12, 20), ("CL:0000000", 45, 49)}


def test_golden_a1_file_parses(spark):
    from conftest import CL_A1, require_reference

    require_reference(CL_A1)
    df = parse_a1_text(spark, CL_A1)
    assert df.count() == 262  # 524 lines = 262 annotations (EntityFinderTest)


def test_sample_a1_fixture_parses(spark):
    """The in-repo fixture in the reference's .a1 format: T and N lines
    joined on their index, offsets into SAMPLE_A1_TEXT, a nested span
    kept as its own annotation; the Spark parser and the test loader
    agree."""
    from conftest import SAMPLE_A1, SAMPLE_A1_TEXT, load_a1

    rows = {(r.concept_id, r.begin, r.end, r.covered_text)
            for r in parse_a1_text(spark, SAMPLE_A1).collect()}
    assert len(rows) == 6
    assert ("CL:0000084", 61, 68, "T cells") in rows
    assert ("CL:0000000", 63, 68, "cells") in rows
    assert all(SAMPLE_A1_TEXT[b:e] == text for _, b, e, text in rows)
    assert {(c, b, e) for c, b, e, _ in rows} == load_a1(SAMPLE_A1)


def test_generic_tsv_loader_score_cutoff(spark, tmp_path):
    p = tmp_path / "annots.tsv"
    p.write_text(
        "CL:0000540\tneuron\t4\t10\t500\n"
        "CL:0000000\tcell\t0\t4\t1200\n"
        "CL:0000099\tinterneuron\t2\t13\t999\n"
    )
    assert load_generic_annotations(spark, str(p)).count() == 3
    # reference fixture: cutoff 1000 keeps 1 (GenericAnnotationTest.java:154)
    assert load_generic_annotations(spark, str(p), score_cutoff=1000).count() == 1


def test_annot_gz_roundtrip(spark, tmp_path):
    """Gzip .annot sink exercised end-to-end (AnnotationSerializerAE.java:
    121-124 codec + :272-278 infix templating): write compressed, read
    back, identical mention set."""
    import glob

    from kgpipe.serde import annot_json_to_mentions, write_annot_files

    mentions = spark.createDataFrame(
        [("c1", 0, "CL:0000540", 4, 10, "neuron"),
         ("c1", 1, "CL:0000057", 2, 12, "fibroblast"),
         ("c2", 0, "CL:0000540", 0, 6, "neuron")],
        "conv_id string, turn_idx int, concept_id string, begin int,"
        " end int, covered_text string",
    )
    dest = write_annot_files(mentions, str(tmp_path / "annot"),
                             compress=True, infix="CL")
    assert dest.endswith("annot-CL")
    gz = glob.glob(dest + "/*.txt.gz")
    assert gz, "expected gzip-compressed part files"
    back = annot_json_to_mentions(spark, dest)
    key = ["conv_id", "turn_idx", "concept_id", "begin", "end",
           "covered_text"]
    assert ({tuple(r) for r in back.select(*key).collect()}
            == {tuple(r) for r in mentions.select(*key).collect()})


def test_document_text_and_metadata_sinks(spark, tmp_path):
    from kgpipe.serde import write_document_metadata, write_document_text
    from kgpipe.sources import get_conversation, import_metadata

    tdf = spark.createDataFrame(
        [("c1", 0, "user", "hello", None, None),
         ("c1", 1, "assistant", "hi there", "search", None),
         ("c2", 5, "user", "solo", None, None)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    write_document_text(tdf, str(tmp_path / "txt"), compress=True)
    txt = spark.read.parquet(str(tmp_path / "txt"))
    assert {(r.doc_id, r.text) for r in txt.collect()} == {
        ("c1:0", "hello"), ("c1:1", "hi there"), ("c2:5", "solo")}

    meta = import_metadata(tdf)
    write_document_metadata(meta, str(tmp_path / "meta"))
    m = {r.conv_id: r for r in
         spark.read.parquet(str(tmp_path / "meta")).collect()}
    assert m["c1"].n_turns == 2 and m["c1"].first_turn == 0
    assert m["c1"].roles == ["assistant", "user"]
    assert m["c1"].tools == ["search"]
    assert m["c2"].last_turn == 5

    one = get_conversation(tdf, "c1").collect()
    assert [r.turn_idx for r in one] == [0, 1]
