"""End-to-end: synthetic transcripts (FIXTURES.md F1) through the full
pipeline; detected mentions must equal the planted golden set (F4), and the
triple output must contain every family."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import MINI_OBO
from kgpipe.detect import build_dictionary_df, detect_mentions
from kgpipe.pipeline import PipelineConfig, main, run_pipeline
from kgpipe.synth import generate_transcripts
from kgpipe.triples import PRED_COOCCURS, PRED_DENOTES, PRED_ROLE

T_SCHEMA = ("conv_id string, turn_idx int, role string, text string,"
            " tool string, ts timestamp")


def _tdf(spark, n=60):
    rows, golden = generate_transcripts(n_convs=n, seed=42)
    tdf = spark.createDataFrame(
        [(r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"])
         for r in rows],
        T_SCHEMA,
    )
    return tdf, golden


def test_detection_matches_planted_golden(spark):
    tdf, golden = _tdf(spark)
    ddf = build_dictionary_df(spark, {"CL": MINI_OBO})
    got = {
        (m.conv_id, m.turn_idx, m.concept_id, m.begin, m.end)
        for m in detect_mentions(tdf, ddf).collect()
        if m.concept_id.startswith("CL:")
    }
    want = {
        (g["conv_id"], g["turn_idx"], g["concept_id"], g["begin"], g["end"])
        for g in golden
    }
    # planted mentions must all be found (recall 1.0 on CL terms); extra
    # matches can only come from nested spans which CONTIGUOUS longest-match
    # excludes by construction
    missing = want - got
    assert not missing, sorted(missing)[:5]
    extras = got - want
    assert len(extras) <= len(want) * 0.02, sorted(extras)[:5]


def test_full_pipeline_writes_triples(spark, tmp_path):
    tdf, _ = _tdf(spark, n=30)
    cfg = PipelineConfig(obo_paths={"CL": MINI_OBO}, n_buckets=8)
    out = str(tmp_path / "triples")
    lin = str(tmp_path / "lineage")
    lineage_rows = run_pipeline(spark, tdf, cfg, out, lin)
    assert lineage_rows.filter("status = 'COMPLETE'").count() > 0

    triples = spark.read.parquet(out)
    preds = {r.pred for r in triples.select("pred").distinct().collect()}
    assert PRED_DENOTES in preds and PRED_ROLE in preds
    # canonicalization: the shared-synonym pair from mini.obo never surfaces
    # as SYN:0000002 in triples (merged into SYN:0000001) — only CL terms
    # are planted so just assert denotes objects are OBO PURLs
    denotes = triples.filter(F.col("pred") == PRED_DENOTES)
    assert denotes.filter(~F.col("obj").startswith("http://purl.obolibrary.org/obo/")).count() == 0
    # resume: second invocation over same input is a no-op (all COMPLETE)
    before = triples.count()
    run_pipeline(spark, tdf, cfg, out, lin)
    assert spark.read.parquet(out).count() == before


def test_detect_configs_shape_dictionary_and_scan(spark, tmp_path):
    """A detect_configs override must shape BOTH the dictionary build and
    the scan (review finding: one-sided overrides silently mismatch the
    trie).  CASE_SENSITIVE: lowercase surface matches, capitalized does
    not."""
    from conftest import MINI_OBO
    from kgpipe.normalize import MatchConfig
    from kgpipe.pipeline import PipelineConfig, run_pipeline

    tdf = spark.createDataFrame(
        [("c1", 0, "user", "a neuron appears", None, None),
         ("c2", 0, "user", "a Neuron appears", None, None)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    cs = MatchConfig("CONTIGUOUS_MATCH", "CASE_SENSITIVE", "NONE", "NONE",
                     False, False, "EXACT_ONLY")
    cfg = PipelineConfig(obo_paths={"CL": MINI_OBO}, disambiguate=False,
                         canonical=False, n_buckets=4,
                         detect_configs={"CL": cs})
    run_pipeline(spark, tdf, cfg, str(tmp_path / "t"))
    out = spark.read.parquet(str(tmp_path / "t"))
    denotes = out.filter("pred = 'http://purl.org/kgpipe/denotes'")
    convs = {r.conv_id for r in denotes.collect()}
    assert convs == {"c1"}  # case-sensitive: only the lowercase surface


def test_pipeline_snapshot_sink(spark, tmp_path):
    from kgpipe.triples import committed_snapshot, read_triples_snapshot

    tdf, _ = _tdf(spark, n=12)
    cfg = PipelineConfig(obo_paths={"CL": MINI_OBO}, n_buckets=4,
                         snapshot=True, fused=True)
    out = str(tmp_path / "tbl")
    triples = run_pipeline(spark, tdf, cfg, out)
    assert committed_snapshot(out) == "snap-1"
    assert read_triples_snapshot(spark, out).count() == triples.count()
    # second run commits snap-2; reader follows the pointer
    run_pipeline(spark, tdf, cfg, out)
    assert committed_snapshot(out) == "snap-2"


def test_pipeline_snapshot_with_lineage_both_plans(spark, tmp_path):
    """snapshot=True + lineage_path accepted on BOTH plans: the run stages
    per-bucket, commits lineage, and flips an atomic snapshot whose content
    equals the plain (non-snapshot) lineage run."""
    from kgpipe.triples import committed_snapshot, read_triples_snapshot

    tdf, _ = _tdf(spark, n=12)
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx"]
    for fused in (False, True):
        tag = "fused" if fused else "staged"
        cfg_plain = PipelineConfig(obo_paths={"CL": MINI_OBO}, n_buckets=4,
                                   fused=fused)
        out_plain = str(tmp_path / f"plain_{tag}")
        run_pipeline(spark, tdf, cfg_plain, out_plain,
                     str(tmp_path / f"lin_plain_{tag}"))
        want = sorted(map(tuple,
                          spark.read.parquet(out_plain).select(*cols).collect()))

        cfg = PipelineConfig(obo_paths={"CL": MINI_OBO}, n_buckets=4,
                             fused=fused, snapshot=True)
        out = str(tmp_path / f"snap_{tag}")
        run_pipeline(spark, tdf, cfg, out, str(tmp_path / f"lin_{tag}"))
        assert committed_snapshot(out) == "snap-1"
        got = sorted(map(tuple,
                         read_triples_snapshot(spark, out)
                         .select(*cols).collect()))
        assert got == want


def test_snapshot_rejects_remote_scheme(spark, tmp_path):
    import pytest

    from kgpipe.triples import write_triples_snapshot, snapshot_staging_path

    tdf, _ = _tdf(spark, n=2)
    with pytest.raises(ValueError, match="local filesystem"):
        write_triples_snapshot(
            tdf.selectExpr("conv_id as subj", "'p' as pred", "'o' as obj",
                           "conv_id", "turn_idx",
                           "cast(null as struct<begin:int,end:int,text:string>)"
                           " as evidence"),
            "hdfs://nn/warehouse/tbl")
    with pytest.raises(ValueError, match="local filesystem"):
        snapshot_staging_path("s3a://bucket/tbl", "RUN")
    # file: URIs normalize instead of raising
    assert snapshot_staging_path("file://" + str(tmp_path), "RUN").startswith(
        str(tmp_path))


@pytest.mark.parametrize("fused", [False, True])
@pytest.mark.parametrize("field,flag,value", [
    ("n_buckets", "--buckets", 0),
    ("cooc_window", "--cooc-window", -1),
])
def test_bad_bucket_and_window_settings_rejected_up_front(
        monkeypatch, field, flag, value, fused):
    with pytest.raises(ValueError, match=field):
        PipelineConfig(obo_paths={"CL": MINI_OBO}, fused=fused,
                       **{field: value})

    def no_spark(*args, **kwargs):
        raise AssertionError("Spark started before the config was checked")

    monkeypatch.setattr("kgpipe.pipeline.get_spark", no_spark)
    argv = ["--transcripts", "t/x.parquet", "--out", "o", "--obo",
            f"CL={MINI_OBO}", flag, str(value)] + (["--fused"] if fused else [])
    with pytest.raises(ValueError, match=field):
        main(argv)
