"""Observed metrics ride the action itself (SURVEY.md §2.4 progress
counters; ``PipelineBase.java:536-563``, ``AnnotationSerializerAE.java:176-183``)."""

from conftest import MINI_OBO
from pyspark.sql import functions as F

from kgpipe.detect import build_dictionary_df, detect_mentions
from kgpipe.metrics import PipelineTimer, observe_counts
from kgpipe.synth import generate_transcripts

T_SCHEMA = ("conv_id string, turn_idx int, role string, text string,"
            " tool string, ts timestamp")


def test_observe_counts_on_detect(spark):
    rows, _ = generate_transcripts(n_convs=20, seed=11)
    tdf = spark.createDataFrame(
        [(r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"])
         for r in rows],
        T_SCHEMA,
    )
    ddf = build_dictionary_df(spark, {"CL": MINI_OBO})
    mentions = detect_mentions(tdf, ddf)
    instrumented, obs = observe_counts(mentions, "detect")
    n = instrumented.count()  # ONE action drives both result and metrics
    got = obs.get
    assert got["n_rows"] == n
    assert got["n_errors"] == 0
    assert "n_turns" not in got  # the distinct count is approximate
    assert 0 < got["n_turns_approx"] <= n


def test_observe_counts_no_optional_columns(spark):
    df = spark.range(10).select(F.col("id"))
    instrumented, obs = observe_counts(df, "plain")
    assert instrumented.count() == 10
    assert obs.get == {"n_rows": 10}


def test_pipeline_timer_format():
    t = PipelineTimer()
    line = t.report(120)
    assert "120 turns processed in" in line and "turns/sec" in line
