"""Resume/checkpoint semantics (FIXTURES.md F6 scenario): pre-populate some
partitions COMPLETE, run, assert only OUTSTANDING recompute and the final
output equals a clean full run."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from kgpipe.lineage import (
    COMPLETE,
    ERROR,
    OUTSTANDING,
    bucket_col,
    outstanding,
    read_lineage,
    run_with_lineage,
    runs_map,
    status_counts,
    with_bucket,
)

T_SCHEMA = ("conv_id string, turn_idx int, role string, text string,"
            " tool string, ts timestamp")
RUN_KEY = "CONCEPTMAPPER_CL_TEST"


def _transcripts(spark, n=40):
    rows = [
        (f"conv{i:04d}", t, "user", f"turn {t} of conv {i} neuron cell", None, None)
        for i in range(n)
        for t in range(3)
    ]
    return spark.createDataFrame(rows, T_SCHEMA)


def _fake_pipeline(tdf):
    mentions = tdf.select(
        "conv_id",
        "turn_idx",
        F.lit("CL").alias("ontology"),
        F.lit("CL:0000540").alias("concept_id"),
        F.lit(10).alias("begin"),
        F.lit(16).alias("end"),
        F.lit("neuron").alias("covered_text"),
        F.lit(None).cast("string").alias("error"),
    )
    triples = mentions.select(
        F.concat(F.lit("t:"), "conv_id").alias("subj"),
        F.lit("p:denotes").alias("pred"),
        F.lit("o:CL_0000540").alias("obj"),
        "conv_id",
        "turn_idx",
        F.lit(None).cast("struct<begin:int,end:int,text:string>").alias("evidence"),
    )
    return mentions, triples


def test_outstanding_anti_join(spark, tmp_path):
    tdf = with_bucket(_transcripts(spark), n_buckets=8)
    lineage = spark.createDataFrame(
        [
            (RUN_KEY, 0, COMPLETE, 10, 10, 10,
             dt.datetime(2025, 1, 1), None, None),
            (RUN_KEY, 1, ERROR, 0, 0, 0,
             dt.datetime(2025, 1, 1), "boom", "detect"),
        ],
        "run_key string, partition_id int, status string, n_turns long,"
        " n_mentions long, n_triples long, run_date timestamp, error string,"
        " component_at_fault string",
    )
    todo = outstanding(tdf, lineage, RUN_KEY)
    got_buckets = {r.partition_id for r in todo.select("partition_id").distinct().collect()}
    assert 0 not in got_buckets          # COMPLETE excluded
    assert 1 in got_buckets              # ERROR is retried
    rm = runs_map(
        tdf.select("partition_id").distinct(), lineage, RUN_KEY
    )
    statuses = {r.partition_id: r.status for r in rm.collect()}
    assert statuses[0] == COMPLETE and statuses[1] == ERROR
    assert statuses[2] == OUTSTANDING


def test_resume_produces_identical_output(spark, tmp_path):
    tdf = _transcripts(spark)
    out_a = str(tmp_path / "triples_clean")
    lin_a = str(tmp_path / "lineage_clean")
    run_with_lineage(spark, tdf, _fake_pipeline, RUN_KEY, lin_a, out_a, n_buckets=8)
    clean = spark.read.parquet(out_a)

    # interrupted run: first process only half the conversations, then
    # resume with the full input — only outstanding buckets recompute
    out_b = str(tmp_path / "triples_resumed")
    lin_b = str(tmp_path / "lineage_resumed")
    half = tdf.filter(F.pmod(F.xxhash64("conv_id"), F.lit(8)) < 4)
    run_with_lineage(spark, half, _fake_pipeline, RUN_KEY, lin_b, out_b, n_buckets=8)
    n_after_half = spark.read.parquet(out_b).count()
    assert 0 < n_after_half < clean.count()

    lineage_rows = run_with_lineage(
        spark, tdf, _fake_pipeline, RUN_KEY, lin_b, out_b, n_buckets=8
    )
    resumed = spark.read.parquet(out_b)
    assert resumed.count() == clean.count()
    assert (
        resumed.exceptAll(clean).count() == 0
        and clean.exceptAll(resumed).count() == 0
    )
    # lineage metrics recorded per bucket
    row = lineage_rows.first()
    assert row.n_turns > 0 and row.n_triples > 0

    counts = status_counts(read_lineage(spark, lin_b)).first()
    assert counts[COMPLETE] == 8


def test_error_quarantine_records_error_bucket(spark, tmp_path):
    tdf = _transcripts(spark, n=8)

    def _err_pipeline(sub):
        mentions, triples = _fake_pipeline(sub)
        # poison one conversation's mentions with the quarantine sentinel
        mentions = mentions.withColumn(
            "concept_id",
            F.when(F.col("conv_id") == "conv0000", F.lit("__ERROR__"))
            .otherwise(F.col("concept_id")),
        ).withColumn(
            "error",
            F.when(F.col("conv_id") == "conv0000", F.lit("ValueError: bad turn")),
        )
        return mentions, triples

    lin = str(tmp_path / "lineage_err")
    out = str(tmp_path / "triples_err")
    rows = run_with_lineage(spark, tdf, _err_pipeline, RUN_KEY, lin, out, n_buckets=4)
    by_status = {r.partition_id: r.status for r in rows.collect()}
    assert ERROR in by_status.values() and COMPLETE in by_status.values()
    err_row = [r for r in rows.collect() if r.status == ERROR][0]
    assert "ValueError" in err_row.error and err_row.component_at_fault == "detect"


# ---------------------------------------------------------------------------
# fused plan + lineage (resumable production path)
# ---------------------------------------------------------------------------

def _gen_tdf(spark, n_convs=30, seed=13):
    from kgpipe.synth import generate_transcripts

    rows, _ = generate_transcripts(n_convs=n_convs, seed=seed)
    return spark.createDataFrame(
        [(r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"])
         for r in rows],
        T_SCHEMA,
    )


TRIPLE_COLS = ["subj", "pred", "obj", "conv_id", "turn_idx", "evidence"]


def test_fused_lineage_resume_identical_output(spark, tmp_path):
    """BENCH.md resume semantics reproduced with fused=True: a half-input
    run + full resume must equal a clean non-lineage fused run exactly."""
    from conftest import MINI_OBO
    from kgpipe.pipeline import PipelineConfig, run_pipeline

    tdf = _gen_tdf(spark)
    cfg = PipelineConfig(obo_paths={"CL": MINI_OBO}, fused=True,
                         disambiguate=False, n_buckets=8)

    out_a = str(tmp_path / "fused_clean")
    run_pipeline(spark, tdf, cfg, out_a)
    clean = spark.read.parquet(out_a).select(*TRIPLE_COLS)

    out_b = str(tmp_path / "fused_resumed")
    lin_b = str(tmp_path / "fused_lineage")
    half = tdf.filter(F.pmod(F.xxhash64("conv_id"), F.lit(8)) < 4)
    run_pipeline(spark, half, cfg, out_b, lineage_path=lin_b)
    n_half = spark.read.parquet(out_b).count()
    assert 0 < n_half < clean.count()

    rows = run_pipeline(spark, tdf, cfg, out_b, lineage_path=lin_b)
    resumed = spark.read.parquet(out_b).select(*TRIPLE_COLS)
    assert resumed.exceptAll(clean).count() == 0
    assert clean.exceptAll(resumed).count() == 0
    by_status = {r.partition_id: r.status for r in rows.collect()}
    assert set(by_status.values()) == {COMPLETE}
    # per-bucket metrics present on the fused path
    r0 = rows.filter(F.col("n_turns") > 0).first()
    assert r0.n_mentions > 0 and r0.n_triples > 0


def test_fused_lineage_split_mode_matches(spark, tmp_path):
    """fused + lineage + mega-conversation block splitting together."""
    from conftest import MINI_OBO
    from kgpipe.pipeline import PipelineConfig, run_pipeline

    tdf = _gen_tdf(spark, n_convs=20, seed=5)
    base = PipelineConfig(obo_paths={"CL": MINI_OBO}, fused=True,
                          disambiguate=False, n_buckets=8)
    out_a = str(tmp_path / "unsplit")
    run_pipeline(spark, tdf, base, out_a)
    clean = spark.read.parquet(out_a).select(*TRIPLE_COLS)

    split_cfg = PipelineConfig(obo_paths={"CL": MINI_OBO}, fused=True,
                               disambiguate=False, n_buckets=8,
                               max_turns_per_group=5)
    out_b = str(tmp_path / "split")
    lin_b = str(tmp_path / "split_lineage")
    run_pipeline(spark, tdf, split_cfg, out_b, lineage_path=lin_b)
    got = spark.read.parquet(out_b).select(*TRIPLE_COLS)
    assert got.exceptAll(clean).count() == 0
    assert clean.exceptAll(got).count() == 0


def test_fused_lineage_error_quarantine_and_retry(spark, tmp_path):
    """A failing detect config quarantines per-conversation errors into
    ERROR lineage buckets; a later run with a fixed config retries exactly
    those buckets and converges to the clean output."""
    from conftest import MINI_OBO
    from kgpipe.normalize import MatchConfig
    from kgpipe.pipeline import PipelineConfig, run_pipeline

    tdf = _gen_tdf(spark, n_convs=12, seed=3)
    bogus = MatchConfig(
        search_strategy="BOGUS", case_match="CASE_INSENSITIVE",
        stemmer="NONE", stopwords="NONE", order_independent=False,
        find_all_matches=False, synonym_type="ALL",
    )
    out = str(tmp_path / "q_triples")
    lin = str(tmp_path / "q_lineage")
    cfg_err = PipelineConfig(obo_paths={"CL": MINI_OBO}, fused=True,
                             disambiguate=False, n_buckets=4,
                             detect_configs={"CL": bogus})
    rows = run_pipeline(spark, tdf, cfg_err, out, lineage_path=lin)
    statuses = {r.status for r in rows.collect()}
    assert statuses == {ERROR}
    assert all("ValueError" in r.error for r in rows.collect())

    cfg_ok = PipelineConfig(obo_paths={"CL": MINI_OBO}, fused=True,
                            disambiguate=False, n_buckets=4)
    rows2 = run_pipeline(spark, tdf, cfg_ok, out, lineage_path=lin)
    latest = (rows2.groupBy("partition_id")
              .agg(F.max_by("status", "run_date").alias("status")))
    assert {r.status for r in latest.collect()} == {COMPLETE}

    out_clean = str(tmp_path / "q_clean")
    run_pipeline(spark, tdf, cfg_ok, out_clean)
    clean = spark.read.parquet(out_clean).select(*TRIPLE_COLS)
    got = spark.read.parquet(out).select(*TRIPLE_COLS)
    assert got.exceptAll(clean).count() == 0
    assert clean.exceptAll(got).count() == 0


def test_snapshot_lineage_partial_then_resume_atomic(spark, tmp_path):
    """The unified commit protocol (VERDICT r4 #1): per-bucket resume AND
    atomic reader visibility together.  A run where one bucket fails mid-
    job leaves lineage COMPLETE for the finished buckets and data staged —
    readers still see the OLD snapshot throughout; the resumed run
    recomputes ONLY the outstanding bucket and flips to a new snapshot
    bit-identical to a clean single-shot run."""
    import os

    from kgpipe.triples import (
        committed_snapshot,
        read_triples_snapshot,
        snapshot_staging_path,
        write_triples_snapshot,
    )

    tdf = _transcripts(spark)
    out = str(tmp_path / "tbl")
    lin = str(tmp_path / "lin")

    # pre-existing committed snapshot (the "old table" readers must keep
    # seeing until the new run fully commits)
    _, old_triples = _fake_pipeline(_transcripts(spark, n=5))
    write_triples_snapshot(old_triples, out, n_buckets=8)
    assert committed_snapshot(out) == "snap-1"
    old_rows = sorted(map(tuple, read_triples_snapshot(spark, out)
                          .select("subj", "pred", "obj").collect()))

    # reference: clean single-shot snapshot+lineage run on a separate table
    out_clean = str(tmp_path / "tbl_clean")
    run_with_lineage(spark, tdf, _fake_pipeline, RUN_KEY,
                     str(tmp_path / "lin_clean"), out_clean, n_buckets=8,
                     snapshot=True)
    assert committed_snapshot(out_clean) == "snap-1"
    want = sorted(map(tuple, read_triples_snapshot(spark, out_clean)
                      .select("subj", "pred", "obj", "conv_id").collect()))

    # partial run: conv0000's bucket quarantines (the mid-job failure) —
    # its COMPLETE siblings are staged and committed to lineage, but the
    # snapshot must NOT flip
    def _err_pipeline(sub):
        mentions, triples = _fake_pipeline(sub)
        mentions = mentions.withColumn(
            "concept_id",
            F.when(F.col("conv_id") == "conv0000", F.lit("__ERROR__"))
            .otherwise(F.col("concept_id")),
        ).withColumn(
            "error",
            F.when(F.col("conv_id") == "conv0000", F.lit("ValueError: bad")),
        )
        return mentions, triples

    rows = run_with_lineage(spark, tdf, _err_pipeline, RUN_KEY, lin, out,
                            n_buckets=8, snapshot=True)
    assert ERROR in {r.status for r in rows.collect()}
    staging = snapshot_staging_path(out, RUN_KEY)
    assert os.path.isdir(staging)                  # data staged
    assert committed_snapshot(out) == "snap-1"     # pointer untouched
    assert sorted(map(tuple, read_triples_snapshot(spark, out)
                      .select("subj", "pred", "obj").collect())) == old_rows

    # resume: ONLY the ERROR bucket's conversations recompute
    seen_convs: list[int] = []

    def counting_pipeline(sub):
        seen_convs.append(sub.select("conv_id").distinct().count())
        return _fake_pipeline(sub)

    run_with_lineage(spark, tdf, counting_pipeline, RUN_KEY, lin, out,
                     n_buckets=8, snapshot=True)
    n_all = tdf.select("conv_id").distinct().count()
    assert len(seen_convs) == 1 and 0 < seen_convs[0] < n_all

    # the flip happened and the committed table is bit-identical to clean
    assert committed_snapshot(out) == "snap-2"
    assert not os.path.isdir(staging)
    got = sorted(map(tuple, read_triples_snapshot(spark, out)
                     .select("subj", "pred", "obj", "conv_id").collect()))
    assert got == want

    # fully-resumed no-op re-run: nothing recomputes, pointer stays
    run_with_lineage(spark, tdf, _fake_pipeline, RUN_KEY, lin, out,
                     n_buckets=8, snapshot=True)
    assert committed_snapshot(out) == "snap-2"


def test_snapshot_lineage_crash_between_lineage_and_flip(spark, tmp_path,
                                                         monkeypatch):
    """Crash AFTER the lineage append but BEFORE the pointer flip: the next
    (no-op) invocation finds everything COMPLETE with the staging dir still
    present and finishes the commit."""
    from kgpipe import triples as triples_mod
    from kgpipe.triples import committed_snapshot, read_triples_snapshot

    tdf = _transcripts(spark, n=8)
    out = str(tmp_path / "tbl")
    lin = str(tmp_path / "lin")

    real_finalize = triples_mod.finalize_snapshot

    def crash_finalize(*a, **kw):
        raise RuntimeError("simulated crash before pointer flip")

    monkeypatch.setattr(triples_mod, "finalize_snapshot", crash_finalize)
    import pytest

    with pytest.raises(RuntimeError, match="simulated crash"):
        run_with_lineage(spark, tdf, _fake_pipeline, RUN_KEY, lin, out,
                         n_buckets=4, snapshot=True)
    assert committed_snapshot(out) is None         # no flip happened

    monkeypatch.setattr(triples_mod, "finalize_snapshot", real_finalize)
    # rerun: nothing OUTSTANDING, but the pending staging dir commits
    rows = run_with_lineage(spark, tdf, _fake_pipeline, RUN_KEY, lin, out,
                            n_buckets=4, snapshot=True)
    assert {r.status for r in rows.collect()} == {COMPLETE}
    assert committed_snapshot(out) == "snap-1"
    assert read_triples_snapshot(spark, out).count() > 0


def test_fused_rejects_staged_only_options(spark, tmp_path):
    from conftest import MINI_OBO
    from kgpipe.pipeline import PipelineConfig, run_pipeline
    import pytest

    tdf = _gen_tdf(spark, n_convs=2, seed=1)
    # mayla is fused-capable since round 3 (document-local, runs in the
    # per-conversation scan); the remaining staged-only options still raise
    for kw in ({"salt_partitions": 8}, {"assume_unique_turns": False}):
        cfg = PipelineConfig(obo_paths={"CL": MINI_OBO}, fused=True, **kw)
        with pytest.raises(ValueError):
            run_pipeline(spark, tdf, cfg, str(tmp_path / "x"))


def test_read_lineage_missing_or_empty_is_empty(spark, tmp_path):
    from kgpipe import schemas

    for path in (tmp_path / "never-written", tmp_path / "empty"):
        if path.name == "empty":
            path.mkdir()
        df = read_lineage(spark, str(path))
        assert df.count() == 0
        assert [f.name for f in df.schema] == schemas.LINEAGE.names


def test_read_lineage_corrupt_file_raises(spark, tmp_path):
    """An unreadable lineage is an error, not "nothing COMPLETE": reading it
    as empty would make a resume recompute every bucket."""
    import pytest

    lin = tmp_path / "lineage"
    lin.mkdir()
    (lin / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        read_lineage(spark, str(lin)).collect()
    with pytest.raises(Exception):
        run_with_lineage(spark, _transcripts(spark), _fake_pipeline, RUN_KEY,
                         str(lin), str(tmp_path / "out"), n_buckets=4)
    assert not (tmp_path / "out").exists()


# ---------------------------------------------------------------------------
# ERROR status, latest-wins commit decision, job budget
# ---------------------------------------------------------------------------

def _quarantine(messages):
    """A pipeline that quarantines the conversations in *messages* (conv_id
    -> error message, None for none) as ``__ERROR__`` mention rows."""
    def _pipeline(sub):
        mentions, triples = _fake_pipeline(sub)
        poisoned = F.col("conv_id").isin(list(messages))
        message = F.lit(None).cast("string")
        for conv, msg in messages.items():
            message = F.when(F.col("conv_id") == conv, F.lit(msg)).otherwise(message)
        mentions = mentions.withColumn(
            "concept_id",
            F.when(poisoned, F.lit("__ERROR__")).otherwise(F.col("concept_id")),
        ).withColumn("error", message)
        return mentions, triples
    return _pipeline


def test_error_rows_without_a_message_still_fail_the_bucket(spark, tmp_path):
    from kgpipe.lineage import NO_ERROR_MESSAGE, bucket_col

    tdf = _transcripts(spark, n=8)
    lin = str(tmp_path / "lin")
    rows = run_with_lineage(spark, tdf, _quarantine({"conv0000": None}),
                            RUN_KEY, lin, str(tmp_path / "out"), n_buckets=4,
                            snapshot=True)
    bad = tdf.filter(F.col("conv_id") == "conv0000").select(
        bucket_col(4).alias("b")).first().b
    by_bucket = {r.partition_id: r for r in rows.collect()}
    assert len(by_bucket) == with_bucket(tdf, 4).select(
        "partition_id").distinct().count()
    assert by_bucket[bad].status == ERROR
    assert by_bucket[bad].error == NO_ERROR_MESSAGE
    assert by_bucket[bad].component_at_fault == "detect"
    assert all(r.status == COMPLETE and r.error is None
               for b, r in by_bucket.items() if b != bad)
    # the quarantined bucket is retried, and the snapshot did not flip
    from kgpipe.triples import committed_snapshot

    assert committed_snapshot(str(tmp_path / "out")) is None
    todo = outstanding(with_bucket(tdf, 4), read_lineage(spark, lin), RUN_KEY)
    assert {r.partition_id for r in todo.select("partition_id").distinct()
            .collect()} == {bad}


def test_error_message_is_the_least_of_the_bucket(spark, tmp_path):
    tdf = _transcripts(spark, n=6)
    pipeline = _quarantine({"conv0000": "ValueError: b",
                            "conv0001": None,
                            "conv0002": "ValueError: a",
                            "conv0003": "ValueError: c"})
    rows = run_with_lineage(spark, tdf, pipeline, RUN_KEY,
                            str(tmp_path / "lin"), str(tmp_path / "out"),
                            n_buckets=1)
    (row,) = rows.collect()
    assert row.status == ERROR and row.error == "ValueError: a"
    # the quarantined rows are not counted as mentions
    assert row.n_turns == 18 and row.n_mentions == 6 and row.n_triples == 18


def test_commit_decision_follows_latest_run_date(spark, tmp_path):
    """A run dated before an existing ERROR row of a bucket records its row,
    but the later ERROR row still wins that bucket: no COMPLETE, no flip —
    the same decision complete_buckets takes over the stored lineage."""
    from kgpipe import schemas
    from kgpipe.lineage import complete_buckets
    from kgpipe.triples import committed_snapshot

    tdf = _transcripts(spark, n=8)
    all_buckets = {r.partition_id for r in with_bucket(tdf, 4)
                   .select("partition_id").distinct().collect()}
    bad = min(all_buckets)
    for prior_year, flips in ((2030, False), (2020, True)):
        lin = str(tmp_path / f"lin{prior_year}")
        out = str(tmp_path / f"out{prior_year}")
        spark.createDataFrame(
            [(RUN_KEY, bad, ERROR, 0, 0, 0, dt.datetime(prior_year, 1, 1),
              "boom", "detect")],
            schemas.LINEAGE,
        ).write.parquet(lin)
        run_with_lineage(spark, tdf, _fake_pipeline, RUN_KEY, lin, out,
                         n_buckets=4, snapshot=True,
                         run_date=dt.datetime(2025, 1, 1,
                                              tzinfo=dt.timezone.utc))
        stored = read_lineage(spark, lin)
        assert (stored.filter(F.year("run_date") == 2025).count()
                == len(all_buckets))
        done = {r.partition_id for r in complete_buckets(stored, RUN_KEY)
                .collect()}
        assert (done == all_buckets) is flips
        assert (committed_snapshot(out) == "snap-1") is flips


def test_naive_run_date_is_stored_as_local_time(spark, tmp_path, monkeypatch):
    """A naive run_date means Python local time (as F.lit reads it); an
    aware one its own instant.  Both are stored as before."""
    import time

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        tdf = _transcripts(spark, n=2)
        for i, run_date in enumerate((
                dt.datetime(2025, 6, 1, 12, 30, 0, 123456),
                dt.datetime(2025, 6, 1, 12, 30, tzinfo=dt.timezone.utc))):
            lin = str(tmp_path / f"lin{i}")
            run_with_lineage(spark, tdf, _fake_pipeline, RUN_KEY, lin,
                             str(tmp_path / f"out{i}"), n_buckets=2,
                             run_date=run_date)
            want = spark.range(1).select(
                F.unix_micros(F.lit(run_date)).alias("u")).first().u
            got = {r.u for r in read_lineage(spark, lin)
                   .select(F.unix_micros("run_date").alias("u")).collect()}
            assert got == {want}
    finally:
        monkeypatch.undo()
        time.tzset()


def _jobs_in_group(spark, group, fn):
    """Run *fn* under job group *group*; the ids of the jobs it started."""
    import time

    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, group)
        fn()
        # a marker job: job events reach the tracker asynchronously and in
        # order, so once it shows, every job *fn* started shows too
        sc.setJobGroup(group + "-end", group)
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while (not tracker.getJobIdsForGroup(group + "-end")
           and time.monotonic() < deadline):
        time.sleep(0.1)
    assert tracker.getJobIdsForGroup(group + "-end")
    return tracker.getJobIdsForGroup(group)


# the probe: the turns-per-bucket and latest-status collects, two jobs each
PROBE_JOBS = 4
# one staged run_pipeline(lineage_path=..., snapshot=True) over
# _gen_tdf(spark): 58 jobs when the lineage counts were joined Spark
# aggregates over an anti-join, 26 when they came to the driver, 20 since
# the triple counts come from parquet footers and the lineage rows and the
# snapshot manifest are written without a job
STAGED_LINEAGE_JOBS = 24


def test_complete_reinvocation_starts_only_the_probe(spark, tmp_path):
    tdf = _transcripts(spark, n=8)
    lin, out = str(tmp_path / "lin"), str(tmp_path / "out")
    run_with_lineage(spark, tdf, _fake_pipeline, RUN_KEY, lin, out,
                     n_buckets=4, snapshot=True)

    def _never(sub):
        raise AssertionError("pipeline_fn called with nothing OUTSTANDING")

    jobs = _jobs_in_group(spark, "lineage-noop", lambda: run_with_lineage(
        spark, tdf, _never, RUN_KEY, lin, out, n_buckets=4, snapshot=True))
    assert 0 < len(jobs) <= PROBE_JOBS


def test_staged_lineage_run_job_budget(spark, tmp_path):
    from conftest import MINI_OBO
    from kgpipe.pipeline import PipelineConfig, run_pipeline

    tdf = _gen_tdf(spark)
    cfg = PipelineConfig(obo_paths={"CL": MINI_OBO}, n_buckets=8,
                         snapshot=True)
    jobs = _jobs_in_group(spark, "lineage-staged", lambda: run_pipeline(
        spark, tdf, cfg, str(tmp_path / "out"),
        lineage_path=str(tmp_path / "lin")))
    assert len(jobs) < STAGED_LINEAGE_JOBS
    rows = read_lineage(spark, str(tmp_path / "lin")).collect()
    assert len(rows) == 8 and {r.status for r in rows} == {COMPLETE}


# ---------------------------------------------------------------------------
# the commit from the written files: footer counts, driver-side append
# ---------------------------------------------------------------------------

def _table_counts(df):
    return {r.bucket: r["count"] for r in df.groupBy("bucket").count().collect()}


def _last_run_rows(spark, lin):
    """{bucket: row} of the latest invocation (its rows share a run_date)."""
    rows = read_lineage(spark, lin).collect()
    last = max(r.run_date for r in rows)
    return {r.partition_id: r for r in rows if r.run_date == last}


def _with_null_conv(tdf):
    return tdf.unionByName(tdf.sparkSession.createDataFrame(
        [(None, t, "user", "a neuron cell with no conversation", None, None)
         for t in range(2)], T_SCHEMA))


def test_null_conv_lands_in_its_lineage_bucket(spark, tmp_path):
    """write_triples and lineage bucket a NULL conv_id the same way, so a
    resumable run replaces exactly the bucket lineage records it under."""
    from kgpipe.triples import read_triples_snapshot, write_triples_snapshot

    tdf = _with_null_conv(_transcripts(spark, n=16))
    (null_bucket,) = {r.partition_id for r in with_bucket(tdf, 8)
                      .filter(F.col("conv_id").isNull()).collect()}

    def _null_buckets(df):
        return {r.bucket for r in
                df.filter(F.col("conv_id").isNull()).select("bucket").collect()}

    # the one-shot write
    one_shot = str(tmp_path / "one_shot")
    manifest = write_triples_snapshot(_fake_pipeline(tdf)[1], one_shot,
                                      n_buckets=8)
    got = read_triples_snapshot(spark, one_shot)
    assert _null_buckets(got) == {null_bucket}
    assert manifest["bucket_counts"] == {
        str(b): n for b, n in _table_counts(got).items()}

    # a run whose conv0000 bucket fails (the NULL conv's bucket commits),
    # then the resume of that bucket
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    for pipeline_fn in (_quarantine({"conv0000": "ValueError: bad"}),
                        _fake_pipeline):
        run_with_lineage(spark, tdf, pipeline_fn, RUN_KEY, lin, out,
                         n_buckets=8, snapshot=True)
    failed = {r.partition_id for r in read_lineage(spark, lin).collect()
              if r.status == ERROR}
    assert failed and null_bucket not in failed
    got = read_triples_snapshot(spark, out)
    assert _null_buckets(got) == {null_bucket}
    rows = {r.partition_id: r for r in read_lineage(spark, lin).collect()}
    assert rows[null_bucket].n_triples == _table_counts(got)[null_bucket]


@pytest.mark.parametrize("fused", [False, True], ids=["staged", "fused"])
def test_commit_counts_equal_the_written_table(spark, tmp_path, fused):
    """Lineage n_triples (an ERROR run, then its resume) and the snapshot
    manifest equal a groupBy count of the table the run wrote."""
    import json
    import os

    from conftest import MINI_OBO
    from kgpipe.normalize import MatchConfig
    from kgpipe.pipeline import PipelineConfig, run_pipeline
    from kgpipe.triples import read_triples_snapshot, snapshot_staging_path

    tdf = _gen_tdf(spark, n_convs=12, seed=3)
    if fused:  # the staged plan's detect schema holds conv_id NOT NULL
        tdf = _with_null_conv(tdf)
    bogus = MatchConfig(
        search_strategy="BOGUS", case_match="CASE_INSENSITIVE",
        stemmer="NONE", stopwords="NONE", order_independent=False,
        find_all_matches=False, synonym_type="ALL",
    )
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    base = dict(obo_paths={"CL": MINI_OBO}, fused=fused, disambiguate=False,
                n_buckets=4, snapshot=True)
    half = tdf.filter(bucket_col(4) < 2)
    run_pipeline(spark, half,
                 PipelineConfig(**base, detect_configs={"CL": bogus}),
                 out, lineage_path=lin)
    rows = _last_run_rows(spark, lin)
    assert {r.status for r in rows.values()} == {ERROR}
    counts = _table_counts(spark.read.parquet(
        snapshot_staging_path(out, PipelineConfig().run_key)))
    assert {b: r.n_triples for b, r in rows.items()} == {
        b: counts.get(b, 0) for b in rows}

    run_pipeline(spark, tdf, PipelineConfig(**base), out, lineage_path=lin)
    got = read_triples_snapshot(spark, out)
    counts = _table_counts(got)
    rows = _last_run_rows(spark, lin)
    assert {r.status for r in rows.values()} == {COMPLETE}
    assert {b: r.n_triples for b, r in rows.items()} == counts
    manifest = json.load(open(os.path.join(out, "snap-1", "_manifest.json")))
    assert manifest["bucket_counts"] == {str(b): n for b, n in counts.items()}
    if fused:
        assert got.filter(F.col("conv_id").isNull()).count() > 0


def test_finalize_and_lineage_append_start_no_job(spark, tmp_path):
    from kgpipe import schemas
    from kgpipe.lineage import append_lineage
    from kgpipe.triples import finalize_snapshot, write_triples

    out = str(tmp_path / "out")
    staging = str(tmp_path / "out" / "staging")
    write_triples(_fake_pipeline(_transcripts(spark, n=8))[1], staging,
                  n_buckets=4, mode="overwrite")
    jobs = _jobs_in_group(spark, "finalize",
                          lambda: finalize_snapshot(spark, out, staging))
    assert jobs == []

    lin = str(tmp_path / "lin")
    row = (RUN_KEY, 0, COMPLETE, 3, 3, 3, dt.datetime(2025, 1, 1), None, None)
    jobs = _jobs_in_group(spark, "append",
                          lambda: append_lineage(spark, lin, [row]))
    assert jobs == []
    assert [tuple(r) for r in read_lineage(spark, lin)
            .select(*schemas.LINEAGE.names[:6]).collect()] == [row[:6]]


def test_finalize_rejects_data_outside_bucket_dirs(spark, tmp_path):
    """A clustered staging directory (files at its root) cannot be counted
    per bucket from its files: the commit raises and flips nothing."""
    import os

    from kgpipe.triples import committed_snapshot, finalize_snapshot, write_triples

    out = str(tmp_path / "out")
    staging = os.path.join(out, "snap-1.inprogress")
    write_triples(_fake_pipeline(_transcripts(spark, n=8))[1], staging,
                  n_buckets=4, mode="overwrite", layout="clustered")
    with pytest.raises(ValueError, match="outside its bucket=N/"):
        finalize_snapshot(spark, out, staging)
    assert committed_snapshot(out) is None and os.path.isdir(staging)


def test_commit_through_hadoop_filesystem(spark, tmp_path, monkeypatch):
    """Paths that are not local (hdfs://, s3a://, ...) are listed, counted
    and appended through Spark's Hadoop FileSystem: the same run with every
    path sent that way records the counts of the table it wrote."""
    from kgpipe import triples as triples_mod

    tdf = _gen_tdf(spark, n_convs=12, seed=5)
    lin, out = str(tmp_path / "lin"), str(tmp_path / "out")
    monkeypatch.setattr(triples_mod, "_local_path", lambda path: None)
    # half the buckets, then the rest: the second run's footer counts must
    # leave out the files the first run wrote
    for sub in (tdf.filter(bucket_col(4) < 2), tdf):
        run_with_lineage(spark, sub, _fake_pipeline, RUN_KEY, lin, out,
                         n_buckets=4)
    rows = {r.partition_id: r for r in read_lineage(spark, lin).collect()}
    assert len(rows) == 4 and {r.status for r in rows.values()} == {COMPLETE}
    assert {b: r.n_triples for b, r in rows.items()} == _table_counts(
        spark.read.parquet(out))


def test_unknown_scheme_fails_before_the_pipeline(spark, tmp_path):
    def _never(sub):
        raise AssertionError("pipeline_fn called for an unusable output path")

    with pytest.raises(Exception, match="(?i)no filesystem for scheme"):
        run_with_lineage(spark, _transcripts(spark, n=4), _never, RUN_KEY,
                         str(tmp_path / "lin"), "kgpipe-none://host/out",
                         n_buckets=4)


def test_read_lineage_ignores_a_hidden_temp_file(spark, tmp_path):
    """An append that died before its rename leaves a hidden ``.``-prefixed
    file; readers and the next resume skip it."""
    tdf = _transcripts(spark, n=8)
    lin, out = str(tmp_path / "lin"), str(tmp_path / "out")
    run_with_lineage(spark, tdf, _fake_pipeline, RUN_KEY, lin, out,
                     n_buckets=4)
    before = sorted(map(tuple, read_lineage(spark, lin).collect()))
    (tmp_path / "lin" / ".part-crashed.parquet.tmp").write_bytes(b"partial")
    assert sorted(map(tuple, read_lineage(spark, lin).collect())) == before

    def _never(sub):
        raise AssertionError("pipeline_fn called with nothing OUTSTANDING")

    rows = run_with_lineage(spark, tdf, _never, RUN_KEY, lin, out, n_buckets=4)
    assert {r.status for r in rows.collect()} == {COMPLETE}
