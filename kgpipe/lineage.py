"""Run catalog: per-partition lineage, resumable runs, error quarantine.

Re-expresses the reference's Neo4j run catalog (D7/D8 in SURVEY.md §1.1) as
a plain appendable table whose per-bucket facts come to the driver:

- status derivation {COMPLETE, OUTSTANDING, ERROR}
  (``RunCatalog.java:18-20``, ``Neo4jRunCatalog.java:481-520``);
- resume = read only OUTSTANDING work
  (``RunCatalogCollectionReader.java:62-94``) → a **driver-side bucket
  set**: the input buckets minus those whose latest lineage row is
  COMPLETE, applied to the input as a narrow ``isin`` filter.
  ``outstanding()`` keeps the same rule as a left-anti join for the oracle
  row;
- per-output metrics (annotationCount — ``AnnotationOutput.java:10-15``,
  logged at ``AnnotationSerializerAE.java:176-183``) → per-partition
  n_turns/n_mentions/n_triples counts, n_triples read from the parquet
  footers of the files the write produced;
- per-document error capture with component-at-fault
  (``Neo4jRunCatalog.java:687-693``) → quarantined error rows aggregated
  into ERROR lineage rows.

The unit of lineage is a content-keyed **bucket** of conv_ids
(``pmod(xxhash64(conv_id), n_buckets)``), not a physical Spark partition —
stable across runs, plans, and cluster sizes (SURVEY.md §7 determinism).
"""

from __future__ import annotations

import datetime as dt
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from . import schemas, triples as _triples
from .session import arrow_table, local_frame

COMPLETE = "COMPLETE"
OUTSTANDING = "OUTSTANDING"
ERROR = "ERROR"


def bucket_col(n_buckets: int, conv_id: str = "conv_id"):
    return F.pmod(F.xxhash64(F.col(conv_id)), F.lit(n_buckets)).cast("int")


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("partition_id", bucket_col(n_buckets))


def read_lineage(spark: SparkSession, path: str) -> DataFrame:
    """The lineage table at *path*; empty when nothing was ever committed
    there (missing path, or an empty directory).  Any other failure — an
    unreadable or corrupt file — raises: reading it as "nothing COMPLETE"
    would silently recompute every bucket on resume."""
    try:
        # the explicit schema also skips the schema-inference job
        return spark.read.schema(schemas.LINEAGE).parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return local_frame(spark, [], schemas.LINEAGE)


def _latest(lineage: DataFrame, run_key: str, *aggs) -> DataFrame:
    """Per bucket of *run_key*: the status of its latest row by run_date
    (rows without a run_date never win), plus *aggs*."""
    return (
        lineage.filter(F.col("run_key") == run_key)
        .groupBy("partition_id")
        .agg(F.max_by("status", "run_date").alias("status"), *aggs)
    )


def complete_buckets(lineage: DataFrame, run_key: str) -> DataFrame:
    """Buckets already COMPLETE for a run key. A bucket that later errored
    does not count as complete (last status wins by run_date)."""
    return (_latest(lineage, run_key)
            .filter(F.col("status") == COMPLETE).select("partition_id"))


def outstanding(
    inputs_with_bucket: DataFrame, lineage: DataFrame, run_key: str
) -> DataFrame:
    """Resume semantics: inputs minus COMPLETE partitions — the reference's
    OUTSTANDING derivation (``Neo4jRunCatalog.java:507-515``) as a
    left-anti join."""
    done = complete_buckets(lineage, run_key)
    return inputs_with_bucket.join(F.broadcast(done), "partition_id", "left_anti")


def runs_map(
    all_buckets: DataFrame, lineage: DataFrame, run_key: str
) -> DataFrame:
    """Per-bucket status {COMPLETE, OUTSTANDING, ERROR} for a run key
    (``Neo4jRunCatalog.java:481-520``)."""
    return (
        all_buckets.join(_latest(lineage, run_key), "partition_id", "left")
        .withColumn("status", F.coalesce("status", F.lit(OUTSTANDING)))
    )


def status_counts(lineage: DataFrame) -> DataFrame:
    """Total/Complete/Outstanding/Error summary per run key
    (``RunCatalogUtil.java:30-51``)."""
    return (
        lineage.groupBy("run_key", "status")
        .agg(F.countDistinct("partition_id").alias("n"))
        .groupBy("run_key")
        .pivot("status", [COMPLETE, ERROR, OUTSTANDING])
        .agg(F.first("n"))
        .na.fill(0)
    )


# the ``error`` of an ERROR bucket whose quarantined rows carry no message
NO_ERROR_MESSAGE = "quarantined without an error message"

_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _as_stored(run_date: dt.datetime) -> tuple[dt.datetime, int]:
    """*run_date* as the aware UTC datetime a TimestampType column stores
    for it, and its epoch microseconds.  A naive value is Python local
    time, as ``F.lit`` reads it."""
    micros = T.TimestampType().toInternal(run_date)
    return _EPOCH + dt.timedelta(microseconds=micros), micros


def _bucket_metrics(
    mentions: DataFrame, n_buckets: int
) -> dict[int, tuple[int, int, str | None]]:
    """{bucket: (n_mentions, n_errors, least error message)} from one
    aggregate over the mentions.  Quarantined ``__ERROR__`` mentions count
    as errors, not mentions."""
    is_error = F.col("concept_id") == "__ERROR__"
    return {
        r.partition_id: (r.n_mentions, r.n_errors, r.error)
        for r in mentions.groupBy(
            bucket_col(n_buckets).alias("partition_id")).agg(
            F.count_if(~is_error).alias("n_mentions"),
            F.count_if(is_error).alias("n_errors"),
            F.min(F.when(is_error, F.col("error"))).alias("error"),
        ).collect()
    }


def append_lineage(spark: SparkSession, lineage_path: str, rows: list) -> None:
    """Append driver-side lineage *rows* (``schemas.LINEAGE`` order, checked
    by ``session.arrow_table``) to the table at *lineage_path* as one
    parquet file, without a Spark job.  ``triples.publish_file`` writes it
    under a hidden ``.``-prefixed name, which Spark's file index skips,
    and then renames it into place, so no reader ever sees a partial
    file; any path Spark can write works."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    sink = pa.BufferOutputStream()
    pq.write_table(arrow_table(rows, schemas.LINEAGE), sink)
    _triples.publish_file(spark, lineage_path, f"part-{uuid.uuid4()}.parquet",
                          sink.getvalue().to_pybytes())


def run_with_lineage(
    spark: SparkSession,
    transcripts: DataFrame,
    pipeline_fn: Callable[[DataFrame], tuple[DataFrame, DataFrame]],
    run_key: str,
    lineage_path: str,
    output_path: str,
    n_buckets: int = 64,
    run_date: dt.datetime | None = None,
    snapshot: bool = False,
) -> DataFrame:
    """Execute *pipeline_fn* over the OUTSTANDING subset only, append results
    to the bucketed output table, and commit one lineage row per processed
    bucket (COMPLETE with metrics, or ERROR with the quarantined message).

    pipeline_fn: transcripts_subset -> (mentions, triples); mention rows with
    concept_id == '__ERROR__' are treated as quarantined failures (written to
    lineage, excluded from output counts).  A bucket with at least one such
    row is ERROR; its ``error`` is the least non-null message, or
    ``NO_ERROR_MESSAGE`` when every message is NULL.

    ``snapshot=True`` couples the per-bucket commit with an atomic
    snapshot flip — the reference's data-then-catalog-commit pairing
    (``RunCatalogAE.java:64-113`` writes each output, then
    ``Neo4jRunCatalog.java:408-436`` commits it to the catalog) extended
    with table-level reader isolation: bucket data lands in a run-keyed
    staging dir under *output_path* (dynamic partition overwrite, so a
    crashed bucket's replay is idempotent), and only when EVERY input
    bucket is COMPLETE does the staging dir flip to the next committed
    ``snap-N`` (kgpipe.triples.finalize_snapshot).  Readers via
    ``read_triples_snapshot`` see the previous snapshot until the flip;
    a resumed run recomputes only OUTSTANDING buckets and then commits.

    Every per-bucket fact is computed once and small results come to the
    driver (job counts with AQE on, which runs each shuffle stage as a
    job of its own):

    1. probe — turns per input bucket, and the run key's latest status and
       latest ``run_date`` per bucket: two collects of at most *n_buckets*
       rows (two jobs each).  OUTSTANDING = input buckets that are not
       COMPLETE; when none are, the run commits if complete and returns
       without calling *pipeline_fn*;
    2. the write — *pipeline_fn* over a narrow ``isin`` filter of the
       input; the mentions it returns are cached first, so the triple
       write reads the staged mention plan once (the write's own jobs);
    3. metrics — n_mentions and errors from one aggregate over the cached
       mentions alone, collected per bucket (two jobs), so the triple plan
       runs only inside the write; n_triples of each OUTSTANDING bucket
       from the parquet footers of the files the write put in its
       ``bucket=N/`` directory (``triples.bucket_row_counts``, no job).
       Dynamic partition overwrite has just replaced those directories;
       files that were there before the write are not counted, so a
       bucket this run wrote no triple for counts 0.  Local paths are
       listed by the OS and their footers read by ``pyarrow``; any other
       scheme goes through Spark's Hadoop FileSystem and parquet-hadoop;
    4. the lineage rows, built on the driver and appended as one parquet
       file written with ``pyarrow`` under a hidden name and renamed into
       *lineage_path* (``append_lineage``, no job);
    5. the commit — decided on the driver with ``complete_buckets``'
       latest-wins rule: a bucket is COMPLETE if it was before, or if this
       run's row is COMPLETE and later than every earlier row of the
       bucket; ``finalize_snapshot`` then flips the snapshot, with its
       manifest counted from the footers too (no job);
    6. the returned rows — a lazy read of the lineage (no job).

    Returns the CURRENT lineage rows for *run_key* (rows appended by this
    invocation included; on a fully-resumed no-op re-run that is the
    existing rows — callers counting appends should diff against a prior
    read, not len() this result).
    """
    import os

    # real wall-clock by default: "latest status wins" (complete_buckets /
    # runs_map max_by) needs run_date to actually order successive runs
    run_date, run_micros = _as_stored(
        run_date or dt.datetime.now(dt.timezone.utc))
    inputs = with_bucket(transcripts, n_buckets)
    lineage = read_lineage(spark, lineage_path)
    n_turns = {
        r.partition_id: r["count"]
        for r in inputs.groupBy("partition_id").count().collect()
    }
    # the latest status per bucket, as complete_buckets / runs_map take it,
    # and the latest run_date (None when no row has one)
    latest = {
        r.partition_id: (r.status, r.micros)
        for r in _latest(lineage, run_key,
                         F.unix_micros(F.max("run_date")).alias("micros"))
        .collect()
    }
    done = {b for b, (status, _) in latest.items() if status == COMPLETE}
    todo = sorted(set(n_turns) - done)

    data_path = (_triples.snapshot_staging_path(output_path, run_key)
                 if snapshot else output_path)

    def _commit_if_complete(complete: set[int]) -> None:
        """Flip the staged snapshot iff every input bucket is COMPLETE.
        Also recovers a crash BETWEEN the lineage append and the flip:
        the staging dir is still present, lineage says all-complete, so
        the rerun's no-op pass finishes the commit."""
        if snapshot and os.path.isdir(data_path) and complete >= n_turns.keys():
            _triples.finalize_snapshot(spark, output_path, data_path)

    # fully-resumed run: nothing OUTSTANDING → skip the whole pipeline
    # (running the detect/disambig/write plans over an empty input still
    # costs seconds of empty-job overhead)
    if not todo:
        _commit_if_complete(done)
        # reuse the read above — lineage_path may not exist yet (first run
        # over an empty input), which read_lineage gives as an empty frame
        return lineage.filter(F.col("run_key") == run_key)

    # the files already in the table: the footer counts below take only
    # the files this write adds (listed before the pipeline runs, so a
    # path no filesystem serves fails here)
    before = frozenset(f for files in _triples.bucket_files(
        spark, data_path).values() for f in files)
    mentions, triples = pipeline_fn(
        inputs.filter(F.col("partition_id").isin(todo)).drop("partition_id"))
    # the triples are built from this same mention plan: caching it before
    # the write makes the write and the counts below read it once
    mentions = mentions.cache()
    try:
        # Data first, lineage commit second. Dynamic partition overwrite
        # makes bucket replay idempotent: a bucket re-run after a crash
        # between the data write and the lineage commit replaces its own
        # partition directories instead of appending duplicates (Iceberg
        # gives the same via snapshot-overwrite of the bucket partition).
        (
            triples.withColumn("bucket", bucket_col(n_buckets))
            # cluster by target partition: one task ≈ one bucket directory
            # instead of tasks × buckets tiny files
            .repartition(n_buckets, "bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(data_path)
        )
        metrics = _bucket_metrics(mentions, n_buckets)
    finally:
        mentions.unpersist()
    n_triples = _triples.bucket_row_counts(spark, data_path, skip=before)

    rows, won = [], set()
    for b in todo:
        n_mentions, n_errors, error = metrics.get(b, (0, 0, None))
        status = ERROR if n_errors else COMPLETE
        if n_errors and error is None:
            error = NO_ERROR_MESSAGE
        rows.append((
            run_key, b, status, n_turns[b], n_mentions, n_triples.get(b, 0),
            run_date, error, "detect" if n_errors else None,
        ))
        # this run's row is the bucket's latest iff it is later than every
        # earlier row (max_by's order, compared as stored microseconds)
        prior = latest.get(b, (None, None))[1]
        if status == COMPLETE and (prior is None or prior < run_micros):
            won.add(b)
    append_lineage(spark, lineage_path, rows)
    _commit_if_complete(done | won)
    return read_lineage(spark, lineage_path).filter(F.col("run_key") == run_key)


def remove_run_key(spark: SparkSession, lineage_path: str, run_key: str) -> None:
    """Delete a run's lineage rows
    (``Neo4jRunCatalog.removeRunKeyFromDocumentCollection``,
    ``Neo4jRunCatalog.java:192-230``) — rewrite-without semantics for plain
    parquet (an Iceberg catalog would do a metadata delete)."""
    df = read_lineage(spark, lineage_path).filter(F.col("run_key") != run_key)
    df.cache().count()
    df.write.mode("overwrite").parquet(lineage_path)
    df.unpersist()
