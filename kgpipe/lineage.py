"""Run catalog: per-partition lineage, resumable runs, error quarantine.

Re-expresses the reference's Neo4j run catalog (D7/D8 in SURVEY.md §1.1) as
a plain appendable table + anti-join:

- status derivation {COMPLETE, OUTSTANDING, ERROR}
  (``RunCatalog.java:18-20``, ``Neo4jRunCatalog.java:481-520``);
- resume = read only OUTSTANDING work
  (``RunCatalogCollectionReader.java:62-94``) → **left-anti join** of input
  partitions against COMPLETE lineage rows;
- per-output metrics (annotationCount — ``AnnotationOutput.java:10-15``,
  logged at ``AnnotationSerializerAE.java:176-183``) → per-partition
  n_turns/n_mentions/n_triples aggregates;
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

from . import schemas
from .session import local_frame

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


def complete_buckets(lineage: DataFrame, run_key: str) -> DataFrame:
    """Buckets already COMPLETE for a run key. A bucket that later errored
    does not count as complete (last status wins by run_date)."""
    w_latest = (
        lineage.filter(F.col("run_key") == run_key)
        .groupBy("partition_id")
        .agg(F.max_by("status", "run_date").alias("status"))
    )
    return w_latest.filter(F.col("status") == COMPLETE).select("partition_id")


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
    latest = (
        lineage.filter(F.col("run_key") == run_key)
        .groupBy("partition_id")
        .agg(F.max_by("status", "run_date").alias("status"))
    )
    return (
        all_buckets.join(latest, "partition_id", "left")
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
    lineage, excluded from output counts).

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

    Returns the CURRENT lineage rows for *run_key* (rows appended by this
    invocation included; on a fully-resumed no-op re-run that is the
    existing rows — callers counting appends should diff against a prior
    read, not len() this result).
    """
    import os

    # real wall-clock by default: "latest status wins" (complete_buckets /
    # runs_map max_by) needs run_date to actually order successive runs
    run_date = run_date or dt.datetime.now(dt.timezone.utc)
    inputs = with_bucket(transcripts, n_buckets)
    lineage = read_lineage(spark, lineage_path)
    todo = outstanding(inputs, lineage, run_key)

    if snapshot:
        from .triples import snapshot_staging_path

        data_path = snapshot_staging_path(output_path, run_key)
    else:
        data_path = output_path

    def _commit_if_complete(current: DataFrame) -> None:
        """Flip the staged snapshot iff every input bucket is COMPLETE.
        Also recovers a crash BETWEEN the lineage append and the flip:
        the staging dir is still present, lineage says all-complete, so
        the rerun's no-op pass finishes the commit."""
        if not (snapshot and os.path.isdir(data_path)):
            return
        missing = (
            inputs.select("partition_id").distinct()
            .join(F.broadcast(complete_buckets(current, run_key)),
                  "partition_id", "left_anti")
            .limit(1).count()
        )
        if missing == 0:
            from .triples import finalize_snapshot

            finalize_snapshot(spark, output_path, data_path)

    # fully-resumed run: nothing OUTSTANDING → skip the whole pipeline
    # (running the detect/disambig/write plans over an empty anti-join
    # still costs seconds of empty-job overhead; one limit(1) probe
    # makes repeat invocations near-free)
    if todo.limit(1).count() == 0:
        _commit_if_complete(lineage)
        # reuse the read above — lineage_path may not exist yet (first run
        # over an empty input), which read_lineage gives as an empty frame
        return lineage.filter(F.col("run_key") == run_key)

    mentions, triples = pipeline_fn(todo.drop("partition_id"))
    mentions = with_bucket(mentions, n_buckets).cache()
    triples = triples.withColumn(
        "partition_id", bucket_col(n_buckets, "conv_id")
    ).cache()

    errors = mentions.filter(F.col("concept_id") == "__ERROR__")
    ok_mentions = mentions.filter(F.col("concept_id") != "__ERROR__")

    # Data first, lineage commit second. Dynamic partition overwrite makes
    # bucket replay idempotent: a bucket re-run after a crash between the
    # data write and the lineage commit replaces its own partition
    # directories instead of appending duplicates (Iceberg gives the same
    # via snapshot-overwrite of the bucket partition).
    (
        triples.drop("partition_id")
        .withColumn("bucket", bucket_col(n_buckets, "conv_id"))
        # cluster by target partition: one task ≈ one bucket directory
        # instead of tasks × buckets tiny files
        .repartition(n_buckets, "bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(data_path)
    )

    m_turns = (
        todo.groupBy("partition_id")
        .agg(F.count(F.lit(1)).alias("n_turns"))
    )
    m_mentions = ok_mentions.groupBy("partition_id").agg(
        F.count(F.lit(1)).alias("n_mentions")
    )
    m_triples = triples.groupBy("partition_id").agg(
        F.count(F.lit(1)).alias("n_triples")
    )
    m_errors = errors.groupBy("partition_id").agg(
        F.first("error").alias("error")
    )
    rows = (
        m_turns.join(m_mentions, "partition_id", "left")
        .join(m_triples, "partition_id", "left")
        .join(m_errors, "partition_id", "left")
        .select(
            F.lit(run_key).alias("run_key"),
            F.col("partition_id"),
            F.when(F.col("error").isNotNull(), F.lit(ERROR))
            .otherwise(F.lit(COMPLETE))
            .alias("status"),
            F.coalesce("n_turns", F.lit(0)).cast("long").alias("n_turns"),
            F.coalesce("n_mentions", F.lit(0)).cast("long").alias("n_mentions"),
            F.coalesce("n_triples", F.lit(0)).cast("long").alias("n_triples"),
            F.lit(run_date).alias("run_date"),
            F.col("error"),
            F.when(F.col("error").isNotNull(), F.lit("detect")).alias(
                "component_at_fault"
            ),
        )
    )
    rows.write.mode("append").parquet(lineage_path)
    mentions.unpersist()
    triples.unpersist()
    current = read_lineage(spark, lineage_path)
    _commit_if_complete(current)
    return current.filter(F.col("run_key") == run_key)


def remove_run_key(spark: SparkSession, lineage_path: str, run_key: str) -> None:
    """Delete a run's lineage rows
    (``Neo4jRunCatalog.removeRunKeyFromDocumentCollection``,
    ``Neo4jRunCatalog.java:192-230``) — rewrite-without semantics for plain
    parquet (an Iceberg catalog would do a metadata delete)."""
    df = read_lineage(spark, lineage_path).filter(F.col("run_key") != run_key)
    df.cache().count()
    df.write.mode("overwrite").parquet(lineage_path)
    df.unpersist()
