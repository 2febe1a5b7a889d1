"""Run instrumentation: observed metrics riding on the job, no extra pass.

The reference counts progress as side-effects of its pipeline — a processed
counter printed every 50 docs plus elapsed ms in the UIMA-AS callback
(``PipelineBase.java:536-563``) and a %-progress line every 1000 files in
the catalog reader (``RunCatalogCollectionReader.java:129-134``) — and logs
an annotationCount per document from the serializer
(``AnnotationSerializerAE.java:176-183``).

Spark-first rendering: ``DataFrame.observe`` attaches accumulator-backed
aggregates to the SAME action that runs the pipeline, so counts cost no
second job and no cache.  ``observe_counts`` instruments any stage output;
``PipelineTimer`` is the elapsed/throughput report analogue.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, functions as F


def observe_counts(df: DataFrame, name: str = "kgpipe") -> tuple[DataFrame, Observation]:
    """Attach row/turn/error counters to *df*'s next action.

    Returns ``(instrumented_df, observation)``; after any action on the
    returned DataFrame, ``observation.get`` yields::

        {"n_rows": ..., "n_turns_approx": ..., "n_errors": ...}

    (n_turns_approx is an HLL++ ESTIMATE of the distinct (conv_id,
    turn_idx) pairs when those columns exist — observed metrics cannot
    take exact distinct aggregates; n_errors counts quarantined rows when
    an ``error`` column exists — the AnnotationOutputLog /
    ProcessingErrorLog analogue.)
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if "conv_id" in df.columns and "turn_idx" in df.columns:
        aggs.append(
            F.approx_count_distinct(
                F.concat_ws(":", F.col("conv_id"),
                            F.col("turn_idx").cast("string"))
            ).alias("n_turns_approx")
        )
    if "error" in df.columns:
        aggs.append(
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
            .alias("n_errors")
        )
    obs = Observation(name)
    return df.observe(obs, *aggs), obs


class PipelineTimer:
    """Elapsed-time / throughput report (``PipelineBase.java:556-563``:
    ``docs processed in elapsed ms`` — here turns/sec)."""

    def __init__(self) -> None:
        self.t0 = time.time()

    def report(self, n_units: int, unit: str = "turns") -> str:
        elapsed = time.time() - self.t0
        rate = n_units / elapsed if elapsed > 0 else float("inf")
        return (f"{n_units} {unit} processed in {elapsed * 1000:.0f} ms "
                f"({rate:.1f} {unit}/sec)")
