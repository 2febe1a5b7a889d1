"""SparkSession factory tuned for the pipeline, and the driver-rows
Arrow builder.

Settings chosen for scale (see SURVEY.md §4): AQE on (skew-join splitting +
shuffle coalescing), Arrow on (the trie scanner is an Arrow-batched
``mapInPandas``), shuffle partitions sized for the local harness but meant
to be overridden via ``spark-submit --conf`` on a real cluster.

``local_frame`` is the one way the KG path turns driver-side rows into a
DataFrame (tests/test_session.py parses the KG modules to keep it so).
``arrow_table`` is its row builder and validator, shared with the lineage
append, which writes driver rows to parquet without a Spark job.
"""

from __future__ import annotations

import os
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "kgpipe",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4.1's ChecksumCheckpointFileManager deadlocks on local-FS
        # state-store commits under applyInPandasWithState (awaitResult in
        # createWithChecksum never completes); checksums are for detecting
        # checkpoint corruption on remote object stores, safe to disable here
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
        .config("spark.driver.memory", os.environ.get("KGPIPE_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def cpu_partition_count(spark, default: int = 200) -> int:
    """Explicit partition count for CPU-bound (Python) stages: AQE may
    coalesce a bare repartition to byte-sized partitions and serialize the
    stage, so callers pin the count — spark.sql.shuffle.partitions when
    numeric, else the cluster default parallelism."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        try:
            return int(spark.sparkContext.defaultParallelism)
        except Exception:
            return default


def arrow_table(rows: Sequence, schema: StructType):
    """A ``pyarrow`` table of driver-side *rows* (mappings keyed by field
    name, or sequences in schema order) typed by the Spark *schema*.

    The table is built one column at a time, so a None in a non-nullable
    field or a value of the wrong type raises a ValueError/TypeError naming
    the field, as ``createDataFrame``'s row verifier does."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    by_name = bool(rows) and isinstance(rows[0], Mapping)
    columns = []
    for i, field in enumerate(schema.fields):
        key = field.name if by_name else i
        values = [r[key] for r in rows]
        if not field.nullable and any(v is None for v in values):
            raise ValueError(
                f"field {field.name!r} is not nullable but "
                "holds None")
        try:
            columns.append(pa.array(values, type=arrow_schema.field(i).type))
        except pa.ArrowTypeError as e:
            raise TypeError(f"field {field.name!r}: {e}") from e
        except pa.ArrowInvalid as e:
            raise ValueError(f"field {field.name!r}: {e}") from e
    return pa.Table.from_arrays(columns, schema=arrow_schema)


def local_frame(spark: SparkSession, rows: Sequence, schema: StructType) -> DataFrame:
    """DataFrame over driver-side *rows* (as ``arrow_table`` takes them)
    that no Python worker ever touches.

    ``spark.createDataFrame(list)`` plans the rows as a ``PythonRDD`` of
    pickled rows, so every evaluation of the frame (a collect, each
    broadcast-exchange build) starts Python workers to unpickle them.  An
    Arrow table is decoded in the JVM instead."""
    return spark.createDataFrame(arrow_table(rows, schema), schema)
