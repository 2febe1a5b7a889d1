"""Normative table schemas (SURVEY.md §1.2).

transcripts is the primary input (BASELINE.json input_hint):
``conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp``.
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

DICTIONARY = T.StructType(
    [
        T.StructField("ontology", T.StringType(), False),
        T.StructField("concept_id", T.StringType(), False),
        T.StructField("canonical", T.StringType(), True),
        T.StructField("variant", T.StringType(), True),
        T.StructField("is_official", T.BooleanType(), True),
        T.StructField("variant_norm", T.StringType(), True),
    ]
)

MENTIONS = T.StructType(
    [
        # nullable: detect passes the input's conv_id through, and a turn
        # with no conversation still gets its mentions (kgpipe.lineage
        # buckets a NULL conv_id like any other)
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("ontology", T.StringType(), True),
        T.StructField("concept_id", T.StringType(), False),
        T.StructField("begin", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("covered_text", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

TRIPLES = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField(
            "evidence",
            T.StructType(
                [
                    T.StructField("begin", T.IntegerType(), True),
                    T.StructField("end", T.IntegerType(), True),
                    T.StructField("text", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

LINEAGE = T.StructType(
    [
        T.StructField("run_key", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("n_turns", T.LongType(), True),
        T.StructField("n_mentions", T.LongType(), True),
        T.StructField("n_triples", T.LongType(), True),
        T.StructField("run_date", T.TimestampType(), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("component_at_fault", T.StringType(), True),
    ]
)

EVAL = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("outcome", T.StringType(), False),
        T.StructField("concept_id", T.StringType(), True),
        T.StructField("begin", T.IntegerType(), True),
        T.StructField("end", T.IntegerType(), True),
    ]
)
