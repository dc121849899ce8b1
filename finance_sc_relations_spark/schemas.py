"""StructType schemas that code reads: the NER alias struct,
the tagged-pair output and the lineage table.

Nested values are real Spark types (ARRAY/STRUCT/MAP) — never JSON-string
smuggling as the reference's Glue tables do (src/sagemaker/re_inference.py:91-102,
src/glue/glue_etl.py:100-133).
"""

from __future__ import annotations

from pyspark.sql.types import (
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

ALIAS_PAIR = StructType(
    [
        StructField("target", StringType(), False),
        StructField("alias", StringType(), False),
    ]
)

# F7: pairs — one row per tagged position (reference IR #1, infer.py:252-288)
PAIRS = StructType(
    [
        StructField("url", StringType(), False),
        StructField("sentence_id", StringType(), False),
        StructField("r_id", StringType(), False),
        StructField("sents", StringType(), False),  # tagged sentence
        StructField("orig_sents", StringType(), False),
        StructField("entity1", StringType(), False),
        StructField("entity2", StringType(), False),
        StructField("org_groups", MapType(StringType(), IntegerType()), False),
    ]
)

# Lineage / checkpoint (F7 `_lineage`; Spark form of the reference's
# success/failed job-state sets, src/glue/glue_etl.py:376-444)
LINEAGE = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("stage", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("input_rows", LongType(), False),
        StructField("output_rows", LongType(), False),
        StructField("dropped_invalid", LongType(), False),
        StructField("wall_ms", LongType(), False),
    ]
)
