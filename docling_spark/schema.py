"""Spark schemas for the extraction engine (input_hint shape from
BASELINE.json + output/error shapes from FIXTURES.md §1-2)."""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SPAN_TYPE = StructType([
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("offset", IntegerType()),
])

INPUT_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("spans", ArrayType(SPAN_TYPE)),
])

ERROR_TYPE = StructType([
    StructField("component", StringType()),
    StructField("module", StringType()),
    StructField("message", StringType()),
])

OUTPUT_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("spans", ArrayType(SPAN_TYPE)),
    StructField("status", StringType()),
    StructField("errors", ArrayType(ERROR_TYPE)),
    StructField("n_spans", IntegerType()),
    StructField("wall_us", LongType()),
])

OUTPUT_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "status string, "
    "errors array<struct<component:string,module:string,message:string>>, "
    "n_spans int, wall_us long"
)

STATUS_SUCCESS = "success"
STATUS_PARTIAL = "partial_success"
STATUS_FAILURE = "failure"
STATUS_SKIPPED = "skipped"
