"""Table and column schemas.

The span schema follows BASELINE.json ``input_hint``:
``doc_id:string, spans:array<struct<kind,text,media_ref,offset>>``.
The results schema mirrors the reference's SQLite DDL
(app/services/storage.py:29-92) with native nested types instead of
JSON-string blobs.
"""

from __future__ import annotations

from pyspark.sql import types as T

from .constants import FIELD_NAMES

# One span: a text line or a media element, ordered by byte offset
# into the source document (data-derived => parallelism-invariant).
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

# Primary pipeline OUTPUT table (and analytics input) per input_hint.
DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN), False),
    ]
)

# Kernel-stage output: spans plus carried source size, so downstream
# results assembly never needs a join back to the raw table.
DOCUMENTS_SIZED = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN), False),
        T.StructField("size_bytes", T.LongType(), True),
    ]
)

MEDIA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

# Raw ingest table: one row per document before extraction.
DOCUMENTS_RAW = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("media", T.ArrayType(MEDIA), True),
        T.StructField("n_pages", T.IntegerType(), False),
        T.StructField("size_bytes", T.LongType(), False),
    ]
)

# 18-field record (all strings; issuing_carrier is array<string>,
# normalizing the reference's Union[str, List[str]],
# app/models/extraction.py:26).
RECORD = T.StructType(
    [
        T.StructField(
            name,
            T.ArrayType(T.StringType()) if name == "issuing_carrier" else T.StringType(),
            True,
        )
        for name in FIELD_NAMES
    ]
)

# Results table mirroring SQLite `extractions`
# (app/services/storage.py:29-54) with native nested types.
RESULTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("file_size", T.LongType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("model_used", T.StringType(), True),
        T.StructField("prompt_version", T.StringType(), True),
        T.StructField("extracted_data", RECORD, True),
        T.StructField("confidence_scores", T.MapType(T.StringType(), T.DoubleType()), True),
        T.StructField("failed_fields", T.ArrayType(T.StringType()), True),
        T.StructField("warnings", T.ArrayType(T.StringType()), True),
        T.StructField("input_tokens", T.LongType(), True),
        T.StructField("output_tokens", T.LongType(), True),
        T.StructField("total_tokens", T.LongType(), True),
        T.StructField("estimated_cost", T.DoubleType(), True),
        T.StructField("created_at", T.TimestampType(), True),
    ]
)
