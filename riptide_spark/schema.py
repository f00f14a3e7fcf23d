"""Schemas for the extraction engine (SURVEY.md §1).

Input table shape per BASELINE.json ``input_hint``:
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

Output row mirrors ``ExtractedDoc``
(``/root/reference/crates/riptide-types/src/extracted.rs:8-31``) plus the
north-rule columns ``spans`` and ``content_mode``; the metrics sidecar
mirrors ``PipelineStats``/``GateDecisionStats``
(``crates/riptide-api/src/pipeline.rs:509-517,573-578``) per partition.
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

SPAN_TYPE = T.StructType(
    [
        T.StructField("start_pos", T.LongType(), True),
        T.StructField("end_pos", T.LongType(), True),
        T.StructField("chunk_index", T.IntegerType(), True),
        T.StructField("total_chunks", T.IntegerType(), True),
        T.StructField("token_count", T.IntegerType(), True),
    ]
)

# Return struct of the extraction pandas UDF (the WASM `extract` contract —
# wit/extractor.wit:18-49 — plus spans, the gate's route and an error column
# for row isolation), in the output table's column order. ``markdown`` is
# last: the UDF returns it, the output table does not keep it.
EXTRACTED_STRUCT = T.StructType(
    [
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("spans", T.ArrayType(SPAN_TYPE), True),
        T.StructField("content_mode", T.StringType(), True),
        T.StructField("byline", T.StringType(), True),
        T.StructField("published_iso", T.StringType(), True),
        T.StructField("language", T.StringType(), True),
        T.StructField("reading_time", T.IntegerType(), True),
        T.StructField("quality_score", T.IntegerType(), True),
        T.StructField("word_count", T.IntegerType(), True),
        T.StructField("links", T.ArrayType(T.StringType()), True),
        T.StructField("media", T.ArrayType(T.StringType()), True),
        T.StructField("categories", T.ArrayType(T.StringType()), True),
        T.StructField("site_name", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("escalated", T.BooleanType(), True),
        T.StructField("extract_ms", T.DoubleType(), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("markdown", T.StringType(), True),
    ]
)

# Final output table (north rule): url, extracted_text, title, spans,
# content_mode — plus enrichment fields and lineage.
OUTPUT_COLUMNS = ["url"] + EXTRACTED_STRUCT.fieldNames()[:-1]

# The output table's written row; its Hive partition column ``url_bucket``
# is discovered from the directory names on read.
OUTPUT_SCHEMA = T.StructType(
    [PAGES_SCHEMA["url"]]
    + [EXTRACTED_STRUCT[c] for c in OUTPUT_COLUMNS[1:]]
    + [T.StructField("run_id", T.StringType(), False)]
)
