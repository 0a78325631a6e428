"""Table schemas for the extraction pipeline.

Input schema is authoritative from BASELINE.json ``input_hint``; output schema
from FIXTURES.md §1.
"""
from __future__ import annotations

from pyspark.sql.types import (ArrayType, IntegerType, LongType, StringType,
                               StructField, StructType, TimestampType)

__all__ = ['TRANSCRIPTS_SCHEMA', 'EXTRACTION_SCHEMA', 'MANIFEST_SCHEMA',
           'SPAN_TYPE']

#: (conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
#:  ts:timestamp)
TRANSCRIPTS_SCHEMA = StructType([
    StructField('conv_id', StringType(), False),
    StructField('turn_idx', IntegerType(), False),
    StructField('role', StringType(), True),
    StructField('text', StringType(), True),
    StructField('tool', StringType(), True),
    StructField('ts', TimestampType(), True),
])

SPAN_TYPE = StructType([
    StructField('start', IntegerType(), False),
    StructField('end', IntegerType(), False),
])

EXTRACTION_SCHEMA = StructType([
    StructField('conv_id', StringType(), False),
    StructField('turn_idx', IntegerType(), False),
    StructField('main_text', StringType(), True),
    StructField('spans', ArrayType(SPAN_TYPE), True),
    StructField('parse_error', StringType(), True),
    StructField('n_nodes', IntegerType(), True),
    StructField('n_text_chars', IntegerType(), True),
    # raw input length, carried through so per-bucket input lineage
    # (rows_in/bytes_in) falls out of the output table — the resume job
    # never re-scans the input for metrics (kernel is 1 row in : 1 row out)
    StructField('n_raw_chars', IntegerType(), True),
])

#: checkpoint/resume manifest: one row per completed bucket, with lineage.
#: ``nodes`` and ``text_chars`` complete the bucket's output sums, so the
#: job's totals add up from manifest rows (null in a manifest written
#: before they existed)
MANIFEST_SCHEMA = StructType([
    StructField('bucket', IntegerType(), False),
    StructField('status', StringType(), False),
    StructField('rows_in', LongType(), True),
    StructField('rows_out', LongType(), True),
    StructField('bytes_in', LongType(), True),
    StructField('bytes_out', LongType(), True),
    StructField('parse_errors', LongType(), True),
    StructField('input_lineage', StringType(), True),
    StructField('run_id', StringType(), True),
    StructField('wall_seconds', StringType(), True),
    StructField('nodes', LongType(), True),
    StructField('text_chars', LongType(), True),
])
