"""Spark pipeline layer: Arrow-batched extraction, skew handling, resume."""
from .extract import extract_payload, extract_turns
from .heuristics import ExtractConfig, Extraction, extract_main
from .metrics import output_metrics, per_conversation_report
from .resume import run_with_resume
from .schema import EXTRACTION_SCHEMA, MANIFEST_SCHEMA, TRANSCRIPTS_SCHEMA
from .skew import salted_repartition, with_bucket
from .transcripts import gen_transcripts_pdf, transcripts_df, write_transcripts

__all__ = [
    'extract_payload', 'extract_turns',
    'ExtractConfig', 'Extraction', 'extract_main',
    'output_metrics', 'per_conversation_report', 'run_with_resume',
    'TRANSCRIPTS_SCHEMA', 'EXTRACTION_SCHEMA', 'MANIFEST_SCHEMA',
    'salted_repartition', 'with_bucket',
    'gen_transcripts_pdf', 'transcripts_df', 'write_transcripts',
]
