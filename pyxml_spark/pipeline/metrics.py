"""Run metrics: deterministic aggregations over the extraction output plus
reporting aggregations (SURVEY.md §2-F).

Aggregations are Spark built-ins (whole-stage codegen, map-side partial
aggregation); nothing here crosses into Python.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ['output_metrics', 'output_sums', 'per_conversation_report']


def output_sums() -> dict:
    """name -> aggregate column of one extraction-output sum: the one
    definition of the row, char, parse-error, node and text-char totals
    that :func:`output_metrics`, the resume manifest and
    :func:`per_conversation_report` aggregate"""
    return {'rows_out': F.count(F.lit(1)),
            'chars_out': F.sum(F.length('main_text')),
            'parse_errors': F.count('parse_error'),
            'nodes': F.sum('n_nodes'),
            'text_chars': F.sum('n_text_chars')}


def as_metrics(row) -> dict:
    """``{name: int}`` of the :func:`output_sums` of an aggregate row or an
    observation's dict; a sum over no rows (null) reads 0"""
    return {name: int(row[name] or 0) for name in output_sums()}


def output_metrics(out: DataFrame) -> dict:
    """global row/byte/error metrics for an extraction output"""
    return as_metrics(out.agg(
        *(col.alias(name) for name, col in output_sums().items()))
        .collect()[0])


def per_conversation_report(out: DataFrame) -> DataFrame:
    """per-conversation rollup: turn count, extracted chars, error count"""
    sums = output_sums()
    return (out.groupBy('conv_id').agg(
        sums['rows_out'].alias('n_turns'),
        sums['chars_out'].alias('main_chars'),
        sums['parse_errors'].alias('n_errors'))
        .orderBy('conv_id'))
