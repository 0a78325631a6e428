"""Skew handling: the library salts, the resume job range-partitions.

The transcripts table is heavy-tailed on conversation length (FIXTURES.md §1):
a handful of conversations carry 10^3-10^4 turns. A plain
``repartition('conv_id')`` pins each long conversation to one task; at 10^12
turns that is a straggler. Per-turn extraction is conversation-independent,
so the library path (``extract_turns``) salts: partition by
``(conv_id, hash(conv_id, turn_idx) % 16)``, which spreads a hot
conversation over up to 16 tasks with no re-merge needed beyond the
final local sort.

The resume job (``resume.extract_buckets``) writes its output partitioned by
``bucket``. Behind a hash exchange every task holds rows of every bucket and
opens one file per bucket: ``tasks x n_buckets`` files per run (about 4M at
1,000 tasks x 4,096 buckets). It range-partitions on
``(bucket, conv_id, turn_idx)`` instead, so each task holds a contiguous run
of buckets and the write opens about ``n_buckets + tasks - 1`` files. The
sampled range bounds split a hot conversation by ``turn_idx``, so tasks stay
row-balanced as they do under the salt; ``repartition('bucket')`` would not.
"""
from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

__all__ = ['salted_repartition', 'with_bucket']

#: tasks one conversation can spread over behind the salted exchange
_SALT = 16


def salted_repartition(df: DataFrame,
                       partitions: Optional[int] = None) -> DataFrame:
    """repartition by (conv_id, per-turn salt)"""
    keys = [F.col('conv_id'),
            F.pmod(F.hash('conv_id', 'turn_idx'), F.lit(_SALT))]
    if partitions:
        return df.repartition(partitions, *keys)
    return df.repartition(*keys)


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """deterministic conversation bucket used by checkpoint/resume: all turns
    of a conversation land in one bucket, so a bucket is a self-contained
    unit of work"""
    return df.withColumn(
        'bucket', F.pmod(F.hash('conv_id'), F.lit(n_buckets)).cast('int'))
