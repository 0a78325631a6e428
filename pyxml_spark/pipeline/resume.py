"""Checkpointed per-partition resume with lineage + metrics.

Unit of work = a conversation bucket (``pmod(hash(conv_id), n_buckets)``), so
a bucket is self-contained and its output is idempotently rewritable. The
protocol (SURVEY.md §4 custom-physical-work #3):

1. read the manifest (if any) and derive the completed bucket set;
2. anti-join the input against completed buckets (a broadcast of at most
   ``n_buckets`` rows — never a shuffle of the big side);
3. process pending buckets; write output with dynamic partition overwrite on
   ``bucket`` so a re-run of a half-written bucket replaces, never duplicates;
4. only after the data commit, append manifest rows (bucket, counts, bytes,
   lineage, run_id) — the ordering is what makes a crash resumable: a bucket
   missing from the manifest is redone, and redo is idempotent.

``max_buckets`` limits work per invocation (used by the kill/resume test and
useful operationally for incremental backfills). Staged batch jobs use the
coarser per-stage rule of :func:`stage_committed` / :func:`mark_stage`.
"""
from __future__ import annotations

import json
import os
import time
import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from .extract import extract_turns
from .heuristics import ExtractConfig
from .schema import MANIFEST_SCHEMA
from .skew import with_bucket

__all__ = ['completed_buckets', 'mark_stage', 'run_with_resume',
           'stage_committed']


def stage_committed(path: str, params: dict, resume: bool) -> bool:
    """the stage output at ``path`` is reusable: ``resume`` is on, Spark
    committed it (``_SUCCESS``) and its manifest equals ``params``"""
    if not (resume and os.path.exists(os.path.join(path, '_SUCCESS'))):
        return False
    try:
        with open(path + '.manifest.json') as f:
            return json.load(f) == params
    except (OSError, ValueError):
        return False


def mark_stage(path: str, params: dict) -> None:
    """record ``params`` as the manifest of the committed stage at ``path``"""
    with open(path + '.manifest.json', 'w') as f:
        json.dump(params, f, sort_keys=True)


def completed_buckets(spark: SparkSession, manifest_path: str) -> DataFrame:
    """distinct completed buckets from the manifest (empty DF when absent)"""
    try:
        mf = spark.read.parquet(manifest_path)
    except Exception:  # noqa: BLE001 - first run: no manifest yet
        return spark.createDataFrame([], 'bucket int')
    return mf.where(F.col('status') == 'done').select('bucket').distinct()


def run_with_resume(spark: SparkSession,
                    input_ref: str,
                    output_path: str,
                    manifest_path: str,
                    n_buckets: int = 64,
                    max_buckets: Optional[int] = None,
                    config: ExtractConfig = ExtractConfig(),
                    salt: int = 16,
                    partitions: Optional[int] = None) -> dict:
    """one resumable pass; returns run metrics. Call repeatedly until
    ``remaining == 0``."""
    from .io import read_transcripts

    from pyspark.sql import Observation

    spark.conf.set('spark.sql.sources.partitionOverwriteMode', 'dynamic')
    run_id = uuid.uuid4().hex[:12]
    t0 = time.time()

    turns = with_bucket(read_transcripts(spark, input_ref), n_buckets)
    done = completed_buckets(spark, manifest_path)
    n_done = done.count()

    pending = turns.join(F.broadcast(done), on='bucket', how='left_anti')
    # one column-pruned planning pass decides the work list (at most
    # n_buckets rows reach the driver). All run metrics — including input
    # lineage — later come off the output table (the kernel carries
    # n_raw_chars and is 1-row-in:1-row-out), so the input is scanned
    # exactly twice per run: this planning pass and the extraction itself.
    all_pending = [r.bucket for r in
                   pending.select('bucket').distinct()
                   .orderBy('bucket').collect()]
    processed = (all_pending[:max_buckets] if max_buckets is not None
                 else all_pending)
    if not processed:
        return dict(run_id=run_id, buckets_done=n_done, buckets_run=0,
                    remaining=0, rows_out=0, wall_seconds=0.0)
    if len(processed) < len(all_pending):
        pending = pending.where(F.col('bucket').isin(processed))

    # keep the bucket column alongside the extraction output for the
    # partitioned write: extract on (conv_id, turn_idx, text), re-attach
    # bucket deterministically (function of conv_id only)
    out = extract_turns(pending, config=config, salt=salt,
                        partitions=partitions)
    out = with_bucket(out, n_buckets)

    # run-level metrics ride the write itself (df.observe — no extra pass)
    obs = Observation(f'resume-{run_id}')
    out = out.observe(obs,
                      F.count(F.lit(1)).alias('rows_out'),
                      F.sum(F.length('main_text')).alias('bytes_out'),
                      F.sum('n_raw_chars').alias('bytes_in'),
                      F.sum(F.when(F.col('parse_error').isNotNull(), 1)
                            .otherwise(0)).alias('parse_errors'))

    out.write.mode('overwrite').partitionBy('bucket').parquet(output_path)
    totals = obs.get

    # per-bucket manifest stats: the output is partitioned by bucket, so
    # filtering to this run's buckets partition-prunes the scan to exactly
    # the fresh partitions — the rest of the output dir (including
    # half-written buckets from a crashed earlier run, which must stay
    # un-manifested so a later run redoes them) is never read. Input
    # lineage per bucket = (row count, sum of n_raw_chars) off the same
    # scan; no second pass over the input.
    fresh = (spark.read.parquet(output_path)
             .where(F.col('bucket').isin(processed)))
    stats = (fresh.groupBy('bucket').agg(
        F.count('*').alias('rows_out'),
        F.sum(F.length('main_text')).alias('bytes_out'),
        F.sum('n_raw_chars').alias('bytes_in'),
        F.sum(F.when(F.col('parse_error').isNotNull(), 1)
              .otherwise(0)).alias('parse_errors'))
        .collect())
    wall = time.time() - t0
    rows = [(int(s.bucket), 'done',
             int(s.rows_out),  # kernel is 1:1, rows_in == rows_out
             int(s.rows_out),
             int(s.bytes_in or 0),
             int(s.bytes_out or 0), int(s.parse_errors),
             input_ref, run_id, f'{wall:.3f}') for s in stats]
    if rows:
        spark.createDataFrame(rows, MANIFEST_SCHEMA).coalesce(1).write.mode(
            'append').parquet(manifest_path)

    remaining = len(all_pending) - len(processed)
    return dict(run_id=run_id, buckets_done=n_done, buckets_run=len(rows),
                remaining=max(remaining, 0),
                rows_out=int(totals['rows_out']), wall_seconds=wall)
