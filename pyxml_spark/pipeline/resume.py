"""Checkpointed per-partition resume with lineage + metrics.

Unit of work = a conversation bucket (``pmod(hash(conv_id), n_buckets)``), so
a bucket is self-contained and its output is idempotently rewritable. The
protocol (SURVEY.md §4 custom-physical-work #3):

1. collect the completed bucket set from the manifest. Only a missing
   manifest path means "first run"; a manifest that exists but cannot be
   read raises, since reading it as "no bucket done" would silently redo
   the whole input;
2. filter the input to the pending buckets (:func:`pending_turns`: a
   ``NOT bucket IN (...)`` of at most ``n_buckets`` literals, no join and
   no shuffle of the big side); a ``max_buckets`` run first lists the
   pending buckets and keeps the smallest ``max_buckets``. When every
   bucket is done, the run writes nothing and skips to step 4's totals;
3. range-partition the pending turns on ``(bucket, conv_id, turn_idx)``
   (:func:`extract_buckets`; skew.py says why), so the write opens about
   ``n_buckets + tasks - 1`` files, not ``tasks x n_buckets``. Extract,
   then write output with dynamic partition overwrite on ``bucket`` so a
   re-run of a half-written bucket replaces, never duplicates. The write
   observes its row count and the set of buckets it wrote;
4. only after the data commit, read the committed output back once, with
   its declared schema (:data:`OUTPUT_SCHEMA`, no footer inference): the
   buckets this run wrote become manifest rows (bucket, counts, bytes,
   lineage, run_id), appended from that read, and an observation over the
   whole table yields the run's output totals. The ordering is what makes
   a crash resumable: a bucket missing from the manifest is redone, and
   redo is idempotent.

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
from pyspark.sql.types import IntegerType, StructField, StructType

from .extract import extract_stage
from .heuristics import ExtractConfig
from .metrics import as_metrics, output_metrics, output_sums
from .schema import EXTRACTION_SCHEMA, MANIFEST_SCHEMA
from .skew import with_bucket

__all__ = ['OUTPUT_SCHEMA', 'completed_buckets', 'extract_buckets',
           'mark_stage', 'pending_turns', 'run_with_resume',
           'stage_committed']

#: the resume job's committed output: the kernel's columns, then the
#: ``bucket`` partition column (a new StructType: ``StructType.add`` would
#: mutate EXTRACTION_SCHEMA in place)
OUTPUT_SCHEMA = StructType(EXTRACTION_SCHEMA.fields
                           + [StructField('bucket', IntegerType(), True)])


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


def completed_buckets(spark: SparkSession, manifest_path: str) -> list:
    """sorted distinct completed bucket ids from the manifest; ``[]``
    without a Spark job when the path does not exist (the first run). Any
    other read error propagates. Read with ``MANIFEST_SCHEMA``, so no
    footer is opened to infer a schema and a manifest directory holding no
    data file yet (an interrupted first append) reads as empty."""
    from pyspark.errors import AnalysisException
    try:
        mf = spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path)
    except AnalysisException as exc:
        if exc.getCondition() != 'PATH_NOT_FOUND':
            raise
        return []
    return sorted(r.bucket for r in mf.where(F.col('status') == 'done')
                  .select('bucket').distinct().collect())


def pending_turns(turns: DataFrame, done: list) -> DataFrame:
    """the bucketed ``turns`` outside the ``done`` buckets: a filter of at
    most ``n_buckets`` literals, where a join against a frame of ``done``
    would run a job of Python tasks to build and broadcast it"""
    return turns.where(~F.col('bucket').isin(done)) if done else turns


def extract_buckets(pending: DataFrame, n_buckets: int,
                    config: ExtractConfig = ExtractConfig(),
                    partitions: Optional[int] = None) -> DataFrame:
    """the resume write's frame: bucketed turns range-partitioned on
    ``(bucket, conv_id, turn_idx)``, through the kernel stage, with
    ``bucket`` re-attached (the kernel emits EXTRACTION_SCHEMA; the bucket
    is a function of ``conv_id`` alone)"""
    keys = ('bucket', 'conv_id', 'turn_idx')
    cols = pending.select(*keys, 'text')
    spread = (cols.repartitionByRange(partitions, *keys) if partitions
              else cols.repartitionByRange(*keys))
    return with_bucket(extract_stage(spread, config), n_buckets)


def run_with_resume(spark: SparkSession,
                    input_ref: str,
                    output_path: str,
                    manifest_path: str,
                    n_buckets: int = 64,
                    max_buckets: Optional[int] = None,
                    config: ExtractConfig = ExtractConfig(),
                    partitions: Optional[int] = None) -> dict:
    """one resumable pass. Returns the whole output's
    :func:`~.metrics.output_sums` totals (``rows_out``, ``chars_out``, ...)
    and this run's ``rows_this_run``, ``buckets_done`` (before the run),
    ``buckets_run``, ``remaining`` and ``wall_seconds``. Call repeatedly
    until ``remaining == 0``."""
    from .io import read_transcripts

    from pyspark.sql import Observation

    run_id = uuid.uuid4().hex[:12]
    t0 = time.time()

    done = completed_buckets(spark, manifest_path)
    written, rows_this_run, remaining = [], 0, 0
    # a set test, not a count: a manifest of an earlier n_buckets can hold
    # other ids. With every bucket done the run reads no input and writes
    # nothing (no range sample, no shuffle, no empty write job); it only
    # reads the totals.
    if not set(range(n_buckets)) <= set(done):
        turns = with_bucket(read_transcripts(spark, input_ref), n_buckets)
        pending = pending_turns(turns, done)
        if max_buckets is not None:
            # only a capped run needs its work list before the write: one
            # column-pruned planning pass (at most n_buckets rows reach the
            # driver) picks the smallest pending buckets
            all_pending = sorted(r.bucket for r in
                                 pending.select('bucket').distinct().collect())
            remaining = max(len(all_pending) - max_buckets, 0)
            if remaining:
                pending = pending.where(
                    F.col('bucket').isin(all_pending[:max_buckets]))

        out = extract_buckets(pending, n_buckets, config, partitions)

        # the write observes this run's row count and the buckets it wrote
        # (no extra pass). The observation is also what keeps the (conv_id,
        # turn_idx) output sort in the executed plan: without its
        # CollectMetrics node, EliminateSorts drops that sort under the
        # writer's Sort [bucket].
        wrote = Observation(f'resume-{run_id}')
        out = out.observe(wrote, F.count(F.lit(1)).alias('rows'),
                          F.collect_set('bucket').alias('buckets'))
        (out.write.mode('overwrite')
         .option('partitionOverwriteMode', 'dynamic')
         .partitionBy('bucket').parquet(output_path))
        got = wrote.get
        written, rows_this_run = sorted(got['buckets']), int(got['rows'])
    wall = time.time() - t0

    # one read-back of the committed output, with its declared schema (no
    # footer-inference job): an observation over the whole table yields the
    # job's totals, and the rows of the buckets this run wrote become its
    # manifest rows. Manifest stats come from the committed files, after
    # the data commit, and only for this run's buckets: a half-written
    # bucket of a crashed earlier run stays un-manifested, so a later run
    # redoes it. Input lineage per bucket = (row count, sum of
    # n_raw_chars): the kernel is 1 row in : 1 row out.
    committed = spark.read.schema(OUTPUT_SCHEMA).parquet(output_path)
    if written:
        whole = Observation(f'resume-output-{run_id}')
        sums = output_sums()
        manifest = (committed
                    .observe(whole, *(col.alias(name)
                                      for name, col in sums.items()))
                    .where(F.col('bucket').isin(written))
                    .groupBy('bucket').agg(  # MANIFEST_SCHEMA's columns
                        F.lit('done').alias('status'),
                        sums['rows_out'].alias('rows_in'),
                        sums['rows_out'].alias('rows_out'),
                        F.coalesce(F.sum('n_raw_chars'), F.lit(0))
                        .alias('bytes_in'),
                        F.coalesce(sums['chars_out'], F.lit(0))
                        .alias('bytes_out'),
                        sums['parse_errors'].alias('parse_errors'),
                        F.lit(input_ref).alias('input_lineage'),
                        F.lit(run_id).alias('run_id'),
                        F.lit(f'{wall:.3f}').alias('wall_seconds')))
        manifest.coalesce(1).write.mode('append').parquet(manifest_path)
        totals = as_metrics(whole.get)
    else:
        # a filter on isin([]) folds to false and the optimizer would prune
        # the observation with it; nothing to manifest, totals by aggregate
        totals = output_metrics(committed)

    return dict(totals, rows_this_run=rows_this_run, run_id=run_id,
                buckets_done=len(done), buckets_run=len(written),
                remaining=remaining, wall_seconds=wall)
