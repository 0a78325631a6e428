"""Checkpointed per-partition resume with lineage + metrics.

Unit of work = a conversation bucket (``pmod(hash(conv_id), n_buckets)``), so
a bucket is self-contained and its output is idempotently rewritable. The
protocol (SURVEY.md §4 custom-physical-work #3):

1. collect the manifest's done rows. Only a missing manifest path means
   "first run"; a manifest that exists but cannot be read raises, since
   reading it as "no bucket done" would silently redo the whole input;
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
   observes its row count and the set of buckets it wrote, and the kernel
   adds per-bucket sums (rows, chars in and out, parse errors, nodes, text
   chars) to an accumulator. The kernel runs in the write's result stage,
   where Spark applies each task's accumulator updates once;
4. only after the data commit, append one manifest row per bucket this
   run wrote (counts, bytes, lineage, run_id), built from the accumulator
   as literals: no job reads the committed output back. The job's totals
   are the done rows' sums plus this run's; a manifest that cannot be
   summed (a bucket listed twice, or rows from before ``nodes`` and
   ``text_chars`` existed) falls back to an aggregate over the committed
   output. The ordering is what makes a crash resumable: a bucket missing
   from the manifest is redone, and redo is idempotent. The totals count
   manifested buckets only, so an un-manifested half-written bucket of a
   crashed run is not in them.

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

from .extract import BUCKET_SUMS, BucketSums, extract_stage
from .heuristics import ExtractConfig
from .io import hadoop_path, read_transcripts
from .metrics import output_metrics
from .schema import EXTRACTION_SCHEMA, MANIFEST_SCHEMA
from .skew import with_bucket

__all__ = ['completed_buckets', 'extract_buckets', 'mark_stage',
           'pending_turns', 'run_with_resume', 'stage_committed']


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
    """the manifest's done rows (every MANIFEST_SCHEMA column), sorted by
    bucket, in one collect; ``[]`` without a Spark job or SQL execution
    when the path does not exist (the first run; the driver asks the file
    system). Any read error propagates. Read with ``MANIFEST_SCHEMA``, so
    no footer is opened to infer a schema, a manifest directory holding no
    data file yet (an interrupted first append) reads as empty, and a
    manifest written before ``nodes`` and ``text_chars`` existed reads them
    as null."""
    fs, path = hadoop_path(spark, manifest_path)
    if not fs.exists(path):
        return []
    mf = spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path)
    return sorted(mf.where(F.col('status') == 'done').collect(),
                  key=lambda r: r.bucket)


def pending_turns(turns: DataFrame, done: list) -> DataFrame:
    """the bucketed ``turns`` outside the ``done`` buckets: a filter of at
    most ``n_buckets`` literals, where a join against a frame of ``done``
    would run a job of Python tasks to build and broadcast it"""
    return turns.where(~F.col('bucket').isin(done)) if done else turns


def extract_buckets(pending: DataFrame, n_buckets: int,
                    config: ExtractConfig = ExtractConfig(),
                    partitions: Optional[int] = None,
                    sums=None) -> DataFrame:
    """the resume write's frame: bucketed turns range-partitioned on
    ``(bucket, conv_id, turn_idx)``, through the kernel stage, with
    ``bucket`` re-attached (the kernel emits EXTRACTION_SCHEMA; the bucket
    is a function of ``conv_id`` alone). With ``sums`` (a
    :class:`~.extract.BucketSums` accumulator) the kernel also reads the
    bucket and adds its per-bucket sums to it."""
    keys = ('bucket', 'conv_id', 'turn_idx')
    cols = pending.select(*keys, 'text')
    spread = (cols.repartitionByRange(partitions, *keys) if partitions
              else cols.repartitionByRange(*keys))
    return with_bucket(extract_stage(spread, config, sums=sums), n_buckets)


def _manifest_rows(spark: SparkSession, rows: list, input_ref: str,
                   run_id: str, wall: float) -> DataFrame:
    """MANIFEST_SCHEMA rows of this run's buckets from their
    :func:`_sums_rows` dicts, built from one literal: a JSON array parsed with the declared
    schema and inlined over a one-row relation. Planning costs a few py4j
    calls whatever the bucket count (a literal per value would cost one
    each), and the plan runs one JVM task (a frame built from a Python list
    would run a job of Python tasks)."""
    from pyspark.sql.types import ArrayType
    consts = {'status': 'done', 'input_lineage': input_ref,
              'run_id': run_id, 'wall_seconds': f'{wall:.3f}'}
    doc = json.dumps([dict(r, **consts) for r in rows])
    return spark.range(1, numPartitions=1).select(F.inline(
        F.from_json(F.lit(doc), ArrayType(MANIFEST_SCHEMA))))


def _sums_rows(sums: dict) -> list:
    """the manifest's numeric columns of the kernel's ``{bucket:
    [BUCKET_SUMS...]}``, one dict per bucket (the kernel is 1 row in : 1
    row out, so ``rows_in`` is ``rows_out``)"""
    return [dict(zip(BUCKET_SUMS, sums[b]), bucket=b, rows_in=sums[b][0])
            for b in sorted(sums)]


#: :func:`~.metrics.output_sums` name -> the manifest column holding it
_SUMMED = {'rows_out': 'rows_out', 'chars_out': 'bytes_out',
           'parse_errors': 'parse_errors', 'nodes': 'nodes',
           'text_chars': 'text_chars'}


def _manifest_totals(rows: list) -> Optional[dict]:
    """the :func:`~.metrics.output_sums` totals of done manifest rows
    (Rows or dicts); None when they do not add up to the output's: a
    bucket manifested twice, or a row missing a sum (a manifest written
    before ``nodes`` and ``text_chars`` existed)"""
    if len({r['bucket'] for r in rows}) != len(rows) or any(
            r[c] is None for r in rows for c in _SUMMED.values()):
        return None
    return {name: sum(int(r[c]) for r in rows) for name, c in _SUMMED.items()}


def run_with_resume(spark: SparkSession,
                    input_ref: str,
                    output_path: str,
                    manifest_path: str,
                    n_buckets: int = 64,
                    max_buckets: Optional[int] = None,
                    config: ExtractConfig = ExtractConfig(),
                    partitions: Optional[int] = None) -> dict:
    """one resumable pass. Returns the manifested output's
    :func:`~.metrics.output_sums` totals (``rows_out``, ``chars_out``, ...)
    and this run's ``rows_this_run``, ``buckets_done`` (before the run),
    ``buckets_run``, ``remaining`` and ``wall_seconds``. Call repeatedly
    until ``remaining == 0``."""
    from pyspark.sql import Observation

    run_id = uuid.uuid4().hex[:12]
    t0 = time.time()

    done_rows = completed_buckets(spark, manifest_path)
    done = sorted({r.bucket for r in done_rows})
    written, rows_this_run, remaining, sums = [], 0, 0, {}
    # a set test, not a count: a manifest of an earlier n_buckets can hold
    # other ids. With every bucket done the run reads no input and writes
    # nothing (no range sample, no shuffle, no empty write job).
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

        # the kernel adds its per-bucket sums to this accumulator. It runs
        # in the write's result stage (the range exchange is below it), and
        # Spark applies a result task's accumulator updates once per
        # partition, so a retried task is not counted twice
        acc = spark.sparkContext.accumulator({}, BucketSums())
        out = extract_buckets(pending, n_buckets, config, partitions, acc)

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
        sums = {b: acc.value[b] for b in written}
    wall = time.time() - t0

    # only after the data commit, the buckets this run wrote become
    # manifest rows, built from the kernel's sums: no job reads the
    # committed output. A half-written bucket of a crashed earlier run
    # stays un-manifested, so a later run redoes it. Input lineage per
    # bucket = (row count, sum of n_raw_chars): the kernel is 1 row in :
    # 1 row out.
    new_rows = _sums_rows(sums)
    if new_rows:
        _manifest_rows(spark, new_rows, input_ref, run_id, wall) \
            .write.mode('append').parquet(manifest_path)
    # the totals are the done rows' sums plus this run's; a manifest that
    # cannot be summed falls back to an aggregate over the committed output
    totals = _manifest_totals(done_rows + new_rows)
    if totals is None:
        totals = output_metrics(
            spark.read.schema(EXTRACTION_SCHEMA).parquet(output_path))

    return dict(totals, rows_this_run=rows_this_run, run_id=run_id,
                buckets_done=len(done), buckets_run=len(written),
                remaining=remaining, wall_seconds=wall)
