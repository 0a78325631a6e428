"""spark-submit entry point for the extraction job.

Cluster launch:
    spark-submit --py-files dist/pyxml_spark.zip pyxml_spark/jobs/extract.py \
        --input <iceberg-table-or-parquet-path> --output <path> \
        --manifest <path> --buckets 4096

Sandbox smoke (generates deterministic transcripts first):
    python3 pyxml_spark/jobs/extract.py --rows 2000 --cpus 8
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time


def build_session(cpus: int, app: str = 'pyxml-spark-extract',
                  memory: str = None):
    """local[N] session with the tuned arrow/shuffle defaults. ``memory``
    sizes the single local JVM (driver+executor in local mode; default 8g —
    Spark's out-of-the-box 1g heap OOMs near 10^6-row shuffles); override
    with SPARK_GRAFT_MEMORY or the argument. NOTE: under ``spark-submit``
    the driver JVM already exists before this runs, so the setting is a
    no-op there — pass ``--driver-memory 8g`` (and executor sizing) on the
    spark-submit line instead; this config only governs the plain
    ``python3 jobs/...`` launch path."""
    from pyspark.sql import SparkSession
    mem = memory or os.environ.get('SPARK_GRAFT_MEMORY', '8g')
    return (SparkSession.builder
            .master(f'local[{cpus}]')
            .appName(app)
            .config('spark.driver.memory', mem)
            .config('spark.sql.shuffle.partitions', str(max(cpus * 2, 8)))
            .config('spark.sql.adaptive.enabled', 'true')
            .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
            .config('spark.sql.execution.arrow.maxRecordsPerBatch', '16384')
            .config('spark.sql.execution.arrow.maxBytesPerBatch',
                    str(64 * 1024 * 1024))
            .config('spark.ui.enabled', 'false')
            # past 32 directories Spark lists a file tree with a job of one
            # task per directory (1.1 s for the 64 bucket directories the
            # resume read-back lists); in a local session those tasks run
            # in this JVM, which lists a local tree by itself in
            # milliseconds
            .config('spark.sql.sources.parallelPartitionDiscovery.threshold',
                    str(2 ** 31 - 1))
            .getOrCreate())


def main(argv=None) -> int:
    repo = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    if repo not in sys.path:
        sys.path.insert(0, repo)

    ap = argparse.ArgumentParser()
    ap.add_argument('--input', default=None,
                    help='iceberg table or parquet path; omit to synthesize')
    ap.add_argument('--rows', type=int, default=2000,
                    help='rows to synthesize when --input is omitted')
    ap.add_argument('--seed', type=int, default=42)
    ap.add_argument('--output', default=None)
    ap.add_argument('--manifest', default=None)
    ap.add_argument('--buckets', type=int, default=64)
    ap.add_argument('--max-buckets', type=int, default=None)
    ap.add_argument('--cpus', type=int, default=int(os.environ.get(
        'SPARK_GRAFT_CPUS', '8')))
    ap.add_argument('--min-block-chars', type=int, default=None,
                    help='heuristics: minimum kept block size')
    ap.add_argument('--max-link-density', type=float, default=None,
                    help='heuristics: maximum link-char ratio per block')
    args = ap.parse_args(argv)

    from pyxml_spark.pipeline import run_with_resume, write_transcripts
    from pyxml_spark.pipeline.heuristics import ExtractConfig

    config = ExtractConfig()
    if args.min_block_chars is not None:
        config = config._replace(min_block_chars=args.min_block_chars)
    if args.max_link_density is not None:
        config = config._replace(max_link_density=args.max_link_density)

    spark = build_session(args.cpus)
    try:
        workdir = None
        input_ref = args.input
        if input_ref is None:
            workdir = tempfile.mkdtemp(prefix='pyxml_spark_')
            input_ref = os.path.join(workdir, 'transcripts.parquet')
            write_transcripts(spark, input_ref, args.rows, args.seed)
        output = args.output or os.path.join(
            workdir or tempfile.mkdtemp(prefix='pyxml_spark_'), 'out.parquet')
        manifest = args.manifest or output + '.manifest'

        t0 = time.time()
        metrics = run_with_resume(
            spark, input_ref, output, manifest,
            n_buckets=args.buckets, max_buckets=args.max_buckets,
            config=config)
        metrics['wall_seconds'] = round(time.time() - t0, 3)
        metrics['throughput_rows_per_s'] = round(
            metrics['rows_this_run'] / max(metrics['wall_seconds'], 1e-9), 1)
        print(json.dumps(metrics))
        return 0
    finally:
        spark.stop()


if __name__ == '__main__':
    raise SystemExit(main())
