"""spark-submit entry point for corpus-level near-duplicate resolution.

Runs the full MinHash-LSH dedup pipeline (pipeline/dedup.py) over a
documents-shaped table: token sets -> 64-perm signatures (one md5/token,
single aggregate pass) -> 8x8 band keys -> rank-window candidate pairs ->
exact-jaccard verification -> connected-component keeper assignment.
Writes two tables: the verified dup pairs and the (doc_id, keeper) map a
downstream training-data job anti-joins against.

Cluster launch (size the driver on the submit line — a builder-time
spark.driver.memory is a no-op once spark-submit has started the JVM):
    spark-submit --driver-memory 8g \
        --py-files dist/pyxml_spark.zip pyxml_spark/jobs/dedup.py \
        --input <parquet-path> --id-col doc_id --text-col text \
        --output <dir>

Sandbox smoke (uses the driver testdata):
    python3 pyxml_spark/jobs/dedup.py \
        --input /root/testdata/sf0.001/documents.parquet --cpus 8
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time


def main(argv=None) -> int:
    repo = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    if repo not in sys.path:
        sys.path.insert(0, repo)

    ap = argparse.ArgumentParser()
    ap.add_argument('--input', required=True, help='parquet path')
    ap.add_argument('--id-col', default='doc_id')
    ap.add_argument('--text-col', default='text')
    ap.add_argument('--output', default=None)
    ap.add_argument('--dup-threshold-x10k', type=int, default=8000)
    ap.add_argument('--pair-window', type=int, default=None,
                    help='per-bucket successor cap (default dedup.PAIR_WINDOW)')
    ap.add_argument('--cpus', type=int, default=int(os.environ.get(
        'SPARK_GRAFT_CPUS', '8')))
    ap.add_argument('--resume', action='store_true',
                    help='skip stages whose output already committed '
                         '(_SUCCESS present AND the stage manifest matches '
                         'this invocation\'s parameters) in --output — a '
                         'killed run restarts at the first incomplete stage '
                         'instead of recomputing signatures for the whole '
                         'corpus, and a changed --input/--pair-window/'
                         '--dup-threshold-x10k invalidates stale outputs '
                         'instead of silently reusing them')
    ap.add_argument('--checkpoint-dir', default=None,
                    help='reliable checkpoint dir (HDFS/object store on a '
                         'cluster) for the component-resolution iteration; '
                         'default falls back to localCheckpoint, which does '
                         'not survive executor loss')
    args = ap.parse_args(argv)

    from pyxml_spark.jobs.extract import build_session
    from pyxml_spark.pipeline.dedup import (HOT_BUCKET_THRESHOLD, MH_PRIME,
                                            N_BANDS, N_PERMS, N_SUBBUCKETS,
                                            PAIR_WINDOW, candidate_pairs,
                                            dup_components, jaccard_pairs,
                                            minhash_bands, token_sets)
    from pyxml_spark.pipeline.resume import mark_stage, stage_committed
    from pyspark.sql import functions as F

    spark = build_session(args.cpus, app='pyxml-spark-dedup')
    try:
        out_dir = args.output or tempfile.mkdtemp(prefix='pyxml_dedup_')
        t0 = time.time()

        def stage_params(stage: str) -> dict:
            """parameters a stage's output depends on — the resume manifest.
            Later stages include earlier stages' params (their inputs), so
            e.g. changing --input invalidates everything while changing
            --dup-threshold-x10k leaves toks/bands reusable."""
            p = {'manifest_version': 1, 'stage': stage,
                 'input': os.path.abspath(args.input),
                 'id_col': args.id_col, 'text_col': args.text_col,
                 'mh_prime': MH_PRIME}
            if stage in ('bands', 'pairs', 'keepers'):
                p.update(n_perms=N_PERMS, n_bands=N_BANDS)
            if stage in ('pairs', 'keepers'):
                p.update(pair_window=args.pair_window or PAIR_WINDOW,
                         n_subbuckets=N_SUBBUCKETS,
                         hot_threshold=HOT_BUCKET_THRESHOLD,
                         dup_threshold_x10k=args.dup_threshold_x10k)
            return p

        stages_run = []
        resume = args.resume

        # stage 1: token sets (staged so later stages and restarts reuse
        # the one-md5-per-token pass instead of recomputing it)
        toks_path = os.path.join(out_dir, 'toks.parquet')
        if not stage_committed(toks_path, stage_params('toks'), resume):
            token_sets(spark.read.parquet(args.input),
                       text_col=args.text_col, id_col=args.id_col) \
                .write.mode('overwrite').parquet(toks_path)
            mark_stage(toks_path, stage_params('toks'))
            stages_run.append('toks')
        toks = spark.read.parquet(toks_path)

        # stage 2: band keys — staged because candidate_pairs consumes the
        # bands THREE times (hot-bucket sizes, the salted window, the rep
        # chain); an unstaged minhash_bands would re-run the expensive
        # one-md5-per-token 64-perm signature pass once per branch
        bands_path = os.path.join(out_dir, 'bands.parquet')
        if not stage_committed(bands_path, stage_params('bands'), resume):
            minhash_bands(toks).write.mode('overwrite').parquet(bands_path)
            mark_stage(bands_path, stage_params('bands'))
            stages_run.append('bands')

        # stage 3: candidate pairs + exact-jaccard verification
        pairs_path = os.path.join(out_dir, 'dup_pairs.parquet')
        if not stage_committed(pairs_path, stage_params('pairs'), resume):
            cands = candidate_pairs(
                spark.read.parquet(bands_path),
                pair_window=args.pair_window or PAIR_WINDOW)
            jaccard_pairs(toks, cands,
                          dup_threshold_x10k=args.dup_threshold_x10k) \
                .write.mode('overwrite').parquet(pairs_path)
            mark_stage(pairs_path, stage_params('pairs'))
            stages_run.append('pairs')

        # stage 4: connected-component keepers
        keepers_path = os.path.join(out_dir, 'keepers.parquet')
        if not stage_committed(keepers_path, stage_params('keepers'), resume):
            dups = (spark.read.parquet(pairs_path)
                    .where(F.col('is_dup')).select('doc_a', 'doc_b'))
            dup_components(toks, dups,
                           checkpoint_dir=args.checkpoint_dir) \
                .write.mode('overwrite').parquet(keepers_path)
            mark_stage(keepers_path, stage_params('keepers'))
            stages_run.append('keepers')

        kept = spark.read.parquet(keepers_path)
        n_docs = kept.count()
        n_dups = kept.where(F.col('doc_id') != F.col('keeper')).count()

        # keepers are durably on disk now, so the component iteration's
        # checkpoint run dirs (incl. any left by crashed runs) are dead
        # weight — Spark never reclaims reliable checkpoints itself
        if args.checkpoint_dir:
            from pyxml_spark.pipeline.dedup import cleanup_checkpoint_runs
            cleanup_checkpoint_runs(spark, args.checkpoint_dir)
        print(json.dumps({
            'docs': n_docs,
            'candidate_pairs': spark.read.parquet(pairs_path).count(),
            'dup_docs_removed': n_dups,
            'survivors': n_docs - n_dups,
            'stages_run': stages_run,
            'pairs_path': pairs_path,
            'keepers_path': keepers_path,
            'wall_seconds': round(time.time() - t0, 3),
        }))
        return 0
    finally:
        spark.stop()


if __name__ == '__main__':
    raise SystemExit(main())
