"""spark-submit entry point: end-to-end training-data curation.

Chains the pipeline's curation operators over a documents-shaped table,
the composition a pretraining-data job runs at corpus scale:

  1. **score + gate** (pipeline/curate.py): quality shape bounds,
     language id, Gopher-style top-bigram repetition — one projection
     pass plus a linear repetition aggregate; failures are counted per
     gate, survivors continue.
  2. **near-dup dedup** (pipeline/dedup.py): MinHash-LSH pairs + exact
     jaccard + pointer-doubling components over the gated survivors;
     non-keepers are anti-joined out.
  3. **decontamination** (optional ``--benchmark`` parquet): drop docs
     sharing any exact 8-token gram with the benchmark corpus
     (hash-gram broadcast join).
  4. **sequence packing** (pipeline/prefix.py): running token count →
     pack_id per (source, 512-token budget), no whole-source sort.
  5. **mixture sampling** (optional ``--mixture`` JSON of per-source
     epoch weights): deterministic fractional up/down-sampling via
     pipeline/curate.mixture_copies — content-independent md5(doc_id)
     copy decisions, so re-runs never migrate which docs carry the
     extra fractional copy.

Each stage writes parquet + a params manifest (same contract as
jobs/dedup.py: ``--resume`` honors _SUCCESS only when the manifest
matches), so a killed corpus run restarts at the first incomplete stage.
Final output: ``curated.parquet`` (doc_id, source, text, n_tokens,
pack_id) + a metrics JSON line on stdout with per-gate removal counts.

Cluster launch:
    spark-submit --driver-memory 8g \
        --py-files dist/pyxml_spark.zip pyxml_spark/jobs/curate.py \
        --input <parquet> --output <dir> [--benchmark <parquet>] \
        [--checkpoint-dir <dir>] [--resume]

Sandbox smoke:
    python3 pyxml_spark/jobs/curate.py \
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
    ap.add_argument('--input', required=True)
    ap.add_argument('--id-col', default='doc_id')
    ap.add_argument('--text-col', default='text')
    ap.add_argument('--source-col', default='source')
    ap.add_argument('--output', default=None)
    ap.add_argument('--benchmark', default=None,
                    help='parquet of benchmark/eval docs to decontaminate '
                         'against (same text column name)')
    ap.add_argument('--no-broadcast-benchmark', action='store_true',
                    help='drop the forced broadcast of the benchmark gram '
                         'set (use when the benchmark parquet is not '
                         'eval-suite-small; AQE then picks the strategy)')
    ap.add_argument('--max-rep-x10k', type=int, default=None)
    ap.add_argument('--pack-budget', type=int, default=512)
    ap.add_argument('--dup-threshold-x10k', type=int, default=8000)
    ap.add_argument('--mixture', default=None,
                    help='JSON object of per-source epoch weights '
                         '(e.g. \'{"src0": 2.5, "src1": 0.25}\'; sources '
                         'not listed keep weight 1.0) — adds a final '
                         'deterministic weighted-sampling stage')
    ap.add_argument('--checkpoint-dir', default=None)
    ap.add_argument('--cpus', type=int, default=int(os.environ.get(
        'SPARK_GRAFT_CPUS', '8')))
    ap.add_argument('--resume', action='store_true')
    args = ap.parse_args(argv)

    weights = None
    if args.mixture:
        try:
            weights = json.loads(args.mixture)
        except ValueError:
            raise SystemExit('--mixture must be a JSON object of '
                             'non-negative per-source weights')
        if not isinstance(weights, dict) or not all(
                isinstance(k, str) and isinstance(v, (int, float))
                and v >= 0 for k, v in weights.items()):
            raise SystemExit('--mixture must be a JSON object of '
                             'non-negative per-source weights')

    from pyspark.sql import functions as F

    from pyxml_spark.jobs.extract import build_session
    from pyxml_spark.pipeline.curate import (REP_MAX_X10K, decontaminate,
                                             pack_sequences, passes_gates,
                                             score_documents)
    from pyxml_spark.pipeline.dedup import (PAIR_WINDOW, candidate_pairs,
                                            dup_components, jaccard_pairs,
                                            minhash_bands, token_sets)
    from pyxml_spark.pipeline.resume import mark_stage, stage_committed

    max_rep = args.max_rep_x10k if args.max_rep_x10k is not None \
        else REP_MAX_X10K
    spark = build_session(args.cpus, app='pyxml-spark-curate')
    try:
        out_dir = args.output or tempfile.mkdtemp(prefix='pyxml_curate_')
        t0 = time.time()
        metrics: dict = {}

        def stage_params(stage: str) -> dict:
            p = {'manifest_version': 1, 'stage': stage,
                 'input': os.path.abspath(args.input),
                 'id_col': args.id_col, 'text_col': args.text_col,
                 'source_col': args.source_col, 'max_rep_x10k': max_rep}
            # manifests are cumulative downstream: every stage carries the
            # params of ALL upstream stages whose output it consumes, so a
            # resumed run with any changed upstream knob re-runs this stage
            # too (e.g. a new --dup-threshold-x10k must rebuild mixed.parquet,
            # not just keepers/curated)
            if stage in ('keepers', 'curated', 'mixed'):
                p.update(dup_threshold_x10k=args.dup_threshold_x10k,
                         pair_window=PAIR_WINDOW)
            if stage in ('curated', 'mixed'):
                # --no-broadcast-benchmark is deliberately NOT a stage
                # param: it changes the join strategy, never the rows, so
                # flipping it must not invalidate a committed stage
                p.update(benchmark=(os.path.abspath(args.benchmark)
                                    if args.benchmark else None),
                         pack_budget=args.pack_budget)
            if stage == 'mixed':
                p.update(mixture={k: weights[k] for k in sorted(weights)})
            return p

        stages_run = []
        resume = args.resume
        docs = spark.read.parquet(args.input).select(
            F.col(args.id_col).alias('doc_id'),
            F.col(args.source_col).alias('source'),
            F.col(args.text_col).alias('text'))

        # stage 1: scores + gates (staged so dedup reuses it on resume)
        gated_path = os.path.join(out_dir, 'gated.parquet')
        if not stage_committed(gated_path, stage_params('gated'), resume):
            scored = score_documents(docs)
            scored = scored.withColumn('passes', passes_gates(max_rep))
            scored.write.mode('overwrite').parquet(gated_path)
            mark_stage(gated_path, stage_params('gated'))
            stages_run.append('gated')
        scored = spark.read.parquet(gated_path)
        agg = scored.agg(
            F.count('*').alias('n'),
            F.sum((~F.col('is_quality')).cast('long')).alias('fq'),
            F.sum((F.col('lang') != 'en').cast('long')).alias('fl'),
            F.sum((F.col('rep_x10k') > max_rep).cast('long')).alias('fr'),
            F.sum(F.col('passes').cast('long')).alias('np')).first()
        metrics.update(n_input=agg['n'], n_fail_quality=agg['fq'],
                       n_fail_lang=agg['fl'], n_fail_repetition=agg['fr'],
                       n_pass_gates=agg['np'])
        survivors = scored.where('passes') \
            .select('doc_id', 'source', 'text', 'n_tokens')

        # stage 2: near-dup keepers over the survivors. token_sets and
        # bands are staged to parquet (jobs/dedup.py's lesson): the toks
        # pass (one md5 per token over all survivor text) is consumed by
        # banding, BOTH sides of the jaccard verify, and the component
        # label init — unstaged it would re-tokenize the corpus per
        # consumer
        keepers_path = os.path.join(out_dir, 'keepers.parquet')
        if not stage_committed(keepers_path, stage_params('keepers'), resume):
            toks_path = os.path.join(out_dir, 'toks.parquet')
            token_sets(survivors).write.mode('overwrite') \
                .parquet(toks_path)
            toks = spark.read.parquet(toks_path)
            bands_path = os.path.join(out_dir, 'bands.parquet')
            minhash_bands(toks).write.mode('overwrite') \
                .parquet(bands_path)
            cands = candidate_pairs(spark.read.parquet(bands_path))
            dups = (jaccard_pairs(
                toks, cands, dup_threshold_x10k=args.dup_threshold_x10k)
                .where(F.col('is_dup')).select('doc_a', 'doc_b'))
            dup_components(toks, dups,
                           checkpoint_dir=args.checkpoint_dir) \
                .write.mode('overwrite').parquet(keepers_path)
            mark_stage(keepers_path, stage_params('keepers'))
            stages_run.append('keepers')
            if args.checkpoint_dir:
                # keepers are durable — reclaim the component iteration's
                # reliable-checkpoint run dirs (Spark never does)
                from pyxml_spark.pipeline.dedup import \
                    cleanup_checkpoint_runs
                cleanup_checkpoint_runs(spark, args.checkpoint_dir)
        keepers = spark.read.parquet(keepers_path)
        deduped = (survivors.join(keepers, 'doc_id')
                   .where(F.col('doc_id') == F.col('keeper'))
                   .drop('keeper'))
        metrics['n_dup_removed'] = (metrics['n_pass_gates']
                                    - deduped.count())

        # stage 3 + 4: decontaminate (optional) and pack
        curated_path = os.path.join(out_dir, 'curated.parquet')
        if not stage_committed(curated_path, stage_params('curated'), resume):
            kept = deduped
            if args.benchmark:
                bench = spark.read.parquet(args.benchmark)
                flags = decontaminate(
                    kept, bench, text_col='text',
                    bench_text_col=args.text_col,
                    broadcast=not args.no_broadcast_benchmark)
                kept = (kept.join(flags, 'doc_id')
                        .where(~F.col('contaminated'))
                        .drop('n_gram_hits', 'contaminated'))
            pack_sequences(kept, args.pack_budget) \
                .select('doc_id', 'source', 'text', 'n_tokens', 'pack_id') \
                .write.mode('overwrite').parquet(curated_path)
            mark_stage(curated_path, stage_params('curated'))
            stages_run.append('curated')
        curated = spark.read.parquet(curated_path)
        n_curated = curated.count()
        metrics['n_contaminated_removed'] = (
            metrics['n_pass_gates'] - metrics['n_dup_removed'] - n_curated)
        metrics['n_curated'] = n_curated
        metrics['n_packs'] = curated.select('source', 'pack_id') \
            .distinct().count()

        # stage 5 (optional): epoch-weighted mixture over the curated
        # output — deterministic fractional up/down-sampling per source
        # (pipeline/curate.mixture_copies, the contract-pinned path)
        if args.mixture:
            from pyxml_spark.pipeline.curate import (mixture_copies,
                                                     source_weight_cols)
            mixed_path = os.path.join(out_dir, 'mixed.parquet')
            if not stage_committed(mixed_path, stage_params('mixed'), resume):
                whole, frac16 = source_weight_cols(weights)
                mixture_copies(curated, whole, frac16) \
                    .write.mode('overwrite').parquet(mixed_path)
                mark_stage(mixed_path, stage_params('mixed'))
                stages_run.append('mixed')
            metrics['n_mixed'] = spark.read.parquet(mixed_path).count()
            metrics['mixed_path'] = mixed_path

        print(json.dumps({
            **metrics,
            'stages_run': stages_run,
            'curated_path': curated_path,
            'wall_seconds': round(time.time() - t0, 3),
        }))
        return 0
    finally:
        spark.stop()


if __name__ == '__main__':
    raise SystemExit(main())
