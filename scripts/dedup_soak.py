"""End-to-end MinHash-dedup soak at 1M documents (VERDICT r2 #6).

Synthesizes a deterministic 1M-doc corpus in-Spark (no driver loop, no
external data) with planted duplicate structure designed to stress the
scale paths:

* a **degenerate hot cluster**: the first 5% of doc_ids all carry the *identical*
  text, so one band key holds 5% of the corpus in every band — the
  worst-case bucket the salted sub-bucket windows exist for;
* **95k near-dup pairs**: for doc_id >= 50k with doc_id % 10 == 0, doc
  id+1 is the same token stream plus one extra token (jaccard ~0.92,
  above the 0.8 dup cutoff, within the 8x8 banding S-curve);
* the remaining ~80% are independent token draws (xxhash64-derived, vocab
  5000) with no planted similarity.

Measured and written to BENCH/DEDUP_SOAK_{rows}.md + stdout JSON:

* candidate-pair count and fraction of n^2 (linearity evidence: the hard
  bound is N_BANDS * (PAIR_WINDOW + 1) * n);
* peak rows per (band_id, band_key) bucket vs peak rows per salted window
  group — the single-task-sort straggler bound;
* planted-structure recall off the keeper table (hot cluster collapses to
  one keeper; near-dup pairs share keepers);
* wall per stage.

Run: python3 scripts/dedup_soak.py [--rows 1000000] [--cpus N] [--keep]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import run_soak, soak_parser, staged  # noqa: E402

VOCAB = 5_000


def synth_docs(spark, n, hot):
    """deterministic documents(doc_id, text) with planted dup structure"""
    from pyspark.sql import functions as F
    ids = spark.range(0, n).withColumnRenamed('id', 'doc_id')
    gen = (F.when(F.col('doc_id') < hot, F.lit(0).cast('long'))
           .when(F.col('doc_id') % 10 == 1, F.col('doc_id') - 1)
           .otherwise(F.col('doc_id')))
    d = ids.select('doc_id', gen.alias('gen_id'))
    ntok = (F.abs(F.xxhash64(F.col('gen_id'), F.lit('len'))) % 18 + 12)
    toks = F.transform(
        F.sequence(F.lit(1), ntok.cast('int')),
        lambda j: F.concat(
            F.lit('w'),
            (F.abs(F.xxhash64(F.col('gen_id'), j)) % VOCAB).cast('string')))
    text = F.concat_ws(' ', toks)
    near = (F.col('doc_id') % 10 == 1) & (F.col('doc_id') >= hot)
    text = F.when(near, F.concat(text, F.lit(' x'),
                                 F.col('doc_id').cast('string'))) \
        .otherwise(text)
    return d.select('doc_id', text.alias('text'))


def soak(spark, tmp, args):
    from pyspark.sql import functions as F

    from pyxml_spark.pipeline.dedup import (HOT_BUCKET_THRESHOLD, N_BANDS,
                                            N_SUBBUCKETS, PAIR_WINDOW,
                                            candidate_pairs, dup_components,
                                            jaccard_pairs, minhash_bands,
                                            salt_expr, token_sets)

    n = args.rows
    hot = max(1000, n // 20)  # 5% degenerate cluster
    walls = {}
    t0 = time.time()
    docs = staged(synth_docs(spark, n, hot).repartition(4 * args.cpus),
                  f'{tmp}/documents.parquet')
    walls['synth'] = round(time.time() - t0, 1)

    t0 = time.time()
    toks = staged(token_sets(docs), f'{tmp}/toks.parquet')
    bands = staged(minhash_bands(toks), f'{tmp}/bands.parquet')
    walls['signatures'] = round(time.time() - t0, 1)

    # bucket-vs-window balance (the straggler bound): reproduce
    # candidate_pairs's exact partitioning — hot buckets get the
    # band-dependent salt, the rest stay whole (pipeline salt_expr)
    t0 = time.time()
    sizes = bands.groupBy('band_id', 'band_key').agg(
        F.count('*').alias('_bsz'))
    hot_keys = (sizes.where(F.col('_bsz') > HOT_BUCKET_THRESHOLD)
                .select('band_id', 'band_key',
                        F.lit(True).alias('_hot')))
    bucket_max = sizes.agg(F.max('_bsz')).first()[0]
    window_max = (bands.join(F.broadcast(hot_keys),
                             ['band_id', 'band_key'], 'left')
                  .select('band_id', 'band_key',
                          F.when(F.col('_hot'), salt_expr())
                          .otherwise(F.lit(0)).alias('salt'))
                  .groupBy('band_id', 'band_key', 'salt').count()
                  .agg(F.max('count')).first()[0])
    walls['balance_probe'] = round(time.time() - t0, 1)

    t0 = time.time()
    cands = candidate_pairs(bands)
    pairs = staged(jaccard_pairs(toks, cands), f'{tmp}/pairs.parquet')
    n_cand = pairs.count()
    walls['candidates_jaccard'] = round(time.time() - t0, 1)

    t0 = time.time()
    dups = pairs.where(F.col('is_dup')).select('doc_a', 'doc_b')
    keepers = staged(dup_components(toks, dups), f'{tmp}/keepers.parquet')
    walls['components'] = round(time.time() - t0, 1)

    # planted-structure recall
    t0 = time.time()
    hot_roots = (keepers.where(F.col('doc_id') < hot)
                 .select('keeper').distinct().count())
    a = keepers.where((F.col('doc_id') >= hot)
                      & (F.col('doc_id') % 10 == 0)) \
        .select('doc_id', F.col('keeper').alias('ka'))
    b = keepers.where((F.col('doc_id') >= hot)
                      & (F.col('doc_id') % 10 == 1)) \
        .select((F.col('doc_id') - 1).alias('doc_id'),
                F.col('keeper').alias('kb'))
    j = a.join(b, 'doc_id')
    pair_total = j.count()
    pair_linked = j.where(F.col('ka') == F.col('kb')).count()
    n_removed = keepers.where(F.col('doc_id') != F.col('keeper')).count()
    walls['recall_probe'] = round(time.time() - t0, 1)

    out = {
        'rows': n,
        'hot_cluster': hot,
        'candidate_pairs': n_cand,
        'cand_frac_of_n2': round(n_cand / (n * (n - 1) / 2), 8),
        'cand_per_doc': round(n_cand / n, 3),
        'linear_bound_per_doc': N_BANDS * (PAIR_WINDOW + 1),
        'bucket_max_rows': bucket_max,
        'window_max_rows': window_max,
        'hot_cluster_roots': hot_roots,
        'near_dup_pairs': pair_total,
        'near_dup_linked': pair_linked,
        'near_dup_recall': round(pair_linked / max(pair_total, 1), 4),
        'dup_docs_removed': n_removed,
        'walls': walls,
        'wall_total': round(sum(walls.values()), 1),
    }

    md = f"""# BENCH/DEDUP_SOAK ({n:,} docs) — end-to-end near-dup run

Corpus: {n:,} synthetic docs (in-Spark deterministic generation — 5%
degenerate hot cluster of byte-identical docs, {pair_total:,} planted
near-dup pairs at jaccard ~0.92, rest independent). local[{args.cpus}].

| metric | value | bound / expectation |
|---|---|---|
| candidate pairs | {n_cand:,} | hard linear bound {N_BANDS * (PAIR_WINDOW + 1)}·n = {N_BANDS * (PAIR_WINDOW + 1) * n:,} |
| candidates / doc | {out['cand_per_doc']} | stays O(1) per doc |
| candidate fraction of n² | {out['cand_frac_of_n2']:.2e} | quadratic join would be 1.0 |
| peak (band,key) bucket | {bucket_max:,} rows | hot cluster = {hot:,} docs/band |
| peak salted window group | {window_max:,} rows | bucket / {N_SUBBUCKETS} sub-buckets — the largest single-task sort |
| hot-cluster keeper roots | {hot_roots} | must be 1 ({hot:,} docs → one component) |
| near-dup pair recall | {out['near_dup_recall']:.4f} | ≥ 0.98 expected from the 8×8 S-curve at j≈0.92 |
| dup docs removed | {n_removed:,} | ≈ {hot - 1:,} hot + {pair_total:,} near-dups |

Stage walls (s): {json.dumps(walls)} — total {out['wall_total']}s.

Scale reading: candidates per doc ({out['cand_per_doc']}) sits far under
the worst-case {N_BANDS * (PAIR_WINDOW + 1)}/doc even with 5% of the
corpus in one bucket, and the largest window sort is {window_max:,} rows
against a {bucket_max:,}-row bucket — at 10^9+ docs both numbers grow
linearly in the bucket's share, never quadratically, and the sub-bucket
count is a knob. Component resolution converges via pointer doubling in
O(log diameter) rounds (raises on non-convergence).
"""
    # run_soak writes the per-scale raw report DEDUP_SOAK_{n}.md;
    # BENCH/DEDUP_SOAK.md is the curated cross-scale summary, never clobbered
    return out, md


def main(argv=None) -> int:
    ap = soak_parser(rows=1_000_000)
    ap.add_argument('--keep', action='store_true',
                    help='keep the temp tables')
    return run_soak('DEDUP_SOAK', ap.parse_args(argv), soak)


if __name__ == '__main__':
    raise SystemExit(main())
