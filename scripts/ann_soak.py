"""ANN recall/probe soak at 1M vectors (VERDICT r3 #7).

Synthesizes a deterministic 1M x 64-dim vector corpus in-Spark (no driver
loop, no external data): coordinates are xxhash64-derived uniforms in
[-1, 1); 1% of vectors are planted near-duplicate twins of their
predecessor (coordinate-wise perturbation at 10% scale -> cos ~= 0.995 —
the retrieval target a dedup/similarity pipeline must not miss).

Measures, at the library defaults (16 planes x 4 tables, Hamming-1
probing — pipeline/similarity.lsh_topk):

* planted-twin recall: fraction of probed planted pairs where the twin
  appears in the ANN top-2 (target >= 0.99: per-table P(sig within
  Hamming 1) ~= 0.91 at cos 0.995, 4 independent tables -> miss ~1e-4);
* recall@10 vs exact brute force on the same queries (random gaussian-ish
  corpora are the known-hard case — reported for honesty, the planted
  metric is the design target);
* probed candidate fraction: sum of probed-bucket occupancies / n per
  query (target: a few percent at most; expectation ~0.1% at 2^16
  buckets);
* stage walls (signatures, per-query ANN, per-query brute force).

Writes BENCH/ANN_SOAK_{n}.md + one stdout JSON line.

Run: python3 scripts/ann_soak.py [--rows 1000000] [--cpus N] [--queries 8]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import run_soak, soak_parser, staged  # noqa: E402

DIM = 64
PLANTED_EVERY = 100  # vec_id % 100 == 1 is a twin of vec_id - 1
NOISE = 0.1


def synth_vecs(spark, n: int):
    """deterministic vectors(vec_id, v) with planted near-dup twins"""
    from pyspark.sql import functions as F
    ids = spark.range(0, n).withColumnRenamed('id', 'vec_id')
    twin = (F.col('vec_id') % PLANTED_EVERY == 1) & (F.col('vec_id') > 0)
    gen = F.when(twin, F.col('vec_id') - 1).otherwise(F.col('vec_id'))
    d = ids.select('vec_id', gen.alias('gen_id'), twin.alias('twin'))

    def unif(idc, j, salt):
        return ((F.abs(F.xxhash64(idc, j, F.lit(salt))) % 1_000_001)
                / 500_000.5 - 1.0)

    v = F.transform(
        F.sequence(F.lit(1), F.lit(DIM)),
        lambda j: unif(F.col('gen_id'), j, 'v')
        + F.when(F.col('twin'),
                 unif(F.col('vec_id'), j, 'd') * NOISE)
        .otherwise(F.lit(0.0)))
    return d.select('vec_id', v.alias('v'))


def soak(spark, tmp, args):
    from pyspark.sql import functions as F

    from pyxml_spark.pipeline.similarity import (_flip_masks,
                                                 add_lsh_signature,
                                                 brute_force_topk,
                                                 build_lsh_index, lsh_topk)

    n = args.rows
    n_planes, n_tables, hamming = 16, 4, 1
    walls = {}
    t0 = time.time()
    vecs = staged(synth_vecs(spark, n).repartition(4 * args.cpus),
                  f'{tmp}/vectors.parquet')
    walls['synth'] = round(time.time() - t0, 1)

    # index build: ONE signature pass over the corpus, persisted —
    # the production shape (amortized across all queries)
    t0 = time.time()
    index = staged(build_lsh_index(vecs, n_planes, n_tables, dim=DIM),
                   f'{tmp}/index.parquet')
    walls['index_build'] = round(time.time() - t0, 1)

    # probe-fraction accounting: per-table bucket occupancy histogram
    # off the staged index
    t0 = time.time()
    occ = [{r['sig']: r['count'] for r in
            index.groupBy(F.col(f'sig{t}').alias('sig')).count()
            .collect()}
           for t in range(n_tables)]
    walls['bucket_histograms'] = round(time.time() - t0, 1)

    # queries: planted-pair bases (twin = qid + 1 exists)
    qids = [(i + 1) * PLANTED_EVERY for i in range(args.queries)]
    masks = [0] + _flip_masks(n_planes, hamming)
    twin_hits = 0
    recall_hits = recall_total = 0
    probe_fracs = []
    ann_walls = []
    bf_walls = []
    for qid in qids:
        q = vecs.where(F.col('vec_id') == qid) \
            .select(F.col('v').alias('q'))
        # probed fraction from the histograms (same sigs lsh_topk uses)
        qsigs = [add_lsh_signature(q.withColumnRenamed('q', 'v'),
                                   n_planes, out='qsig', dim=DIM,
                                   table=t).first()['qsig']
                 for t in range(n_tables)]
        cand = sum(occ[t].get(qsigs[t] ^ m, 0)
                   for t in range(n_tables) for m in masks)
        probe_fracs.append(cand / n)

        t0 = time.time()
        approx = [r.vec_id for r in
                  lsh_topk(vecs, q, k=10, n_planes=n_planes,
                           n_tables=n_tables, probe_hamming=hamming,
                           dim=DIM, index=index).collect()]
        ann_walls.append(time.time() - t0)
        t0 = time.time()
        exact = [r.vec_id for r in
                 brute_force_topk(vecs, q, k=10).collect()]
        bf_walls.append(time.time() - t0)

        if qid + 1 in approx[:2]:
            twin_hits += 1
        recall_hits += len(set(exact) & set(approx))
        recall_total += len(exact)

    walls['ann_queries'] = round(sum(ann_walls), 1)
    walls['brute_force'] = round(sum(bf_walls), 1)

    # batched shape: ALL queries in one plan (lsh_topk_batch) vs a
    # batched brute force (crossJoin + per-qid window). Single-query
    # driver jobs pay fixed plan/codegen + full index/rerank IO per
    # query; the batch amortizes both — this is the fan-out shape a
    # cluster job uses.
    from pyspark.sql.window import Window
    from pyxml_spark.pipeline.similarity import cosine, lsh_topk_batch
    queries_df = (vecs.where(F.col('vec_id').isin(qids))
                  .select(F.col('vec_id').alias('qid'),
                          F.col('v').alias('q')))
    t0 = time.time()
    batch_rows = lsh_topk_batch(vecs, queries_df, k=10,
                                n_planes=n_planes, n_tables=n_tables,
                                probe_hamming=hamming, dim=DIM,
                                index=index).collect()
    walls['ann_batched'] = round(time.time() - t0, 1)
    t0 = time.time()
    w = Window.partitionBy('qid').orderBy(F.desc('cos_sim'),
                                          F.asc('vec_id'))
    bf_batch = (vecs.crossJoin(F.broadcast(queries_df))
                .select('qid', 'vec_id',
                        cosine('v', 'q').alias('cos_sim'))
                .withColumn('rnk', F.row_number().over(w))
                .where(F.col('rnk') <= 10))
    bf_batch_rows = bf_batch.collect()
    walls['bf_batched'] = round(time.time() - t0, 1)
    batch_twin_hits = sum(
        1 for r in batch_rows
        if r.qid + 1 == r.vec_id and r.rnk <= 2)
    assert len(bf_batch_rows) == 10 * len(qids)
    out = {
        'rows': n, 'dim': DIM,
        'n_planes': n_planes, 'n_tables': n_tables,
        'probe_hamming': hamming,
        'queries': len(qids),
        'planted_twin_recall': round(twin_hits / len(qids), 4),
        'recall_at_10_vs_exact': round(recall_hits / recall_total, 4),
        'probe_frac_mean': round(sum(probe_fracs) / len(probe_fracs),
                                 6),
        'probe_frac_max': round(max(probe_fracs), 6),
        'ann_s_per_query': round(sum(ann_walls) / len(ann_walls), 2),
        'bf_s_per_query': round(sum(bf_walls) / len(bf_walls), 2),
        'ann_batched_s_per_query': round(
            walls['ann_batched'] / len(qids), 2),
        'bf_batched_s_per_query': round(
            walls['bf_batched'] / len(qids), 2),
        'batch_twin_recall': round(batch_twin_hits / len(qids), 4),
        'walls': walls,
        'wall_total': round(sum(walls.values()), 1),
    }

    md = f"""# BENCH/ANN_SOAK ({n:,} vectors, dim {DIM}) — multi-table LSH at library defaults

Corpus: {n:,} deterministic in-Spark vectors, 1% planted near-dup twins
(cos ~= 0.995). local[{args.cpus}]; {n_planes} planes x {n_tables}
tables, Hamming-{hamming} probing ({len(masks)} probes/table).

| metric | value | target / expectation |
|---|---|---|
| planted-twin recall (top-2) | {out['planted_twin_recall']:.4f} | >= 0.99 (4-table miss ~1e-4 at cos .995) |
| recall@10 vs exact | {out['recall_at_10_vs_exact']:.4f} | honesty metric — random gaussians are LSH's hard case |
| probed fraction (mean) | {out['probe_frac_mean']:.6f} | <= a few percent; ~1e-3 expected at 2^{n_planes} buckets |
| probed fraction (max) | {out['probe_frac_max']:.6f} | |
| ANN s/query (single-query jobs) | {out['ann_s_per_query']} | fixed plan/codegen + full rerank IO per job — NOT the production shape |
| ANN s/query (batched, {len(qids)} queries/plan) | {out['ann_batched_s_per_query']} | lsh_topk_batch: one plan, amortized index/rerank IO |
| brute force s/query (single / batched) | {out['bf_s_per_query']} / {out['bf_batched_s_per_query']} | scores ALL n rows per query — O(n) work vs ANN's O(probed) |
| batched planted-twin recall | {out['batch_twin_recall']:.4f} | must equal the per-query recall |

Stage walls (s): {json.dumps(walls)} — total {out['wall_total']}s.

Latency reading: per-query walls at this scale are dominated by fixed
plan/codegen and by re-reading the index/vectors per driver job — the
probed WORK is ~{out['probe_frac_mean']:.1%} of brute force's. The batch
operator amortizes the fixed cost across queries; at 10^8+ vectors (or
on a cluster where the index is cached/bucketed) the O(probed) vs O(n)
work ratio dominates and the LSH path wins outright, which is why the
probed fraction — scale-invariant — is the design metric.

Scale reading: the probed-candidate count is (occupancy of {len(masks)}
buckets) x {n_tables} tables; with ~O(1) bucket occupancy at
n/2^{n_planes} per bucket it grows linearly in n while its FRACTION of
the corpus shrinks — at 10^9 vectors the same defaults probe ~1e-4 of
the corpus, and plane count scales as log2(n) to hold occupancy flat.
The per-table semi-join shape means only (vec_id, sig) pairs flow
through the probe joins; embeddings are touched once for signatures and
once for the candidate rerank.
"""
    return out, md


def main(argv=None) -> int:
    ap = soak_parser(rows=1_000_000)
    ap.add_argument('--queries', type=int, default=8)
    return run_soak('ANN_SOAK', ap.parse_args(argv), soak)


if __name__ == '__main__':
    raise SystemExit(main())
