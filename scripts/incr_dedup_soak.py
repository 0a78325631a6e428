"""Incremental-ingest dedup soak: a 100k-doc shard against a persisted
1M-doc corpus band index (incremental_candidate_pairs), with planted
twins and the corpus's degenerate hot cluster as stress structure.

What it proves at scale:
* the shard ingest never recomputes corpus signatures — the one-time
  index build cost is paid once, the per-shard cost is shard-sized
  (walls reported separately, that split IS the headline);
* planted recall: shard docs planted as near-dups of corpus docs (incl.
  twins pointing INTO the 5% hot cluster, which exercises the salted
  min-rep regime) end with >= 1 jaccard-VERIFIED link;
* bounded fan-out: max links per shard doc stays within the documented
  N_BANDS * hot-regime/small-regime bounds even with a 50k-member hot
  bucket in every band.

Corpus generator is shared with scripts/dedup_soak.py (same planted
structure); shard docs with id % 5 == 0 are near-dups (one extra token)
of corpus doc (id - n) % n, the rest independent draws.

Run: python3 scripts/incr_dedup_soak.py [--rows 1000000] [--shard 100000]
     [--cpus N]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_SCRIPTS = os.path.dirname(os.path.abspath(__file__))
if _SCRIPTS not in sys.path:  # survive python -m / imports from tests
    sys.path.insert(0, _SCRIPTS)

from bench import run_soak, soak_parser, staged  # noqa: E402
from dedup_soak import synth_docs  # noqa: E402  (same dir)


def synth_shard(spark, corpus_n, shard_n):
    """deterministic shard: ids corpus_n..corpus_n+shard_n; id % 5 == 0
    docs are near-dups (one extra token) of corpus doc (id-corpus_n) % corpus_n"""
    from pyspark.sql import functions as F
    hot = max(1000, corpus_n // 20)  # dedup_soak's guard: the hot
    # cluster must actually cross HOT_BUCKET_THRESHOLD at small --rows,
    # or the salted min-rep regime silently goes unexercised
    base = synth_docs(spark, corpus_n + shard_n, hot=hot)
    shard = base.where(F.col('doc_id') >= corpus_n)
    planted = F.col('doc_id') % 5 == 0
    twin_gen = (F.col('doc_id') - corpus_n) % corpus_n
    twin_base = synth_docs(spark, corpus_n, hot=hot) \
        .withColumnRenamed('doc_id', 'twin_id') \
        .withColumnRenamed('text', 'twin_text')
    shard = (shard.withColumn('twin_id',
                              F.when(planted, twin_gen).otherwise(F.lit(-1)))
             .join(twin_base, 'twin_id', 'left'))
    text = F.when(planted,
                  F.concat(F.col('twin_text'), F.lit(' y'),
                           F.col('doc_id').cast('string'))) \
        .otherwise(F.col('text'))
    return shard.select('doc_id', text.alias('text'),
                        F.col('twin_id').cast('long').alias('twin_id'))


def soak(spark, tmp, args):
    from pyspark.sql import functions as F
    from pyxml_spark.pipeline.dedup import (N_BANDS, N_SUBBUCKETS,
                                            incremental_candidate_pairs,
                                            jaccard_pairs, minhash_bands,
                                            token_sets)

    # hot MUST match synth_shard's internal value or twin texts
    # diverge from the corpus texts they were planted against
    corpus = staged(synth_docs(spark, args.rows,
                               hot=max(1000, args.rows // 20)),
                    f'{tmp}/corpus')
    shard = staged(synth_shard(spark, args.rows, args.shard),
                   f'{tmp}/shard_docs')

    # one-time cost: the persisted corpus band index
    t0 = time.time()
    index = staged(minhash_bands(token_sets(corpus)), f'{tmp}/index')
    index_build_s = time.time() - t0

    # per-shard cost: shard bands + candidate links + verification
    t0 = time.time()
    nb = staged(minhash_bands(token_sets(shard)), f'{tmp}/shard_bands')
    links = staged(incremental_candidate_pairs(nb, index), f'{tmp}/links')
    # the operator's documented verification composition: corpus
    # tokens only for LINKED docs (a bare token_sets(corpus) would
    # re-tokenize the whole 1M corpus inside the 'shard-sized'
    # wall — O(corpus), exactly the cost this soak claims to avoid)
    linked_old = links.select(F.col('doc_b').alias('doc_id')) \
        .distinct()
    toks = staged(token_sets(corpus.join(linked_old, 'doc_id'))
                  .unionByName(token_sets(shard.select('doc_id', 'text'))),
                  f'{tmp}/toks')
    verified = staged(jaccard_pairs(toks, links).where(F.col('is_dup'))
                      .select('doc_a', 'doc_b'), f'{tmp}/verified')
    shard_ingest_s = time.time() - t0

    n_links = links.count()
    n_verified = verified.count()
    fanout = links.groupBy('doc_a').agg(F.count('*').alias('k')) \
        .agg(F.max('k').alias('mx')).collect()[0]
    planted = shard.where(F.col('twin_id') >= 0)
    n_planted = planted.count()
    hits = (planted.join(verified.select(F.col('doc_a')
                                         .alias('doc_id')).distinct(),
                         'doc_id'))
    n_recalled = hits.count()
    recall = n_recalled / n_planted
    from pyxml_spark.pipeline.dedup import HOT_BUCKET_THRESHOLD
    summary = {
        'corpus_rows': args.rows, 'shard_rows': args.shard,
        'cpus': args.cpus,
        'index_build_s': round(index_build_s, 1),
        'shard_ingest_s': round(shard_ingest_s, 1),
        'candidate_links': n_links,
        'verified_links': n_verified,
        'max_links_per_shard_doc': fanout['mx'],
        'avg_links_per_shard_doc': round(n_links / args.shard, 2),
        'planted': n_planted,
        'planted_recall': round(recall, 4),
        'n_bands': N_BANDS, 'n_subbuckets': N_SUBBUCKETS,
    }
    # the soak FAILS on regression, it doesn't just report (the
    # 'soak rigor gaps' self-review class from round 4)
    assert recall >= 0.99, summary
    assert fanout['mx'] <= N_BANDS * HOT_BUCKET_THRESHOLD, summary
    md = (f'# Incremental dedup soak: {args.shard:,}-doc shard '
          f'vs persisted {args.rows:,}-doc index\n\n'
          'Planted near-dups (incl. twins into the 5% hot '
          'cluster, exercising the salted min-rep regime); '
          'links jaccard-verified before counting recall, as '
          'the operator contract requires. The wall split is '
          'the headline: the index build is paid ONCE, every '
          'later shard pays only the shard-sized cost.\n\n'
          '| metric | value |\n|---|---|\n'
          + ''.join(f'| {k} | {v} |\n' for k, v in summary.items()))
    return summary, md


def main(argv=None) -> int:
    ap = soak_parser(rows=1_000_000)
    ap.add_argument('--shard', type=int, default=100_000)
    return run_soak('INCR_DEDUP_SOAK', ap.parse_args(argv), soak)


if __name__ == '__main__':
    raise SystemExit(main())
