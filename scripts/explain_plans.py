"""Capture physical plans for the pipeline's key operators into PLANS.md and
assert the scale-critical properties:

* parquet scans push filters (PushedFilters) and prune columns (ReadSchema);
* the resume job's pending turns are a bucket IN filter of literals: no
  join, no shuffle and no frame built from a Python list;
* relational glue runs in WholeStageCodegen;
* the extraction stage is a single Exchange (the salted repartition) feeding
  one ArrowEvalPython/MapInArrow stage — no extra shuffles;
* the resume job's extraction is a single range Exchange on its buckets;
* MinHash banding runs its minima aggregate once and decontamination runs
  no higher-order function (no array builder pasted into an inferred
  Generate filter).

Usage: python3 scripts/explain_plans.py [sf_dir]
"""
from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def plan_of(df, mode: str = 'formatted') -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'

    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from pyxml_spark.jobs.extract import build_session
    from pyxml_spark.pipeline import extract_turns, with_bucket
    from pyxml_spark.pipeline.resume import extract_buckets, pending_turns

    spark = build_session(8)
    spark.sparkContext.setLogLevel('ERROR')
    sections = []
    checks = []

    def add(name, df, must_contain=()):
        text = plan_of(df)
        sections.append((name, text))
        for needle in must_contain:
            ok = needle in text
            checks.append((name, needle, ok))

    docs = spark.read.parquet(os.path.join(sf_dir, 'documents.parquet'))

    # 1. filter + projection pushdown into the scan
    add('scan_pushdown',
        docs.where(F.col('doc_id') < 100).select('doc_id', 'source'),
        must_contain=['PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]',
                      'ReadSchema: struct<doc_id:bigint,source:string>'])

    # 2. the resume job's pending turns (the frame run_with_resume writes
    # from): the done buckets are a NOT IN filter of literals on the bucket
    # hash, with no join, no exchange and no frame built from a Python list
    pending = pending_turns(
        with_bucket(docs.withColumnRenamed('doc_id', 'conv_id_long')
                    .withColumn('conv_id', F.col('conv_id_long')
                                .cast('string')), 64), list(range(8)))
    rp_plan = plan_of(pending)
    sections.append(('resume_pending_filter', rp_plan))
    checks.append(('resume_pending_filter',
                   'NOT In/InSet filter on the bucket hash',
                   re.search(r'Condition : NOT pmod\(hash\(.*\), 64\) '
                             r'(IN \(|INSET )', rp_plan) is not None))
    checks.append(('resume_pending_filter',
                   'no join, no Exchange, no Scan ExistingRDD',
                   'Join' not in rp_plan and ') Exchange' not in rp_plan
                   and 'Scan ExistingRDD' not in rp_plan))

    # 3. extraction: exactly one exchange (salted repartition) + arrow stage
    turns = spark.createDataFrame(
        [('c1', 0, '<p>hello world</p>', '', None)],
        'conv_id string, turn_idx int, text string, tool string, ts timestamp')
    ext_plan = plan_of(extract_turns(turns))
    sections.append(('extract_turns', ext_plan))
    checks.append(('extract_turns', 'single Exchange',
                   ext_plan.count(') Exchange') == 1))
    checks.append(('extract_turns', 'arrow map stage',
                   ('MapInArrow' in ext_plan) or ('ArrowEvalPython' in ext_plan)
                   or ('PythonMapInArrow' in ext_plan)))

    # 3b. the resume job's write frame: its one exchange range-partitions
    # on (bucket, conv_id, turn_idx), so each task writes a contiguous run
    # of buckets (about n_buckets + tasks - 1 files, not tasks x n_buckets)
    rs_plan = plan_of(extract_buckets(with_bucket(turns, 8), 8))
    sections.append(('resume_extract_buckets', rs_plan))
    checks.append(('resume_extract_buckets',
                   'single Exchange, range-partitioned on bucket',
                   rs_plan.count(') Exchange') == 1
                   and 'rangepartitioning(bucket' in rs_plan))

    # 4. join rollup: codegen (simple mode marks codegen stages with '*(n)')
    # + partial aggregation
    def executed_plan(df) -> str:
        df.collect()  # trigger AQE so the final (codegen-annotated) plan exists
        return df._jdf.queryExecution().executedPlan().toString()

    jr = entry.q_join_rollup(spark, sf_dir)
    add('join_rollup', jr, must_contain=['HashAggregate', 'partial_sum'])
    checks.append(('join_rollup', 'whole-stage codegen (*(n) spans)',
                   '*(' in executed_plan(jr)))

    # 5. window query: the rnk<=3 predicate must push a map-side
    # WindowGroupLimit below the Exchange, so a popular source never ships
    # more than 3 rows per input partition
    wt = entry.q_window_top_docs(spark, sf_dir)
    add('window_top_docs', wt, must_contain=['Window', 'WindowGroupLimit'])
    checks.append(('window_top_docs', 'whole-stage codegen (*(n) spans)',
                   '*(' in executed_plan(wt)))

    # 6. simsearch: broadcast of the single-row query vector
    add('simsearch_topk', entry.q_simsearch_topk(spark, sf_dir),
        must_contain=['BroadcastNestedLoopJoin', 'TakeOrderedAndProject'])

    # 7. pdf layout: two chained arrow kernels (synth + parse) and a single
    # aggregation exchange for the per-doc rejoin — no other shuffles
    pl_plan = plan_of(entry.q_pdf_layout_extract(spark, sf_dir))
    sections.append(('pdf_layout_extract', pl_plan))
    checks.append(('pdf_layout_extract', 'two arrow kernels',
                   pl_plan.count('MapInArrow (') == 2))
    checks.append(('pdf_layout_extract', 'single aggregate Exchange',
                   pl_plan.count(') Exchange') == 1))

    # 8. a bucket filter on the bucket-partitioned output prunes partitions.
    # The resume read-back scans the whole output once, because the job
    # reports whole-output totals (an observation before its bucket filter
    # sees every row); the filtered rows become the manifest, with input
    # lineage via n_raw_chars — the input is never re-read for metrics
    import tempfile
    with tempfile.TemporaryDirectory() as td:
        bucketed = with_bucket(
            turns.select('conv_id', 'turn_idx', 'text'), 8)
        bucketed.write.mode('overwrite').partitionBy('bucket').parquet(td)
        fresh = (spark.read.parquet(td)
                 .where(F.col('bucket').isin([0, 1, 2]))
                 .groupBy('bucket').count())
        add('resume_stats_partition_pruned', fresh,
            must_contain=['PartitionFilters: [bucket'])

    # 9. minhash candidate generation: LEAD over the band-bucket window.
    # The only join is the BROADCAST of the hot-bucket key set (one row
    # per oversized bucket) — no shuffle join, and in particular no
    # self-join of bucket members (the r1 quadratic blowup stays gone)
    from pyxml_spark.pipeline.dedup import (candidate_pairs, minhash_bands,
                                            token_sets)
    cand_plan = plan_of(candidate_pairs(minhash_bands(token_sets(docs))))
    sections.append(('dedup_candidate_pairs', cand_plan))
    checks.append(('dedup_candidate_pairs',
                   'no shuffle join (broadcast hot-key set only)',
                   'SortMergeJoin' not in cand_plan
                   and 'ShuffledHashJoin' not in cand_plan
                   and 'BroadcastHashJoin' in cand_plan))
    checks.append(('dedup_candidate_pairs', 'window over band buckets',
                   'Window' in cand_plan))
    mb_plan = plan_of(minhash_bands(token_sets(docs)))
    sections.append(('minhash_band', mb_plan))
    checks.append(('minhash_band', 'the minima aggregate computed once',
                   mb_plan.count('aggregate(') == 1))

    # 10. bucketed ANN paths: the (single-row, exploded-probe) query side
    # must broadcast into the corpus join — the corpus is never shuffled
    for qname, fn in (('ann_lsh_topk', entry.q_ann_lsh_topk),
                      ('ann_ivf_topk', entry.q_ann_ivf_topk)):
        ann_plan = plan_of(fn(spark, sf_dir))
        sections.append((qname, ann_plan))
        checks.append((qname, 'broadcast probe join',
                       'BroadcastHashJoin' in ann_plan))
        checks.append((qname, 'top-k without global sort',
                       'TakeOrderedAndProject' in ann_plan))
        if qname == 'ann_lsh_topk':
            # r3 #6: the corpus must not posexplode x n_tables into the
            # probe join — candidate ids come from per-table LEFT SEMI
            # joins against broadcast probe keys (embeddings never ride
            # the probe join), then one exact rerank
            checks.append((qname, 'no corpus fan-out (per-table semi-join)',
                           'Generate' not in ann_plan
                           and ann_plan.count('LeftSemi')
                           >= entry._ANN_TABLES))

    # 10b. batched multi-query ANN: all queries in one plan — broadcast
    # (qid, probe) joins, no corpus fan-out, per-qid ranking window
    ab_plan = plan_of(entry.q_ann_batch_topk(spark, sf_dir))
    sections.append(('ann_batch_topk', ab_plan))
    checks.append(('ann_batch_topk', 'broadcast probe joins, no fan-out',
                   'BroadcastHashJoin' in ab_plan
                   and 'Generate' not in ab_plan))
    checks.append(('ann_batch_topk', 'per-qid ranking window',
                   'Window' in ab_plan))

    # 11. corpus-level boilerplate strip: the vocab-bounded boilerplate set
    # broadcasts into the anti-join; the token table itself never shuffles
    # for the filter step
    bp_plan = plan_of(entry.q_source_boilerplate_strip(spark, sf_dir))
    sections.append(('source_boilerplate_strip', bp_plan))
    checks.append(('source_boilerplate_strip', 'broadcast anti-join',
                   'BroadcastHashJoin' in bp_plan and 'LeftAnti' in bp_plan))

    # 12. gopher repetition: linear explode + two hash aggregates; the r2
    # row-local quadratic (array_distinct + nested filter rescans) is gone
    gr_plan = plan_of(entry.q_gopher_repetition(spark, sf_dir))
    sections.append(('gopher_repetition', gr_plan))
    checks.append(('gopher_repetition', 'no row-local distinct rescan',
                   'array_distinct' not in gr_plan))
    checks.append(('gopher_repetition', 'explode + hash aggregates',
                   'Generate' in gr_plan
                   and gr_plan.count('HashAggregate') >= 2))

    # 13. conversation assembly: bounded (source, pack_id) groups — the
    # pack window assignment precedes the aggregate, so no per-source
    # unbounded collect_list buffer remains
    ca_plan = plan_of(entry.q_conversation_assemble(spark, sf_dir))
    sections.append(('conversation_assemble', ca_plan))
    checks.append(('conversation_assemble', 'pack window before aggregate',
                   'Window' in ca_plan))
    checks.append(('conversation_assemble', 'grouped by source AND pack_id',
                   'pack_id' in ca_plan))

    # 14. salted dedup windows: the LEAD window partitions by the salted
    # sub-bucket key, so a degenerate bucket is never one task's sort
    checks.append(('dedup_candidate_pairs', 'window partitioned by salt',
                   'salt' in cand_plan))

    # 15. multimodal feature kernel: one Arrow stage over the binary column
    mf_plan = plan_of(entry.q_media_features(spark, sf_dir))
    sections.append(('media_features', mf_plan))
    checks.append(('media_features', 'arrow decode kernel',
                   'MapInArrow' in mf_plan))

    # 16. decontamination: the benchmark gram set broadcasts into the
    # corpus gram join — the corpus is never shuffled against itself
    bo_plan = plan_of(entry.q_benchmark_overlap(spark, sf_dir))
    sections.append(('benchmark_overlap', bo_plan))
    checks.append(('benchmark_overlap', 'broadcast benchmark grams',
                   'BroadcastHashJoin' in bo_plan))

    # 17. chunked prefix sum: the running-token window partitions by
    # (source, _chunk), never by bare source — no whole-source sort in one
    # task (pipeline/prefix.py)
    sp_plan = plan_of(entry.q_sequence_pack(spark, sf_dir))
    sections.append(('sequence_pack', sp_plan))
    checks.append(('sequence_pack', 'window chunked by (source, _chunk)',
                   '_chunk' in sp_plan))

    # 18. BPE subword count: Arrow-batched kernel over a pruned
    # (doc_id, words) projection — the scan reads only doc_id + text
    sw_plan = plan_of(entry.q_subword_count(spark, sf_dir))
    sections.append(('subword_count', sw_plan))
    checks.append(('subword_count', 'arrow tokenize kernel',
                   'MapInArrow' in sw_plan or 'ArrowEvalPython' in sw_plan))
    checks.append(('subword_count', 'scan pruned to doc_id,text',
                   'ReadSchema: struct<doc_id:bigint,text:string>'
                   in sw_plan))

    # 19. media frame sampling: explode-shaped Arrow kernel, no shuffle
    # (per-row kernel over the scan; repartition is opt-in)
    mf_plan = plan_of(entry.q_media_frames(spark, sf_dir))
    sections.append(('media_frames', mf_plan))
    checks.append(('media_frames', 'arrow frame kernel, no exchange',
                   'MapInArrow' in mf_plan
                   and 'Exchange' not in mf_plan))

    # 20. mixture sampling: narrow map + generate over the scan — no
    # exchange, no driver action; copies come from a posexplode of the
    # array_repeat expression itself
    mx_plan = plan_of(entry.q_mixture_sample(spark, sf_dir))
    sections.append(('mixture_sample', mx_plan))
    checks.append(('mixture_sample', 'generate over scan, no exchange',
                   'Generate' in mx_plan and 'Exchange' not in mx_plan))
    checks.append(('mixture_sample', 'scan pruned to doc_id,source',
                   'ReadSchema: struct<doc_id:bigint,source:string>'
                   in mx_plan))

    # 21. tf-idf top terms: two hash aggregates + a doc-bounded ranking
    # window with a map-side WindowGroupLimit (rnk<=3 never ships more
    # than 3 rows per input partition per doc)
    tt_plan = plan_of(entry.q_tfidf_top_terms(spark, sf_dir))
    sections.append(('tfidf_top_terms', tt_plan))
    checks.append(('tfidf_top_terms', 'two hash aggregates (tf, df)',
                   tt_plan.count('HashAggregate') >= 2))
    checks.append(('tfidf_top_terms', 'map-side window group limit',
                   'WindowGroupLimit' in tt_plan))

    # 22. as-of join: compiled to a running window merge — the plan must
    # contain NO join operator at all (the naive form is a per-entity
    # nested loop) and exactly one Exchange (the user_id shuffle)
    aj_plan = plan_of(entry.q_events_asof_join(spark, sf_dir))
    sections.append(('events_asof_join', aj_plan))
    checks.append(('events_asof_join', 'joinless window merge',
                   'Join' not in aj_plan and 'Window' in aj_plan))
    checks.append(('events_asof_join', 'single Exchange on user_id',
                   aj_plan.count(') Exchange') == 1))

    # 23. range join: bucketed equi-join (SortMergeJoin/ShuffledHashJoin
    # on (user, bucket)), never a BroadcastNestedLoopJoin / cartesian
    rj_plan = plan_of(entry.q_events_range_join(spark, sf_dir))
    sections.append(('events_range_join', rj_plan))
    checks.append(('events_range_join', 'no nested-loop range join',
                   'BroadcastNestedLoop' not in rj_plan
                   and 'Cartesian' not in rj_plan))
    checks.append(('events_range_join', 'bucketed probe explode',
                   'Generate' in rj_plan))

    # 24. sessionize: the lag window, running flag-sum and session
    # aggregate all share one user_id Exchange
    ss_plan = plan_of(entry.q_events_sessionize(spark, sf_dir))
    sections.append(('events_sessionize', ss_plan))
    checks.append(('events_sessionize', 'windows + aggregate share one '
                   'user_id Exchange',
                   ss_plan.count(') Exchange') == 1
                   and ss_plan.count(') Window') >= 2))

    # 25. grouping-sets rollup: ONE Expand + hash aggregate with map-side
    # partials — the multi-level cube costs a single shuffle, not one
    # groupBy per level
    ec_plan = plan_of(entry.q_events_cube(spark, sf_dir))
    sections.append(('events_cube', ec_plan))
    checks.append(('events_cube', 'one Expand, partial aggregation',
                   ec_plan.count('Expand') >= 1
                   and 'partial_count' in ec_plan))
    checks.append(('events_cube', 'single aggregate Exchange',
                   ec_plan.count(') Exchange') == 1))

    # 26. exact quantiles: sort-based percentile aggregate with partial
    # (map-side) accumulation; scan pruned to (source, n_chars) — text is
    # never read
    dq_plan = plan_of(entry.q_doc_length_quantiles(spark, sf_dir))
    sections.append(('doc_length_quantiles', dq_plan))
    checks.append(('doc_length_quantiles', 'partial percentile aggregate',
                   'partial_percentile' in dq_plan))
    checks.append(('doc_length_quantiles', 'scan pruned to source,n_chars',
                   'ReadSchema: struct<source:string,n_chars:' in dq_plan))

    # 27. explicit-values pivot: pivotfirst aggregate with map-side
    # partials, and because the value list is pinned there is NO eager
    # distinct job before the plan — exactly two aggregate Exchanges
    # ((user,type) pre-agg, then the user-wide pivot)
    pv_plan = plan_of(entry.q_events_pivot(spark, sf_dir))
    sections.append(('events_pivot', pv_plan))
    checks.append(('events_pivot', 'partial pivotfirst aggregation',
                   'partial_pivotfirst' in pv_plan))
    checks.append(('events_pivot', 'two aggregate Exchanges, no join',
                   pv_plan.count(') Exchange') == 2
                   and 'Join' not in pv_plan))

    # 28. schema-on-read JSON extraction stays JVM-side: from_json inside
    # whole-stage codegen, no Python worker of any kind, scan pruned to
    # the three needed columns
    jp_plan = plan_of(entry.q_json_props_extract(spark, sf_dir))
    sections.append(('json_props_extract', jp_plan))
    checks.append(('json_props_extract', 'from_json JVM-side, no Python',
                   'from_json' in jp_plan
                   and 'BatchEvalPython' not in jp_plan
                   and 'ArrowEvalPython' not in jp_plan
                   and 'MapInArrow' not in jp_plan))
    checks.append(('json_props_extract', 'scan pruned to 3 columns',
                   'ReadSchema: struct<event_id:bigint,event_type:string,'
                   'props:string>' in jp_plan))

    # 29. ranking battery: two window specs (peers-only for rank/
    # dense_rank, total-order for ntile/lag/lead) but the peers ordering
    # is a prefix of the total order and the total-order window is
    # planned first — so both Window operators share ONE Sort and one
    # user_id Exchange
    rb_plan = plan_of(entry.q_events_rank_battery(spark, sf_dir))
    sections.append(('events_rank_battery', rb_plan))
    checks.append(('events_rank_battery', 'two Windows share one Sort, '
                   'one Exchange',
                   rb_plan.count(') Window') == 2
                   and rb_plan.count(') Sort') == 1
                   and rb_plan.count(') Exchange') == 1))

    # 30. multiset set-ops: EXCEPT ALL / INTERSECT ALL lower to counted
    # aggregates + replicaterows — never a join, filters still pushed to
    # the scans
    cd_plan = plan_of(entry.q_corpus_diff(spark, sf_dir))
    sections.append(('corpus_diff', cd_plan))
    checks.append(('corpus_diff', 'replicaterows aggregate, no join',
                   'replicaterows' in cd_plan and 'Join' not in cd_plan))
    checks.append(('corpus_diff', 'gate filters pushed to scan',
                   'GreaterThanOrEqual(n_chars,250)' in cd_plan
                   and 'In(lang, [de,en,zh])' in cd_plan))

    # 31. total-order export layout: rangepartitioning Exchange (sampled
    # bounds) + within-partition sort — globally range-disjoint, sorted
    # output files
    es_plan = plan_of(entry.q_export_sorted(spark, sf_dir))
    sections.append(('export_sorted', es_plan))
    checks.append(('export_sorted', 'rangepartitioning Exchange + '
                   'partition-local sort',
                   'rangepartitioning' in es_plan
                   and es_plan.count(') Sort') == 1))

    # 32. multi-format source: explicit-schema JSON scan projected to the
    # three needed fields (no inference pass), one aggregate Exchange
    js_plan = plan_of(entry.q_json_lines_source(spark, sf_dir))
    sections.append(('json_lines_source', js_plan))
    checks.append(('json_lines_source', 'JSON scan pruned to 3 fields',
                   'Scan json' in js_plan
                   and 'ReadSchema: struct<event_type:string,'
                       'value:double,props:string>' in js_plan))
    checks.append(('json_lines_source', 'single aggregate Exchange',
                   js_plan.count(') Exchange') == 1))

    # 33. partitioned sink + pruned read-back: the lang filter becomes a
    # planning-time PartitionFilter (whole directories skipped, zero row
    # groups of other langs touched) and the scan reads only
    # (source, n_chars) — text never leaves disk
    pp_plan = plan_of(entry.q_partitioned_prune(spark, sf_dir))
    sections.append(('partitioned_prune', pp_plan))
    checks.append(('partitioned_prune', 'partition-pruned scan',
                   'PartitionFilters: [lang' in pp_plan
                   and 'IN (en,zh)' in pp_plan))
    checks.append(('partitioned_prune', 'scan pruned to source,n_chars',
                   'ReadSchema: struct<source:string,n_chars:bigint>'
                   in pp_plan))

    # 34. schema-evolution union: a pure Union of two pruned filter-pushed
    # scans — name-aligned NULL-fill costs ZERO shuffles
    se_plan = plan_of(entry.q_schema_evolve_union(spark, sf_dir))
    sections.append(('schema_evolve_union', se_plan))
    checks.append(('schema_evolve_union', 'Union with zero Exchanges',
                   ') Union' in se_plan
                   and se_plan.count(') Exchange') == 0))

    # bucketed co-located join: with broadcast disabled, the bucket
    # metadata must carry the co-partitioning — SortMergeJoin with ZERO
    # shuffle Exchanges (the pay-once-at-write layout contract). The
    # bucketed scans report SelectedBucketsCount.
    old_thresh = spark.conf.get('spark.sql.autoBroadcastJoinThreshold')
    old_aqe = spark.conf.get('spark.sql.adaptive.enabled')
    spark.conf.set('spark.sql.autoBroadcastJoinThreshold', '-1')
    spark.conf.set('spark.sql.adaptive.enabled', 'false')
    try:
        bj_plan = plan_of(entry.q_bucketed_join(spark, sf_dir))
    finally:
        spark.conf.set('spark.sql.autoBroadcastJoinThreshold', old_thresh)
        spark.conf.set('spark.sql.adaptive.enabled', old_aqe)
    sections.append(('bucketed_join', bj_plan))
    checks.append(('bucketed_join',
                   'SortMergeJoin over bucketed scans, zero Exchanges',
                   'SortMergeJoin' in bj_plan
                   and 'SelectedBucketsCount' in bj_plan
                   and bj_plan.count(') Exchange') == 0))

    # curation decontaminate stage: the gram join must broadcast the
    # benchmark side and never go corpus x corpus (checked on the
    # operator itself — in q_curate_pipeline this stage sits behind a
    # parquet stage boundary, so the final row's plan can't show it)
    from pyxml_spark.pipeline.curate import decontaminate
    dc = decontaminate(docs.where(F.col('doc_id') % 50 != 0),
                       docs.where(F.col('doc_id') % 50 == 0))
    dc_plan = plan_of(dc)
    sections.append(('curate_decontaminate', dc_plan))
    checks.append(('curate_decontaminate',
                   'benchmark side broadcast, no cartesian',
                   'BroadcastHashJoin' in dc_plan
                   and 'CartesianProduct' not in dc_plan
                   and 'BroadcastNestedLoopJoin' not in dc_plan))
    checks.append(('curate_decontaminate',
                   'grams hashed per exploded row, no higher-order function',
                   'lambdafunction' not in dc_plan))

    # composed curation row: after staging, the only non-equi join left
    # is the prefix scan's documented ONE-ROW broadcast stats join —
    # cross with a 1-row side, not a data-x-data cartesian
    cp_plan = plan_of(entry.q_curate_pipeline(spark, sf_dir))
    sections.append(('curate_pipeline', cp_plan))
    # formatted explain prints each operator twice (tree + details);
    # count distinct operator ids, and the only BNLJs allowed are the
    # prefix scan's two 1-row stats broadcasts
    n_bnlj = len(re.findall(r'^\(\d+\) BroadcastNestedLoopJoin',
                            cp_plan, re.M))
    checks.append(('curate_pipeline',
                   'staged stages; no cartesian (1-row stats BNLJ only)',
                   'CartesianProduct' not in cp_plan and n_bnlj <= 2))

    # incremental dedup: the shard's key set broadcasts into the index
    # side; bucket sizing and hot-bucket reps are AGGREGATES — no Window
    # operator anywhere (a hot bucket must never become one task's
    # sort), no cartesian. The key join runs in the eager checkpoint of
    # its hits at call time, so its executed plan leads the section.
    from perfbench.child import execution_plans
    from pyxml_spark.pipeline.dedup import (incremental_candidate_pairs,
                                            minhash_bands, token_sets)
    di_nb = minhash_bands(token_sets(docs.where(F.col('doc_id') % 10 == 0)))
    di_ib = minhash_bands(token_sets(docs.where(F.col('doc_id') % 10 != 0)))
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = max((i for i, _, _ in execution_plans(spark)), default=-1)
    di = incremental_candidate_pairs(di_nb, di_ib)
    bus.waitUntilEmpty()
    (hits_plan,) = [p for _, _, p in execution_plans(spark, before)]
    di_plan = hits_plan + '\n' + plan_of(di)
    sections.append(('dedup_incremental', di_plan))
    checks.append(('dedup_incremental',
                   'broadcast key filter, aggregate reps, no Window',
                   'BroadcastHashJoin' in di_plan
                   and ') Window' not in di_plan
                   and 'CartesianProduct' not in di_plan))

    failed = [c for c in checks if not c[2]]
    out = os.path.join(REPO, 'PLANS.md')
    with open(out, 'w') as f:
        f.write('# PLANS — physical plan evidence (explain formatted)\n\n')
        f.write('Checked properties:\n\n')
        for name, needle, ok in checks:
            f.write(f"- {'PASS' if ok else 'FAIL'} `{name}`: {needle}\n")
        f.write('\n')
        for name, text in sections:
            f.write(f'## {name}\n\n```\n{text}\n```\n\n')
    print(f'wrote {out}; {len(checks) - len(failed)}/{len(checks)} checks pass')
    for name, needle, _ in failed:
        print(f'FAIL {name}: {needle}')
    spark.stop()
    return 1 if failed else 0


if __name__ == '__main__':
    raise SystemExit(main())
