"""Curation operators (pipeline/curate.py) + the end-to-end job."""
import json

import pytest

from tests.conftest import sql_plans

pyspark = pytest.importorskip('pyspark')

SF_DIR = '/root/testdata/sf0.001'


def test_score_documents_semantics(spark):
    """flags match an independent python model on hand-built docs"""
    from pyxml_spark.pipeline.curate import score_documents
    docs = [
        (0, 'a', 'the cat and the dog sat on the mat of the house'),
        (1, 'a', 'xy zz'),                               # too few tokens
        (2, 'a', 'foo bar ' * 20),                       # repetitive, unk
        (3, 'a', ''),                                    # empty
        (4, 'a', 'the quick brown fox jumps over the lazy dog in town'),
    ]
    df = spark.createDataFrame(docs, 'doc_id long, source string, '
                                     'text string')
    got = {r.doc_id: r for r in score_documents(df).collect()}
    assert len(got) == 5
    assert got[0].lang == 'en' and got[4].lang == 'en'
    assert got[1].lang == 'unk' and not got[1].is_quality
    assert got[3].n_tokens == 0 and got[3].rep_x10k == 0
    # doc 2: 'foo bar' dominates the bigrams
    assert got[2].rep_x10k > 5000
    for r in got.values():
        toks = r.text.split()
        assert r.n_tokens == len(toks)
        assert r.chars_ns == sum(len(t) for t in toks)


def test_decontaminate_planted_overlap(spark):
    from pyxml_spark.pipeline.curate import decontaminate
    shared = 'alpha beta gamma delta epsilon zeta eta theta'  # 8 tokens
    docs = [(0, f'{shared} plus unique tail words here'),
            (1, 'totally different content with no overlap at all ok'),
            (2, f'prefix words then {shared}')]
    bench = [(100, f'benchmark doc containing {shared} exactly once')]
    df = spark.createDataFrame(docs, 'doc_id long, text string')
    bdf = spark.createDataFrame(bench, 'doc_id long, text string')
    got = {r.doc_id: r for r in decontaminate(df, bdf).collect()}
    assert got[0].contaminated and got[2].contaminated
    assert not got[1].contaminated
    assert got[1].n_gram_hits == 0
    # broadcast=False (the large-bench escape hatch) is plan-only:
    # identical rows, and the plan carries no forced broadcast hint
    no_bc = decontaminate(df, bdf, broadcast=False)
    assert {tuple(r) for r in no_bc.collect()} == \
        {tuple(r) for r in got.values()}


def test_decontaminate_gram_boundaries(spark):
    """n_gram_hits equals a python model (distinct per doc: the first 15
    hex digits of the md5 of each space-joined 8-gram) on blank and
    whitespace-only text, docs of k-1, k and k+1 tokens and a doc that
    repeats one 8-gram. Pins the n < k guard: Spark's sequence(1, stop)
    counts down when stop < 1."""
    import hashlib
    from pyxml_spark.pipeline.curate import decontaminate
    k = 8
    t = [f't{i}' for i in range(12)]
    texts = {0: '', 1: '    ', 2: ' '.join(t[:k - 1]), 3: ' '.join(t[:k]),
             4: ' '.join(t[:k + 1]), 5: ' '.join(t[:k] * 3),
             6: '  ' + ' '.join(t[2:k + 4]) + '  '}
    bench = {100: ' '.join(t), 101: ' '.join(t[:k - 1]), 102: '   '}

    def grams(text):
        ws = text.split()
        return {hashlib.md5(' '.join(ws[i:i + k]).encode()).hexdigest()[:15]
                for i in range(len(ws) - k + 1)}

    bench_grams = set().union(*map(grams, bench.values()))
    df = spark.createDataFrame(list(texts.items()),
                               'doc_id long, text string')
    bdf = spark.createDataFrame(list(bench.items()),
                                'doc_id long, text string')
    got = {r.doc_id: r.n_gram_hits
           for r in decontaminate(df, bdf).collect()}
    want = {d: len(grams(x) & bench_grams) for d, x in texts.items()}
    assert got == want
    assert want[3] == want[5] == 1 and want[4] == 2 and want[6] == 3


def test_decontaminate_plan_has_no_hof(spark):
    """decontaminate explodes gram offsets and hashes each gram per row,
    so its executed plan holds no higher-order function: no array
    builder is pasted into the filter the optimizer infers for an
    exploded array attribute"""
    from pyspark.sql import functions as F
    from pyxml_spark.pipeline.curate import decontaminate
    docs = spark.read.parquet(f'{SF_DIR}/documents.parquet')
    with sql_plans(spark) as plans:
        decontaminate(docs.where(F.col('doc_id') % 50 != 0),
                      docs.where(F.col('doc_id') % 50 == 0)).collect()
    assert any('Generate' in p for p in plans.values())
    assert not any('transform(' in p for p in plans.values())


def test_mixture_copies_hashes_once(spark):
    """mixture_copies posexplodes the array_repeat expression itself, so
    the executed plan hashes each row id once (a staged array attribute
    put a second md5 into the inferred Generate filter)"""
    from pyspark.sql import functions as F
    from pyxml_spark.pipeline.curate import mixture_copies
    docs = spark.read.parquet(f'{SF_DIR}/documents.parquet')
    with sql_plans(spark) as plans:
        mixture_copies(docs, F.lit(1), F.lit(30000)).collect()
    (plan,) = plans.values()
    assert plan.count('md5(') == 1, plan.count('md5(')


def _curate_runner(run_job, out):
    from __spark_entry__ import DEFAULT_SF_DIR
    from pyxml_spark.jobs.curate import main

    def run(extra):
        rc, metrics = run_job(main, [
            '--input', f'{DEFAULT_SF_DIR}/documents.parquet',
            '--output', out, '--cpus', '4'] + extra)
        assert rc == 0
        return metrics
    return run


def test_curate_job_end_to_end(tmp_path, run_job):
    """job smoke at sf0.001: metrics add up, output passes every gate,
    resume skips all stages, benchmark decontamination removes docs"""
    run = _curate_runner(run_job, str(tmp_path / 'curated'))

    m = run([])
    assert m['n_input'] == 500
    assert (m['n_pass_gates'] + m['n_fail_quality'] + m['n_fail_lang']
            + m['n_fail_repetition'] >= m['n_input'])  # gates may overlap
    # with no --benchmark, dedup-to-pack must be row-preserving: the
    # contamination remainder is exactly zero (asserting the identity
    # n_curated == pass - dup - contaminated would be a tautology —
    # the job defines n_contaminated_removed as that remainder)
    assert m['n_contaminated_removed'] == 0
    assert m['n_curated'] == m['n_pass_gates'] - m['n_dup_removed']
    assert m['n_curated'] > 0 and m['n_packs'] > 0
    assert m['stages_run'] == ['gated', 'keepers', 'curated']

    m2 = run(['--resume'])
    assert m2['stages_run'] == []
    assert m2['n_curated'] == m['n_curated']

    # decontaminating against the corpus itself removes everything with
    # >= 8 tokens; the param change must re-run only the curated stage
    m3 = run(['--resume', '--benchmark',
              '/root/testdata/sf0.001/documents.parquet'])
    assert m3['stages_run'] == ['curated']
    assert m3['n_curated'] < m['n_curated']


def test_curate_job_mixture_stage(tmp_path, run_job):
    """--mixture adds a deterministic weighted-sampling stage on top of
    the curated output: totals match the closed form per doc, weight-0
    sources vanish, and resume re-runs only the mixed stage."""
    import hashlib
    import pyarrow.parquet as pq

    out = str(tmp_path / 'curated')
    run = _curate_runner(run_job, out)

    m = run([])
    weights = {'src0': 0.0, 'src1': 2.5}
    m2 = run(['--resume', '--mixture', json.dumps(weights)])
    assert m2['stages_run'] == ['mixed']
    assert m2['n_curated'] == m['n_curated']

    cur = pq.read_table(out + '/curated.parquet',
                        columns=['doc_id', 'source']).to_pylist()
    expect = 0
    for r in cur:
        w = weights.get(r['source'], 1.0)
        whole = int(w)
        frac16 = int(round((w - whole) * 65536))
        h4 = int(hashlib.md5(str(r['doc_id']).encode())
                 .hexdigest()[:4], 16)
        expect += whole + (1 if h4 < frac16 else 0)
    assert m2['n_mixed'] == expect

    mixed = pq.read_table(m2['mixed_path'],
                          columns=['source', 'copy_idx']).to_pylist()
    assert len(mixed) == expect
    assert not any(r['source'] == 'src0' for r in mixed)
    # whole(2.5) = 2: every surviving src1 doc carries at least copies
    # 0 and 1 (the fractional third copy depends on the doc hash)
    src1 = [r['copy_idx'] for r in mixed if r['source'] == 'src1']
    assert src1 and max(src1) >= 1

    # rerun with same weights: fully resumed; changed weights re-run
    m3 = run(['--resume', '--mixture', json.dumps(weights)])
    assert m3['stages_run'] == [] and m3['n_mixed'] == expect
    m4 = run(['--resume', '--mixture', json.dumps({'src1': 1.0})])
    assert m4['stages_run'] == ['mixed']
    assert m4['n_mixed'] == m4['n_curated']

    # manifests are cumulative downstream: resuming with a changed dedup
    # threshold must rebuild everything the keepers feed — including the
    # mixture stage (a stale mixed.parquet would keep doc_ids the new
    # dedup pass removed)
    m5 = run(['--resume', '--mixture', json.dumps({'src1': 1.0}),
              '--dup-threshold-x10k', '9000'])
    assert m5['stages_run'] == ['keepers', 'curated', 'mixed']
