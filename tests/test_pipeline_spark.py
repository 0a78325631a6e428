"""Spark end-to-end tests: extraction equality gate + checkpointed resume.

The equality gate (BASELINE.md): pipeline ``main_text`` per (conv_id,
turn_idx) must equal a driver-side loop applying the *reference* parser plus
the same heuristics over the same payloads, under stable turn ordering.
"""
import os
import re

import pytest

from tests.conftest import has_reference, restored_conf, sql_plans

pyspark = pytest.importorskip('pyspark')


@pytest.fixture(scope='module')
def spark(spark):
    """the shared session with 8 shuffle partitions and Arrow enabled"""
    with restored_conf(spark):
        spark.conf.set('spark.sql.shuffle.partitions', '8')
        spark.conf.set('spark.sql.execution.arrow.pyspark.enabled', 'true')
        yield spark


@pytest.fixture(scope='module')
def turns_pdf():
    from pyxml_spark.pipeline.transcripts import gen_transcripts_pdf
    return gen_transcripts_pdf(400, seed=42)


def reference_oracle_row(payload):
    """what the pipeline must emit for one payload, computed with the
    reference parser (falling back to our engine when unavailable)"""
    from pyxml_spark.pipeline.heuristics import extract_main
    if payload is None:
        return ''
    if '<' not in payload and '>' not in payload:
        return payload
    if has_reference():
        import pyxml.html
        parse = pyxml.html.fromstring
    else:
        from pyxml_spark.engine.html import fromstring as parse
    try:
        root = parse(payload.encode())
    except Exception:  # noqa: BLE001
        return ''
    return extract_main(root, count_nodes=False).main_text


def test_extraction_equality_gate(spark, turns_pdf):
    from pyxml_spark.pipeline import extract_turns, TRANSCRIPTS_SCHEMA
    df = spark.createDataFrame(turns_pdf, schema=TRANSCRIPTS_SCHEMA)
    got = {(r.conv_id, r.turn_idx): r.main_text
           for r in extract_turns(df).collect()}
    assert len(got) == len(turns_pdf)
    mismatches = []
    for row in turns_pdf.itertuples():
        want = reference_oracle_row(row.text)
        have = got[(row.conv_id, row.turn_idx)]
        if want != have:
            mismatches.append((row.conv_id, row.turn_idx,
                               row.text[:60], want[:60], have[:60]))
    assert not mismatches, f'{len(mismatches)} turns differ: {mismatches[:3]}'


def test_output_ordering_stable(spark, turns_pdf):
    """sortWithinPartitions(conv_id, turn_idx) + salted partitioning keeps a
    deterministic global multiset and locally-ordered runs"""
    from pyxml_spark.pipeline import extract_turns, TRANSCRIPTS_SCHEMA
    df = spark.createDataFrame(turns_pdf, schema=TRANSCRIPTS_SCHEMA)
    a = extract_turns(df).orderBy('conv_id', 'turn_idx').collect()
    b = extract_turns(df).orderBy('conv_id', 'turn_idx').collect()
    assert [(r.conv_id, r.turn_idx, r.main_text) for r in a] == \
           [(r.conv_id, r.turn_idx, r.main_text) for r in b]


def test_spans_round_trip_through_arrow(spark, turns_pdf):
    from pyspark.sql import functions as F
    from pyxml_spark.pipeline import extract_turns, TRANSCRIPTS_SCHEMA
    df = spark.createDataFrame(turns_pdf.head(50), schema=TRANSCRIPTS_SCHEMA)
    out = extract_turns(df)
    row = (out.where(F.size('spans') > 0)
           .select('spans').limit(1).collect())
    assert row, 'expected at least one row with spans'
    span = row[0].spans[0]
    assert span.end > span.start >= 0


def test_resume_exactly_once(spark, turns_pdf, tmp_path):
    from pyxml_spark.pipeline import run_with_resume, TRANSCRIPTS_SCHEMA
    inp = os.path.join(tmp_path, 'in.parquet')
    out = os.path.join(tmp_path, 'out.parquet')
    mf = os.path.join(tmp_path, 'manifest.parquet')
    spark.createDataFrame(turns_pdf, schema=TRANSCRIPTS_SCHEMA) \
        .write.parquet(inp)

    # first run covers only part of the buckets ("killed after K buckets")
    r1 = run_with_resume(spark, inp, out, mf, n_buckets=8, max_buckets=3)
    assert r1['buckets_run'] == 3 and r1['remaining'] > 0

    # resume runs the rest; a third run is a no-op
    r2 = run_with_resume(spark, inp, out, mf, n_buckets=8)
    r3 = run_with_resume(spark, inp, out, mf, n_buckets=8, max_buckets=4)
    assert r2['remaining'] == 0
    assert r3['buckets_run'] == 0

    result = spark.read.parquet(out)
    assert result.count() == len(turns_pdf)
    dupes = (result.groupBy('conv_id', 'turn_idx').count()
             .where('count > 1').count())
    assert dupes == 0

    manifest = spark.read.parquet(mf)
    assert manifest.where("status = 'done'").select('bucket') \
        .distinct().count() == 8
    total_rows_in = sum(r.rows_in for r in manifest.collect())
    assert total_rows_in == len(turns_pdf)


def test_resume_leaves_session_conf(spark, turns_pdf, tmp_path):
    """dynamic partition overwrite is an option of the resume write, not a
    session setting: a resume under a static session keeps the buckets of
    the earlier run, and the session's setting is left as it was"""
    from pyxml_spark.pipeline import run_with_resume, TRANSCRIPTS_SCHEMA
    inp = os.path.join(tmp_path, 'in.parquet')
    out = os.path.join(tmp_path, 'out.parquet')
    mf = os.path.join(tmp_path, 'manifest.parquet')
    spark.createDataFrame(turns_pdf.head(100), schema=TRANSCRIPTS_SCHEMA) \
        .write.parquet(inp)
    key = 'spark.sql.sources.partitionOverwriteMode'
    with restored_conf(spark):
        spark.conf.set(key, 'static')
        run_with_resume(spark, inp, out, mf, n_buckets=4, max_buckets=2)
        run_with_resume(spark, inp, out, mf, n_buckets=4)
        assert spark.conf.get(key) == 'static'
    assert spark.read.parquet(out).count() == 100


def _write_exchanges(plans: dict) -> list:
    """the arguments of every shuffle Exchange in the final plan of the
    data write (the execution running the Arrow kernel)"""
    (plan,) = [p for p in plans.values()
               if 'InsertIntoHadoopFsRelationCommand' in p
               and 'MapInArrow' in p]
    final = plan.split('== Initial Plan ==')[0]
    return [re.search(rf'\({i}\) Exchange\n.*\nArguments: (.*)',
                      plan).group(1)
            for i in re.findall(r'(?<!Broadcast)Exchange \((\d+)\)', final)]


def test_extract_job_resume(spark, turns_pdf, tmp_path, run_job):
    """jobs.extract.main: a capped run, a resume and a no-op rerun report
    this run's counts and the whole output's totals, manifest one done row
    per written bucket, and the data write runs the Arrow kernel and the
    (conv_id, turn_idx) output sort behind one range exchange on bucket.
    No call builds a frame from a Python list (``Scan ExistingRDD``), an
    uncapped call runs at most three SQL executions and the no-op rerun,
    capped or not, at most two: it writes nothing and returns the same
    totals."""
    from perfbench.child import extraction_plan_ok
    from pyxml_spark.jobs.extract import main
    from pyxml_spark.pipeline import (MANIFEST_SCHEMA, TRANSCRIPTS_SCHEMA,
                                      output_metrics, with_bucket)
    inp = os.path.join(tmp_path, 'in.parquet')
    out = os.path.join(tmp_path, 'out.parquet')
    mf = os.path.join(tmp_path, 'manifest.parquet')
    df = spark.createDataFrame(turns_pdf, schema=TRANSCRIPTS_SCHEMA)
    df.write.parquet(inp)
    per_bucket = dict(with_bucket(df, 8).groupBy('bucket').count().collect())
    buckets = sorted(per_bucket)
    argv = ['--input', inp, '--output', out, '--manifest', mf,
            '--buckets', '8', '--cpus', '4']

    calls = [(['--max-buckets', '3'], buckets[:3], len(buckets) - 3),
             ([], buckets[3:], 0),
             ([], [], 0),
             (['--max-buckets', '3'], [], 0)]
    done = 0
    noops = []
    for extra, run_buckets, remaining in calls:
        with sql_plans(spark) as plans:
            rc, got = run_job(main, argv + extra)
        assert rc == 0
        assert got['buckets_done'] == done
        assert got['buckets_run'] == len(run_buckets)
        assert got['remaining'] == remaining
        assert got['rows_this_run'] == sum(per_bucket[b] for b in run_buckets)
        assert {k: got[k] for k in ('rows_out', 'chars_out', 'parse_errors',
                                    'nodes', 'text_chars')} == \
            output_metrics(spark.read.parquet(out))
        done += len(run_buckets)
        manifest = spark.read.parquet(mf)
        assert [(f.name, f.dataType) for f in manifest.schema] == \
            [(f.name, f.dataType) for f in MANIFEST_SCHEMA]
        manifest = manifest.collect()
        assert sorted(r.bucket for r in manifest
                      if r.status == 'done') == buckets[:done]
        assert sum(r.rows_in for r in manifest) == \
            sum(per_bucket[b] for b in buckets[:done])
        if run_buckets:
            assert extraction_plan_ok([(i, '', p) for i, p in plans.items()])
            (exchange,) = _write_exchanges(plans)
            assert exchange.startswith('rangepartitioning(bucket#'), exchange
        assert not any('Scan ExistingRDD' in p for p in plans.values())
        if not run_buckets:
            assert len(plans) <= 2, sorted(plans)
            noops.append({k: v for k, v in got.items() if k not in (
                'run_id', 'wall_seconds', 'throughput_rows_per_s')})
        elif not extra:
            assert len(plans) <= 3, sorted(plans)
    assert done == len(buckets)
    assert noops[0] == noops[1]
    assert sum(r.rows_in for r in manifest) == len(turns_pdf)


def test_extract_job_first_call_plans(spark, tmp_path, run_job):
    """a first uncapped call on a fresh manifest path plans no frame of
    Python rows (``Scan ExistingRDD``: the empty done set and its
    broadcast each ran a job of Python tasks), runs at most three SQL
    executions, and its local session lists the 64 bucket directories of
    the read-back without a Spark listing job"""
    from pyspark.sql import functions as F
    from pyxml_spark.jobs.extract import main
    inp = os.path.join(tmp_path, 'in.parquet')
    out = os.path.join(tmp_path, 'out.parquet')
    spark.range(400).select(
        F.concat(F.lit('conv-'), F.col('id')).alias('conv_id'),
        F.lit(0).alias('turn_idx'), F.lit('user').alias('role'),
        F.concat(F.lit('<p>turn '), F.col('id'), F.lit('</p>'))
        .alias('text'),
        F.lit(None).cast('string').alias('tool'),
        F.lit(None).cast('timestamp').alias('ts')).write.parquet(inp)
    sc = spark.sparkContext
    sc.setJobGroup('first-call', 'first uncapped extraction call')
    try:
        with sql_plans(spark) as plans:
            rc, got = run_job(main, ['--input', inp, '--output', out,
                                     '--buckets', '64', '--cpus', '4'])
    finally:
        sc._jsc.clearJobGroup()
    assert rc == 0 and got['rows_this_run'] == 400
    assert not any('Scan ExistingRDD' in p for p in plans.values())
    assert len(plans) <= 3, sorted(plans)
    store = sc._jsc.sc().statusStore()
    jobs = [store.job(j).description()
            for j in sc.statusTracker().getJobIdsForGroup('first-call')]
    assert len(_files_per_bucket(out)) > 32
    assert not [d.get() for d in jobs
                if d.isDefined() and d.get().startswith('Listing leaf')]


def _run_job_uncoalesced(spark, run_job, df, tmp_path, buckets: int):
    """write ``df`` as four input files and run jobs.extract.main on it
    with AQE partition coalescing off (it would fold a small input into
    one task); returns the output path"""
    from pyxml_spark.jobs.extract import main
    inp = os.path.join(tmp_path, 'in.parquet')
    out = os.path.join(tmp_path, 'out.parquet')
    df.repartition(4).write.parquet(inp)
    with restored_conf(spark):
        spark.conf.set('spark.sql.adaptive.coalescePartitions.enabled',
                       'false')
        rc, _ = run_job(main, ['--input', inp, '--output', out,
                               '--buckets', str(buckets), '--cpus', '4'])
    assert rc == 0
    return out


def _files_per_bucket(path: str) -> dict:
    """{bucket: data files} of a bucket-partitioned output"""
    return {int(d.split('=')[1]): sum(not f.startswith(('.', '_'))
                                      for f in os.listdir(
                                          os.path.join(path, d)))
            for d in os.listdir(path) if d.startswith('bucket=')}


JOB_TASKS = 8  # the job session's shuffle partitions at --cpus 4


def test_extract_job_writes_each_bucket_once(spark, turns_pdf, tmp_path,
                                             run_job):
    """the job's range exchange hands each task a contiguous run of
    buckets, so its write opens at most n_buckets + tasks - 1 files, where
    a hash exchange opens one file per task and bucket"""
    from pyxml_spark.pipeline import TRANSCRIPTS_SCHEMA
    df = spark.createDataFrame(turns_pdf, schema=TRANSCRIPTS_SCHEMA)
    files = _files_per_bucket(
        _run_job_uncoalesced(spark, run_job, df, tmp_path, buckets=8))
    assert len(files) == 8
    assert sum(files.values()) <= 8 + JOB_TASKS - 1, files


def test_extract_job_splits_hot_conversation(spark, turns_pdf, tmp_path,
                                             run_job):
    """a conversation holding most rows is split by turn_idx over several
    tasks (its bucket is written by more than one), and every input turn
    comes out exactly once"""
    from pyspark.sql import functions as F
    from pyxml_spark.pipeline import TRANSCRIPTS_SCHEMA, with_bucket
    base = spark.createDataFrame(turns_pdf, schema=TRANSCRIPTS_SCHEMA)
    hot = spark.range(3 * len(turns_pdf)).select(
        F.lit('conv-hot').alias('conv_id'),
        F.col('id').cast('int').alias('turn_idx'),
        F.lit('user').alias('role'),
        F.concat(F.lit('<p>hot turn '), F.col('id'), F.lit('</p>'))
        .alias('text'),
        F.lit(None).cast('string').alias('tool'),
        F.lit(None).cast('timestamp').alias('ts'))
    df = base.unionByName(hot)
    out = _run_job_uncoalesced(spark, run_job, df, tmp_path, buckets=8)
    hot_bucket = with_bucket(hot.limit(1), 8).first().bucket
    assert _files_per_bucket(out)[hot_bucket] >= 2
    keys = sorted(tuple(r) for r in spark.read.parquet(out)
                  .select('conv_id', 'turn_idx').collect())
    assert keys == sorted(tuple(r) for r in
                          df.select('conv_id', 'turn_idx').collect())


def test_resume_refuses_unreadable_manifest(spark, turns_pdf, tmp_path):
    """only a missing manifest path is a first run: a manifest that exists
    but cannot be read stops the run before it writes, instead of reading
    as "no bucket done" and redoing the whole input"""
    from pyxml_spark.pipeline import run_with_resume, TRANSCRIPTS_SCHEMA
    from pyxml_spark.pipeline.resume import completed_buckets
    inp = os.path.join(tmp_path, 'in.parquet')
    out = os.path.join(tmp_path, 'out.parquet')
    mf = os.path.join(tmp_path, 'manifest.parquet')
    spark.createDataFrame(turns_pdf.head(100), schema=TRANSCRIPTS_SCHEMA) \
        .write.parquet(inp)
    os.makedirs(mf)
    with open(os.path.join(mf, 'part-00000.parquet'), 'w') as f:
        f.write('not a manifest')
    with pytest.raises(Exception, match='not a Parquet file'):
        run_with_resume(spark, inp, out, mf, n_buckets=4)
    assert not os.path.exists(out)

    # an interrupted first manifest append leaves no data file, so no
    # bucket counts as done
    os.remove(os.path.join(mf, 'part-00000.parquet'))
    os.makedirs(os.path.join(mf, '_temporary'))
    assert completed_buckets(spark, mf) == []


def test_metrics_report(spark, turns_pdf):
    from pyxml_spark.pipeline import (TRANSCRIPTS_SCHEMA, extract_turns,
                                      output_metrics,
                                      per_conversation_report)
    df = spark.createDataFrame(turns_pdf.head(100), schema=TRANSCRIPTS_SCHEMA)
    out = extract_turns(df)
    m = output_metrics(out)
    assert m['rows_out'] == 100
    rep = per_conversation_report(out).collect()
    assert sum(r.n_turns for r in rep) == 100


def test_resume_ignores_crashed_partial_bucket(spark, turns_pdf, tmp_path):
    """a bucket present in the output dir but absent from the manifest (a
    crashed run's partial write) must not be marked done by a later run that
    didn't process it, and must be redone (overwritten) eventually"""
    from pyspark.sql import functions as F
    from pyxml_spark.pipeline import (TRANSCRIPTS_SCHEMA, run_with_resume,
                                      with_bucket)
    inp = os.path.join(tmp_path, 'in.parquet')
    out = os.path.join(tmp_path, 'out.parquet')
    mf = os.path.join(tmp_path, 'manifest.parquet')
    df = spark.createDataFrame(turns_pdf, schema=TRANSCRIPTS_SCHEMA)
    df.write.parquet(inp)
    all_buckets = sorted(r.bucket for r in with_bucket(
        df, 8).select('bucket').distinct().collect())
    crashed = all_buckets[-1]

    # run 1 completes the two smallest buckets
    r1 = run_with_resume(spark, inp, out, mf, n_buckets=8, max_buckets=2)
    assert r1['buckets_run'] == 2

    # simulate a crashed run: partial garbage rows for the largest bucket,
    # written to the data dir with NO manifest entry
    garbage = spark.createDataFrame(
        [('conv-zzz', 999, 'PARTIAL', [], None, 1, 1, crashed)],
        'conv_id string, turn_idx int, main_text string, '
        'spans array<struct<start:int,end:int>>, parse_error string, '
        'n_nodes int, n_text_chars int, bucket int')
    garbage.write.mode('append').partitionBy('bucket').parquet(out)

    # run 2 processes two more (smallest pending) buckets - not the crashed
    r2 = run_with_resume(spark, inp, out, mf, n_buckets=8, max_buckets=2)
    assert r2['buckets_run'] == 2
    manifest = spark.read.parquet(mf)
    assert manifest.where(F.col('bucket') == crashed).count() == 0, \
        'crashed bucket must not be manifested by an unrelated run'

    # finishing runs redo the crashed bucket; its garbage is overwritten
    run_with_resume(spark, inp, out, mf, n_buckets=8)
    result = spark.read.parquet(out)
    assert result.where(F.col('main_text') == 'PARTIAL').count() == 0
    assert result.count() == len(turns_pdf)
    assert (result.groupBy('conv_id', 'turn_idx').count()
            .where('count > 1').count()) == 0
