"""The traced run: split one job's wall time across the program's layers.

Every span is recorded here, around calls into each module's public
functions; the program itself is not instrumented. Layers and their
metrics (all in ``PER_LAYER``):

* Spark ladder (``pipeline.io``, ``pipeline.skew``, ``pipeline.extract``):
  five cumulative rungs — scan, + salted Exchange, + identity
  ``mapInArrow``, + kernel, + output sort — each consumed by a ``noop``
  write and checked to contain its operator in the executed plan, on a
  session warmed like the job's. A rung's metric is its increment over
  the rung below (the layer's self time), best of ``_PASSES`` passes; a
  layer cheaper than run-to-run noise can read slightly below zero.
* Event log of the traced job call (only the traced session enables it):
  shuffle bytes, kernel-stage task count and skew, JVM GC share.
* ``pipeline.resume`` / ``jobs.extract``: job wall minus the sorted
  rung, a no-op rerun on the completed manifest, bytes and files written.
* Kernel sub-ladder, in-process on one core over a fixed sample of the
  workload's payloads: ``pump_document`` into a null sink, + ``gather``,
  ``score_fragments``/``select_main``, per-turn ``extract_payload`` and
  the Arrow build: ``extract_arrow_batches`` minus the ``extract_payload``
  total, which also builds a dict per turn, so it can read below zero.
* Curate ladder (``pipeline.curate``, ``pipeline.dedup``,
  ``pipeline.prefix``): the curation job's stages, one at a time.

A metric a workload does not exercise reads 0 and is listed, with the
reason, under ``not_applicable`` in the report line.
"""
from __future__ import annotations

import glob
import json
import os
import statistics
import time

from . import child
from .workloads import EXTRACT_WORKLOADS

#: per-layer metric -> (unit, better)
PER_LAYER = {
    'io.scan_s': ('s', 'lower'),
    'skew.exchange_s': ('s', 'lower'),
    'extract.arrow_roundtrip_s': ('s', 'lower'),
    'extract.kernel_s': ('s', 'lower'),
    'extract.sort_s': ('s', 'lower'),
    'extract.rows_per_arrow_batch': ('count', 'higher'),
    'extract.kernel_tasks': ('count', 'higher'),
    'skew.shuffle_mb': ('MB', 'lower'),
    'skew.task_max_over_median': ('ratio', 'lower'),
    'jvm.gc_share': ('share', 'lower'),
    'resume.overhead_s': ('s', 'lower'),
    'resume.noop_rerun_s': ('s', 'lower'),
    'resume.write_amplification': ('ratio', 'lower'),
    'resume.files_written': ('count', 'lower'),
    'pump.us_per_turn': ('us', 'lower'),
    'pump.mb_per_s': ('MB/s', 'higher'),
    'gather.us_per_turn': ('us', 'lower'),
    'gather.fragments_per_turn': ('count', 'lower'),
    'heuristics.us_per_turn': ('us', 'lower'),
    'heuristics.blocks_kept_share': ('share', 'higher'),
    'extract.turn_p50_us': ('us', 'lower'),
    'extract.turn_p99_us': ('us', 'lower'),
    'extract.arrow_build_us_per_turn': ('us', 'lower'),
    'extract.fast_path_share': ('share', 'higher'),
    'extract.parse_error_share': ('share', 'lower'),
    'extract.yield_share': ('share', 'higher'),
    'curate.score_s': ('s', 'lower'),
    'dedup.minhash_s': ('s', 'lower'),
    'dedup.candidates_s': ('s', 'lower'),
    'dedup.jaccard_s': ('s', 'lower'),
    'dedup.components_s': ('s', 'lower'),
    'curate.decontaminate_s': ('s', 'lower'),
    'prefix.pack_s': ('s', 'lower'),
    'dedup.candidates_per_doc': ('count', 'lower'),
    'dedup.verified_share': ('share', 'higher'),
    'job.traced_wall_s': ('s', 'lower'),
    'scaling.eff_1_to_nproc': ('share', 'higher'),
    'trace.overhead_share': ('share', 'lower'),
    'mismatch_share': ('share', 'lower'),
}

_EXTRACT_ONLY = [
    'skew.exchange_s', 'extract.arrow_roundtrip_s', 'extract.kernel_s',
    'extract.sort_s', 'extract.rows_per_arrow_batch', 'extract.kernel_tasks',
    'skew.shuffle_mb', 'skew.task_max_over_median', 'resume.overhead_s',
    'resume.noop_rerun_s', 'pump.us_per_turn', 'pump.mb_per_s',
    'gather.us_per_turn', 'gather.fragments_per_turn',
    'heuristics.us_per_turn', 'heuristics.blocks_kept_share',
    'extract.turn_p50_us', 'extract.turn_p99_us',
    'extract.arrow_build_us_per_turn', 'extract.fast_path_share',
    'extract.parse_error_share', 'extract.yield_share',
    'scaling.eff_1_to_nproc']
_CURATE_ONLY = [
    'curate.score_s', 'dedup.minhash_s', 'dedup.candidates_s',
    'dedup.jaccard_s', 'dedup.components_s', 'curate.decontaminate_s',
    'prefix.pack_s', 'dedup.candidates_per_doc', 'dedup.verified_share']

#: noop writes per Spark ladder rung; a rung reads its fastest pass
_PASSES = 3
#: payload bytes and turns of the in-process kernel sample
_SAMPLE_BYTES = 1_500_000
_SAMPLE_TURNS = 3000


# ------------------------------------------------------------- parent side

def traced(workload: str, stage: str, facts: dict, tmp: str, cpus: int):
    """(calls, metrics, units) of a traced run; called by run.py"""
    from .run import run_child, timed_call, tree_bytes, verify
    calls = [timed_call(workload, stage, facts, tmp, cpus, 0)]
    out = os.path.join(tmp, 'traced')
    eventlog = os.path.join(tmp, 'eventlog')
    os.makedirs(eventlog)
    submit = (f'--conf spark.eventLog.enabled=true '
              f'--conf spark.eventLog.dir=file://{eventlog} '
              f'--conf spark.eventLog.compress=false '
              f'--conf spark.eventLog.rolling.enabled=false pyspark-shell')
    setup_s, res = run_child(
        {'mode': 'trace', 'workload': workload, 'stage': stage, 'out': out,
         'cpus': cpus, 'eventlog': eventlog}, tmp,
        {'PYSPARK_SUBMIT_ARGS': submit})
    job = res['job']
    check = verify(workload, stage, os.path.join(out, 'job'), job, facts)
    job.update(setup_s=setup_s, check=check, traced=True,
               session_conf=res['session_conf'])
    calls.append(job)

    layers = dict(res['layers'])
    layers['job.traced_wall_s'] = job['wall_s']
    layers['trace.overhead_share'] = job['wall_s'] / calls[0]['wall_s'] - 1
    layers['mismatch_share'] = (check['mismatched_rows']
                                / max(check['expected_rows'], 1))
    layers['resume.write_amplification'] = (
        check['output_bytes'] / tree_bytes(os.path.join(stage, 'input')))
    layers['resume.files_written'] = check['files_written']
    not_applicable = dict(res['not_applicable'])
    if workload in EXTRACT_WORKLOADS:
        layers['resume.overhead_s'] = job['wall_s'] - res['sorted_rung_s']
        layers['extract.fast_path_share'] = (facts['fast_path_rows']
                                             / facts['rows'])
        layers['extract.parse_error_share'] = (check['parse_errors']
                                               / facts['rows'])
        layers['extract.yield_share'] = (check['output_chars']
                                         / facts['input_chars'])
    metrics = {}
    for name in PER_LAYER:
        if name not in layers and name not in not_applicable:
            not_applicable[name] = 'not produced by this run'
        metrics[name] = float(layers.get(name, 0.0))
    calls[-1]['layers'] = layers
    calls[-1]['not_applicable'] = not_applicable
    return calls, metrics, {k: v[0] for k, v in PER_LAYER.items()}


# -------------------------------------------------------------- child side

def traced_run(spark, cfg: dict) -> dict:
    """run in the traced child on its warm session; returns layers.

    The traced job call comes first, on the session warmed exactly like
    an untraced call's, so its wall compares with the untraced median;
    the ladders run afterwards on a new session in the same JVM."""
    from pyxml_spark.jobs.extract import build_session
    workload, stage, out = cfg['workload'], cfg['stage'], cfg['out']
    cpus = cfg['cpus']
    argv = child.job_argv(workload, stage, os.path.join(out, 'job'), cpus)
    app_id = spark.sparkContext.applicationId
    first_id = max([i for i, _, _ in child.execution_plans(spark)] + [-1])
    result = {'job': child.call_job(workload, argv)}  # stops the session
    layers = event_log_layers(cfg['eventlog'], app_id, first_id)

    spark = build_session(cpus)
    spark.sparkContext.setLogLevel('ERROR')
    if workload in EXTRACT_WORKLOADS:
        child.warm(spark, cpus)
        ladder, result['sorted_rung_s'] = spark_ladder(spark, stage)
        layers.update(ladder)
        layers.update(kernel_ladder(stage))
        rerun = child.call_job(workload, argv)  # stops the session
        layers['resume.noop_rerun_s'] = rerun['wall_s']
        layers['scaling.eff_1_to_nproc'] = scaling_eff(
            stage, cpus, layers['kernel_rung_s'])
        reason = 'the extraction workloads do not run the curation job'
        result['not_applicable'] = {k: reason for k in _CURATE_ONLY}
    else:
        try:
            layers.update(curate_ladder(spark, stage,
                                        os.path.join(out, 'ladder')))
        finally:
            spark.stop()
        reason = 'the curation job runs no extraction kernel'
        result['not_applicable'] = {k: reason for k in _EXTRACT_ONLY}
    result['layers'] = layers
    return result


def _noop(frame) -> float:
    t0 = time.perf_counter()
    frame.write.format('noop').mode('overwrite').save()
    return time.perf_counter() - t0


def _rung_plan_ok(spark, after: int, marker: str) -> tuple:
    plans = child.execution_plans(spark, after)
    last = max([i for i, _, _ in plans] + [after])
    if marker == 'output sort':
        ok = any(child.OUTPUT_SORT_RX.search(p) for _, _, p in plans)
    else:
        ok = any(marker in p.split('== Initial Plan ==')[0]
                 for _, _, p in plans)
    return ok, last


def _batch_counter(batches_acc, rows_acc):
    def identity(it):
        for batch in it:
            batches_acc.add(1)
            rows_acc.add(batch.num_rows)
            yield batch
    return identity


def spark_ladder(spark, stage: str) -> tuple:
    """(layer self times and batch fill, sorted-rung wall)"""
    from pyxml_spark.pipeline.extract import extract_turns
    from pyxml_spark.pipeline.io import read_transcripts
    from pyxml_spark.pipeline.skew import salted_repartition

    df = read_transcripts(spark, os.path.join(stage, 'input')) \
        .select('conv_id', 'turn_idx', 'text')
    sc = spark.sparkContext
    batches, rows = sc.accumulator(0), sc.accumulator(0)
    rungs = [
        ('io.scan_s', lambda: df, 'Scan parquet'),
        ('skew.exchange_s', lambda: salted_repartition(df), 'Exchange'),
        ('extract.arrow_roundtrip_s',
         lambda: salted_repartition(df).mapInArrow(
             _batch_counter(batches, rows), df.schema), 'MapInArrow'),
        ('extract.kernel_s', lambda: extract_turns(df, sort_output=False),
         'MapInArrow'),
        ('extract.sort_s', lambda: extract_turns(df), 'output sort'),
    ]
    best = {name: float('inf') for name, _, _ in rungs}
    last = max([i for i, _, _ in child.execution_plans(spark)] + [-1])
    for _ in range(_PASSES):
        batches.value, rows.value = 0, 0
        for name, frame, marker in rungs:
            best[name] = min(best[name], _noop(frame()))
            ok, last = _rung_plan_ok(spark, last, marker)
            if not ok:
                raise RuntimeError(f'rung {name}: no {marker} in the plan')
    layers, below = {}, 0.0
    for name, _, _ in rungs:
        layers[name] = best[name] - below
        below = best[name]
    layers['kernel_rung_s'] = best['extract.kernel_s']
    layers['extract.rows_per_arrow_batch'] = rows.value / max(batches.value, 1)
    return layers, best['extract.sort_s']


def scaling_eff(stage: str, cpus: int, kernel_rung_s: float) -> float:
    """(kernel rung at local[1] / kernel rung at local[nproc]) / nproc; the
    local[1] rung runs on a fresh context in this process, warmed and
    timed like the local[nproc] one: best of ``_PASSES`` noop writes"""
    from pyxml_spark.jobs.extract import build_session
    from pyxml_spark.pipeline.extract import extract_turns
    from pyxml_spark.pipeline.io import read_transcripts
    spark = build_session(1)
    spark.sparkContext.setLogLevel('ERROR')
    try:
        child.warm(spark, 1)
        df = read_transcripts(spark, os.path.join(stage, 'input')) \
            .select('conv_id', 'turn_idx', 'text')
        one = min(_noop(extract_turns(df, sort_output=False))
                  for _ in range(_PASSES))
    finally:
        spark.stop()
    return one / kernel_rung_s / cpus


class NullSink:
    """composer-protocol sink that keeps nothing: times the pump alone"""

    def start(self, tag, attrs):
        pass

    def startend(self, tag, attrs):
        pass

    def end(self, tag):
        pass

    def data(self, text, span=None):
        pass

    def comment(self, text):
        pass

    def declaration(self, declaration):
        pass

    def pi(self, target, pi):
        pass

    def close(self):
        return None


def kernel_sample(stage: str) -> list:
    """a fixed stride sample of the staged payloads"""
    import pyarrow.parquet as pq
    table = pq.read_table(os.path.join(stage, 'input'),
                          columns=['conv_id', 'turn_idx', 'text'])
    texts = table.column('text').to_pylist()
    stride = max(1, len(texts) // _SAMPLE_TURNS)
    sample, size = [], 0
    for i in range(0, len(texts), stride):
        if size >= _SAMPLE_BYTES or len(sample) >= _SAMPLE_TURNS:
            break
        sample.append(i)
        size += len(texts[i])
    return [(table.column('conv_id')[i].as_py(),
             table.column('turn_idx')[i].as_py(), texts[i]) for i in sample]


def _best(fn, reps: int = 2) -> float:
    best = float('inf')
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def kernel_ladder(stage: str) -> dict:
    """in-process per-turn costs of the kernel's layers on one core"""
    import pyarrow as pa

    from pyxml_spark.engine.parse import HTML_VOID
    from pyxml_spark.engine.pump import pump_document
    from pyxml_spark.pipeline.extract import (extract_arrow_batches,
                                              extract_payload)
    from pyxml_spark.pipeline.gather import gather_document
    from pyxml_spark.pipeline.heuristics import (ExtractConfig,
                                                 score_fragments,
                                                 select_main)

    sample = kernel_sample(stage)
    n = len(sample)
    markup = [t.encode() for _, _, t in sample if '<' in t or '>' in t]

    def pump_all():
        for data in markup:
            try:
                pump_document(data, NullSink(), fix_broken=True,
                              empty=HTML_VOID, track_spans=True)
            except Exception:  # noqa: BLE001 - parse errors end the turn
                pass

    gathered = []

    def gather_all():
        gathered.clear()
        for data in markup:
            try:
                gathered.append(gather_document(data))
            except Exception:  # noqa: BLE001
                pass

    config = ExtractConfig()

    def select_all():
        for frags, boiler, n_nodes in gathered:
            select_main(score_fragments(frags, boiler), n_nodes, config)

    pump_s = _best(pump_all)
    gather_s = _best(gather_all)
    select_s = _best(select_all)

    blocks = kept = 0
    for frags, boiler, _ in gathered:
        for blk in score_fragments(frags, boiler):
            blocks += 1
            kept += (not blk.boiler and blk.n_chars >= config.min_block_chars
                     and not (blk.n_chars and blk.link_chars / blk.n_chars
                              > config.max_link_density))

    texts = [t for _, _, t in sample]
    payload_s = _best(lambda: [extract_payload(t) for t in texts])
    per_turn = []
    for text in texts:
        t0 = time.perf_counter_ns()
        extract_payload(text)
        per_turn.append((time.perf_counter_ns() - t0) / 1000)
    batch = pa.RecordBatch.from_pydict({
        'conv_id': [c for c, _, _ in sample],
        'turn_idx': pa.array([i for _, i, _ in sample], pa.int32()),
        'text': texts})
    arrow_s = _best(lambda: list(extract_arrow_batches(iter([batch]))))
    q = statistics.quantiles(per_turn, n=100)
    return {
        'pump.us_per_turn': pump_s / n * 1e6,
        'pump.mb_per_s': sum(map(len, markup)) / max(pump_s, 1e-9) / 1e6,
        'gather.us_per_turn': (gather_s - pump_s) / n * 1e6,
        'gather.fragments_per_turn': (sum(len(g[0]) for g in gathered)
                                      / max(len(gathered), 1)),
        'heuristics.us_per_turn': select_s / n * 1e6,
        'heuristics.blocks_kept_share': kept / max(blocks, 1),
        'extract.turn_p50_us': statistics.median(per_turn),
        'extract.turn_p99_us': q[98],
        'extract.arrow_build_us_per_turn': (arrow_s - payload_s) / n * 1e6,
        'kernel_sample_turns': n,
    }


def curate_ladder(spark, stage: str, out: str) -> dict:
    """the curation job's stages, each timed alone on the staged corpus"""
    from pyspark.sql import functions as F

    from pyxml_spark.pipeline.curate import (REP_MAX_X10K, decontaminate,
                                             score_documents)
    from pyxml_spark.pipeline.dedup import (candidate_pairs, dup_components,
                                            jaccard_pairs, minhash_bands,
                                            token_sets)
    from pyxml_spark.pipeline.prefix import running_sum_before

    def timed_write(make_frame, name: str) -> float:
        """build the frame (some stages compute eagerly) and write it"""
        t0 = time.perf_counter()
        make_frame().write.mode('overwrite').parquet(os.path.join(out, name))
        return time.perf_counter() - t0

    def read(name: str):
        return spark.read.parquet(os.path.join(out, name))

    docs = spark.read.parquet(os.path.join(stage, 'input')) \
        .select('doc_id', 'source', 'text')
    layers = {'io.scan_s': _noop(docs)}
    layers['curate.score_s'] = timed_write(
        lambda: score_documents(docs).withColumn(
            'passes', F.col('is_quality') & (F.col('lang') == 'en')
            & (F.col('rep_x10k') <= REP_MAX_X10K)), 'gated')
    survivors = read('gated').where('passes') \
        .select('doc_id', 'source', 'text', 'n_tokens')
    layers['dedup.minhash_s'] = timed_write(
        lambda: token_sets(survivors), 'toks')
    toks = read('toks')
    layers['dedup.minhash_s'] += timed_write(
        lambda: minhash_bands(toks), 'bands')
    layers['dedup.candidates_s'] = timed_write(
        lambda: candidate_pairs(read('bands')), 'cands')
    layers['dedup.jaccard_s'] = timed_write(
        lambda: jaccard_pairs(toks, read('cands')), 'jaccard')
    dups = read('jaccard').where('is_dup').select('doc_a', 'doc_b')
    layers['dedup.components_s'] = timed_write(
        lambda: dup_components(toks, dups), 'keepers')
    kept = (survivors.join(read('keepers'), 'doc_id')
            .where(F.col('doc_id') == F.col('keeper')).drop('keeper'))
    bench = spark.read.parquet(os.path.join(stage, 'eval'))
    layers['curate.decontaminate_s'] = _noop(decontaminate(kept, bench))
    layers['prefix.pack_s'] = _noop(running_sum_before(
        kept, 'source', 'doc_id', 'n_tokens', 'tokens_before'))
    n_cands = read('cands').count()
    layers['dedup.candidates_per_doc'] = n_cands / max(survivors.count(), 1)
    layers['dedup.verified_share'] = (read('jaccard').where('is_dup').count()
                                      / max(n_cands, 1))
    return layers


def event_log_layers(eventlog: str, app_id: str, after: int) -> dict:
    """shuffle, kernel-stage and GC figures of the SQL executions with id
    above ``after`` in one application's event log"""
    path = [p for p in glob.glob(os.path.join(eventlog, '*'))
            if os.path.basename(p).startswith(app_id)][0]
    exec_of_stage, plan_of_exec, scopes, tasks = {}, {}, {}, []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get('Event', '')
            if kind.endswith('SQLExecutionStart'):
                plan_of_exec[ev['executionId']] = \
                    ev.get('physicalPlanDescription', '')
            elif kind == 'SparkListenerJobStart':
                eid = (ev.get('Properties') or {}).get(
                    'spark.sql.execution.id')
                if eid is not None:
                    for sid in ev['Stage IDs']:
                        exec_of_stage[sid] = int(eid)
            elif kind == 'SparkListenerStageCompleted':
                info = ev['Stage Info']
                scopes[info['Stage ID']] = ' '.join(
                    r.get('Scope', '') for r in info.get('RDD Info', []))
            elif kind == 'SparkListenerTaskEnd':
                tasks.append(ev)
    write_execs = {e for e, p in plan_of_exec.items()
                   if e > after and 'MapInArrow' in p
                   and 'InsertIntoHadoopFsRelationCommand' in p}
    run = gc = shuffle = 0
    kernel = []
    for ev in tasks:
        sid = ev['Stage ID']
        eid = exec_of_stage.get(sid, -1)
        if eid <= after:
            continue
        m = ev.get('Task Metrics') or {}
        run += m.get('Executor Run Time', 0)
        gc += m.get('JVM GC Time', 0)
        if eid in write_execs:
            shuffle += (m.get('Shuffle Write Metrics') or {}).get(
                'Shuffle Bytes Written', 0)
            if 'MapInArrow' in scopes.get(sid, ''):
                kernel.append(m.get('Executor Run Time', 0))
    layers = {'jvm.gc_share': gc / max(run, 1)}
    if write_execs:
        layers.update({
            'skew.shuffle_mb': shuffle / 1e6,
            'extract.kernel_tasks': len(kernel),
            'skew.task_max_over_median': (
                max(kernel) / max(statistics.median(kernel), 1)
                if kernel else 0.0)})
    return layers
