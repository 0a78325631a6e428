"""One fresh process: build and warm a Spark session, then call a job.

Run as ``python3 -m perfbench.child '<json config>'`` by ``run.py``. The
process prints ``READY`` once the session is warm, so the parent can time
set-up from process start, and ``RESULT <json>`` at the end. Spark's own
logging goes to stderr.

Config keys: ``mode`` (``job`` or ``trace``), ``workload``, ``stage``
(staged input directory), ``out`` (fresh run directory), ``cpus`` and, for
``trace``, ``eventlog`` (the session's event log directory).
"""
from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys
import time

from .run import descendants

#: the output sort of the extraction job, as the executed plan prints it
OUTPUT_SORT_RX = re.compile(
    r'\[conv_id#\d+ ASC NULLS FIRST, turn_idx#\d+ ASC NULLS FIRST\], false')


#: the session settings that shape a run, recorded in every report
_CONF_KEYS = ('spark.master', 'spark.driver.memory',
              'spark.sql.shuffle.partitions', 'spark.sql.adaptive.enabled',
              'spark.sql.execution.arrow.pyspark.enabled',
              'spark.sql.execution.arrow.maxRecordsPerBatch',
              'spark.sql.execution.arrow.maxBytesPerBatch',
              'spark.eventLog.enabled')


def warm(spark, cpus: int) -> None:
    """one tiny extraction job into a noop sink, one partition per core,
    so every Python worker is forked and has imported the kernel"""
    from pyxml_spark.pipeline import TRANSCRIPTS_SCHEMA, extract_turns
    rows = [(f'w{i}', i, 'tool', f'<p>warm {i}</p>', '', None)
            for i in range(16 * cpus)]
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    extract_turns(df, partitions=cpus).write.format('noop') \
        .mode('overwrite').save()


def worker_rss_peak_kb() -> int:
    """highest peak RSS (VmHWM) of any Python process descending from this
    one: the PySpark daemon and its forked workers. VmHWM is a high-water
    mark and the session keeps reused workers until it stops, so one
    reading just before the stop covers the whole job."""
    peak = 0
    for pid, name in descendants(os.getpid()).items():
        if not name.startswith('python'):
            continue
        try:
            with open(f'/proc/{pid}/status') as f:
                for line in f:
                    if line.startswith('VmHWM:'):
                        peak = max(peak, int(line.split()[1]))
                        break
        except OSError:
            pass  # the process ended between listing and reading
    return peak


class StopCapture:
    """records the executed plan of every SQL execution of a session and
    the Python workers' peak RSS just before the job stops it (jobs stop
    the session they are given); the time spent recording is kept apart
    so it can leave the job's wall"""

    def __init__(self):
        self.plans: list = []
        self.worker_rss_kb = 0
        self.seconds = 0.0

    def __enter__(self):
        from pyspark.sql import SparkSession
        self._real_stop = SparkSession.stop
        capture = self

        def stop(session):
            t0 = time.perf_counter()
            capture.plans = execution_plans(session)
            capture.worker_rss_kb = worker_rss_peak_kb()
            capture.seconds += time.perf_counter() - t0
            capture._real_stop(session)
        SparkSession.stop = stop
        return self

    def __exit__(self, *exc):
        from pyspark.sql import SparkSession
        SparkSession.stop = self._real_stop


def execution_plans(spark, after: int = -1) -> list:
    """[(execution id, description, physical plan)] from the SQL status
    store, which Spark keeps with the UI disabled"""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() > after:
            out.append((e.executionId(), e.description(),
                        e.physicalPlanDescription()))
    return out


def extraction_plan_ok(plans: list) -> bool:
    """the job's output write ran the Arrow kernel and the output sort"""
    for _, _, plan in plans:
        final = plan.split('== Initial Plan ==')[0]
        if ('InsertIntoHadoopFsRelationCommand' in final
                and 'MapInArrow' in final
                and OUTPUT_SORT_RX.search(plan)):
            return True
    return False


def job_argv(workload: str, stage: str, out: str, cpus: int) -> list:
    inp = os.path.join(stage, 'input')
    if workload == 'curate_corpus':
        return ['--input', inp, '--output', out, '--cpus', str(cpus),
                '--benchmark', os.path.join(stage, 'eval')]
    return ['--input', inp, '--output', os.path.join(out, 'out'),
            '--manifest', os.path.join(out, 'manifest'),
            '--cpus', str(cpus)]


def call_job(workload: str, argv: list) -> dict:
    """one job entry-point call on the active session, timed; returns the
    wall, the job's own metrics line, the executed plans and the peak
    worker RSS read when the job stops its session"""
    if workload == 'curate_corpus':
        from pyxml_spark.jobs.curate import main
    else:
        from pyxml_spark.jobs.extract import main
    buf = io.StringIO()
    with StopCapture() as stop:
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(buf):
            rc = main(argv)
        wall = time.perf_counter() - t0 - stop.seconds
    lines = [ln for ln in buf.getvalue().splitlines() if ln.startswith('{')]
    return {'rc': rc, 'wall_s': wall,
            'job_metrics': json.loads(lines[-1]) if lines else None,
            'worker_rss_peak_mb': stop.worker_rss_kb / 1024.0,
            'plan_ok': extraction_plan_ok(stop.plans),
            'plans': [(i, d) for i, d, _ in stop.plans]}


def shutdown_jvm() -> None:
    """end the JVM this process launched and wait for it"""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, 'proc', None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    cfg = json.loads((argv or sys.argv[1:])[0])
    from pyxml_spark.jobs.extract import build_session
    cpus = cfg['cpus']
    spark = build_session(cpus)
    spark.sparkContext.setLogLevel('ERROR')
    warm(spark, cpus)
    print('READY', flush=True)
    conf = {k: spark.conf.get(k, None) for k in _CONF_KEYS}
    try:
        if cfg['mode'] == 'job':
            result = call_job(cfg['workload'],
                              job_argv(cfg['workload'], cfg['stage'],
                                       cfg['out'], cpus))
        else:
            from .trace import traced_run
            result = traced_run(spark, cfg)
    finally:
        shutdown_jvm()
    result['session_conf'] = conf
    print('RESULT ' + json.dumps(result), flush=True)
    return 0


if __name__ == '__main__':
    raise SystemExit(main())
