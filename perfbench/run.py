"""Job-path benchmark of pyxml_spark: extraction and curation, end to end.

    python3 perfbench/run.py --workload chat_mixed --seed 1 --seconds 10 \
        --trace 0

Run it from the repository root. Workloads: ``chat_mixed``, ``web_pages``,
``plain_skewed`` (the extraction job ``jobs.extract.main``) and
``curate_corpus`` (the curation job ``jobs.curate.main``).

``--trace 0`` times the job entry point in a closed loop: one job at a
time, each in a fresh process that builds the job's own ``local[nproc]``
session (``jobs.extract.build_session``) and warms its Python workers
before the timed call; calls repeat until ``--seconds`` have passed (at
least one). Every output row is checked against the expected rows staged
with the input. ``--trace 1`` runs one untraced call and then a traced
process that splits one job call into layers (see ``trace.py``); the
traced call's overhead is measured against the untraced one.

The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
a report with host facts, the session config, CPU probes, the output
digest and per-call details. Inputs, expected outputs and scratch files
live under ``.perfbench/`` in the repository root.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, '.perfbench')

#: fixed pure-CPU work for the throttle probe, run on every core at once
_PROBE_WORK = 'x=0\nfor i in range(2_000_000): x+=i*i\n'

E2E_UNITS = {'turns_per_s': '1/s', 'docs_per_s': '1/s', 'setup_s': 's',
             'worker_rss_peak_mb': 'MB'}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_probe(procs: int) -> float:
    """probe work units per second with ``procs`` processes at once; a
    throttled host reads lower"""
    t0 = time.perf_counter()
    ps = [subprocess.Popen([sys.executable, '-c', _PROBE_WORK])
          for _ in range(procs)]
    for p in ps:
        p.wait()
    return procs / (time.perf_counter() - t0)


def child_env(tmp: str) -> dict:
    """keep Spark's scratch, the JVM's temp files and Python's inside
    the checkout; let Python workers import the program"""
    env = dict(os.environ)
    env['PYTHONPATH'] = os.pathsep.join(
        [ROOT] + [p for p in env.get('PYTHONPATH', '').split(os.pathsep) if p])
    env['SPARK_LOCAL_DIRS'] = os.path.join(tmp, 'spark-local')
    env['TMPDIR'] = tmp
    env['SPARK_SUBMIT_OPTS'] = (env.get('SPARK_SUBMIT_OPTS', '')
                                + f' -Djava.io.tmpdir={tmp} -XX:-UsePerfData')
    env['PYSPARK_PYTHON'] = sys.executable
    return env


def run_child(cfg: dict, tmp: str, extra_env: dict = None) -> tuple:
    """(set-up seconds, result dict) of one fresh child process"""
    env = child_env(tmp)
    env.update(extra_env or {})
    logs = os.path.join(WORK, 'logs')
    os.makedirs(logs, exist_ok=True)
    log = open(os.path.join(
        logs, f'{os.path.basename(tmp)}-{cfg["mode"]}.log'), 'ab')
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, '-m', 'perfbench.child', json.dumps(cfg)],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=log,
        start_new_session=True, text=True)
    setup_s, result = None, None
    try:
        for line in proc.stdout:
            if line.startswith('READY') and setup_s is None:
                setup_s = time.perf_counter() - t0
            elif line.startswith('RESULT '):
                result = json.loads(line[len('RESULT '):])
        proc.wait(timeout=120)
    finally:
        _reap_group(proc)
        log.close()
    if proc.returncode != 0 or result is None or setup_s is None:
        raise RuntimeError(f'child failed (rc={proc.returncode}); see '
                           f'{log.name}')
    os.remove(log.name)
    return setup_s, result


def _reap_group(proc) -> None:
    """kill the child if it still runs, then every process it left"""
    if proc.poll() is None:
        proc.kill()
        proc.wait()
    reap_descendants()


def become_subreaper() -> None:
    """adopt every orphaned descendant, so none outlives this process
    unseen: the PySpark daemon moves to a process group of its own and
    outlives the JVM that started it by a moment"""
    import ctypes
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), 'prctl(PR_SET_CHILD_SUBREAPER)')


def descendants(root: int) -> dict:
    """{pid: command name} of every process below ``root``"""
    children: dict = {}
    names: dict = {}
    for entry in os.listdir('/proc'):
        if not entry.isdigit():
            continue
        try:
            with open(f'/proc/{entry}/stat') as f:
                stat = f.read()
        except OSError:
            continue  # the process ended between listing and reading
        ppid = int(stat[stat.rindex(')') + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
        names[int(entry)] = stat[stat.index('(') + 1:stat.rindex(')')]
    out, todo = {}, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = names[pid]
        todo.extend(children.get(pid, []))
    return out


def reap_descendants() -> None:
    """kill every process below this one and wait until each has ended"""
    while True:
        pids = list(descendants(os.getpid()))
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = -1
            if pid <= 0:
                break
        if not pids:
            return
        time.sleep(0.02)


# ------------------------------------------------------------ verification

def _row_digest(rows) -> str:
    h = hashlib.sha256()
    for row in rows:
        h.update(json.dumps(row, separators=(',', ':')).encode())
        h.update(b'\n')
    return h.hexdigest()[:16]


def _mismatches(want: dict, got_rows: list) -> int:
    """rows missing, duplicated, unexpected or differing from ``want``"""
    seen: dict = {}
    bad = 0
    for key, value in got_rows:
        seen[key] = seen.get(key, 0) + 1
        if seen[key] > 1 or key not in want or want[key] != value:
            bad += 1
    return bad + sum(1 for key in want if key not in seen)


def verify_extract(stage: str, out: str) -> dict:
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq
    exp = pq.read_table(os.path.join(stage, 'expected.parquet'))
    want = dict(zip(zip(exp.column('conv_id').to_pylist(),
                        exp.column('turn_idx').to_pylist()),
                    exp.column('main_text').to_pylist()))
    got = ds.dataset(os.path.join(out, 'out'), format='parquet',
                     partitioning='hive').to_table()
    cols = {c: got.column(c).to_pylist() for c in
            ('conv_id', 'turn_idx', 'main_text', 'spans', 'parse_error',
             'n_nodes', 'n_text_chars', 'n_raw_chars')}
    keys = list(zip(cols['conv_id'], cols['turn_idx']))
    bad = _mismatches(want, list(zip(keys, cols['main_text'])))
    full = sorted(zip(keys, cols['main_text'],
                      [[(s['start'], s['end']) for s in sp or []]
                       for sp in cols['spans']],
                      cols['parse_error'], cols['n_nodes'],
                      cols['n_text_chars'], cols['n_raw_chars']))
    return {'expected_rows': len(want), 'mismatched_rows': bad,
            'output_rows': len(keys), 'digest': _row_digest(full),
            'output_chars': sum(len(t or '') for t in cols['main_text']),
            'parse_errors': sum(1 for e in cols['parse_error']
                                if e is not None),
            'output_bytes': tree_bytes(out),
            'files_written': _tree_files(out)}


def verify_curate(stage: str, out: str, job_metrics: dict,
                  facts: dict) -> dict:
    import pyarrow.parquet as pq
    exp = pq.read_table(os.path.join(stage, 'expected.parquet')).to_pylist()
    want = {r['doc_id']: (r['source'], r['text'], r['n_tokens'],
                          r['pack_id']) for r in exp}
    got = pq.read_table(os.path.join(out, 'curated.parquet')).to_pylist()
    got_rows = [(r['doc_id'], (r['source'], r['text'], r['n_tokens'],
                               r['pack_id'])) for r in got]
    bad = _mismatches(want, got_rows)
    expected_metrics = facts['expected_metrics']
    metric_diffs = {k: [v, (job_metrics or {}).get(k)]
                    for k, v in expected_metrics.items()
                    if (job_metrics or {}).get(k) != v}
    kept = {r['doc_id'] for r in got}
    return {'expected_rows': len(want), 'mismatched_rows': bad,
            'output_rows': len(got), 'digest': _row_digest(sorted(
                [d, *v] for d, v in got_rows)),
            'gate_count_diffs': metric_diffs,
            'near_dup_recall': 1 - (len(set(facts['dup_ids']) & kept)
                                    / max(len(facts['dup_ids']), 1)),
            'output_bytes': tree_bytes(out),
            'files_written': _tree_files(out)}


def _tree_files(path: str) -> int:
    return sum(1 for _, _, fs in os.walk(path) for f in fs
               if f.endswith('.parquet'))


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if f.endswith('.parquet'))


def verify(workload: str, stage: str, out: str, result: dict,
           facts: dict) -> dict:
    if workload == 'curate_corpus':
        check = verify_curate(stage, out, result['job_metrics'], facts)
        check['ok'] = (result['rc'] == 0 and not check['mismatched_rows']
                       and not check['gate_count_diffs']
                       and check['near_dup_recall'] == 1)
    else:
        check = verify_extract(stage, out)
        check['ok'] = (result['rc'] == 0 and not check['mismatched_rows']
                       and result['plan_ok'])
    return check


# ------------------------------------------------------------------- runs

def timed_call(workload: str, stage: str, facts: dict, tmp: str,
               cpus: int, n: int) -> dict:
    """one fresh process, one job call into a fresh output; checked"""
    out = os.path.join(tmp, f'call{n}')
    setup_s, result = run_child(
        {'mode': 'job', 'workload': workload, 'stage': stage, 'out': out,
         'cpus': cpus}, tmp)
    check = verify(workload, stage, out, result, facts)
    shutil.rmtree(out, ignore_errors=True)
    result.update(setup_s=setup_s, check=check)
    return result


def end_to_end(calls: list, facts: dict) -> dict:
    walls = [c['wall_s'] for c in calls]
    return {
        'turns_per_s': statistics.median(facts['rows'] / w for w in walls),
        'docs_per_s': statistics.median(facts['docs'] / w for w in walls),
        'setup_s': statistics.median(c['setup_s'] for c in calls),
        'worker_rss_peak_mb': statistics.median(
            c['worker_rss_peak_mb'] for c in calls),
    }


def source_digest() -> str:
    """hash of the program's source files, for checkouts without git"""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, 'pyxml_spark')
    for d, _, fs in sorted(os.walk(pkg)):
        for f in sorted(fs):
            if f.endswith(('.py', '.json')):
                with open(os.path.join(d, f), 'rb') as fh:
                    h.update(f.encode() + b'\0' + fh.read())
    return h.hexdigest()[:16]


def host_facts() -> dict:
    import platform

    import pyarrow
    import pyspark
    try:
        sha = subprocess.run(['git', 'rev-parse', 'HEAD'], cwd=ROOT,
                             capture_output=True, text=True,
                             timeout=10).stdout.strip() or None
    except OSError:
        sha = None
    return {'nproc': nproc(), 'git_sha': sha,
            'source_digest': source_digest(),
            'python': platform.python_version(),
            'spark': pyspark.__version__, 'pyarrow': pyarrow.__version__}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', required=True)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, default=10)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS
    import pyxml_spark.jobs.curate  # noqa: F401 - fail early without it
    import pyxml_spark.jobs.extract  # noqa: F401
    if args.workload not in WORKLOADS:
        ap.error(f'unknown workload {args.workload}; one of {WORKLOADS}')
    become_subreaper()
    try:
        return measure(args)
    finally:
        reap_descendants()


def measure(args) -> int:
    """stage the inputs, run the calls, print the report and the result"""
    from perfbench import stage as staging
    cpus = nproc()
    stage = staging.stage(args.workload, args.seed,
                          os.path.join(WORK, 'cache'), cpus)
    with open(os.path.join(stage, 'facts.json')) as f:
        facts = json.load(f)
    tmp = os.path.join(WORK, 'tmp', f'{args.workload}-{os.getpid()}')
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    report = {'workload': args.workload, 'seed': args.seed,
              'trace': args.trace, 'host': host_facts(), 'facts': facts}
    try:
        report['cpu_probe_before'] = cpu_probe(cpus)
        if args.trace:
            from perfbench.trace import traced
            calls, metrics, units = traced(args.workload, stage, facts,
                                           tmp, cpus)
        else:
            calls = []
            t0 = time.perf_counter()
            while not calls or time.perf_counter() - t0 < args.seconds:
                calls.append(timed_call(args.workload, stage, facts, tmp,
                                        cpus, len(calls)))
            metrics, units = end_to_end(calls, facts), E2E_UNITS
        report['cpu_probe_after'] = cpu_probe(cpus)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    failed = sum(c['check']['mismatched_rows'] for c in calls)
    attempted = sum(c['check']['expected_rows'] for c in calls)
    report['calls'] = calls
    print(json.dumps(report, default=str))
    print(json.dumps({
        'correct': all(c['check']['ok'] for c in calls),
        'attempted': attempted, 'failed': failed,
        'metrics': {k: {'value': v, 'unit': units[k]}
                    for k, v in metrics.items()}}))
    return 0


if __name__ == '__main__':
    raise SystemExit(main())
