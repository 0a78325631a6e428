"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS] (default: every usable core); prints ONE JSON line.

Headline metric: transcript extraction throughput (turns/sec) over a
deterministic synthetic transcripts table sized ~10M rows/sf (1M at sf0.1),
plus representative engine/pipeline queries from __spark_entry__.

This module is also the harness the scripts import: the extraction timing
loop (``time_extract``, which scripts/scaling_bench.py runs at nproc/4 and
at nproc cores), best-of timing (``best_of``, ``interleaved_best``), the
soak skeleton (``soak_parser`` + ``run_soak``, ``staged``) and the host
facts and CPU probes stamped into every JSON line (``stamped``). Sessions
come from ``jobs.extract.build_session``; core counts, host facts and CPU
probes from ``perfbench.run``.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from perfbench.run import cpu_probe, host_facts, nproc  # noqa: E402
from pyxml_spark.jobs.extract import build_session  # noqa: E402

BENCH_TMP = os.environ.get('PYXML_SPARK_BENCH_DIR', '/tmp/pyxml_spark_bench')


def default_cpus() -> int:
    """$SPARK_GRAFT_CPUS, else every core this process may run on"""
    return int(os.environ.get('SPARK_GRAFT_CPUS', nproc()))


def stamped(out: dict, probe_before: float) -> dict:
    """``out`` with the host facts and the CPU probe taken before and after
    the measurement: the VM throttles, and a throttled window reads lower
    on the probe, so the JSON line explains itself without a rerun"""
    return {**out, 'host': host_facts(), 'cpu_probe_before': probe_before,
            'cpu_probe_after': cpu_probe(nproc())}


def best_of(fn, reps: int) -> tuple:
    """(result of the last call, fastest wall) over ``reps`` calls: the
    sandbox host burst-throttles, so a single window under-reports
    capability"""
    best = None
    for _ in range(reps):
        t0 = time.time()
        result = fn()
        run = time.time() - t0
        best = run if best is None or run < best else best
    return result, best


def interleaved_best(frames: dict, reps: int, action) -> dict:
    """{name: fastest wall of ``action(frames[name]())``} over ``reps``
    rounds that run every path once, in an order flipped each round so a
    monotone throttle ramp hits every path alike"""
    best: dict = {}
    for r in range(reps):
        for name in (list(frames)[::-1] if r % 2 else list(frames)):
            _, dt = best_of(lambda: action(frames[name]()), 1)
            best[name] = min(dt, best.get(name, dt))
    return best


def staged(df, path: str):
    """``df`` written to parquet at ``path`` and read back, so later stages
    start from the stored table instead of recomputing it"""
    df.write.mode('overwrite').parquet(path)
    return df.sparkSession.read.parquet(path)


def time_extract(spark, turns, cpus: int, reps: int = 2) -> tuple:
    """(rows, best wall) of ``extract_turns(turns).count()`` after a
    20k-turn call that warms the Python workers"""
    from pyxml_spark.pipeline import extract_turns
    extract_turns(turns.limit(20_000), partitions=cpus * 2).count()
    return best_of(lambda: extract_turns(turns, partitions=cpus * 2).count(),
                   reps)


def soak_parser(rows: int) -> argparse.ArgumentParser:
    """the flags every Spark soak takes; a soak adds its own"""
    ap = argparse.ArgumentParser()
    ap.add_argument('--rows', type=int, default=rows)
    ap.add_argument('--cpus', type=int, default=default_cpus())
    return ap


def run_soak(name: str, args, body) -> int:
    """the soak skeleton: a local[--cpus] session and a temp dir for
    ``body(spark, tmp, args)``, which asserts its floors and returns
    (result dict, markdown report or None); prints the result as one JSON
    line with --cpus and the host stamp, writes the report to
    BENCH/{name}_{rows}.md, then stops the session and removes the temp
    dir (kept with --keep where a soak offers it)"""
    spark = build_session(args.cpus, app=f'pyxml-spark-{name.lower()}')
    spark.sparkContext.setLogLevel('ERROR')
    tmp = tempfile.mkdtemp(prefix=f'pyxml_{name.lower()}_')
    try:
        probe_before = cpu_probe(nproc())
        out, md = body(spark, tmp, args)
        print(json.dumps(stamped({**out, 'cpus': args.cpus}, probe_before)))
        if md is not None:
            with open(os.path.join(REPO, 'BENCH', f'{name}_{args.rows}.md'),
                      'w') as fh:
                fh.write(md)
        return 0
    finally:
        try:
            spark.stop()
        finally:  # a dead gateway's teardown error must not skip clean-up
            if not getattr(args, 'keep', False):
                shutil.rmtree(tmp, ignore_errors=True)


def sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip('/'))
    try:
        return float(base.replace('sf', ''))
    except ValueError:
        return 0.1


def transcripts_path(spark, sf: float) -> str:
    """cached deterministic transcripts parquet for this sf"""
    rows = max(int(10_000_000 * sf), 20_000)
    path = os.path.join(BENCH_TMP, f'transcripts_v2_sf{sf}_{rows}.parquet')
    marker = os.path.join(path, '_SUCCESS')
    if not os.path.exists(marker):
        from pyxml_spark.pipeline.transcripts import write_transcripts
        write_transcripts(spark, path, rows, seed=42,
                          partitions=max(spark.sparkContext.defaultParallelism,
                                         8))
    return path


def main() -> int:
    sf_dir = os.environ.get('SPARK_GRAFT_SF_DIR', '/root/testdata/sf0.1')
    cpus = default_cpus()
    sf = sf_from_dir(sf_dir)

    import __spark_entry__ as entry

    spark = build_session(cpus, app='pyxml-spark-bench')
    spark.sparkContext.setLogLevel('ERROR')
    timings: dict[str, float] = {}
    extras: dict[str, float] = {}
    try:
        probe_before = cpu_probe(nproc())
        tpath = transcripts_path(spark, sf)
        turns = spark.read.parquet(tpath)
        n_turns = turns.count()

        rows_out, dt = time_extract(spark, turns, cpus)
        timings['transcripts_extract'] = round(dt, 3)
        extras['turns'] = n_turns
        extras['turns_per_sec'] = round(rows_out / dt, 1)

        # best-of-2 per query for the same reason as the extraction timing:
        # the host burst-throttles, and a query's fixed plan/codegen cost
        # doubles under a throttled window
        for name in ('extract_html_wrapped', 'xpath_count', 'minhash_band',
                     'simsearch_topk', 'join_rollup', 'agg_by_source',
                     'pdf_layout_extract'):
            fn = entry.queries()[name]
            _, best = best_of(lambda: fn(spark, sf_dir).count(), 2)
            timings[name] = round(best, 3)

        total = round(sum(timings.values()), 3)
        print(json.dumps(stamped({
            'metric': 'turns/sec extraction throughput'
                      ' (+ headline query wall times)',
            'value': total,
            'unit': 'sec',
            'queries': timings,
            'sf': sf,
            'cpus': cpus,
            **extras,
        }, probe_before)))
        return 0
    finally:
        spark.stop()


if __name__ == '__main__':
    raise SystemExit(main())
