"""Interleaved same-host A/B of two source trees on the throttle-suspect
queries (VERDICT r4 item #2): transcripts_extract + pdf_layout_extract.

The sandbox VM burst-throttles (~2x single-thread swing over minutes), so
absolute timings across rounds are meaningless. This harness runs the two
trees in ALTERNATING subprocesses within one window (order flipped every
cycle to cancel monotone drift), takes best-of per tree, and reports the
within-window ratio — the only comparison that survives the throttle.

Usage:
    python3 scripts/ab_trees.py [--cycles 4] [--cpus N] \
        [--ref-commit 91c74a3] [--out BENCH/AB_R5_VS_R3.md]

The ref tree is materialized as a detached git worktree under /tmp (same
ephemeral scratch as the bench's cached transcripts table) and reused if
present. Both runners read the SAME cached sf0.1 transcripts parquet, so
the generator version cannot skew the comparison.
"""
from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get('SPARK_GRAFT_SF_DIR', '/root/testdata/sf0.1')


def usable_cpus() -> int:
    """cores this process may run on: the default parallelism, so the A/B
    never oversubscribes the box"""
    return len(os.sched_getaffinity(0))


def runner() -> int:
    """executed in a subprocess with AB_TREE pointing at the tree to time"""
    tree = os.environ['AB_TREE']
    sys.path.insert(0, tree)
    os.chdir(tree)
    cpus = int(os.environ.get('AB_CPUS', str(usable_cpus())))
    # bench.py is byte-identical in both trees (verified: git diff empty),
    # so importing it from the tree keeps session config exactly equal
    import bench
    import __spark_entry__ as entry
    from pyxml_spark.pipeline import extract_turns
    spark = bench.build_session(cpus)
    spark.sparkContext.setLogLevel('ERROR')
    out = {}
    try:
        sf = bench.sf_from_dir(SF_DIR)
        # bench owns the cache path AND generates the table if the cache
        # is cold — both trees' write_transcripts are seed-deterministic
        tpath = bench.transcripts_path(spark, sf)
        turns = spark.read.parquet(tpath)
        extract_turns(turns.limit(20_000), partitions=cpus * 2).count()
        best = None
        for _ in range(2):
            t0 = time.time()
            n = extract_turns(turns, partitions=cpus * 2).count()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        out['transcripts_extract'] = round(best, 3)
        out['rows'] = n
        fn = entry.queries()['pdf_layout_extract']
        best = None
        for _ in range(2):
            t0 = time.time()
            fn(spark, SF_DIR).count()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        out['pdf_layout_extract'] = round(best, 3)
    finally:
        spark.stop()
    print('ABRESULT ' + json.dumps(out))
    return 0


def ensure_worktree(commit: str) -> str:
    path = f'/tmp/pyxml_ab_{commit}'
    if not os.path.isdir(os.path.join(path, 'pyxml_spark')):
        subprocess.run(['git', '-C', REPO, 'worktree', 'add', '--detach',
                        '-f', path, commit], check=True)
    return path


def one_run(tree: str, cpus: int) -> dict:
    env = dict(os.environ, AB_TREE=tree, AB_CPUS=str(cpus),
               PYTHONPATH=tree)
    p = subprocess.run([sys.executable, os.path.abspath(__file__),
                        '--runner'], env=env, capture_output=True,
                       text=True, timeout=1200)
    for line in p.stdout.splitlines():
        if line.startswith('ABRESULT '):
            return json.loads(line[len('ABRESULT '):])
    raise RuntimeError(f'runner failed rc={p.returncode}:\n'
                       f'{p.stdout[-2000:]}\n{p.stderr[-2000:]}')


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument('--runner', action='store_true')
    ap.add_argument('--cycles', type=int, default=4)
    ap.add_argument('--cpus', type=int, default=usable_cpus())
    ap.add_argument('--ref-commit', default='91c74a3')
    ap.add_argument('--out', default=os.path.join(REPO, 'BENCH',
                                                  'AB_R5_VS_R3.md'))
    args = ap.parse_args()
    if args.runner:
        return runner()

    ref_tree = ensure_worktree(args.ref_commit)
    cur_tree = REPO
    results = {'cur': [], 'ref': []}
    t_start = time.time()
    for c in range(args.cycles):
        # flip order each cycle so a monotone throttle ramp hits both
        order = [('cur', cur_tree), ('ref', ref_tree)]
        if c % 2 == 1:
            order.reverse()
        for name, tree in order:
            r = one_run(tree, args.cpus)
            r['t_offset_s'] = round(time.time() - t_start, 1)
            results[name].append(r)
            print(f'cycle {c} {name}: {r}', flush=True)

    queries = ('transcripts_extract', 'pdf_layout_extract')
    best = {side: {q: min(r[q] for r in results[side]) for q in queries}
            for side in ('cur', 'ref')}
    ratios = {q: round(best['cur'][q] / best['ref'][q], 3)
              for q in queries}
    summary = {'metric': 'cur/ref best-of wall ratio (interleaved A/B)',
               'ref_commit': args.ref_commit, 'cycles': args.cycles,
               'cpus': args.cpus, 'best_cur': best['cur'],
               'best_ref': best['ref'], 'ratios': ratios}
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, 'w') as f:
        f.write('# Interleaved A/B: current tree vs round-3 snapshot '
                f'({args.ref_commit})\n\n'
                'Same process-pool window, alternating subprocess runs '
                '(order flipped per cycle), best-of per tree — the only '
                'methodology that survives the VM burst-throttle '
                '(CLAUDE.md). ratio = cur_best / ref_best; ~1.0 means the '
                'round-4 headline drop was environment, not code.\n\n')
        f.write('| query | cur best (s) | ref best (s) | ratio |\n')
        f.write('|---|---|---|---|\n')
        for q in queries:
            f.write(f"| {q} | {best['cur'][q]} | {best['ref'][q]} | "
                    f"{ratios[q]} |\n")
        f.write('\nPer-cycle raw timings (t_offset shows throttle drift '
                'within the window):\n\n```json\n')
        f.write(json.dumps(results, indent=2))
        f.write('\n```\n')
    print(json.dumps(summary))
    return 0


if __name__ == '__main__':
    raise SystemExit(main())
