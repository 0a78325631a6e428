"""Interleaved same-host A/B of this tree against a reference commit,
through each tree's own perfbench.

The sandbox VM burst-throttles (~2x single-thread swing over minutes), so
absolute timings across windows are meaningless. Each pair runs
``perfbench/run.py --workload W --seed s --seconds S`` once in each tree,
back to back, and flips which tree goes first every pair so a monotone
throttle ramp hits both. The compared metric is the workload's headline:
``docs_per_s`` for ``curate_corpus``, ``turns_per_s`` otherwise.

Prints one row per pair (seed, both values, cur/ref ratio, both trees'
CPU probes before/after) and under it both runs' values of every
end-to-end metric ``BENCHMARK.json`` bounds. Then a summary: pairs the
current tree won, both medians, the reference tree's quartiles, and
whether every run was correct with 0 failed rows; then the same summary
for each bounded metric, with wins counted in that metric's direction.
Exits non-zero unless every run was correct.

Usage:
    python3 scripts/ab_trees.py --ref-commit <sha> [--workload chat_mixed]
        [--pairs 10] [--seconds 120] [--seed 1]

The reference tree is a detached git worktree under ``.perfbench/`` (the
scratch directory perfbench already uses), reused if present; remove it
with ``git worktree remove --force .perfbench/ab-<sha>``. Both trees need
``perfbench/``, which exists from commit 86a43f7 on.
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def ensure_worktree(commit: str) -> str:
    path = os.path.join(REPO, '.perfbench', f'ab-{commit}')
    if not os.path.isdir(os.path.join(path, 'pyxml_spark')):
        subprocess.run(['git', '-C', REPO, 'worktree', 'add', '--detach',
                        '-f', path, commit], check=True)
    return path


def perfbench_run(tree: str, workload: str, seed: int,
                  seconds: float) -> dict:
    """perfbench's report with its result under ``result``"""
    env = {k: v for k, v in os.environ.items() if k != 'PYTHONPATH'}
    p = subprocess.run([sys.executable, 'perfbench/run.py', '--workload',
                        workload, '--seed', str(seed), '--seconds',
                        str(seconds)], cwd=tree, env=env,
                       capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f'perfbench failed in {tree} (rc={p.returncode})'
                           f':\n{p.stdout[-2000:]}\n{p.stderr[-2000:]}')
    return {**json.loads(lines[-2]), 'result': json.loads(lines[-1])}


def bounded_metrics() -> dict:
    """{end-to-end metric: 'higher' or 'lower'} from BENCHMARK.json"""
    with open(os.path.join(REPO, 'BENCHMARK.json')) as f:
        return {m['name']: m['better'] for m in json.load(f)['end_to_end']}


def summary(metric: str, better: str, ref: list, cur: list) -> dict:
    """pairs won in the metric's direction, medians, ref quartiles"""
    q1, _, q3 = statistics.quantiles(ref, n=4)
    sign = 1 if better == 'higher' else -1
    return {'metric': metric, 'better': better,
            'cur_wins': sum(sign * (c - r) > 0 for c, r in zip(cur, ref)),
            'median_ref': round(statistics.median(ref), 2),
            'median_cur': round(statistics.median(cur), 2),
            'ref_q1': round(q1, 2), 'ref_q3': round(q3, 2),
            'median_pair_ratio': round(statistics.median(
                c / r for c, r in zip(cur, ref)), 3)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument('--ref-commit', required=True)
    ap.add_argument('--workload', default='chat_mixed')
    ap.add_argument('--pairs', type=int, default=10)
    ap.add_argument('--seconds', type=float, default=120)
    ap.add_argument('--seed', type=int, default=1)
    args = ap.parse_args()
    if args.pairs < 2:
        ap.error('--pairs must be at least 2 for quartiles')

    trees = {'cur': REPO, 'ref': ensure_worktree(args.ref_commit)}
    for name, tree in trees.items():
        if not os.path.isfile(os.path.join(tree, 'perfbench', 'run.py')):
            raise SystemExit(f'{name} tree {tree} has no perfbench/')
    metric = ('docs_per_s' if args.workload == 'curate_corpus'
              else 'turns_per_s')

    print(f'{args.workload} {metric}: cur {REPO} vs ref '
          f'{args.ref_commit}, {args.seconds:g} s per run')
    print('pair(first) seed ref cur ratio [ref probe before/after, '
          'cur probe before/after]\n   then per bounded metric: ref cur',
          flush=True)
    bounded = bounded_metrics()
    vals = {(name, m): [] for name in trees for m in bounded}
    ok = True
    for i in range(args.pairs):
        order = ['ref', 'cur'] if i % 2 == 0 else ['cur', 'ref']
        runs = {name: perfbench_run(trees[name], args.workload, args.seed,
                                    args.seconds) for name in order}
        for name, run in runs.items():
            for m in bounded:
                vals[name, m].append(run['result']['metrics'][m]['value'])
            ok = ok and run['result']['correct'] \
                and run['result']['failed'] == 0
        probes = ', '.join(
            f"{name} {runs[name]['cpu_probe_before']:.1f}/"
            f"{runs[name]['cpu_probe_after']:.1f}" for name in ('ref', 'cur'))
        ref, cur = vals['ref', metric][-1], vals['cur', metric][-1]
        print(f"{i}({order[0]}) {args.seed} {ref:.1f} {cur:.1f} "
              f"x{cur / ref:.3f} [{probes}]", flush=True)
        print('   ' + ' | '.join(
            f"{m} {vals['ref', m][-1]:.2f} {vals['cur', m][-1]:.2f}"
            for m in bounded), flush=True)

    print(json.dumps({
        'workload': args.workload, 'ref_commit': args.ref_commit,
        'pairs': args.pairs,
        **summary(metric, bounded[metric], vals['ref', metric],
                  vals['cur', metric]),
        'all_correct_0_failed': ok}))
    for m, better in bounded.items():
        if m != metric:
            print(json.dumps(summary(m, better, vals['ref', m],
                                     vals['cur', m])))
    return 0 if ok else 1


if __name__ == '__main__':
    raise SystemExit(main())
