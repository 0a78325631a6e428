"""Two-parallelism scaling evidence: the same extraction job at N and 4N
cores over identical input, N = max(1, nproc // 4) and 4N = nproc, so
neither level asks for more cores than the box has; reports throughput at
both plus scaling efficiency eff = (thr_4N / thr_N) / (4N / N) (sandbox
stand-in for N vs 4N executors). Writes BENCH/BASELINE.md.

The pair is reported raw AND normalized by a hardware ceiling: perfbench's
pure-CPU multiprocessing probe run in the same interleave window, because
a single box drops per-core turbo clock as active cores rise — a penalty
that separate N vs 4N *executors* on a real cluster do not share. The
normalized number is the framework's own scaling; the probe quantifies the
box.

Usage: python3 scripts/scaling_bench.py [--rows 2000000] [--reps 2]
"""
from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import BENCH_TMP  # noqa: E402
from perfbench.run import cpu_probe, nproc  # noqa: E402
from pyxml_spark.jobs.extract import build_session  # noqa: E402

RUNNER = r'''
import json, sys
sys.path.insert(0, {repo!r})
from bench import time_extract
from pyxml_spark.jobs.extract import build_session

cpus = int(sys.argv[1]); path = sys.argv[2]; reps = int(sys.argv[3])
spark = build_session(cpus)
spark.sparkContext.setLogLevel('ERROR')
rows, best = time_extract(spark, spark.read.parquet(path), cpus, reps)
print(json.dumps({{'cpus': cpus, 'rows': rows, 'seconds': round(best, 3),
                   'turns_per_sec': round(rows / best, 1)}}))
spark.stop()
'''


def run_at(cpus: int, path: str, reps: int) -> dict:
    code = RUNNER.format(repo=REPO)
    out = subprocess.run([sys.executable, '-c', code, str(cpus), path,
                          str(reps)], capture_output=True, text=True,
                         check=True)
    line = [l for l in out.stdout.strip().splitlines()
            if l.startswith('{')][-1]
    return json.loads(line)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument('--rows', type=int, default=2_000_000)
    ap.add_argument('--reps', type=int, default=2)
    ap.add_argument('--out', default=os.path.join(REPO, 'BENCH',
                                                  'BASELINE.md'))
    args = ap.parse_args()

    from pyxml_spark.pipeline import write_transcripts
    path = os.path.join(BENCH_TMP, f'scaling_v2_{args.rows}.parquet')
    if not os.path.exists(os.path.join(path, '_SUCCESS')):
        spark = build_session(nproc())
        spark.sparkContext.setLogLevel('ERROR')
        write_transcripts(spark, path, args.rows, seed=42, partitions=64)
        spark.stop()

    # interleave parallelism levels across reps so host-level throttling
    # (this sandbox shows CPU steal / burst throttling) biases every level
    # equally; keep the best run per level. The pure-CPU probe runs in the
    # same interleave so the hardware ceiling is measured in the same
    # thermal/steal window as the job it normalizes.
    lo, hi = max(1, nproc() // 4), nproc()
    results: dict = {}
    probe = {lo: 0.0, hi: 0.0}
    for _ in range(args.reps):
        for c in (lo, hi):
            probe[c] = max(probe[c], cpu_probe(c))
            r = run_at(c, path, 1)
            if c not in results or r['seconds'] < results[c]['seconds']:
                results[c] = r
    scale = hi / lo
    eff = (results[hi]['turns_per_sec'] / results[lo]['turns_per_sec']) \
        / scale
    hw = (probe[hi] / probe[lo]) / scale
    norm = eff / hw
    report = {
        'rows': args.rows,
        'runs': results,
        'probe_units_per_sec': {k: round(v, 3) for k, v in probe.items()},
        f'eff_local{lo}_to_local{hi}': round(eff, 3),
        f'hw_ceiling_{lo}_to_{hi}': round(hw, 3),
        f'eff_normalized_{lo}_to_{hi}': round(norm, 3),
        # gate on min(raw, normalized): normalization corrects for the
        # hardware all-core ceiling but, because probe and job best-ofs may
        # come from different throttle windows, it can exceed 1.0 — the raw
        # floor keeps a genuine efficiency regression from hiding behind it
        'pass': min(eff, norm) >= 0.8,
    }
    print(json.dumps(report))

    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    rows_tbl = '\n'.join(
        f"| local[{c}] | {r['seconds']} | {r['turns_per_sec']:,} |"
        for c, r in results.items())
    with open(args.out, 'w') as f:
        f.write(f"""# BENCH/BASELINE — measured throughput & scaling evidence

Job: `extract_turns` (salted repartition + mapInArrow batch extraction) over
a deterministic synthetic transcripts table ({args.rows:,} turns, seed=42,
~290-char avg payloads, Zipf-skewed conversation lengths), identical input
at every parallelism level. Protocol: parallelism levels interleaved across
{args.reps} repetitions, best run per level kept — this sandbox VM shows
CPU-steal / burst-throttling (single-thread speed varies ~2x over minutes),
so interleaving + best-of is required for a fair ratio. Only within-window
ratios are meaningful; the table below is one window.

| parallelism | wall (s) | turns/sec |
|---|---|---|
{rows_tbl}

## Scaling efficiency (N vs 4N, sandbox stand-in for executor counts)

A single box cannot isolate job scaling from hardware scaling: raising the
active-core count drops the per-core turbo clock and exposes CPU steal, an
effect a real N-executor vs 4N-executor comparison (separate machines, each
owning its cores) does not contain. The protocol therefore interleaves a
pure-CPU multiprocessing probe (zero framework overhead, fixed work per
process) with the Spark runs in the same thermal/steal window, and reports
the job's efficiency both raw and normalized by that hardware ceiling —
the normalized number is the framework's own scaling behavior.

| pair | job eff | hardware ceiling (probe) | normalized (job/hw) |
|---|---|---|---|
| **local[{lo}] -> local[{hi}]** | {eff:.3f} | {hw:.3f} | **{norm:.3f}** ({'PASS' if report['pass'] else 'FAIL'} vs >= 0.8 on min(raw, normalized)) |

Host: {nproc()} usable cores; N = max(1, nproc // 4), 4N = nproc, so the
4N level uses every core and neither level oversubscribes the box.

Config: arrow maxRecordsPerBatch=16384 capped at 64MB/batch,
partitions=2*cores, AQE on.
Regenerated by scripts/scaling_bench.py at {time.strftime('%Y-%m-%d %H:%M:%S')}.
""")
    return 0


if __name__ == '__main__':
    raise SystemExit(main())
