"""Fresh-seed end-to-end parity soak: Spark extraction vs the reference
parser + shared heuristics, driver-side, per (conv_id, turn_idx).

The per-commit gate (tests/test_pipeline_spark.py) pins 400 seed-42 turns;
this soak re-runs the same per-turn text-equality criterion on a *fresh*
seed at 10-100x the volume, so every round carries new-payload evidence
rather than a memorized corpus. Requires /root/reference on disk (falls
back to self-comparison, which is then only an Arrow/ordering check).

Run: python3 scripts/parity_soak.py [--rows 50000] [--seed N] [--cpus N]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import run_soak, soak_parser  # noqa: E402


def soak(spark, tmp, args):
    from tests.conftest import has_reference
    from tests.test_pipeline_spark import reference_oracle_row

    from pyxml_spark.pipeline import TRANSCRIPTS_SCHEMA, extract_turns
    from pyxml_spark.pipeline.transcripts import gen_transcripts_pdf

    t0 = time.time()
    pdf = gen_transcripts_pdf(args.rows, seed=args.seed)
    df = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    got = {(r.conv_id, r.turn_idx): (r.main_text, r.parse_error)
           for r in extract_turns(df).collect()}
    spark_wall = round(time.time() - t0, 1)
    assert len(got) == len(pdf), (len(got), len(pdf))

    t0 = time.time()
    mismatches = []
    errors = 0
    for row in pdf.itertuples():
        want = reference_oracle_row(row.text)
        have, perr = got[(row.conv_id, row.turn_idx)]
        if perr is not None:
            errors += 1
        if want != have:
            mismatches.append((row.conv_id, row.turn_idx,
                               (row.text or '')[:80],
                               want[:80], have[:80]))
    oracle_wall = round(time.time() - t0, 1)
    out = {
        'rows': args.rows,
        'seed': args.seed,
        'reference_available': has_reference(),
        'mismatches': len(mismatches),
        'parse_error_rows': errors,
        'spark_wall_s': spark_wall,
        'oracle_wall_s': oracle_wall,
    }
    for m in mismatches[:5]:
        print('MISMATCH', m, file=sys.stderr)
    assert not mismatches, out
    return out, None


def main(argv=None) -> int:
    ap = soak_parser(rows=50_000)
    ap.add_argument('--seed', type=int, default=20260817)
    return run_soak('PARITY_SOAK', ap.parse_args(argv), soak)


if __name__ == '__main__':
    raise SystemExit(main())
