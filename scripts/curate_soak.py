"""End-to-end curation soak at 1M documents (jobs/curate.py at scale).

Synthesizes a deterministic 1M-doc corpus in-Spark with structure that
exercises every stage of the curation job:

* token streams salted with English stopwords (every 4th token) so the
  language gate passes the well-formed docs;
* a 5% degenerate hot cluster + planted near-dup pairs (dedup_soak.py's
  generator, with its stopword switch on) for the MinHash/component
  stages;
* 2% of docs are a single word repeated (top-bigram fraction 100%) —
  the repetition gate's target;
* 1% of docs are two tokens long — the quality gate's target;
* sources doc_id % 20 for the packing stage.

Runs the ACTUAL job entry (jobs/curate.main) on the staged parquet and
writes metrics + stage wall to BENCH/CURATE_SOAK_{rows}.md + stdout JSON.

Run: python3 scripts/curate_soak.py [--rows 1000000] [--cpus N]
"""
from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import run_soak, soak_parser  # noqa: E402

STOPS = ['the', 'and', 'of', 'to', 'in']


def curate_docs(spark, n: int, hot: int):
    """the dedup soak's documents with stopwords, planted gate targets and
    a source column"""
    from pyspark.sql import functions as F
    from dedup_soak import synth_docs  # same dir
    text = F.col('text')
    # planted gate targets (outside the hot/near-dup id space)
    repetitive = (F.col('doc_id') % 50 == 7) & (F.col('doc_id') >= hot)
    text = F.when(repetitive,
                  F.concat_ws(' ', F.array_repeat(F.lit('spam'), 20))) \
        .otherwise(text)
    tiny = (F.col('doc_id') % 100 == 13) & (F.col('doc_id') >= hot)
    text = F.when(tiny, F.lit('too short')).otherwise(text)
    src = F.concat(F.lit('s'), (F.col('doc_id') % 20).cast('string'))
    return synth_docs(spark, n, hot, STOPS).select(
        'doc_id', src.alias('source'), text.alias('text'))


def soak(spark, tmp, args):
    from pyxml_spark.jobs.curate import main as curate_main

    n = args.rows
    hot = max(1000, n // 20)
    t0 = time.time()
    curate_docs(spark, n, hot).repartition(4 * args.cpus) \
        .write.mode('overwrite').parquet(f'{tmp}/documents.parquet')
    synth_wall = round(time.time() - t0, 1)

    # the job's own build_session gets this session back, and stops it
    t0 = time.time()
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = curate_main(['--input', f'{tmp}/documents.parquet',
                          '--output', f'{tmp}/out',
                          '--checkpoint-dir', f'{tmp}/ckpt',
                          '--cpus', str(args.cpus)])
    assert rc == 0
    m = json.loads(buf.getvalue().strip().splitlines()[-1])
    wall = round(time.time() - t0, 1)

    # planted-structure recall (soft bounds — gates may also catch
    # organic docs, so these are floors, like dedup_soak's recall):
    planted_tiny = (n - hot) // 100          # doc_id % 100 == 13
    planted_rep = (n - hot) // 50            # doc_id % 50 == 7
    assert m['n_fail_quality'] >= int(0.95 * planted_tiny), m
    assert m['n_fail_repetition'] >= int(0.95 * planted_rep), m
    # the 5% identical hot cluster must collapse to ~1 keeper
    assert m['n_dup_removed'] >= int(0.95 * (hot - 1)), m
    assert m['n_contaminated_removed'] == 0, m

    out = {'rows': n, 'synth_wall_s': synth_wall,
           'curate_wall_s': wall,
           'docs_per_sec': round(n / wall, 1), **m}

    md = f"""# BENCH/CURATE_SOAK ({n:,} docs) — end-to-end curation job

Corpus: {n:,} synthetic docs (stopword-salted token streams; 5%
degenerate hot cluster; planted near-dup pairs; 2% pure-repetition docs;
1% too-short docs). jobs/curate.py with --checkpoint-dir, local[{args.cpus}].

| stage metric | value |
|---|---|
| input docs | {m['n_input']:,} |
| failed quality gate | {m['n_fail_quality']:,} |
| failed language gate | {m['n_fail_lang']:,} |
| failed repetition gate | {m['n_fail_repetition']:,} |
| passed all gates | {m['n_pass_gates']:,} |
| near-dups removed | {m['n_dup_removed']:,} |
| curated docs out | {m['n_curated']:,} |
| packs | {m['n_packs']:,} |
| wall | {wall}s ({out['docs_per_sec']:,} docs/s end-to-end) |

Every stage is the library operator the contract oracles pin (gates =
score_documents, dedup = the MinHash/component stack with reliable
checkpointing, packing = the chunked prefix scan); the composition adds
no new shuffles beyond its stages' own.
"""
    return out, md


def main(argv=None) -> int:
    args = soak_parser(rows=1_000_000).parse_args(argv)
    return run_soak('CURATE_SOAK', args, soak)


if __name__ == '__main__':
    raise SystemExit(main())
