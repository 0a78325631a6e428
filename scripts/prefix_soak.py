"""Prefix-scan scale soak: sparse keys + a hot partition at 1M rows.

The r3->r4 fix made running_sum_before's chunking data-adaptive
(VERDICT r3 #1): sparse order keys (hashed/snowflake ids) previously
degenerated to ~1 row per chunk, which collapsed the offset window into
the whole-partition single-task sort the module exists to avoid. This
soak evidences the fix at scale:

* corpus: 1M rows, 60-bit sparse order keys (xxhash64-derived, uniqueness
  guaranteed by folding the row id into the low bits), 90% of rows in ONE
  'hot' source — the straggler shape;
* equality: the chunked scan joined against the bare window, row-for-row
  (must be 0 mismatches);
* straggler bound: max rows any single window task sorts — bare window =
  the whole hot source; chunked = max (source, chunk) group (~sqrt-n
  sized) — the scale-invariant claim;
* wall: interleaved A/B best-of (the VM burst-throttles; never compare
  across runs) — informational at 1M, the task-size bound is the design
  metric.

Writes BENCH/PREFIX_SOAK_{rows}.md + one stdout JSON line.

Run: python3 scripts/prefix_soak.py [--rows 1000000] [--cpus N] [--reps 2]
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (interleaved_best, run_soak,  # noqa: E402
                   soak_parser, staged)


def synth(spark, n: int):
    from pyspark.sql import functions as F
    assert n <= 1 << 24, 'row id must fit the low 24 bits for uniqueness'
    ids = spark.range(0, n)
    # unique sparse 60-bit keys: 36 random high bits, row id low 24 bits
    # (uniqueness holds for any n <= 2^24, asserted above — folding into
    # fewer low bits would collide ids n and n +- 2^bits)
    key = ((F.abs(F.xxhash64('id', F.lit('k'))) % (1 << 36)) * (1 << 24)
           + F.col('id'))
    src = F.when(F.col('id') % 10 != 0, F.lit('hot')) \
        .otherwise(F.concat(F.lit('s'), (F.col('id') % 7).cast('string')))
    return ids.select(key.alias('doc_id'), src.alias('source'),
                      (F.col('id') % 13).alias('v'))


def soak(spark, tmp, args):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from pyxml_spark.pipeline.prefix import running_sum_before

    n = args.rows
    df = staged(synth(spark, n).repartition(4 * args.cpus),
                f'{tmp}/rows.parquet')

    w = (Window.partitionBy('source').orderBy('doc_id')
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))

    def bare():
        return df.withColumn(
            'before', (F.sum('v').over(w)
                       - F.coalesce('v', F.lit(0))).cast('long'))

    def chunked():
        return running_sum_before(df, 'source', 'doc_id', 'v',
                                  'before')

    # equality, row-for-row: a FULL OUTER join so dropped/duplicated
    # rows surface as null-sided mismatches (an inner join would hide
    # a row-losing regression behind mismatches == 0), plus a row
    # count pin on the chunked output
    assert chunked().count() == n, 'chunked scan lost/duplicated rows'
    mismatches = (chunked().select('source', 'doc_id',
                                   F.col('before').alias('bc'))
                  .join(bare().select('source', 'doc_id',
                                      F.col('before').alias('bb')),
                        ['source', 'doc_id'], 'full_outer')
                  .where(F.col('bc').isNull() | F.col('bb').isNull()
                         | (F.col('bc') != F.col('bb'))).count())

    # straggler bound: rows the biggest single window task must sort
    bare_max = (df.groupBy('source').count()
                .agg(F.max('count')).first()[0])
    stats = df.agg(F.count('doc_id').alias('n'),
                   F.min('doc_id').alias('mn'),
                   F.max('doc_id').alias('mx')).first()
    import math
    n_chunks = max(1, math.ceil(math.sqrt(stats.n)))
    width = max(1, math.ceil((stats.mx - stats.mn + 1) / n_chunks))
    chunk_max = (df.groupBy(
        'source', F.floor((F.col('doc_id') - stats.mn) / width))
        .count().agg(F.max('count')).first()[0])

    # interleaved A/B walls, best-of
    walls = interleaved_best({'bare': bare, 'chunked': chunked}, args.reps,
                             lambda df: df.agg(F.sum('before')).collect())

    out = {
        'rows': n,
        'mismatches_vs_bare_window': mismatches,
        'bare_max_task_rows': bare_max,
        'chunked_max_task_rows': chunk_max,
        'task_rows_reduction': round(bare_max / max(chunk_max, 1), 1),
        'bare_wall_s': round(walls['bare'], 2),
        'chunked_wall_s': round(walls['chunked'], 2),
    }
    assert mismatches == 0, out

    md = f"""# BENCH/PREFIX_SOAK ({n:,} rows) — sparse keys + hot partition

Corpus: {n:,} rows, sparse 60-bit order keys, 90% of rows in one 'hot'
source (the straggler shape). local[{args.cpus}].

| metric | value | reading |
|---|---|---|
| mismatches vs bare window | {mismatches} | chunked scan is row-identical |
| bare-window max task sort | {bare_max:,} rows | the whole hot source in ONE task — grows linearly with the source |
| chunked max task sort | {chunk_max:,} rows | largest (source, chunk) group, ~n/sqrt(n) sized — {out['task_rows_reduction']}x smaller |
| wall (bare / chunked, best-of-{args.reps} interleaved) | {out['bare_wall_s']}s / {out['chunked_wall_s']}s | informational at 1M; at 10^12 the bare window's single {bare_max:,}-row task becomes the job |

Scale reading: the chunked scan's biggest sort is ~sqrt(n) rows for
dense AND sparse-uniform keys (the r3 fixed-width chunking degenerated
sparse keys to ~1 row/chunk, pushing the whole hot source back into one
offset-window task). Both window stages and the offsets table grow as
sqrt(n); no stage ever holds a whole partition value in one task.
"""
    return out, md


def main(argv=None) -> int:
    ap = soak_parser(rows=1_000_000)
    ap.add_argument('--reps', type=int, default=2)
    return run_soak('PREFIX_SOAK', ap.parse_args(argv), soak)


if __name__ == '__main__':
    raise SystemExit(main())
