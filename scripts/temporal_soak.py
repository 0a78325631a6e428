"""Temporal-operator scale soak: 1M events, hot entity, full DuckDB
cross-check.

Evidence for pipeline/temporal.py's three scale claims:

* **cross-engine equality at soak scale** — the exact contract oracles
  (entry.oracle_sql(): sessionize window pair, DuckDB's native ASOF
  JOIN, the naive inequality range join) run over the same synthetic
  parquet in DuckDB, and every result frame must match Spark
  row-for-row (the sf0.01 contract row checks 10k events; this checks
  1M including a pathological hot user);
* **range-join intermediate bound** — the bucketed (entity, ts div W)
  equi-join's pre-filter row count vs the naive user-equi-join's
  fan-out (sum over users of errors_u * clicks_u). The hot user makes
  the naive fan-out quadratic in its history; the bucketed form stays
  linear in events at fixed temporal density — THE reason the operator
  exists;
* **walls** — interleaved bucketed-vs-naive Spark A/B, best-of (VM
  burst-throttle rule: never compare across runs).

Synthetic corpus (deterministic, no RNG state): ids 0..n; 10% of events
belong to user 0 (the hot entity), the rest spread over 1,000 users by
xxhash; ts = id * 13s (globally unique; hot-user gaps 130s => one giant
session, cold users mostly session-per-event with occasional joins —
both session shapes exercised); 5 event types round-robin by xxhash.

Writes BENCH/TEMPORAL_SOAK_{rows}.md + one stdout JSON line.

Run: python3 scripts/temporal_soak.py [--rows 1000000] [--cpus N] [--reps 2]
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (interleaved_best, run_soak,  # noqa: E402
                   soak_parser, staged)

TYPES = ('view', 'click', 'error', 'purchase', 'signup')


def synth(spark, n: int):
    from pyspark.sql import functions as F
    ids = spark.range(0, n)
    user = F.when(F.col('id') % 10 == 0, F.lit(0)) \
        .otherwise(F.abs(F.xxhash64('id', F.lit('u'))) % 1000 + 1)
    etype = F.element_at(
        F.array(*[F.lit(t) for t in TYPES]),
        (F.abs(F.xxhash64('id', F.lit('t'))) % len(TYPES) + 1).cast('int'))
    ts = F.expr("timestampadd(SECOND, CAST(id * 13 AS BIGINT), "
                "TIMESTAMP_NTZ '2024-01-01 00:00:00')")
    val = ((F.col('id') % 997).cast('double') / 100.0)
    return ids.select(F.col('id').alias('event_id'),
                      user.cast('long').alias('user_id'),
                      etype.alias('event_type'), ts.alias('ts'),
                      val.alias('value'))


def _sorted(rows):
    """rows as a sorted list of tuples (None-safe, exact ints)"""
    return sorted(rows, key=lambda t: tuple((v is None, v) for v in t))


def soak(spark, tmp, args):
    import duckdb
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from pyxml_spark.pipeline.temporal import (RANGE_WINDOW_S,
                                               range_count_before,
                                               sessionize)

    n = args.rows
    events_path = f'{tmp}/events.parquet'
    ev = staged(synth(spark, n).repartition(4 * args.cpus), events_path)
    sf_dir = tmp  # _table() resolves '{sf_dir}/events.parquet'

    oracles = entry.oracle_sql()
    duck = duckdb.connect()
    duck.execute(f"CREATE VIEW events AS "
                 f"SELECT * FROM parquet_scan('{events_path}/*.parquet')")

    mismatches = {}
    q_keys = {
        'events_sessionize': ('user_id', 'session_idx', 'n_events',
                              'start_us', 'end_us', 'duration_us',
                              'total_value'),
        'events_asof_join': ('event_id', 'user_id', 'ts_us',
                             'right_event_id', 'right_ts_us', 'gap_us'),
        'events_range_join': ('event_id', 'user_id', 'ts_us',
                              'n_right', 'right_value'),
    }
    for qname, keys in q_keys.items():
        sdf = entry.queries()[qname](spark, sf_dir)
        s_rows = _sorted(tuple(r[k] for k in keys) for r in sdf.collect())
        d_cur = duck.execute(oracles[qname])
        cols = [c[0] for c in d_cur.description]
        idx = [cols.index(k) for k in keys]
        d_rows = _sorted(tuple(row[i] for i in idx)
                         for row in d_cur.fetchall())
        bad = sum(1 for a, b in zip(s_rows, d_rows) if a != b) \
            + abs(len(s_rows) - len(d_rows))
        mismatches[qname] = bad

    # range-join intermediate: bucketed pre-filter rows vs the naive
    # user-equi-join fan-out (sum_u errors_u * clicks_u)
    w_us = RANGE_WINDOW_S * 1_000_000
    per_user = (ev.groupBy('user_id').agg(
        F.sum((F.col('event_type') == 'error').cast('long')).alias('e'),
        F.sum((F.col('event_type') == 'click').cast('long')).alias('c')))
    naive_rows = per_user.agg(
        F.sum(F.col('e') * F.col('c'))).first()[0] or 0
    # the intermediate-size model shares the operator's OWN bucket
    # definitions (range_bucket / range_probe_buckets) — if the
    # bucketing changes, this metric moves with the shipped plan
    # instead of certifying a stale shape
    from pyxml_spark.pipeline.temporal import (epoch_us, range_bucket,
                                               range_probe_buckets)
    rb = (ev.where(F.col('event_type') == 'click')
          .select('user_id', epoch_us('ts').alias('us'))
          .groupBy('user_id',
                   range_bucket('us', RANGE_WINDOW_S).alias('b'))
          .agg(F.count('*').alias('rc')))
    pb = (ev.where(F.col('event_type') == 'error')
          .select('user_id', epoch_us('ts').alias('us'))
          .select('user_id',
                  range_probe_buckets('us', RANGE_WINDOW_S).alias('b'))
          .groupBy('user_id', 'b').agg(F.count('*').alias('pc')))
    bucketed_rows = (pb.join(rb, ['user_id', 'b'])
                     .agg(F.sum(F.col('pc') * F.col('rc'))
                          ).first()[0] or 0)

    # interleaved walls: bucketed operator vs naive user-join+filter
    def bucketed():
        return range_count_before(ev, 'error', 'click')

    def naive():
        lefts = (ev.where(F.col('event_type') == 'error')
                 .select('event_id', 'user_id',
                         epoch_us('ts').alias('ts_us')))
        rights = (ev.where(F.col('event_type') == 'click')
                  .select('user_id', epoch_us('ts').alias('r_us'),
                          F.col('value').cast('decimal(18,2)')
                          .alias('r_val')))
        hits = (lefts.join(rights, 'user_id')
                .where((F.col('r_us') > F.col('ts_us') - w_us)
                       & (F.col('r_us') <= F.col('ts_us')))
                .groupBy('event_id')
                .agg(F.count('*').alias('n_right'),
                     F.sum('r_val').alias('right_value')))
        return (lefts.join(hits, 'event_id', 'left')
                .select('event_id',
                        F.coalesce('n_right', F.lit(0)).cast('long')
                        .alias('n_right'),
                        F.coalesce(F.col('right_value').cast('double'),
                                   F.lit(0.0)).alias('right_value')))

    walls = interleaved_best(
        {'bucketed': bucketed, 'naive': naive}, args.reps,
        lambda df: df.agg(F.sum('n_right'), F.sum('right_value')).collect())

    hot = per_user.where(F.col('user_id') == 0).first()
    out = {
        'rows': n,
        'mismatches': mismatches,
        'naive_join_rows': int(naive_rows),
        'bucketed_join_rows': int(bucketed_rows),
        'join_rows_reduction': round(naive_rows
                                     / max(bucketed_rows, 1), 1),
        'hot_user_errors': int(hot.e), 'hot_user_clicks': int(hot.c),
        'bucketed_wall_s': round(walls['bucketed'], 2),
        'naive_wall_s': round(walls['naive'], 2),
    }
    assert all(v == 0 for v in mismatches.values()), out

    md = f"""# BENCH/TEMPORAL_SOAK ({n:,} events) — hot entity + full DuckDB cross-check

Corpus: {n:,} events; user 0 holds 10% of them ({int(hot.e):,} errors /
{int(hot.c):,} clicks — the skew shape), 1,000 cold users; ts unique,
13s spacing. local[{args.cpus}].

| metric | value | reading |
|---|---|---|
| sessionize mismatches vs DuckDB | {mismatches['events_sessionize']} | full-frame equality at 1M (contract row checks 10k) |
| as-of mismatches vs DuckDB ASOF JOIN | {mismatches['events_asof_join']} | joinless window merge == native ASOF, independent impls |
| range-join mismatches vs naive SQL join | {mismatches['events_range_join']} | bucketed optimization is answer-identical |
| naive user-equi-join fan-out | {out['naive_join_rows']:,} rows | sum_u errors_u x clicks_u — the hot user alone contributes {int(hot.e) * int(hot.c):,} |
| bucketed pre-filter join rows | {out['bucketed_join_rows']:,} rows | {out['join_rows_reduction']}x smaller; bounded by temporal density, not history length |
| wall bucketed / naive (best-of-{args.reps} interleaved) | {out['bucketed_wall_s']}s / {out['naive_wall_s']}s | informational; the fan-out bound is the design metric |

Scale reading: the naive per-entity join grows as the SQUARE of a hot
entity's history (10x the history = 100x the intermediate); the
bucketed join grows with events x window density only. At 10^12 events
one popular entity makes the naive plan the job; the bucketed plan's
biggest (entity, bucket) cell is set by event rate within one
{RANGE_WINDOW_S}s window.
"""
    return out, md


def main(argv=None) -> int:
    ap = soak_parser(rows=1_000_000)
    ap.add_argument('--reps', type=int, default=2)
    return run_soak('TEMPORAL_SOAK', ap.parse_args(argv), soak)


if __name__ == '__main__':
    raise SystemExit(main())
