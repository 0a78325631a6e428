"""Planted-frame semantics for the round-4 OLAP rows (events_pivot,
events_rank_battery, corpus_diff, export_sorted, doc_length_quantiles).
The sf0.01 Spark-vs-DuckDB parity of the contract rows lives in
scripts/check_contract.py; these pin the hand-checkable edge cases the
synthetic tables may not exercise — tie handling, missing pivot cells,
multiset multiplicity, cross-partition total order, and the
percentile_approx rank-error bound behind the quantile row's documented
100-TB drop-in."""
import os
import sys

import pytest

pyspark = pytest.importorskip('pyspark')

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_pivot_missing_cells_are_dense_zero(spark):
    """a user with no events of some type gets 0/0.0, not NULL — the
    wide table is dense exactly like the CASE WHEN oracle."""
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(1, 'click', 2.0), (1, 'click', 3.0), (2, 'view', 5.0)],
        'user_id long, event_type string, value double')
    agg = (df.groupBy('user_id')
           .pivot('event_type', ['click', 'view'])
           .agg(F.count(F.lit(1)).alias('n'),
                F.sum(F.col('value').cast('decimal(18,2)')).alias('val')))
    out = {r['user_id']: r for r in (
        agg.select('user_id',
                   F.coalesce('click_n', F.lit(0)).alias('click_n'),
                   F.coalesce(F.col('click_val'),
                              F.lit(0).cast('decimal(18,2)'))
                   .cast('double').alias('click_val'),
                   F.coalesce('view_n', F.lit(0)).alias('view_n'))
        .collect())}
    assert out[1]['click_n'] == 2 and out[1]['click_val'] == 5.0
    assert out[1]['view_n'] == 0
    assert out[2]['click_n'] == 0 and out[2]['click_val'] == 0.0


def test_rank_battery_tie_semantics(spark):
    """a planted exact-double tie: over the peers-only window (value
    alone) rank gives both tied rows 1 and leaves a gap, dense_rank does
    not; lag over the total-order window (event_id tiebreak) is
    deterministic. This is the split q_events_rank_battery ships — a
    single window with the tiebreak would make every peer group a
    singleton and rank == row_number, never exercising rank semantics."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    df = spark.createDataFrame(
        [(10, 1, 5.0), (11, 1, 5.0), (12, 1, 3.0)],
        'event_id long, user_id long, value double')
    w_rank = Window.partitionBy('user_id').orderBy(F.desc('value'))
    w_row = Window.partitionBy('user_id').orderBy(
        F.desc('value'), F.asc('event_id'))
    rows = (df.select('event_id',
                      F.rank().over(w_rank).alias('rnk'),
                      F.dense_rank().over(w_rank).alias('drnk'),
                      F.lag('value', 1).over(w_row).alias('prev'))
            .orderBy('event_id').collect())
    assert [r['rnk'] for r in rows] == [1, 1, 3]
    assert [r['drnk'] for r in rows] == [1, 1, 2]
    assert rows[0]['prev'] is None and rows[1]['prev'] == 5.0


#: the dirty-JSON gauntlet for json_props_extract: every way a props
#: payload can fail typed extraction, plus the clean int/negative cases
_JSON_PROBES = ['{"k": 69}', '{"k": "5"}', '{"k": 5.7}', '{"k": 5.0}',
                'not json', '{"k": 3000000000}', '{"k": true}',
                '{"k": null}', '{}', None, '{"k": -12}', '[1, 2]',
                '{"k": 1e2}']


def test_json_extract_dirty_parity_with_oracle(spark):
    """the PERMISSIVE contract q_json_props_extract advertises, checked
    where the sf0.01 contract data cannot: Spark from_json('k INT')
    NULL-degrades on malformed / quoted / float / overflow / bool /
    array / scientific payloads, and the DuckDB oracle expression
    (json_valid + json_type gate + TRY_CAST) returns NULL-for-NULL and
    value-for-value on every probe."""
    import duckdb
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(_JSON_PROBES)],
        'i long, props string')
    got = {r['i']: r['k'] for r in df.select(
        'i', F.from_json('props', 'k INT').getField('k').alias('k'))
        .collect()}
    con = duckdb.connect()
    con.execute('CREATE TABLE t(i BIGINT, props VARCHAR)')
    con.executemany('INSERT INTO t VALUES (?, ?)',
                    list(enumerate(_JSON_PROBES)))
    want = dict(con.sql("""
        SELECT i, CASE WHEN json_valid(props)
                            AND json_type(props, '$.k')
                                IN ('BIGINT', 'UBIGINT')
                       THEN TRY_CAST(json_extract_string(props, '$.k')
                                     AS INT) END
        FROM t""").fetchall())
    assert got == want
    assert got[0] == 69 and got[10] == -12 and got[4] is None


def test_except_all_keeps_multiplicity(spark):
    """3 copies in A, 1 in B -> EXCEPT ALL keeps 2; distinct EXCEPT
    would collapse to 0 — the wrong answer for corpus accounting."""
    a = spark.createDataFrame([('s', 'en')] * 3 + [('s', 'de')],
                              'source string, lang string')
    b = spark.createDataFrame([('s', 'en')], 'source string, lang string')
    diff = a.exceptAll(b).collect()
    assert sorted((r['source'], r['lang']) for r in diff) == \
        [('s', 'de'), ('s', 'en'), ('s', 'en')]
    inter = a.intersectAll(b).collect()
    assert [(r['source'], r['lang']) for r in inter] == [('s', 'en')]


def test_export_sorted_is_totally_ordered(spark):
    """repartitionByRange + sortWithinPartitions yields a TOTAL order:
    concatenating partitions in index order is globally sorted (the
    property that gives downstream scans min/max pruning)."""
    from pyspark.sql import functions as F
    df = spark.range(0, 1000).select(
        (F.col('id') * 2654435761 % 997).alias('k'), 'id')
    parts = (df.repartitionByRange(8, 'k', 'id')
             .sortWithinPartitions('k', 'id')
             .withColumn('pid', F.spark_partition_id())
             .collect())
    seq = [(r['pid'], r['k'], r['id']) for r in parts]
    # rows were collected partition by partition; the concatenation must
    # equal the global sort and partition ids must be non-decreasing
    assert [(k, i) for _, k, i in seq] == sorted((r['k'], r['id'])
                                                 for r in parts)
    assert all(seq[i][0] <= seq[i + 1][0] for i in range(len(seq) - 1))


def test_partition_prune_never_opens_unselected_dirs(spark, tmp_path):
    """runtime proof of what the PLANS.md PartitionFilters assertion
    claims statically: after the file index is built, the lang=de
    directory is DELETED from disk — the partition-filtered query still
    succeeds (a pruned scan never opens those files, so IO really is
    proportional to selection), while an unfiltered scan over the same
    stale index fails on the missing files. (inputFiles() can't show
    this: it reports the relation's whole index, pre-pruning.)"""
    import shutil
    import pytest as _pytest
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(i, ['en', 'de', 'zh'][i % 3], i * 10) for i in range(90)],
        'doc_id long, lang string, n_chars long')
    out = str(tmp_path / 'docs')
    df.write.mode('overwrite').partitionBy('lang').parquet(out)
    whole = spark.read.parquet(out)  # index lists all three partitions
    shutil.rmtree(f'{out}/lang=de')
    picked = whole.where(F.col('lang').isin('en', 'zh'))
    assert picked.count() == 60
    with _pytest.raises(Exception):
        whole.count()  # unpruned scan must actually touch lang=de


def test_dynamic_partition_overwrite_leaves_others_untouched(spark,
                                                             tmp_path):
    """file-level proof for q_partition_overwrite's claim: re-running one
    partition's job under partitionOverwriteMode=dynamic replaces ONLY
    that directory — other partitions keep the exact same files
    (names + mtimes + sizes), so per-partition re-runs are idempotent
    and safe to run concurrently with readers of other partitions. The
    contrast case: static overwrite (the default) wipes the whole table,
    which is the failure mode the option exists to prevent."""
    import glob

    def snap(d):
        return {f: (os.path.getmtime(f), os.path.getsize(f))
                for f in glob.glob(f'{d}/**/*.parquet', recursive=True)}

    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(i, ['en', 'de', 'zh'][i % 3], i * 10) for i in range(90)],
        'doc_id long, lang string, n_chars long')
    out = str(tmp_path / 'docs')
    df.write.mode('overwrite').partitionBy('lang').parquet(out)
    before_others = {k: v for k, v in snap(out).items()
                     if '/lang=en/' not in k}
    redo = (df.where(F.col('lang') == 'en')
            .withColumn('n_chars', F.col('n_chars') * 2))
    (redo.write.mode('overwrite')
     .option('partitionOverwriteMode', 'dynamic')
     .partitionBy('lang').parquet(out))
    after = snap(out)
    after_others = {k: v for k, v in after.items()
                    if '/lang=en/' not in k}
    assert after_others == before_others  # byte-for-byte same files
    back = spark.read.parquet(out)
    assert back.count() == 90
    assert back.where("lang = 'en'").agg(
        F.sum('n_chars')).collect()[0][0] == \
        sum(i * 20 for i in range(90) if i % 3 == 0)
    # contrast: static overwrite replaces the WHOLE table
    (redo.write.mode('overwrite')
     .option('partitionOverwriteMode', 'static')
     .partitionBy('lang').parquet(out))
    assert spark.read.parquet(out).count() == 30
    assert not glob.glob(f'{out}/lang=de/*.parquet')


def test_max_records_per_file_bounds_output_files(spark, tmp_path):
    """output file-size governance: a 100-TB store must bound part-file
    row counts (downstream readers size their splits and memory off the
    biggest file; one 50-GB straggler file serializes whatever touches
    it). maxRecordsPerFile is the writer-level cap — one task writing
    many rows rolls over to new files at the bound. Footer-level proof:
    every part file's parquet metadata reports <= the cap, and all rows
    survive."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    out = str(tmp_path / 'bounded')
    n = 1000
    (spark.range(n).select('id', (F.col('id') % 7).alias('k'))
     .coalesce(2)  # few tasks, many rows per task -> rollover must kick in
     .write.mode('overwrite').option('maxRecordsPerFile', 100)
     .parquet(out))
    files = glob.glob(f'{out}/*.parquet')
    counts = [pq.ParquetFile(f).metadata.num_rows for f in files]
    assert len(files) >= n // 100  # rollover actually happened
    assert all(c <= 100 for c in counts), counts
    assert sum(counts) == n
    assert spark.read.parquet(out).count() == n


def test_approx_count_distinct_error_bound(spark):
    """the HLL++ sketch behind the documented at-scale drop-in for exact
    COUNT(DISTINCT): mergeable partials, one pass, no shuffle of the
    distinct values. rsd=0.02 must land within ~3 standard deviations of
    the true cardinality on a 20k-distinct column."""
    from pyspark.sql import functions as F
    n = 20000
    df = spark.range(n * 2).select((F.col('id') % n).alias('v'))
    got = df.agg(F.approx_count_distinct('v', rsd=0.02)
                 .alias('d')).collect()[0]['d']
    assert abs(got - n) <= 3 * 0.02 * n, got


def test_export_layout_files_are_range_disjoint(spark, tmp_path):
    """artifact-level proof of q_export_sorted's claim: after
    repartitionByRange + sortWithinPartitions, the WRITTEN parquet files
    carry non-overlapping [min, max] key ranges in their own footers —
    which is exactly the property min/max (zone-map) pruning needs, read
    straight from the files rather than from a plan string."""
    import glob
    import pyarrow.parquet as pq
    df = spark.range(0, 5000).select(
        (F_mod_hash('id')).alias('k'))
    out = str(tmp_path / 'sorted')
    (df.repartitionByRange(6, 'k').sortWithinPartitions('k')
     .write.mode('overwrite').parquet(out))
    ranges = []
    for f in glob.glob(f'{out}/*.parquet'):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.to_arrow_schema().get_field_index('k')
        lo = min(md.row_group(i).column(idx).statistics.min
                 for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(idx).statistics.max
                 for i in range(md.num_row_groups))
        ranges.append((lo, hi))
    ranges.sort()
    assert len(ranges) >= 2, 'need multiple files to prove disjointness'
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        # STRICT: rangepartitioning keeps equal keys in one partition, so
        # hi1 == lo2 would mean a key straddles two files — not disjoint
        assert hi1 < lo2, (ranges,)


def F_mod_hash(col):
    """a deterministic shuffle of range ids so the range partitioner has
    real work to do (sequential ids would be pre-sorted)."""
    from pyspark.sql import functions as F
    return (F.col(col) * 2654435761 % 99991).cast('long')


def test_percentile_approx_rank_error_bound(spark):
    """the documented 100-TB drop-in for doc_length_quantiles: the KLL
    percentile_approx at accuracy a guarantees rank error <= n/a. Planted
    skewed data, accuracy 100, n=5000 -> observed rank error within the
    n/100 bound for every probed quantile."""
    from pyspark.sql import functions as F
    n, acc = 5000, 100
    df = spark.range(n).select(
        (F.col('id') * F.col('id') % 7919).alias('v'))
    exact = sorted(r['v'] for r in df.collect())
    row = df.agg(*[
        F.expr(f'percentile_approx(v, {q}, {acc})').alias(f'q{i}')
        for i, q in enumerate((0.25, 0.5, 0.75, 0.9))]).collect()[0]
    for i, q in enumerate((0.25, 0.5, 0.75, 0.9)):
        got = row[f'q{i}']
        # rank of the returned value in the exact sorted data
        import bisect
        lo = bisect.bisect_left(exact, got)
        hi = bisect.bisect_right(exact, got)
        target = q * (n - 1)
        err = min(abs(lo - target), abs(hi - target))
        assert err <= n / acc + 1, (q, got, err)
