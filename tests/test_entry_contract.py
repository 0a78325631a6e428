"""Driver-contract checks: the shape of queries()/oracle_sql(), plus
Spark-vs-DuckDB value parity at sf0.001 for the rows that call the curation
library (scripts/check_contract.py runs the same comparison over every row
at any scale)."""
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402

#: the contract rows built from pipeline/curate.py
CURATION_ROWS = ('token_count', 'quality_score', 'lang_id',
                 'gopher_repetition', 'sequence_pack',
                 'conversation_assemble', 'curate_pipeline',
                 'bucketed_join', 'benchmark_overlap')


def test_queries_have_oracles():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert qs, 'queries() must not be empty'
    missing = set(oracles) - set(qs)
    assert not missing, f'oracles without queries: {missing}'
    # round 2: every query carries an oracle (the ANN paths gained SQL
    # twins — hyperplane literals / grid quantizer).  Round 4 adds exactly
    # one deliberate exception: ann_kmeans_topk is an iterative Lloyd's
    # refinement (driver-side loop over centroid updates) that SQL cannot
    # express; the driver records its weaker rows-only check, and the
    # oracle-checked grid/LSH variants remain the production ANN paths.
    rows_only_allowed = {'ann_kmeans_topk'}
    rows_only = set(qs) - set(oracles)
    assert rows_only <= rows_only_allowed, \
        f'rows-only queries (every operator must carry an oracle): ' \
        f'{rows_only - rows_only_allowed}'


def test_callables():
    for name, fn in entry.queries().items():
        assert callable(fn), name


def test_oracle_sql_is_select():
    for name, sql in entry.oracle_sql().items():
        head = sql.strip().split(None, 1)[0].upper()
        assert head in ('SELECT', 'WITH'), name


@pytest.fixture(scope='module')
def duck():
    from scripts.check_contract import duckdb_views
    con = duckdb_views(entry.DEFAULT_SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize('name', CURATION_ROWS)
def test_curation_row_matches_oracle(spark, duck, name):
    from scripts.check_contract import check_query
    status, report = check_query(spark, duck, entry.DEFAULT_SF_DIR, name)
    assert status == 'OK', report


def test_bucketed_join_calls_do_not_interfere(spark, duck):
    """each q_bucketed_join call writes its own tables and drops them once
    its frame is resolved: two frames built before either runs both match
    the oracle, and no ``bj_*`` table is left in the session catalog"""
    from scripts.check_contract import normalize
    first = entry.q_bucketed_join(spark, entry.DEFAULT_SF_DIR)
    second = entry.q_bucketed_join(spark, entry.DEFAULT_SF_DIR)
    assert [t.name for t in spark.catalog.listTables()
            if t.name.startswith('bj_')] == []
    rel = duck.sql(entry.oracle_sql()['bucketed_join'])
    want = normalize(list(rel.columns), [tuple(r) for r in rel.fetchall()])
    for df in (first, second):
        assert normalize(df.columns, [tuple(r) for r in df.collect()]) == want


def test_one_session_builder_and_one_cpu_probe():
    """the harness shares one definition of each: outside tests/, only
    jobs/extract.py builds a Spark session, and outside perfbench/ no
    source file defines the CPU probe's work or reads the core affinity"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    probe = re.compile(r'^_PROBE_WORK\s*=|os\.sched_getaffinity\s*\(', re.M)
    builders, probes = [], []
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs
                         if not x.startswith('.') and x != '__pycache__')
        for f in sorted(files):
            if not f.endswith('.py'):
                continue
            rel = os.path.relpath(os.path.join(d, f), root)
            top = rel.split(os.sep)[0]
            with open(os.path.join(d, f), encoding='utf-8') as fh:
                text = fh.read()
            if top != 'tests' and 'SparkSession.builder' in text:
                builders.append(rel)
            if top != 'perfbench' and probe.search(text):
                probes.append(rel)
    assert builders == [os.path.join('pyxml_spark', 'jobs', 'extract.py')]
    assert probes == []
