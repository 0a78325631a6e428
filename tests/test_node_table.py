"""Node-table (relational DOM) equivalence with the engine's XPath results."""
import pytest

from pyxml_spark.engine.html import fromstring
from pyxml_spark.engine.xq import findall
from pyxml_spark.pipeline.nodes import node_rows
from tests.conftest import XPATH_DOC, dirty_html_corpus

pyspark = pytest.importorskip('pyspark')


def rows_for(payload):
    return list(node_rows(0, fromstring(payload)))


def by_id(rows):
    return {r[1]: r for r in rows}


def test_pre_post_nesting():
    rows = rows_for(XPATH_DOC)
    nodes = by_id(rows)
    for r in rows:
        parent = r[2]
        if parent is not None:
            p = nodes[parent]
            assert p[5] < r[5] <= p[6], 'child pre within parent range'
            assert r[6] <= p[6]


def test_relational_equals_engine_xpath():
    docs = [XPATH_DOC] + dirty_html_corpus(30)
    for payload in docs:
        try:
            root = fromstring(payload)
        except Exception:  # noqa: BLE001
            continue
        rows = list(node_rows(0, root))
        nodes = by_id(rows)
        root_row = next(r for r in rows if r[2] is None)

        # //p : descendants-including-self with tag filter
        engine = len(findall(root, '//p'))
        rel = sum(1 for r in rows if r[8] == 'p')
        assert rel == engine, payload[:60]

        # /article : children of root with tag filter
        engine = len(findall(root, '/article'))
        rel = sum(1 for r in rows
                  if r[2] == root_row[1] and r[8] == 'article')
        assert rel == engine

        # /[1] : 1-based child position
        engine = {e.tag for e in findall(root, '/[1]')}
        rel = {r[8] for r in rows if r[2] == root_row[1] and r[4] == 1}
        assert rel == engine

        # //p[@class] : attr present and non-empty
        engine = len(findall(root, '//p[@class]'))
        rel = sum(1 for r in rows
                  if r[8] == 'p' and (r[9] or {}).get('class', '') != '')
        assert rel == engine


def test_spark_node_table(spark):
    from pyspark.sql import functions as F
    from pyxml_spark.pipeline.nodes import explode_documents
    df = spark.createDataFrame(
        [(1, '<div><p class="a">x</p><p>y</p></div>'),
         (2, '<ul><li>1</li><li>2</li><li>3</li></ul>')],
        'doc_id long, payload string')
    nodes = explode_documents(df).cache()
    try:
        got = {(r.doc_id, r.tag): r for r in nodes.collect()
               if r.tag in ('div', 'ul')}
        assert got[(1, 'div')].depth == 0
        # 3 li children of ul with 1-based sibling positions
        li = nodes.where((F.col('doc_id') == 2) & (F.col('tag') == 'li'))
        assert li.count() == 3
        assert [r.pos for r in li.orderBy('pos').collect()] == [1, 2, 3]
        # descendant query via pre/post: p under div
        a = nodes.alias('a')
        b = nodes.alias('b')
        desc = (a.join(b, (F.col('a.doc_id') == F.col('b.doc_id'))
                       & (F.col('b.pre') > F.col('a.pre'))
                       & (F.col('b.pre') <= F.col('a.post')))
                .where((F.col('a.tag') == 'div') & (F.col('b.tag') == 'p')))
        assert desc.count() == 2
    finally:
        nodes.unpersist()
