"""Public API surface parity (SURVEY.md §2-E): container protocol, traversal,
query wrappers, lxml compat, ElementTree, prettify."""
import pytest

from pyxml_spark.engine import (Comment, Element, ElementTree, Parser,
                                ProcessingInstruction, fromstring, prettify,
                                tostring)
from tests.conftest import requires_reference

# NOTE: multi-char attribute names — the reference lexer appends a
# single-char name's following '=' into the name (verified quirk: <r a="1">
# parses as {'a="1"': 'true'}), and we reproduce that faithfully.
DOC = b'<root id="1"><x>one</x><y cls="k">two</y><x>three</x></root>'


@pytest.fixture()
def root():
    return fromstring(DOC)


def test_container_protocol(root):
    assert len(root) == 3
    assert root[0].tag == 'x'
    assert [c.tag for c in root] == ['x', 'y', 'x']
    with pytest.raises(NotImplementedError):
        bool(root)
    el = Element('z')
    root.append(el)
    assert el.parent is root
    root.remove(el)
    assert el.parent is None and len(root) == 3
    root.insert(0, Element('w'))
    assert root[0].tag == 'w'
    del root.children[0]
    extra = [Element('p'), Element('q')]
    root.extend(extra)
    assert [c.tag for c in root][-2:] == ['p', 'q']
    for e in extra:
        root.remove(e)


def test_attrib_access(root):
    assert root.get('id') == '1'
    assert root.get('zz', 'dflt') == 'dflt'
    root.set('b', '2')
    assert set(root.keys()) == {'id', 'b'}
    assert ('b', '2') in root.items()
    assert root.makeelement('t', {'k': 'v'}).attrib == {'k': 'v'}


def test_traversal(root):
    assert [e.tag for e in root.iter()] == ['root', 'x', 'y', 'x']
    assert [e.tag for e in root.iter('x')] == ['x', 'x']
    assert list(root.itertext()) == ['one', 'two', 'three']


def test_query_wrappers(root):
    assert root.find('/x').text == 'one'
    assert root.must_find('/y').attrib['cls'] == 'k'
    with pytest.raises(KeyError):
        root.must_find('/nope')
    assert [e.text for e in root.findall('//x')] == ['one', 'three']
    assert next(root.finditer('/y')).tag == 'y'
    assert root.findtext('/x') == 'one'
    assert root.findtext('/nope') is None
    assert root.findtext('/nope', 'fallback') == 'fallback'
    assert root.xpath('//x') == root.findall('//x')


def test_lxml_compat(root):
    y = root.find('/y')
    assert y.getparent() is root
    assert root.getchildren() == root.children
    from pyxml_spark.engine.html import HtmlElement
    assert HtmlElement is Element


def test_elementtree_wrapper(root):
    tree = ElementTree(root)
    assert tree.getroot() is root
    assert [e.tag for e in tree.iter('x')] == ['x', 'x']
    assert tree.find('/y').tag == 'y'
    assert tree.findall('//x') == root.findall('//x')
    assert tree.findtext('/x') == 'one'
    t2 = ElementTree(source=DOC)
    assert t2.getroot().tag == 'root'
    with pytest.raises(ValueError):
        ElementTree().getroot()


def _special_via_event_pump(payload, composer):
    from pyxml_spark.engine.parse import EventPump
    return EventPump(payload, target=composer, fix_broken=True).run()


def _special_via_parser(payload, composer):
    parser = Parser(target=composer, fix_broken=True)
    parser.feed(payload)
    return parser.close()


@pytest.mark.parametrize('parse', [_special_via_event_pump,
                                   _special_via_parser],
                         ids=['EventPump', 'Parser'])
def test_special_nodes_roundtrip(parse):
    from pyxml_spark.engine.compose import TreeComposer
    composer = TreeComposer(insert_comments=True, insert_declares=True,
                            insert_pis=True)
    root = parse(b'<!DOCTYPE html><a><!--note--><?php echo 1?>x</a>',
                 composer)
    kinds = [type(n).__name__ for n in root.iter()]
    assert 'Comment' in kinds and 'ProcessingInstruction' in kinds
    out = tostring(root, method='html')
    assert b'<!--' in out and b'<?' in out
    # itertext skips marker nodes AND tail text ('x' follows the PI, so it
    # is the PI's tail — reference semantics)
    assert list(root.itertext()) == []
    pi = [n for n in root.iter()
          if type(n).__name__ == 'ProcessingInstruction'][0]
    assert pi.tail == 'x'


def test_prettify_runs(root):
    prettify(root)
    assert root.findall('/x')[0].tail.startswith('\n')


def test_xml_declaration_default(root):
    data = tostring(root)
    assert data.startswith(b"<?xml version='1.0' encoding='utf-8'?>\n")
    custom = tostring(root, xml_declaration='')
    assert custom.startswith(b'<root')


@requires_reference
def test_api_results_match_reference():
    import pyxml
    ref = pyxml.fromstring(DOC)
    mine = fromstring(DOC)
    assert [e.tag for e in mine.iter()] == [e.tag for e in ref.iter()]
    assert list(mine.itertext()) == list(ref.itertext())
    assert mine.findtext('/x') == ref.findtext('/x')
    assert mine.find('/y').attrib == ref.find('/y').attrib
    # prettify parity
    prettify(mine)
    pyxml.prettify(ref)
    assert tostring(mine) == pyxml.tostring(ref)


def test_parser_feed_protocol():
    p = Parser(fix_broken=True)
    p.feed(b'<a>he')
    p.feed(b'llo</a>')
    assert p.close().text == 'hello'


def test_encoding_switch_mid_stream():
    payload = ("<?xml version='1.0' encoding='latin-1'?><a>caf\xe9</a>"
               .encode('latin-1'))
    root = fromstring(payload)
    assert root.text == 'café'


@requires_reference
def test_single_char_attr_name_quirk():
    """verified reference quirk: a 1-char attr name absorbs the '=' so the
    value never attaches; both engines must agree"""
    import pyxml
    doc = b'<r a="1" bb="2">x</r>'
    assert dict(fromstring(doc).attrib) == dict(pyxml.fromstring(doc).attrib)
    assert fromstring(doc).attrib == {'a="1"': 'true', 'bb': '2'}


def test_serialize_deep_tree_iterative():
    """serialization must stay linear on pathologically deep trees (the
    parser already guarantees this; the writer uses an explicit stack)"""
    import sys
    from pyxml_spark.engine.doc import Element
    from pyxml_spark.engine.render import tostring
    limit = sys.getrecursionlimit()
    root = cur = Element('r', {})
    for _ in range(limit * 4):
        child = Element('d', {})
        cur.append(child)
        cur = child
    cur.text = 'deep'
    out = tostring(root, method='html')
    assert out.count(b'<d>') == limit * 4
    assert b'deep' in out
    # traversals must be iterative too
    assert list(root.itertext()) == ['deep']
    assert sum(1 for _ in root.iter('d')) == limit * 4
