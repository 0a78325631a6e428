"""Streaming gatherer (pipeline/gather.py) must produce extraction output
identical to the DOM path (parse_document + heuristics walk) — including
repair flows: multi-root shell wraps, re-wraps after stray ends, root-level
tails, kept-buffer concat quirks. The event-sequence test drives both sinks
directly, so it also covers event orders the pump never emits."""
import pytest

from tests.conftest import (EXTRA_PAYLOADS, PARSER_FIXTURES,
                            dirty_html_corpus, norm_error)
from pyxml_spark.engine.compose import TreeComposer
from pyxml_spark.engine.parse import parse_document
from pyxml_spark.pipeline.gather import GatherComposer, gather_document
from pyxml_spark.pipeline.heuristics import (extract_main, score_fragments,
                                             select_main)

hypothesis = pytest.importorskip('hypothesis')
from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402

CHUNKS = st.sampled_from([
    '<', '>', '/', '=', '"', "'", ' ', '\n', '!', '?', '-', '&', 'a', 'p',
    'div', 'nav', '<p>', '</p>', '</em>', '</td>', '</document>', '<div ',
    'class', '="v"', 'text', '&amp;', '<!--', '-->', '<a', '</', '<script>',
    '</script>', '<li>', '<td ', 'q&a', 'é', 'ab="v"', 'bare', '<aside>',
    'footer', '<ul>', '</ul>', 'id="nav"', '<style>', '</style>',
])
payloads = st.lists(CHUNKS, min_size=0, max_size=35).map(
    lambda parts: ''.join(parts).encode())


def via_dom(payload: bytes):
    root = parse_document(payload, mode='html', fix_broken=True,
                          track_spans=True)
    return extract_main(root)


def via_stream(payload: bytes):
    frags, block_boiler, n_nodes = gather_document(payload)
    return select_main(score_fragments(frags, block_boiler), n_nodes)


def both(payload: bytes):
    out = []
    for fn in (via_dom, via_stream):
        try:
            out.append(('ok', fn(payload)))
        except Exception as exc:  # noqa: BLE001 - intentional broad compare
            out.append(('err', norm_error(exc)))
    return out


def test_corpus_stream_equals_dom():
    corpus = (list(PARSER_FIXTURES.values()) + EXTRA_PAYLOADS
              + dirty_html_corpus(200, seed=9))
    for payload in corpus:
        if isinstance(payload, str):
            payload = payload.encode()
        a, b = both(payload)
        assert a == b, payload


def test_repair_shapes():
    cases = [
        b'<a>1</a><b>2</b>',                      # multi-root wrap
        b'<a>1</a>tail<b>2</b>',                  # root tail before wrap
        b'<a>x</a></document>gone',               # walk-root tail dropped
        b'="v"<script></document>t1\n<a</p>="v"<div <ul>',  # re-wrap binding
        b'<div><p>deep<ul><li>x</ul></div>extra<em>y</em>',
        b'<p>a<p>b<p>c',                          # sibling autoclose chain
    ]
    for payload in cases:
        a, b = both(payload)
        assert a == b, payload


@settings(max_examples=600, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(payloads)
def test_fuzz_stream_equals_dom(payload):
    a, b = both(payload)
    assert a == b, payload


TAGS = st.sampled_from(['p', 'div', 'a', 'nav', 'script', 'document', 'em',
                        'li'])
ATTRS = st.sampled_from([{}, {'class': 'menu'}, {'class': 'story'}])
EVENTS = st.lists(st.one_of(
    st.tuples(st.just('start'), TAGS, ATTRS),
    st.tuples(st.just('end'), TAGS),
    st.tuples(st.just('startend'), TAGS, ATTRS),
    st.tuples(st.just('data'),
              st.sampled_from(['', ' ', '\n', 'word', 'a longer text run'])),
    st.tuples(st.just('comment'), st.just('c')),
), max_size=30)


def drive(sink, events):
    """feed ``events`` to ``sink``; data carries its running char span"""
    pos = 0
    for kind, *args in events:
        if kind == 'data':
            sink.data(args[0], (pos, pos + len(args[0])))
            pos += len(args[0])
        else:
            getattr(sink, kind)(*args)
    return sink.close()


def tree_events(events):
    return extract_main(drive(TreeComposer(fix_broken=True), events))


def stream_events(events):
    sink = drive(GatherComposer(), events)
    return select_main(score_fragments(sink.fragments, sink.block_boiler),
                       sink.n_nodes)


@settings(max_examples=600, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(EVENTS)
def test_event_sequences_stream_equals_tree(events):
    out = []
    for fn in (tree_events, stream_events):
        try:
            out.append(('ok', fn(events)))
        except Exception as exc:  # noqa: BLE001 - intentional broad compare
            out.append(('err', type(exc).__name__, str(exc)))
    assert out[0] == out[1], events
