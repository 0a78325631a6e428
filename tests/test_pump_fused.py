"""Differential check: the fused pump loop (engine/pump.py) must be
observably identical to the unfused Scanner+EventPump path over the whole
corpus — same trees, same errors, same char spans, same callback events.
Every entry point that runs the fused loop is paired with the oracle:
``pump_document`` itself, the ``Parser``/``HTMLTreeParser`` feed+close shim,
and ``CallbackParser`` with either unescape hook.  The reference-parity
suites cover fused-vs-pyxml; this one pins fused-vs-unfused so the two
in-repo state machines cannot drift."""
from __future__ import annotations

import pytest

from tests.conftest import (EXTRA_PAYLOADS, PARSER_FIXTURES, dirty_html_corpus,
                            norm_error)
from tests.test_callbacks import Recorder
from pyxml_spark.engine.callbacks import _Middleware
from pyxml_spark.engine.compose import TreeComposer
from pyxml_spark.engine.html import HTMLTreeParser
from pyxml_spark.engine.parse import HTML_VOID, EventPump, Parser
from pyxml_spark.engine.pump import pump_document

hypothesis = pytest.importorskip('hypothesis')
from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402

CORPUS = (list(PARSER_FIXTURES.values()) + EXTRA_PAYLOADS
          + dirty_html_corpus(120, seed=42))

MARKUP_CHUNKS = st.sampled_from([
    '<', '>', '/', '=', '"', "'", ' ', '\n', '\t', '!', '?', '-', '[', ']',
    '&', '#', ';', '\\', 'a', 'b', 'p', 'x', 'div', 'span', 'script',
    'style', 'br', 'img', '<p>', '</p>', '<div ', 'class', '="v"', 'text',
    '&amp;', '&lt;', '&#65;', '&#xe9;', '<!--', '-->', '<?', '?>',
    '<!DOCTYPE', 'é', '1', '<a', '</', '<<', '>>',
    # attribute-pair shapes around the pump's regex fast path boundary
    'ab="v"', "cd='x'", 'a="1"', ' b ', 'ef = "w"', 'gh="a&amp;b"',
    'ij="q\\"r"', 'kl="', '="v"', 'mn=o',
])
payloads = st.lists(MARKUP_CHUNKS, min_size=0, max_size=40).map(
    lambda parts: ''.join(parts).encode())


def shape_with_spans(root):
    out = []
    for node in root.iter():
        tag = node.tag if isinstance(node.tag, str) else type(node).__name__
        out.append((tag, node.text, node.tail, dict(node.attrib),
                    getattr(node, 'text_spans', None),
                    getattr(node, 'tail_spans', None)))
    return out


def outcome(fn):
    try:
        return ('ok', fn())
    except Exception as exc:  # noqa: BLE001 - intentional broad compare
        return ('err', norm_error(exc), str(exc))


def run_both(payload: bytes, fix_broken: bool, empty, track_spans: bool):
    """(unfused oracle, fused entry point) outcome pairs"""
    def unfused(spans=track_spans):
        return shape_with_spans(EventPump(
            payload, fix_broken=fix_broken, empty=empty,
            track_spans=spans).run())

    def fused():
        return shape_with_spans(pump_document(
            payload, TreeComposer(fix_broken=fix_broken),
            fix_broken=fix_broken, empty=empty, track_spans=track_spans))

    def feed_close():
        # a default composer: close() must hand it the parser's fix_broken
        cls = HTMLTreeParser if empty else Parser
        parser = cls(target=TreeComposer(), fix_broken=fix_broken)
        half = len(payload) // 2
        parser.feed(payload[:half])
        parser.feed(payload[half:])
        return shape_with_spans(parser.close())

    pairs = [(outcome(unfused), outcome(fused)),
             (outcome(lambda: unfused(spans=False)), outcome(feed_close))]

    def callbacks_unfused(rec):
        pump = EventPump(payload, target=_Middleware(rec),
                         encoding=rec.encoding, fix_broken=fix_broken,
                         empty=empty, unescape_fn=rec._unescape)
        while pump.step():
            pass

    def callbacks_fused(rec):
        rec.feed(payload)
        rec.close()

    for convert_charefs in (True, False):
        got = []
        for drive in (callbacks_unfused, callbacks_fused):
            rec = Recorder(convert_charefs=convert_charefs,
                           mode='html' if empty else 'xml',
                           fix_broken=fix_broken)
            # events delivered before an error must match too
            got.append((outcome(lambda: drive(rec)), rec.events))
        pairs.append(tuple(got))
    return pairs


@pytest.mark.parametrize('fix_broken', [False, True])
@pytest.mark.parametrize('empty', [None, frozenset(HTML_VOID)])
def test_corpus_fused_equals_unfused(fix_broken, empty):
    for payload in CORPUS:
        if isinstance(payload, str):
            payload = payload.encode()
        for track_spans in (False, True):
            for a, b in run_both(payload, fix_broken, empty, track_spans):
                assert a == b, payload


@settings(max_examples=500, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(payloads, st.booleans(), st.booleans())
def test_fuzz_fused_equals_unfused(payload, fix_broken, html):
    empty = frozenset(HTML_VOID) if html else None
    for a, b in run_both(payload, fix_broken, empty, track_spans=True):
        assert a == b, payload
