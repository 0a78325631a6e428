"""Parse entry points (run the fused loop in ``pump.py``) and ``EventPump``,
the unfused scanner-events -> composer-calls dispatch kept as its oracle.

Behavior parity target: /root/reference/pyxml/parser.py (Parser.next /
parse_tag / process_pi), including:

* end tags require an immediate TAG_END event (parser.py:183-190);
* bare attribute names default to the value ``'true'`` (parser.py:219);
* under ``fix_broken`` a nested TAG_START inside an open tag closes the tag
  and replays the stashed event (parser.py:213-216, 248);
* ``<?xml ... encoding=X?>`` switches the active decoder mid-stream
  (parser.py:22, 229-238);
* HTML void tags (``empty`` set) imply an immediate end (parser.py:220-226).

The reference feeds a pull parser from file/str/bytes buffers; here one
document is one in-memory payload (a Spark column cell), so the ingest
machinery collapses to a ``bytes`` argument. A small ``Parser`` shim keeps the
``feed()/close()`` protocol for test parity.
"""
from __future__ import annotations

import re
from typing import Dict, List, Optional, Set, Tuple

from .compose import ComposeError, TreeComposer
from .doc import Element
from .entities import unescape
from .scanner import (E_ANAME, E_AVAL, E_DECL, E_GT, E_OPEN, E_PI, E_REM,
                      E_SELF, E_TEXT, ScanEvent, Scanner)

__all__ = ['ParseFailure', 'EventPump', 'Parser', 'parse_document',
           'fromstring', 'HTML_VOID', 'HTML_KEEP_FULL']

#: HTML void elements: a start tag implies an immediate end
#: (reference html/parser.py:26-28, same set as the python stdlib)
HTML_VOID = frozenset({
    'area', 'base', 'basefont', 'br', 'col', 'embed', 'frame', 'hr',
    'img', 'input', 'isindex', 'link', 'meta', 'param', 'source',
    'track', 'wbr'})

#: HTML elements that are never serialized in short form
HTML_KEEP_FULL = frozenset({'style', 'script'})

_ENCODING_RX = re.compile(r'encoding\s?=\s?([^\s,]+)', re.IGNORECASE)


class ParseFailure(SyntaxError):
    """syntax error carrying the offending event's code and position"""

    token: Optional[int] = None
    code: Optional[bytes] = None
    position: Optional[Tuple[int, int]] = None

    def __init__(self, msg: str, event: Optional[ScanEvent] = None):
        full = msg
        if event is not None:
            kind, value, line, col = event[0], event[1], event[2], event[3]
            full += f' at {value.decode()!r}'
            full += ' lineno=%d, index=%d' % (line, col)
            self.token = kind
            self.code = value
            self.position = (line, col)
        super().__init__(full)


class EventPump:
    """drives one Scanner into one TreeComposer, one event at a time.

    No entry point runs this; they all use the fused ``pump_document``.
    It is the unfused oracle the differential tests check that loop
    against, until the pyxml reference ships with the checkout."""

    __slots__ = ('scanner', 'target', 'encoding', 'fix_broken', 'empty',
                 'track_spans', 'unescape', '_stash')

    def __init__(self,
                 data: bytes,
                 target: Optional[TreeComposer] = None,
                 encoding: str = 'utf-8',
                 fix_broken: bool = False,
                 empty: Optional[Set[str]] = None,
                 track_spans: bool = False,
                 unescape_fn=None):
        self.scanner = Scanner(data)
        self.target = target if target is not None else TreeComposer(
            fix_broken=fix_broken)
        self.target.fix_broken = fix_broken
        self.encoding = encoding
        self.fix_broken = fix_broken
        self.empty = empty
        self.track_spans = track_spans
        # overridable like the reference Parser.unescape method
        # (parser.py:169-171; overridden by its HTMLParser at
        # html/parser.py:71-82) — applies to attr values, text and comments
        self.unescape = unescape_fn if unescape_fn is not None else unescape
        self._stash: Optional[ScanEvent] = None

    def _open_tag(self, tag: str):
        """consume one tag's event run (parser.py:173-227)"""
        if tag.startswith('/'):
            ev = self.scanner.scan()
            if ev is None or ev[0] != E_GT:
                raise ParseFailure('Missing Tag End', ev)
            self.target.end(tag.lstrip('/'))
            return
        closed = False
        bare: List[str] = []
        attrs: Dict[str, str] = {}
        scan = self.scanner.scan
        enc = self.encoding
        while True:
            ev = scan()
            if ev is None or ev[0] == E_GT:
                break
            kind = ev[0]
            if kind == E_SELF:
                closed = True
                break
            elif kind == E_ANAME:
                bare.append(ev[1].decode(enc))
                continue
            elif kind == E_AVAL:
                attrs[bare.pop()] = self.unescape(ev[1].decode(enc))
                continue
            elif self.fix_broken and kind == E_OPEN:
                self._stash = ev
                closed = True
                break
            raise ParseFailure('Unexpected Tag Token', ev)
        attrs.update({name: 'true' for name in bare})
        if closed or (self.empty and tag in self.empty):
            self.target.startend(tag, attrs)
            return
        self.target.start(tag, attrs)

    def _instruction(self, pi: str):
        """sniff encoding from an xml declaration PI (parser.py:229-238)"""
        target, value = pi.split(' ', 1)
        if target == 'xml':
            for match in _ENCODING_RX.finditer(value):
                self.encoding = match.groups()[0].strip('\'"')
        self.target.pi(target, value)

    def step(self) -> bool:
        """dispatch a single event; False once the stream is exhausted"""
        ev = self._stash
        if ev is None:
            ev = self.scanner.scan()
        else:
            self._stash = None
        if ev is None:
            return False
        kind = ev[0]
        raw = ev[1]
        value = raw.decode(self.encoding) if raw else ''
        if kind == E_OPEN:
            self._open_tag(value)
        elif kind == E_TEXT:
            span = (ev[4], ev[5]) if self.track_spans else None
            self.target.data(self.unescape(value), span)
        elif kind == E_REM:
            self.target.comment(self.unescape(value))
        elif kind == E_DECL:
            self.target.declaration(value)
        elif kind == E_PI:
            self._instruction(value)
        else:
            raise ParseFailure('Unexpected Next Token', ev)
        return True

    def run(self) -> Element:
        while self.step():
            pass
        return self.target.close()


def parse_document(data,
                   mode: str = 'xml',
                   fix_broken: bool = False,
                   target: Optional[TreeComposer] = None,
                   encoding: str = 'utf-8',
                   track_spans: bool = False) -> Element:
    """parse one payload into an Element tree.

    ``mode='html'`` enables void-tag autoclose; raw-text script/style handling
    is always on (the reference XML lexer does it too, lexer.py:25,199-205).
    """
    if isinstance(data, str):
        data = data.encode()
    empty = HTML_VOID if mode == 'html' else None
    from .pump import pump_document
    return pump_document(data, _composer(target, fix_broken),
                         encoding=encoding, fix_broken=fix_broken,
                         empty=empty, track_spans=track_spans)


def _composer(target: Optional[TreeComposer],
              fix_broken: bool) -> TreeComposer:
    """``target`` set to the parse's repair mode, or a fresh composer"""
    if target is None:
        return TreeComposer(fix_broken=fix_broken)
    target.fix_broken = fix_broken
    return target


def fromstring(text, fix_broken: bool = True, **kwargs) -> Element:
    """parse XML text; repairs broken markup by default (etree.py:30-43)"""
    return parse_document(text, mode='xml', fix_broken=fix_broken, **kwargs)


class Parser:
    """ingest shim matching the reference Parser protocol (parser.py:83-147)
    for ported unit tests; one-shot per instance.

    Three mutually-exclusive sources, with the reference's exclusion rules
    and error strings (parser.py:84-121): ``feed`` accumulates into a memory
    buffer, ``readfrom`` replaces the (unused) buffer with a file object,
    ``set_stream`` assigns a byte-chunk iterable; ``close`` drains whichever
    was set and parses.
    """

    def __init__(self, target: Optional[TreeComposer] = None,
                 encoding: str = 'utf-8', fix_broken: bool = False,
                 empty: Optional[Set[str]] = None):
        self.target = target
        self.encoding = encoding
        self.fix_broken = fix_broken
        self.empty = empty
        self.stream = None
        self.buffer = None  # BytesIO from feed(), or the readfrom() file

    def set_stream(self, stream) -> None:
        if self.stream is not None:
            raise RuntimeError('data-stream already set')
        elif self.buffer is not None:
            raise RuntimeError('memory buffer already assigned')
        self.stream = stream

    def feed(self, data) -> None:
        from io import BytesIO
        if self.stream is not None:
            raise RuntimeError('data-stream already provided')
        elif not self.buffer:
            self.buffer = BytesIO()
        elif not isinstance(self.buffer, BytesIO):
            raise RuntimeError('`readfrom` already called instead')
        if isinstance(data, str):
            data = data.encode()
        self.buffer.write(data)

    def readfrom(self, file) -> None:
        from io import BytesIO
        if self.stream is not None:
            raise RuntimeError('data-stream already provided')
        elif self.buffer:
            if not isinstance(self.buffer, BytesIO):
                raise RuntimeError('read buffer already replaced')
            elif self.buffer.tell() != 0:
                raise RuntimeError('memory buffer already in use')
        self.buffer = file

    def _drain(self) -> bytes:
        from io import BytesIO
        if self.stream is not None:
            return b''.join(bytes(chunk) for chunk in self.stream)
        if self.buffer is None:
            return b''
        if isinstance(self.buffer, BytesIO):
            return self.buffer.getvalue()
        return self.buffer.read()

    def close(self) -> Element:
        if self.stream is None and self.buffer is None:
            # reference parity (parser.py:140): closing with no source is a
            # protocol error, not an empty parse
            raise RuntimeError('no data-stream provided')
        from .pump import pump_document
        return pump_document(self._drain(),
                             _composer(self.target, self.fix_broken),
                             encoding=self.encoding,
                             fix_broken=self.fix_broken, empty=self.empty)
