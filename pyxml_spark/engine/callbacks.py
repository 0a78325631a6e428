"""SAX-style callback parsing surface (``html.parser``-compatible names).

The reference ships a callback API (`/root/reference/pyxml/html/parser.py:32-122`,
``HTMLParser`` + ``TreeMiddleware``) that is dead on arrival: its ``__init__``
(html/parser.py:66-70) never runs the dataclass ``__post_init__``
(parser.py:116-120), so ``stream`` is unset and ``feed``/``close``/
``set_stream`` all raise ``AttributeError`` — verified by executing the
reference (SURVEY.md §2-B). This module provides the working equivalent the
middleware *intended*:

* composer events bridged to ``handle_startag/handle_endtag/
  handle_startendtag/handle_data/handle_comment/handle_pi`` (TreeMiddleware
  mapping, html/parser.py:37-45);
* declarations starting with ``doctype`` (case-insensitive) routed to
  ``handle_decl``, anything else to ``unknown_decl`` (html/parser.py:47-52);
* ``convert_charefs=False`` routes char/entity references to
  ``handle_charref``/``handle_entityref`` (passed the full ``&...;`` token,
  as the reference does) and strips them from the emitted value — applied to
  text, comments and attribute values alike, because the hook replaces the
  reference's overridable ``Parser.unescape`` (parser.py:169-171,
  html/parser.py:71-82).
"""
from __future__ import annotations

from typing import Dict, List, Optional

from .entities import find_charrefs, find_entityrefs, unescape
from .parse import HTML_VOID
from .pump import pump_document

__all__ = ['CallbackParser']


class _Middleware:
    """composer-protocol sink forwarding pump events to CallbackParser
    hooks"""

    # plain attribute so EventPump's `target.fix_broken = ...` works
    fix_broken = False

    def __init__(self, cb: 'CallbackParser'):
        self.cb = cb

    def start(self, tag: str, attrs: Dict[str, str]):
        self.cb.handle_startag(tag, attrs)

    def end(self, tag: str):
        self.cb.handle_endtag(tag)

    def startend(self, tag: str, attrs: Dict[str, str]):
        self.cb.handle_startendtag(tag, attrs)

    def data(self, data: str, span=None):
        self.cb.handle_data(data)

    def comment(self, text: str):
        self.cb.handle_comment(text)

    def declaration(self, declaration: str):
        if declaration.lower().startswith('doctype'):
            self.cb.handle_decl(declaration)
        else:
            self.cb.unknown_decl(declaration)

    def pi(self, target: str, pi: str):
        self.cb.handle_pi(f'{target} {pi}')

    def close(self):
        return None


class CallbackParser:
    """subclass and override ``handle_*``; drive with ``feed()`` + ``close()``

    ``mode='html'`` (default) applies void-tag autoclose so ``<br>`` arrives
    as a ``handle_startendtag``; ``mode='xml'`` disables the void set.

    With ``convert_charefs=False``, ``handle_charref``/``handle_entityref``
    fire once per distinct reference while the containing text/comment/attr
    value is being unescaped — i.e. BEFORE the (reference-stripped) value is
    delivered to ``handle_data`` etc., not interleaved at their document
    positions the way stdlib ``html.parser`` emits them; every occurrence of
    a matched reference token is removed from the delivered value.
    (Acceptable for a replacement of the reference's dead callback API.)
    """

    def __init__(self, *, convert_charefs: bool = True, mode: str = 'html',
                 fix_broken: bool = True, encoding: str = 'utf-8'):
        self.convert_charefs = convert_charefs
        self.mode = mode
        self.fix_broken = fix_broken
        self.encoding = encoding
        self._chunks: List[bytes] = []

    # ------------------------------------------------------------ protocol

    def feed(self, data):
        if isinstance(data, str):
            data = data.encode()
        self._chunks.append(data)

    def close(self) -> None:
        data = b''.join(self._chunks)
        self._chunks = []
        pump_document(data, _Middleware(self), encoding=self.encoding,
                      fix_broken=self.fix_broken,
                      empty=HTML_VOID if self.mode == 'html' else None,
                      unescape=self._unescape)

    def _unescape(self, value: str) -> str:
        if self.convert_charefs:
            return unescape(value)
        for match in find_charrefs(value):
            self.handle_charref(match)
            value = value.replace(match, '')
        for match in find_entityrefs(value):
            self.handle_entityref(match)
            value = value.replace(match, '')
        return value

    # ------------------------------------------------------- handler hooks

    def handle_startag(self, tag: str, attrs: Dict[str, str]):
        pass

    def handle_endtag(self, tag: str):
        pass

    def handle_startendtag(self, tag: str, attrs: Dict[str, str]):
        self.handle_startag(tag, attrs)
        self.handle_endtag(tag)

    def handle_data(self, data: str):
        pass

    def handle_entityref(self, name: str):
        pass

    def handle_charref(self, name: str):
        pass

    def handle_comment(self, text: str):
        pass

    def handle_decl(self, decl: str):
        pass

    def handle_pi(self, data: str):
        pass

    def unknown_decl(self, data: str):
        pass
