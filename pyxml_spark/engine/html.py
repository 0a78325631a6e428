"""HTML-mode entry points.

Parity target: /root/reference/pyxml/html/__init__.py and html/parser.py —
void-tag autoclose + never-shortened style/script on serialize. Raw-text
script/style lexing lives in the scanner (always on, like the reference).

The reference's SAX-style ``HTMLParser`` callback class (html/parser.py:62-122)
is dead on arrival there; its working equivalent is
:class:`~pyxml_spark.engine.callbacks.CallbackParser`.
"""
from __future__ import annotations

from .doc import Element
from .parse import HTML_KEEP_FULL, HTML_VOID, Parser, parse_document
from .render import tostring as _tostring

__all__ = ['fromstring', 'tostring', 'HtmlElement', 'HTML_VOID',
           'HTML_KEEP_FULL', 'HTMLTreeParser']

#: lxml-compat alias
HtmlElement = Element


def fromstring(text, fix_broken: bool = True, **kwargs) -> Element:
    """parse HTML with void autoclose; repairs broken markup by default"""
    return parse_document(text, mode='html', fix_broken=fix_broken, **kwargs)


def tostring(element: Element, **kwargs) -> bytes:
    kwargs.setdefault('method', 'html')
    return _tostring(element, **kwargs)


class HTMLTreeParser(Parser):
    """feed()/close() shim with HTML void handling"""

    def __init__(self, **kwargs):
        kwargs.setdefault('empty', set(HTML_VOID))
        super().__init__(**kwargs)
