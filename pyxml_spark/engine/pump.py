"""The parse loop: one function that lexes a whole document into a sink.

Every entry point parses here — ``parse_document``, ``Parser``,
``CallbackParser`` and the extraction kernel's ``gather_document`` — and
events reach the sink only through the composer protocol
(``start/end/startend/data/comment/declaration/pi/close``).  The loop fuses
:class:`~pyxml_spark.engine.scanner.Scanner`'s classification with
:class:`~pyxml_spark.engine.parse.EventPump`'s event dispatch
(``step``/``_open_tag``/``_instruction``).  Semantics are identical by
construction — the state machine below is the same machine, inlined so that

* no per-event tuple is allocated (kind/value/position live in locals),
* cursor state (``i``/``line``/``col``/``prev``) stays in locals across the
  whole document instead of being loaded/stored per ``scan()`` call,
* tag-attribute runs feed the sink without a generator round-trip.

Parity targets are therefore the same reference lines the unfused path cites:
pyxml ``lexer.py:207-278`` (master token dispatch), ``_tokenize.py:125-135``
(empty-UNDEFINED stream end), ``parser.py:173-267`` (tag runs, bare-attr
``'true'`` default, fix_broken stash/replay, PI encoding switch).
``tests/test_pump_fused.py`` differentially checks the tree, feed/close and
callback entry points against the unfused ``EventPump`` over the fuzz corpus.
"""
from __future__ import annotations

from typing import Optional, Set

from .compose import TreeComposer
from .doc import Element
from .entities import unescape
from .scanner import (E_ANAME, E_AVAL, E_DECL, E_GT, E_NONE, E_OPEN, E_PI,
                      E_REM, E_SELF, E_TEXT, _QUOTES, _TAGSPECIAL, _WORD_RX,
                      _WS, RAWTEXT_TAGS, Scanner)

__all__ = ['pump_document']

_LT, _GT_, _EQ, _BANG, _DASH, _QMARK, _SLASH = (
    0x3C, 0x3E, 0x3D, 0x21, 0x2D, 0x3F, 0x2F)
_NL, _SP, _BSLASH = 0x0A, 0x20, 0x5C

import re as _re  # noqa: E402

#: one clean attribute pair: ws* name(len>=2, no specials/quotes) ws* = ws*
#: quoted value with no backslash (escape processing) and no & (unescape).
#: Anything outside this shape — 1-char names (the '=' absorption quirk),
#: bare attributes (the name-merge quirk), unterminated or escaped values —
#: fails the match and takes the exact state machine instead.  The ws class
#: is the scanner's _WS set, NOT \s (\f\v are not whitespace to the lexer).
_ATTR_PAIR_RX = _re.compile(
    rb'[\n\r\t ]*([^\n\r\t =<>/"\x27]{2,})[\n\r\t ]*=[\n\r\t ]*'
    rb'(?:"([^"\\&]*)"|\x27([^\x27\\&]*)\x27)')


def pump_document(data: bytes,
                  target: TreeComposer,
                  encoding: str = 'utf-8',
                  fix_broken: bool = False,
                  empty: Optional[Set[str]] = None,
                  track_spans: bool = False,
                  unescape=unescape) -> Element:
    """parse one payload straight into ``target``; returns ``target.close()``.

    ``unescape`` decodes text, comments and attribute values containing
    ``&``, like the reference's overridable ``Parser.unescape``.

    Raises exactly what the unfused path raises (``ParseFailure`` with the
    same message/code/position, composer/decoder errors untouched).
    """
    from .parse import _ENCODING_RX, ParseFailure  # circular at module load

    sc = Scanner(data)
    data = sc.data
    n = sc.n
    enc = encoding

    do_start = target.start
    do_startend = target.startend
    do_end = target.end
    t_data = target.data
    t_comment = target.comment
    t_declaration = target.declaration
    t_pi = target.pi

    i = 0
    line = 1
    col = 0
    prev = E_NONE
    pending_gt = None            # (line, col, start, end) of a re-emitted >

    # open-tag accumulation state (parser.py:173-227 flattened)
    in_tag = False
    cur_tag = ''
    closed = False
    bare = []
    attrs = {}
    end_tag: Optional[str] = None  # end-tag name awaiting its E_GT
    stash: Optional[str] = None    # decoded tag value of a stashed E_OPEN

    while True:
        # -------------------------------------------------- next event
        if stash is not None:
            # replay a nested TAG_START stashed by fix_broken
            # (parser.py:213-216, 248)
            kind = E_OPEN
            value = stash
            stash = None
            ev = None  # only needed for errors; unreachable on this path
        elif pending_gt is not None:
            kind = E_GT
            value = ''
            line0, col0, start = pending_gt[0], pending_gt[1], pending_gt[2]
            i_end = pending_gt[3]
            pending_gt = None
            prev = E_GT
            ev = (E_GT, b'', line0, col0, start, i_end)
        else:
            if in_tag:
                # clean name="value" runs bypass the event machinery; the
                # state machine would emit ANAME then AVAL with prev=E_AVAL
                # and identical cursor arithmetic
                m = _ATTR_PAIR_RX.match(data, i)
                while m is not None:
                    v = m.group(2)
                    if v is None:
                        v = m.group(3)
                    j = m.end()
                    nl = data.count(b'\n', i, j)
                    if nl:
                        line += nl
                        col = j - data.rindex(b'\n', i, j)
                    else:
                        col += j - i
                    i = j
                    attrs[m.group(1).decode(enc)] = v.decode(enc)
                    prev = E_AVAL
                    m = _ATTR_PAIR_RX.match(data, i)
            kind = E_NONE
            val = bytearray()
            line0, col0 = line, col
            start = i
            last: Optional[int] = None
            while True:
                if i >= n:
                    last = None
                    break
                c = data[i]
                i += 1
                if c == _NL:
                    line += 1
                    col = 1
                else:
                    col += 1
                last = c
                if c in _WS and prev < E_GT:
                    continue
                if not kind:
                    if c == _LT:
                        kind = E_OPEN
                        continue
                    if c == _SLASH and prev != E_GT:
                        sc.i, sc.line, sc.col = i, line, col
                        found = sc._gt_follows()
                        i, line, col = sc.i, sc.line, sc.col
                        if found:
                            kind = E_SELF
                            break
                        # fall through to the context fallback below
                    elif c == _GT_:
                        kind = E_GT
                        break
                    elif c == _EQ and prev == E_ANAME:
                        # scanner._skip_ws inlined
                        while i < n and data[i] in _WS:
                            if data[i] == _NL:
                                line += 1
                                col = 1
                            else:
                                col += 1
                            i += 1
                        kind = E_AVAL
                        continue
                    if not prev or E_GT <= prev <= E_PI:
                        val.append(c)
                        kind = E_TEXT
                        break
                    elif c not in _WS:
                        val.append(c)
                        kind = E_ANAME
                    continue
                if kind == E_OPEN:
                    if c == _BANG:
                        kind = E_DECL
                        continue
                    if c == _QMARK:
                        kind = E_PI
                        continue
                if c == _DASH and kind == E_DECL:
                    kind = E_REM
                    continue
                if c not in _QUOTES:
                    val.append(c)
                if kind:
                    break
            # completion phase per kind (lexer.py:244-277).  Hot kinds inline
            # the scanner helper's arithmetic (word bytes never contain
            # newlines, so col advances flat); cold shapes sync the scanner
            # cursor and delegate to the identical helper.
            if kind == E_OPEN:
                if val and (val != b'/'
                            or (i < n and data[i] not in _WS)):
                    # scanner._read_tag_name fast case: non-empty plain name,
                    # or '/' + name with no interior whitespace (the helper's
                    # skip_ws would be a no-op)
                    end = _WORD_RX.match(data, i).end()
                    if end > i:
                        val += data[i:end]
                        col += end - i
                        i = end
                    if i < n and data[i] not in _TAGSPECIAL:
                        c = data[i]
                        i += 1
                        if c == _NL:
                            line += 1
                            col = 1
                        else:
                            col += 1
                else:
                    sc.i, sc.line, sc.col = i, line, col
                    sc._read_tag_name(val)
                    i, line, col = sc.i, sc.line, sc.col
                if not val.strip(b'=<>/') or val[:1] == b' ':
                    kind = E_TEXT
                    val.insert(0, _LT)
                    val.append(_SP)
                    sc.i, sc.line, sc.col = i, line, col
                    if sc.rawtag in RAWTEXT_TAGS:
                        sc._read_rawtext(val, b'</' + sc.rawtag + b'>')
                    else:
                        sc._read_text(val)
                    i, line, col = sc.i, sc.line, sc.col
                else:
                    sc.rawtag = bytes(val)
            elif kind == E_ANAME:
                gt_at = i - 1 if val and val[-1] == _GT_ else None
                # scanner._read_word inlined
                end = _WORD_RX.match(data, i).end()
                if end > i:
                    val += data[i:end]
                    col += end - i
                    i = end
                if end < n and data[end] not in _TAGSPECIAL:
                    c = data[end]
                    i = end + 1
                    if c == _NL:
                        line += 1
                        col = 1
                    else:
                        col += 1
                if val and val[-1] == _GT_:
                    del val[-1]
                    pending_gt = (line, col - 1,
                                  gt_at if gt_at is not None else i, i)
            elif kind == E_AVAL:
                if last is not None and last in _QUOTES:
                    j = data.find(last, i)
                    if j >= 0 and data[j - 1] != _BSLASH:
                        # scanner._read_quoted without an escaped quote
                        val += data[i:j]
                        nl = data.count(b'\n', i, j)
                        if nl:
                            line += nl
                            col = j + 1 - data.rindex(b'\n', i, j)
                        else:
                            col += j + 1 - i
                        i = j + 1
                    else:
                        sc.i, sc.line, sc.col = i, line, col
                        sc._read_quoted(last, val)
                        i, line, col = sc.i, sc.line, sc.col
                else:
                    end = _WORD_RX.match(data, i).end()
                    if end > i:
                        val += data[i:end]
                        col += end - i
                        i = end
                    if end < n and data[end] not in _TAGSPECIAL:
                        c = data[end]
                        i = end + 1
                        if c == _NL:
                            line += 1
                            col = 1
                        else:
                            col += 1
            elif kind == E_TEXT:
                if sc.rawtag in RAWTEXT_TAGS:
                    sc.i, sc.line, sc.col = i, line, col
                    sc._read_rawtext(val, b'</' + sc.rawtag + b'>')
                    i, line, col = sc.i, sc.line, sc.col
                else:
                    # scanner._read_text inlined
                    j1 = data.find(b'<', i)
                    j2 = data.find(b'>', i)
                    if j1 < 0:
                        j = j2 if j2 >= 0 else n
                    elif j2 < 0:
                        j = j1
                    else:
                        j = j1 if j1 < j2 else j2
                    if j > i:
                        val += data[i:j]
                        nl = data.count(b'\n', i, j)
                        if nl:
                            line += nl
                            col = j - data.rindex(b'\n', i, j)
                        else:
                            col += j - i
                        i = j
            elif kind == E_REM:
                sc.i, sc.line, sc.col = i, line, col
                sc._read_comment(val)
                i, line, col = sc.i, sc.line, sc.col
            elif kind == E_DECL:
                sc.i, sc.line, sc.col = i, line, col
                sc._read_declaration(val)
                i, line, col = sc.i, sc.line, sc.col
            elif kind == E_PI:
                sc.i, sc.line, sc.col = i, line, col
                sc._read_instruction(val)
                i, line, col = sc.i, sc.line, sc.col
            if kind == E_NONE and not val:
                # stream exhausted (_tokenize.py:125-135)
                if end_tag is not None:
                    raise ParseFailure('Missing Tag End', None)
                if in_tag:
                    # EOF inside a tag run: flush what we have
                    # (parser.py:198-204 break-on-None path)
                    for name in bare:
                        attrs[name] = 'true'
                    if closed or (empty and cur_tag in empty):
                        do_startend(cur_tag, attrs)
                    else:
                        do_start(cur_tag, attrs)
                    in_tag = False
                break
            prev = kind
            value = val.decode(enc) if val else ''
            ev = (kind, val, line0, col0, start, i)

        # ---------------------------------------------------- dispatch
        if end_tag is not None:
            # an end tag requires an immediate TAG_END (parser.py:183-190)
            if kind != E_GT:
                raise ParseFailure('Missing Tag End', ev)
            do_end(end_tag.lstrip('/'))
            end_tag = None
            continue
        if in_tag:
            if kind == E_GT:
                pass
            elif kind == E_SELF:
                closed = True
            elif kind == E_ANAME:
                bare.append(value)
                continue
            elif kind == E_AVAL:
                attrs[bare.pop()] = (unescape(value) if '&' in value
                                     else value)
                continue
            elif fix_broken and kind == E_OPEN:
                stash = value
                closed = True
            else:
                raise ParseFailure('Unexpected Tag Token', ev)
            for name in bare:
                attrs[name] = 'true'
            if closed or (empty and cur_tag in empty):
                do_startend(cur_tag, attrs)
            else:
                do_start(cur_tag, attrs)
            in_tag = False
            continue
        if kind == E_OPEN:
            if value.startswith('/'):
                end_tag = value
            else:
                in_tag = True
                cur_tag = value
                closed = False
                bare = []
                attrs = {}
            continue
        if kind == E_TEXT:
            if '&' in value:
                value = unescape(value)
            t_data(value, (start, i) if track_spans else None)
        elif kind == E_REM:
            # unescape runs even when the sink drops comments — its charref
            # errors are observable (parser.py:252-255)
            t_comment(unescape(value) if '&' in value else value)
        elif kind == E_DECL:
            t_declaration(value)
        elif kind == E_PI:
            # <?xml ... encoding=X?> switches the decoder (parser.py:229-238)
            pi_target, pi_value = value.split(' ', 1)
            if pi_target == 'xml':
                for match in _ENCODING_RX.finditer(pi_value):
                    enc = match.groups()[0].strip('\'"')
            t_pi(pi_target, pi_value)
        else:
            raise ParseFailure('Unexpected Next Token', ev)

    return target.close()
