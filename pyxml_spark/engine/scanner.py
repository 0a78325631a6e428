"""Cursor-based HTML/XML tokenizer.

Behavior parity target: /root/reference/pyxml/_tokenize.py + lexer.py — the
same observable token stream, re-architected. The reference pulls one byte at
a time from an iterator with a pushback buffer; we scan an in-memory ``bytes``
payload with an index cursor and ``bytes.find`` fast paths (text runs, quoted
values, script/style raw text), which is the per-document throughput lever the
Spark batch UDF depends on (SURVEY.md §4).

Deliberately preserved reference quirks (each cites the origin):

* space-skip inside tag context keys off the *previous* event kind, so
  ``<x a b="v">`` lexes the attr name ``ab`` (lexer.py:218-219);
* an all-special or space-leading tag name downgrades to TEXT with ``<``
  re-prefixed and a space appended (lexer.py:247-252);
* an attr name that captured a trailing ``>`` re-emits the ``>`` (lexer.py:255-260);
* ``script``/``style`` content is raw text up to the literal end tag
  (lexer.py:88-99,199-205), in XML mode too;
* comment lexing keeps the third ``-`` of the opener in the value and drops
  dash runs at the value head (lexer.py:101-120);
* ``look_ahead`` advances line/col accounting even when it rewinds
  (lexer.py:160-176) — error positions depend on this;
* an empty UNDEFINED result terminates the stream (_tokenize.py:125-135).

Events are tuples ``(kind, value, line, col, start, end)`` where start/end are
absolute byte offsets of the consumed region (our extension; the reference
tracks only line/col and our span output needs raw offsets).
"""
from __future__ import annotations

from typing import Optional, Tuple

__all__ = [
    'Scanner', 'ScanEvent', 'RAWTEXT_TAGS',
    'E_NONE', 'E_OPEN', 'E_ANAME', 'E_AVAL', 'E_GT', 'E_SELF',
    'E_REM', 'E_DECL', 'E_PI', 'E_TEXT',
]

# event kinds; ordinals mirror the reference Token enum (lexer.py:29-39)
# because the state machine branches on ordinal ranges.
(E_NONE, E_OPEN, E_ANAME, E_AVAL, E_GT, E_SELF,
 E_REM, E_DECL, E_PI, E_TEXT) = range(10)

ScanEvent = Tuple[int, bytes, int, int, int, int]

_WS = frozenset(b'\n\r\t ')
_TAGSPECIAL = frozenset(b'=<>/')
_QUOTES = frozenset(b'"\'')

_LT, _GT_, _EQ, _BANG, _DASH, _QMARK, _SLASH = (
    0x3C, 0x3E, 0x3D, 0x21, 0x2D, 0x3F, 0x2F)
_LBRACK, _RBRACK, _BSLASH, _NL, _SP = 0x5B, 0x5D, 0x5C, 0x0A, 0x20

#: tags whose content is consumed verbatim up to the literal end tag
RAWTEXT_TAGS = frozenset((b'script', b'style'))

import re as _re  # noqa: E402

#: run of word bytes: everything except whitespace and the =<>/ specials
_WORD_RX = _re.compile(rb'[^\n\r\t =<>/]*')


class Scanner:
    """single-pass tokenizer over one in-memory payload"""

    __slots__ = ('data', 'n', 'i', 'line', 'col', 'prev', 'rawtag', '_pending')

    def __init__(self, data: bytes):
        self.data = data
        self.n = len(data)
        self.i = 0
        self.line = 1
        self.col = 0
        self.prev = E_NONE            # kind of previously emitted event
        self.rawtag: Optional[bytes] = None  # most recent tag name seen
        self._pending: Optional[ScanEvent] = None

    # ------------------------------------------------------------------ io

    def _get(self) -> Optional[int]:
        """consume one byte, maintaining line/col like the reference
        (_tokenize.py:54-69: a newline resets col then counts itself as 1)"""
        i = self.i
        if i >= self.n:
            return None
        b = self.data[i]
        self.i = i + 1
        if b == _NL:
            self.line += 1
            self.col = 1
        else:
            self.col += 1
        return b

    def _advance_to(self, j: int):
        """bulk-consume up to offset j with the same line/col arithmetic a
        byte-at-a-time loop would produce"""
        i, data = self.i, self.data
        if j <= i:
            return
        if j == i + 1:  # single-byte advance fast path
            if data[i] == _NL:
                self.line += 1
                self.col = 1
            else:
                self.col += 1
            self.i = j
            return
        nl = data.count(b'\n', i, j)
        if nl:
            self.line += nl
            self.col = j - data.rindex(b'\n', i, j)
        else:
            self.col += j - i
        self.i = j

    def _skip_ws(self):
        data, n = self.data, self.n
        j = self.i
        while j < n and data[j] in _WS:
            j += 1
        self._advance_to(j)

    # -------------------------------------------------------- value readers

    def _read_word(self, val: bytearray):
        """word chars until whitespace (consumed) or =<>/ (left in stream).
        Regex fast path: the match ends exactly where the byte loop would."""
        data, i = self.data, self.i
        m = _WORD_RX.match(data, i)
        end = m.end()
        if end > i:
            val += data[i:end]
            self._advance_to(end)
        if end < self.n and data[end] not in _TAGSPECIAL:
            self._advance_to(end + 1)  # consume the terminating space

    def _read_tag_name(self, val: bytearray):
        """tag name; interior spaces before the name are skipped while the
        accumulator is empty or a lone slash (lexer.py:62-75)"""
        data, n = self.data, self.n
        while True:
            if not val or val == b'/':
                self._skip_ws()
            i = self.i
            m = _WORD_RX.match(data, i)
            end = m.end()
            if end > i:
                val += data[i:end]
                self._advance_to(end)
            if end >= n or data[end] in _TAGSPECIAL:
                return
            # a space: consumed; terminates a non-empty, non-'/' name
            self._advance_to(end + 1)
            if val and val != b'/':
                return

    def _read_text(self, val: bytearray):
        """text run up to the next < or > (terminator stays in stream)"""
        data, i = self.data, self.i
        j1 = data.find(b'<', i)
        j2 = data.find(b'>', i)
        if j1 < 0:
            j = j2 if j2 >= 0 else self.n
        elif j2 < 0:
            j = j1
        else:
            j = min(j1, j2)
        val += data[i:j]
        self._advance_to(j)

    def _read_rawtext(self, val: bytearray, end: bytes):
        """verbatim content until the literal end tag; the end tag itself is
        left in the stream. On EOF without the end tag the whole remainder is
        dropped (matching the reference's never-flushed buffer)."""
        data, i = self.data, self.i
        j = data.find(end, i)
        if j < 0:
            self._advance_to(self.n)
            return
        val += data[i:j]
        self._advance_to(j)

    def _read_quoted(self, quote: int, val: bytearray):
        """quoted run; a quote preceded by an odd-length backslash run is
        literal (_tokenize.py:105-120). Closing quote consumed, not kept."""
        data, i0 = self.data, self.i
        j = i0
        while True:
            j = data.find(quote, j)
            if j < 0:
                val += data[i0:]
                self._advance_to(self.n)
                return
            k = j
            while k > i0 and data[k - 1] == _BSLASH:
                k -= 1
            if (j - k) % 2 == 0:
                val += data[i0:j]
                self._advance_to(j + 1)
                return
            j += 1

    def _read_comment(self, val: bytearray):
        """comment body; dash bookkeeping mirrors lexer.py:101-120 exactly
        (dashes dropped while the value is empty, closing needs 2+ pending
        dashes before >, pending dashes are dropped at close)"""
        pend = bytearray()
        while True:
            c = self._get()
            if c is None:
                break
            if c == _DASH:
                if val:
                    pend.append(c)
                continue
            if c == _GT_ and len(pend) >= 2:
                break
            if pend:
                val += pend
                pend.clear()
            val.append(c)
        if not val:
            # reference indexes value[0] unconditionally here (lexer.py:119)
            raise IndexError('bytearray index out of range')

    def _read_declaration(self, val: bytearray):
        """<!...> body with [..] nesting and quote passthrough; quote chars are
        double-appended around quoted runs exactly like lexer.py:122-138"""
        depth = 0
        while True:
            c = self._get()
            if c is None:
                break
            if c == _LBRACK:
                depth += 1
            elif c == _RBRACK:
                depth -= 1
            elif c in _QUOTES:
                val.append(c)
                self._read_quoted(c, val)
            elif c == _GT_ and depth <= 0:
                break
            val.append(c)

    def _read_instruction(self, val: bytearray):
        """<?...?> body; interior ? dropped, unterminated raises ValueError
        (lexer.py:140-158; the armed flag starts True so a bare > terminates)"""
        armed = True
        while True:
            c = self._get()
            if c is None:
                break
            if c in _QUOTES:
                val.append(c)
                self._read_quoted(c, val)
            elif c == _QMARK:
                armed = True
                continue
            elif armed:
                if c == _GT_:
                    return
                armed = False
            val.append(c)
        raise ValueError('instruction never terminated')

    def _gt_follows(self) -> bool:
        """peek past whitespace for >; on failure the data cursor rewinds but
        line/col remain advanced — a deliberate reference parity quirk
        (lexer.py:160-176 restores bytes without restoring counters)"""
        i0 = self.i
        while True:
            c = self._get()
            if c is None:
                break
            if c in _WS:
                continue
            if c == _GT_:
                return True
            break
        self.i = i0
        return False

    # ------------------------------------------------------------- classify

    def _text_payload(self, val: bytearray):
        """text continuation: raw-text mode inside script/style, else a plain
        text run (lexer.py:199-205)"""
        if self.rawtag in RAWTEXT_TAGS:
            self._read_rawtext(val, b'</' + self.rawtag + b'>')
        else:
            self._read_text(val)

    # ----------------------------------------------------------------- scan

    def scan(self) -> Optional[ScanEvent]:
        """produce the next event, or None once the stream ends.

        The byte loop is inlined (locals for data/cursor/counters, synced to
        ``self`` around helper calls) — this is the hottest loop in the
        engine; semantics match lexer.py:207-243 + guess_token
        (lexer.py:178-197) + the BaseLexer.next empty-UNDEFINED stream end
        (_tokenize.py:125-135) exactly."""
        if self._pending is not None:
            ev = self._pending
            self._pending = None
            self.prev = ev[0]
            return ev
        data, n = self.data, self.n
        i, line, col = self.i, self.line, self.col
        prev = self.prev
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
            # whitespace inside a tag body is skipped based on the previous
            # *emitted* event — source of the attr-name merge quirk
            if c in _WS and prev < E_GT:
                continue
            if not kind:
                # first-byte classification (guess_token)
                if c == _LT:
                    kind = E_OPEN
                    continue
                if c == _SLASH and prev != E_GT:
                    self.i, self.line, self.col = i, line, col
                    found = self._gt_follows()
                    i, line, col = self.i, self.line, self.col
                    if found:
                        kind = E_SELF
                        break
                    # fall through to the context fallback below
                elif c == _GT_:
                    kind = E_GT
                    break
                elif c == _EQ and prev == E_ANAME:
                    self.i, self.line, self.col = i, line, col
                    self._skip_ws()
                    i, line, col = self.i, self.line, self.col
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
        self.i, self.line, self.col = i, line, col
        # completion phase per kind (lexer.py:244-277)
        if kind == E_OPEN:
            gt_at = None
            self._read_tag_name(val)
            if not val.strip(b'=<>/') or val[:1] == b' ':
                kind = E_TEXT
                val.insert(0, _LT)
                val.append(_SP)
                self._text_payload(val)
            else:
                self.rawtag = bytes(val)
        elif kind == E_ANAME:
            gt_at = self.i - 1 if val and val[-1] == _GT_ else None
            self._read_word(val)
            if val and val[-1] == _GT_:
                del val[-1]
                # re-emit the captured > as its own TAG_END event; counters
                # mimic the reference's unread-then-reread accounting
                self._pending = (E_GT, b'', self.line, self.col - 1,
                                 gt_at if gt_at is not None else self.i,
                                 self.i)
        elif kind == E_AVAL:
            if last is not None and last in _QUOTES:
                self._read_quoted(last, val)
            else:
                self._read_word(val)
        elif kind == E_TEXT:
            self._text_payload(val)
        elif kind == E_REM:
            self._read_comment(val)
        elif kind == E_DECL:
            self._read_declaration(val)
        elif kind == E_PI:
            self._read_instruction(val)
        elif kind in (E_GT, E_SELF, E_NONE):
            pass
        if kind == E_NONE and not val:
            return None
        self.prev = kind
        return (kind, val, line0, col0, start, self.i)
