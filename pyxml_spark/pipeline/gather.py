"""Streaming heuristics gatherer: parse events -> fragments, no DOM.

``GatherComposer`` implements the composer event protocol (so the fused pump
or EventPump can drive it) but instead of building an Element tree it
computes exactly what ``heuristics._gather`` extracts from the finished
tree — ``(fragments, block_boiler, n_nodes)`` — while the document parses.
This skips per-node Element allocation, child-list maintenance and the
post-parse DFS walk on the extraction hot path. It serves the kernel's one
mode: HTML, ``fix_broken``, spans tracked. ``compose.TreeComposer`` keeps
every mode and the settle/repair state machine; it is the reference this
sink is compared with.

Equivalence argument (differentially tested in tests/test_gather.py against
``TreeComposer(fix_broken=True)`` + the heuristics walk, over payloads the
pump parses and over raw event sequences it never emits):

* fragment context (nearest block / link / skip / boiler) in the final tree
  equals the open-stack context at the element's start event — repairs never
  re-parent existing elements, except the multi-root ``document`` shell;
* the shell case is partition-equivalent to the base block 0: the shell
  becomes parent of every top-level element, so the set of fragments the
  tree walk assigns to the shell's block is exactly the set the stream
  assigns to block 0 (the shell's own ``text='\\n'`` normalizes away); only
  the block *label* differs, which grouping does not observe. The shell
  still counts one node;
* tail fragments take the popped element's parent context = the open-stack
  top after the pop, matching the tree walk's parent-context tail rule. A
  tail of a popped root settles only in the ``start`` that wraps that root
  in the shell, so the shell goes on the stack first and the tail takes its
  context; the walk root's own tail never settles;
* a settle never lands on a filled text/tail slot: ``start`` opens a fresh
  element, ``end`` returns with ``in_tail`` set on the element it just
  popped (whose tail is unset), an ``end`` on an empty stack returns before
  it settles, and inside ``end``'s repair loop the first settle empties the
  buffer. So the DOM path's kept-buffer concat never runs under
  fix_broken, and an empty-buffer settle only writes ``''`` over a falsy
  slot, which no reader tells apart from an unset one: a settle is one
  fragment from a non-empty buffer, and nothing else.
"""
from __future__ import annotations

from typing import List, Optional

from ..engine.compose import ComposeError
from ..engine.parse import HTML_VOID
from ..engine.pump import pump_document
from .heuristics import BLOCK_TAGS, BOILER_TAGS, SKIP_TAGS, _hint_boiler

__all__ = ['GatherComposer', 'gather_document']

# element record slots
_TAG, _BLK, _LNK, _SKP, _BOI = 0, 1, 2, 3, 4


class GatherComposer:
    """composer-protocol sink computing heuristics fragments directly"""

    def __init__(self):
        self.fragments: List[tuple] = []  # (block_id, text, spans, is_link)
        self.block_boiler: List[bool] = [False]
        self.n_nodes = 0
        self.open: List[list] = []
        self.last: Optional[list] = None
        self.frags: List[str] = []
        self.spans: List[tuple] = []
        self.in_tail = False
        self.root_seen = False
        self.wrapped = False

    def _settle(self):
        """emit the non-empty buffer as one fragment in the context of
        ``last`` (text) or of the open-stack top (tail), unless it falls in
        a skip subtree or before the first element"""
        frags = self.frags
        text = frags[0] if len(frags) == 1 else ''.join(frags)
        spans = self.spans
        self.frags = []
        self.spans = []
        last = self.last
        if last is None or not text:
            return
        ctx = self.open[-1] if self.in_tail else last
        if not ctx[_SKP]:
            self.fragments.append((ctx[_BLK], text, spans, ctx[_LNK]))

    # ----------------------------------------------------------- event API

    def start(self, tag, attrs, _skip=SKIP_TAGS, _boiler=BOILER_TAGS,
              _block=BLOCK_TAGS, _hint=_hint_boiler, _str=str):
        open_ = self.open
        if not open_ and self.root_seen:
            # synthetic 'document' shell, kept ON the stack so stray end
            # tags can pop it and a later root re-wraps — mirroring the DOM
            # path's repeated _adopt wrapping. The first shell reuses block
            # 0 (label-equivalent partition, module docstring); re-wraps
            # open a fresh block exactly like the tree walk numbering does.
            if self.wrapped:
                sblk = len(self.block_boiler)
                self.block_boiler.append(False)
            else:
                sblk = 0
                self.wrapped = True
            self.n_nodes += 1
            open_.append(['document', sblk, False, False, False])
        if self.frags:
            self._settle()
        self.root_seen = True
        if open_:
            parent = open_[-1]
            blk, lnk, skp, boi = (parent[_BLK], parent[_LNK], parent[_SKP],
                                  parent[_BOI])
        else:
            blk, lnk, skp, boi = 0, False, False, False
        self.n_nodes += 1
        if type(tag) is _str:
            low = tag.lower()
            if low in _skip:
                skp = True
            if not boi and (low in _boiler or (attrs and _hint(attrs))):
                boi = True
            if low == 'a':
                lnk = True
            if low in _block:
                bb = self.block_boiler
                blk = len(bb)
                bb.append(boi)
            elif boi:
                self.block_boiler[blk] = True
        rec = [tag, blk, lnk, skp, boi]
        open_.append(rec)
        self.last = rec
        self.in_tail = False

    def end(self, tag):
        open_ = self.open
        while open_:
            if self.frags:
                self._settle()
            last = self.last = open_.pop()
            # a stray end that matches nothing deeper still consumes the
            # current element
            if last[_TAG] == tag or tag not in [r[_TAG] for r in open_]:
                self.in_tail = True
                return

    def startend(self, tag, attrs):
        self.start(tag, attrs)
        self.end(tag)

    def data(self, text, span=None):
        self.frags.append(text)
        if span is not None:
            self.spans.append(span)

    def comment(self, text):  # insert flags are always off on this path
        pass

    def declaration(self, declaration):
        pass

    def pi(self, target, pi):
        pass

    def close(self):
        while self.open:
            self.end(self.open[-1][_TAG])
        if not self.root_seen:
            raise ComposeError('Missing Toplevel Element')
        return self


def gather_document(data: bytes):
    """parse one payload (HTML, fix_broken, spans tracked) straight to
    (fragments, block_boiler, n_nodes); fragments carry (block_id, text,
    spans, is_link) like heuristics._gather"""
    sink = GatherComposer()
    pump_document(data, sink, fix_broken=True, empty=HTML_VOID,
                  track_spans=True)
    return sink.fragments, sink.block_boiler, sink.n_nodes
