"""Main-content heuristics over a parsed DOM.

Deterministic boilerplate scoring in the lineage of published main-content
extraction work (Boilerpipe, Kohlschuetter et al., WSDM 2010; jusText;
Readability): block segmentation + text/link-density + tag/class signals.
There is no reference counterpart (the reference stops at DOM + XPath); the
north_star requires "DOM heuristics (text-density, link-density, tag-class
boilerplate scoring ...) that emit cleaned main-content text and char-span
offsets per turn".

Everything here is a pure function of the DOM shape (tag/attrib/text/tail/
children) so it runs identically over our Element and the reference's Element
— that property is what the per-turn equality oracle tests rely on.
"""
from __future__ import annotations

import re
from typing import List, NamedTuple, Optional, Tuple

__all__ = ['ExtractConfig', 'Extraction', 'score_fragments', 'select_main',
           'extract_main']

Span = Tuple[int, int]

#: elements that start a new content block
BLOCK_TAGS = frozenset({
    'document', 'html', 'body', 'main', 'article', 'section', 'div', 'p',
    'li', 'ul', 'ol', 'dl', 'dt', 'dd', 'h1', 'h2', 'h3', 'h4', 'h5', 'h6',
    'td', 'th', 'tr', 'table', 'pre', 'blockquote', 'figure', 'figcaption',
    'header', 'footer', 'nav', 'aside', 'form', 'fieldset',
})

#: subtrees whose text is never content
SKIP_TAGS = frozenset({
    'script', 'style', 'head', 'noscript', 'template', 'title', 'meta',
    'link', 'svg', 'iframe', 'object', 'embed', 'option', 'select', 'button',
})

#: tags that are boilerplate containers by themselves
BOILER_TAGS = frozenset({'nav', 'aside', 'footer', 'header', 'form', 'fieldset'})

#: class/id substrings that mark a subtree as boilerplate
_BOILER_HINT_RX = re.compile(
    r'(?:^|[\s_-])(?:nav|navbar|menu|footer|header|sidebar|side-bar|banner|'
    r'breadcrumbs?|share|social|advert|ads?|sponsor|promo|cookie|consent|'
    r'copyright|pagination|pager|comment-form|subscribe|newsletter|related|'
    r'widget|toolbar|masthead)(?:$|[\s_-])')

_WS_RX = re.compile(r'[ \t\r\n\f\v]+')


class ExtractConfig(NamedTuple):
    """thresholds are fixed defaults; determinism requires they only change
    via explicit config, never environment"""
    min_block_chars: int = 10
    max_link_density: float = 0.4
    join_blocks_with: str = '\n'


class _Block(NamedTuple):
    block_id: int
    text: str
    n_chars: int
    link_chars: int
    boiler: bool
    spans: List[Span]


class Extraction(NamedTuple):
    main_text: str
    spans: List[Span]
    n_nodes: int
    n_text_chars: int


def _norm(text: str) -> str:
    return _WS_RX.sub(' ', text).strip()


def _hint_boiler(attrib) -> bool:
    hint = attrib.get('class', '') + ' ' + attrib.get('id', '')
    return bool(_BOILER_HINT_RX.search(hint.lower()))


def _gather(root) -> Tuple[list, List[bool], int]:
    """document-order fragment collection (text before children, each child's
    tail after that child's subtree), tracking nearest block / link / skip /
    boiler state without recursion.  Fragments are plain tuples
    ``(block_id, text, spans, is_link)`` — this walk runs once per document
    in the batch UDF hot path, so everything is inlined into one loop."""
    fragments: list = []
    block_boiler: List[bool] = [False]
    n_nodes = 0

    # work items: (elem, block_id, in_link, in_skip, boiler, is_tail);
    # a tail belongs to the parent's context, not the child's
    work = [(root, 0, False, False, False, False)]
    pop = work.pop
    push = work.append
    frag = fragments.append
    while work:
        elem, block_id, in_link, in_skip, boiler, is_tail = pop()
        if is_tail:
            t = elem.tail
            if t and not in_skip:
                frag((block_id, t,
                      getattr(elem, 'tail_spans', None) or [], in_link))
            continue
        n_nodes += 1
        tag = elem.tag
        if isinstance(tag, str):
            low = tag.lower()
            if low in SKIP_TAGS:
                in_skip = True
            if not boiler and (low in BOILER_TAGS
                               or (elem.attrib and _hint_boiler(elem.attrib))):
                boiler = True
            if low == 'a':
                in_link = True
            if low in BLOCK_TAGS:
                block_id = len(block_boiler)
                block_boiler.append(boiler)
            elif boiler:
                block_boiler[block_id] = True
            t = elem.text
            if t and not in_skip:
                frag((block_id, t,
                      getattr(elem, 'text_spans', None) or [], in_link))
        # comment/declaration/PI (non-str tag): no text contribution
        children = elem.children
        if children:
            # push children + their tails in reverse so they pop in order
            for child in reversed(children):
                push((child, block_id, in_link, in_skip, False, True))
                push((child, block_id, in_link, in_skip, boiler, False))
    return fragments, block_boiler, n_nodes


def score_fragments(fragments, block_boiler):
    """fragments (from _gather or the streaming GatherComposer) -> scored
    blocks in document order"""
    order: List[int] = []
    agg = {}
    sub = _WS_RX.sub
    for block_id, text, fspans, is_link in fragments:
        norm = sub(' ', text).strip()
        if not norm:
            continue
        entry = agg.get(block_id)
        if entry is None:
            order.append(block_id)
            entry = agg[block_id] = [[], 0, []]
        entry[0].append(norm)
        if is_link:
            entry[1] += len(norm)
        entry[2].extend(fspans)
    n_blocks = len(block_boiler)
    blocks = []
    for bid in order:
        texts, link_chars, bspans = agg[bid]
        text = ' '.join(texts)
        blocks.append(_Block(bid, text, len(text), link_chars,
                             block_boiler[bid] if bid < n_blocks else False,
                             bspans))
    return blocks


def extract_main(root, config: ExtractConfig = ExtractConfig(),
                 count_nodes: bool = True) -> Extraction:
    """main-content text + spans from a parsed DOM"""
    fragments, block_boiler, n_nodes = _gather(root)
    return select_main(score_fragments(fragments, block_boiler),
                       n_nodes if count_nodes else 0, config)


def select_main(blocks, n_nodes,
                config: ExtractConfig = ExtractConfig()) -> Extraction:
    """scored blocks -> Extraction (shared by the DOM and streaming paths)"""
    kept_texts: List[str] = []
    kept_spans: List[Span] = []
    total_chars = 0
    for blk in blocks:
        total_chars += blk.n_chars
        if blk.boiler:
            continue
        if blk.n_chars < config.min_block_chars:
            continue
        if blk.n_chars and blk.link_chars / blk.n_chars > config.max_link_density:
            continue
        kept_texts.append(blk.text)
        kept_spans.extend(blk.spans)
    return Extraction(config.join_blocks_with.join(kept_texts), kept_spans,
                      n_nodes, total_chars)
