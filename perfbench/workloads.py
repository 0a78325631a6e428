"""Seeded input generators for the four benchmark workloads.

These are owned by the benchmark on purpose: the program's own generators
(``pipeline/transcripts.py``, ``scripts/curate_soak.py``) may change in a
later commit, and a workload must not change with them. Bump
``GEN_VERSION`` whenever any generator's output changes; staged inputs are
cached under that version.

Extraction workloads return a ``pyarrow.Table`` in the transcripts schema
``(conv_id, turn_idx, role, text, tool, ts)``. ``curate_corpus`` returns
the documents table ``(doc_id, source, text)``, the eval table used for
decontamination, and the planted facts the job's output is checked
against.
"""
from __future__ import annotations

import datetime as dt
import random
from typing import Dict, List, Tuple

GEN_VERSION = 3

EXTRACT_WORKLOADS = ('chat_mixed', 'web_pages', 'plain_skewed')
WORKLOADS = EXTRACT_WORKLOADS + ('curate_corpus',)

#: input sizes; chosen so one job call plus a fresh session fits the
#: benchmark's per-run time budget on a 4-core host
SIZES = {'chat_mixed': 40_000, 'web_pages': 720, 'plain_skewed': 80_000,
         'curate_corpus': 12_000}

_EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
_ROLES = ('user', 'assistant', 'tool')
#: the curate job's language-gate stopwords and trigrams; vocabulary words
#: avoid all of them so only planted stopwords decide the language gate
_STOPWORDS = ('the', 'and', 'of', 'to', 'in')
_TRIGRAMS = ('the', 'ing', 'ent', 'ion', 'and')


def _vocabulary(n: int = 6000) -> List[str]:
    """fixed (seed-independent) pronounceable words, 3-8 letters, none
    containing a language-gate trigram or equal to a stopword"""
    rng = random.Random(0)
    cons, vows = 'bcdfgklmnprstvz', 'aeiou'
    words, seen = [], set()
    while len(words) < n:
        w = ''.join(rng.choice(cons) + rng.choice(vows)
                    for _ in range(rng.randint(2, 4)))[:rng.randint(3, 8)]
        if w in seen or w in _STOPWORDS or any(t in w for t in _TRIGRAMS):
            continue
        seen.add(w)
        words.append(w)
    return words


VOCAB = _vocabulary()


def _words(rng: random.Random, n: int) -> str:
    return ' '.join(rng.choice(VOCAB) for _ in range(n))


# ------------------------------------------------------------- chat_mixed
#
# A frozen copy of ``pipeline/transcripts.py`` as of this benchmark's first
# version: the word list, ``gen_payload``'s class table and shares, and
# ``_conv_lengths``. The one departure is in ``transcripts`` below: drawn
# conversation lengths are rescaled to a fixed total, so every seed has the
# same turn and conversation counts.

_TOOLS = ('browser', 'search', 'code')
_WORDS = ('alpha', 'beta', 'gamma', 'delta', 'lorem', 'ipsum', 'data',
          'spark', 'query', 'result', 'token', 'stream', 'render', 'table',
          'join', 'filter', 'cache', 'shuffle', 'café', 'q&a')


def _sentence(rng: random.Random, n: int) -> str:
    return ' '.join(rng.choice(_WORDS) for _ in range(n))


def _chat_payload(rng: random.Random) -> str:
    """one turn payload drawn from the corpus classes (~290 chars)"""
    roll = rng.random()
    if roll < 0.15:  # plain text, no markup (fast path)
        return _sentence(rng, rng.randint(3, 40))
    if roll < 0.25:  # text with stray angle brackets
        return f'{_sentence(rng, 5)} a < b and x > y {_sentence(rng, 5)}'
    if roll < 0.65:  # clean-ish html page fragment
        paras = ''.join(
            f'<p class="c{rng.randint(0, 3)}">{_sentence(rng, rng.randint(4, 25))}'
            f'{"<em>" + _sentence(rng, 2) + "</em>" if rng.random() < 0.3 else ""}'
            f'</p>' for _ in range(rng.randint(1, 6)))
        nav = ('<nav><a href="/">home</a><a href="/x">x</a></nav>'
               if rng.random() < 0.4 else '')
        script = ('<script>var a = 1 < 2;</script>'
                  if rng.random() < 0.3 else '')
        comment = '<!-- boilerplate -->' if rng.random() < 0.2 else ''
        return (f'<html><head><title>t</title>{script}</head>'
                f'<body>{nav}{comment}<article>{paras}</article>'
                f'{"<footer>fine print</footer>" if rng.random() < 0.3 else ""}'
                f'</body></html>')
    if roll < 0.8:  # broken html repaired by fix_broken
        bits = [f'<div class="m"><p>{_sentence(rng, rng.randint(4, 18))}'
                for _ in range(rng.randint(1, 4))]
        return ''.join(bits) + ('</div>' if rng.random() < 0.5 else '')
    if roll < 0.88:  # entities + voids
        return (f'<div>{_sentence(rng, 6)} &amp; {_sentence(rng, 3)}'
                f' &#233; &lt;tag&gt;<br><img src="i.png">'
                f'<p>{_sentence(rng, 12)}</p></div>')
    if roll < 0.92:  # multi-root fragment
        return (f'<p>{_sentence(rng, 8)}</p><p>{_sentence(rng, 9)}</p>')
    if roll < 0.96:  # tool-ish payload: fenced code / json-ish block
        if rng.random() < 0.5:
            return (f'<pre><code>def f(x):\n    return x &lt; '
                    f'{rng.randint(1, 99)}\n</code></pre>'
                    f'<p>{_sentence(rng, 12)}</p>')
        return ('{"result": "' + _sentence(rng, 4) + '", "items": ['
                + ', '.join(str(rng.randint(0, 99)) for _ in range(4)) + ']}')
    # xml-ish with declaration and attributes
    return (f'<?xml version="1.0" encoding="utf-8"?>'
            f'<doc id="{rng.randint(1, 999)}" flag>'
            f'<item k="v{rng.randint(0, 9)}">{_sentence(rng, 10)}</item></doc>')


def _conv_lengths(rng: random.Random, n_convs: int,
                  skew_alpha: float = 1.6, cap: int = 4000) -> List[int]:
    """Zipf-like lengths: most conversations 2-20 turns, a few huge"""
    out = []
    for _ in range(n_convs):
        # inverse-power sample; deterministic via rng
        u = rng.random()
        length = int(2 + (1.0 / max(u, 1e-9)) ** (1.0 / skew_alpha))
        out.append(min(length + rng.randint(0, 18), cap))
    return out


# -------------------------------------------------------------- web_pages

def _web_page(rng: random.Random) -> str:
    """a whole browser-tool page: head with scripts and styles, a
    link-dense header and footer, and a deeply nested article"""
    links = ''.join(f'<li><a href="/{_words(rng, 1)}/{i}">{_words(rng, 2)}'
                    f'</a></li>' for i in range(rng.randint(20, 60)))
    scripts = ''.join(
        f'<script>var d{i} = [{", ".join(str(rng.randint(0, 99)) for _ in range(20))}];'
        f' if (d{i}.length < 3 && x > 1) {{ run("</div>"); }}</script>'
        for i in range(rng.randint(2, 6)))
    style = ('<style>.nav > li { margin: 0 } .main p { color: #333 }'
             ' a:hover { text-decoration: underline }</style>')
    depth = rng.randint(8, 40)
    paras = []
    for _ in range(rng.randint(30, 90)):
        kind = rng.random()
        if kind < 0.6:
            paras.append(f'<p>{_words(rng, rng.randint(20, 70))} '
                         f'<a href="/r">{_words(rng, 2)}</a> '
                         f'{_words(rng, rng.randint(5, 20))} &amp; more</p>')
        elif kind < 0.75:
            items = ''.join(f'<li>{_words(rng, rng.randint(3, 12))}</li>'
                            for _ in range(rng.randint(3, 8)))
            paras.append(f'<ul>{items}</ul>')
        elif kind < 0.88:
            cells = ''.join(
                '<tr>' + ''.join(f'<td>{_words(rng, 2)}</td>'
                                 for _ in range(4)) + '</tr>'
                for _ in range(rng.randint(2, 6)))
            paras.append(f'<table>{cells}</table>')
        else:
            paras.append(f'<!-- {_words(rng, 4)} --><h2>{_words(rng, 4)}</h2>')
    opening = ''.join(f'<div class="wrap d{i}">' for i in range(depth))
    closing = '</div>' * depth
    return (f'<!DOCTYPE html><html><head><meta charset="utf-8">'
            f'<title>{_words(rng, 5)}</title>{style}{scripts}</head><body>'
            f'<header><nav class="menu"><ul>{links}</ul></nav></header>'
            f'{opening}<main><article><h1>{_words(rng, 6)}</h1>'
            f'{"".join(paras)}</article></main>{closing}'
            f'<aside class="sidebar"><ul>{links}</ul></aside>'
            f'<footer class="footer"><ul>{links}</ul> &copy; 2026</footer>'
            f'</body></html>')


# ---------------------------------------------------------- plain_skewed

def _short_turn(rng: random.Random) -> str:
    if rng.random() < 0.9:
        return _words(rng, rng.randint(3, 16))
    return f'<b>{_words(rng, 2)}</b> {_words(rng, rng.randint(2, 10))}'


# ------------------------------------------------------------- transcripts

def _rows_to_table(rows: List[Tuple]):
    import pyarrow as pa
    cols = list(zip(*rows))
    return pa.table({
        'conv_id': pa.array(cols[0], pa.string()),
        'turn_idx': pa.array(cols[1], pa.int32()),
        'role': pa.array(cols[2], pa.string()),
        'text': pa.array(cols[3], pa.string()),
        'tool': pa.array(cols[4], pa.string()),
        'ts': pa.array(cols[5], pa.timestamp('us', tz='UTC')),
    })


def _conversation(rows: List[Tuple], rng: random.Random, conv: int,
                  n_turns: int, payload, tools=('browser',)) -> None:
    conv_id = f'conv-{conv:08d}'
    offset = rng.randint(0, 10_000_000)
    for turn in range(n_turns):
        role = _ROLES[turn % 3]
        rows.append((conv_id, turn, role, payload(rng, role),
                     rng.choice(tools) if role == 'tool' else '',
                     _EPOCH + dt.timedelta(seconds=offset + 7 * turn)))


def _fixed_total(rng: random.Random, lengths: List[int],
                 total: int) -> List[int]:
    """rescale drawn conversation lengths to sum to exactly ``total``,
    keeping their shape, so every seed has the same turn and
    conversation counts"""
    scale = total / sum(lengths)
    out = [max(1, round(n * scale)) for n in lengths]
    missing = total - sum(out)
    while missing:
        i = rng.randrange(len(out))
        if missing > 0:
            out[i] += 1
            missing -= 1
        elif out[i] > 1:
            out[i] -= 1
            missing += 1
    return out


def transcripts(workload: str, seed: int, n: int = 0):
    """the transcripts table of one extraction workload"""
    n = n or SIZES[workload]
    rng = random.Random(f'{workload}:{seed}')
    rows: List[Tuple] = []
    if workload == 'chat_mixed':
        lengths = _fixed_total(rng, _conv_lengths(rng, n // 13), n)
        for conv, length in enumerate(lengths):
            _conversation(rows, rng, conv, length,
                          lambda r, role: _chat_payload(r), _TOOLS)
    elif workload == 'web_pages':
        def page_turn(r, role):
            if role == 'user':
                return _words(r, r.randint(5, 15))
            return _web_page(r)
        lengths = _fixed_total(
            rng, [rng.randint(2, 8) for _ in range(n // 5)], n)
        for conv, length in enumerate(lengths):
            _conversation(rows, rng, conv, length, page_turn)
    elif workload == 'plain_skewed':
        hot = n // 4
        lengths = [hot] + _fixed_total(
            rng, [rng.randint(2, 12) for _ in range((n - hot) // 7)],
            n - hot)
        for conv, length in enumerate(lengths):
            _conversation(rows, rng, conv, length,
                          lambda r, role: _short_turn(r))
        # the hot conversation must not sit in one input file region
        rng.shuffle(rows)
    else:
        raise ValueError(f'not an extraction workload: {workload}')
    return _rows_to_table(rows)


# ----------------------------------------------------------- curate_corpus

#: planted-class shares of the documents corpus
_TINY_SHARE = 0.02        # 3 tokens: fails quality (and repetition)
_LONGTOK_SHARE = 0.02     # tokens far longer than words: fails quality only
_NOLANG_SHARE = 0.03      # no stopwords: fails the language gate only
_REPEAT_SHARE = 0.03      # one bigram repeated: fails repetition only
_NEARDUP_SHARE = 0.05     # copy of an earlier clean doc, near-identical
_HOT_SHARE = 0.04         # one cluster of identical docs
_CONTAM_SHARE = 0.01      # contains an 8-token run of an eval doc
_N_SOURCES = 12
_N_EVAL = 60


def _clean_tokens(rng: random.Random) -> List[str]:
    """distinct vocabulary words with a stopword at every 4th position, so
    every bigram is distinct and the language gate passes"""
    n = rng.randint(16, 60)
    words = rng.sample(VOCAB, n)
    for i in range(3, n, 4):
        words[i] = _STOPWORDS[(i // 4) % 2]  # 'the' / 'and'
    words[0] = 'the'
    return words


def curate_corpus(seed: int, n: int = 0):
    """(documents, eval docs, planted facts) of the curate workload.

    Every clean document passes all three gates and shares no 8-token run
    with the eval set; each planted class fails exactly the gates named in
    its comment. Near-duplicates either repeat a clean document with
    different whitespace (identical token set) or append one token to a
    long one (jaccard >= 0.98), so MinHash-LSH finds them with certainty
    for all practical purposes.
    """
    import pyarrow as pa
    n = n or SIZES['curate_corpus']
    rng = random.Random(f'curate_corpus:{seed}')
    eval_docs = [' '.join(rng.sample(VOCAB, 40)) for _ in range(_N_EVAL)]
    hot_text = ' '.join(_clean_tokens(rng))
    shares = [('tiny', _TINY_SHARE), ('longtok', _LONGTOK_SHARE),
              ('nolang', _NOLANG_SHARE), ('repeat', _REPEAT_SHARE),
              ('neardup', _NEARDUP_SHARE), ('hot', _HOT_SHARE),
              ('contam', _CONTAM_SHARE)]
    kinds = []
    for kind, share in shares:
        kinds += [kind] * int(n * share)
    kinds += ['clean'] * (n - len(kinds))
    rng.shuffle(kinds)
    # near-dups copy an earlier clean doc: make the first doc clean
    first_clean = kinds.index('clean')
    kinds[0], kinds[first_clean] = kinds[first_clean], kinds[0]

    texts: List[str] = []
    clean_ids: List[int] = []
    dup_of: Dict[int, int] = {}
    for doc_id, kind in enumerate(kinds):
        if kind == 'clean':
            text = ' '.join(_clean_tokens(rng))
            clean_ids.append(doc_id)
        elif kind == 'tiny':
            text = f'the {rng.choice(VOCAB)} and'
        elif kind == 'longtok':
            toks = _clean_tokens(rng)
            text = ' '.join(t if t in _STOPWORDS else t * 8 for t in toks)
        elif kind == 'nolang':
            text = ' '.join(rng.sample(VOCAB, rng.randint(16, 40)))
        elif kind == 'repeat':
            a, b = rng.sample(VOCAB, 2)
            toks = _clean_tokens(rng)[:12] + [a, b] * 6
            text = ' '.join(toks)
        elif kind == 'neardup':
            src = rng.choice(clean_ids)
            toks = texts[src].split(' ')
            if len(toks) >= 50:
                text = ' '.join(toks + [rng.choice(VOCAB) + 'x'])
            else:
                text = '  '.join(toks)
            dup_of[doc_id] = src
        elif kind == 'hot':
            text = hot_text
        else:  # contam: a clean doc carrying 8 consecutive eval tokens
            toks = _clean_tokens(rng)
            ev = rng.choice(eval_docs).split(' ')
            at = rng.randint(0, len(ev) - 8)
            text = ' '.join(toks[:6] + ev[at:at + 8] + toks[6:])
        texts.append(text)

    docs = pa.table({
        'doc_id': pa.array(range(n), pa.int64()),
        'source': pa.array([f's{i % _N_SOURCES}' for i in range(n)],
                           pa.string()),
        'text': pa.array(texts, pa.string()),
    })
    evals = pa.table({'doc_id': pa.array(range(_N_EVAL), pa.int64()),
                      'source': pa.array(['eval'] * _N_EVAL, pa.string()),
                      'text': pa.array(eval_docs, pa.string())})
    return docs, evals, {'kinds': kinds, 'dup_of': dup_of}
