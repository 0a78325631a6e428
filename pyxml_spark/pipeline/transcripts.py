"""Deterministic synthetic transcripts generator (FIXTURES.md §1/§3).

Schema from BASELINE.json input_hint: (conv_id string, turn_idx int32,
role string, text string, tool string, ts timestamp). Payloads mix the
reference-test corpus classes; conversation lengths are Zipf-like so the
long-conversation skew the salting defends against is actually present.
Seeded end-to-end — identical input across parallelism levels and resume
runs.
"""
from __future__ import annotations

import datetime as dt
import random
from typing import TYPE_CHECKING, Iterator, List, Tuple

if TYPE_CHECKING:
    import pandas as pd

__all__ = ['gen_payload', 'gen_transcripts_pdf', 'transcripts_df',
           'write_transcripts']

_ROLES = ('user', 'assistant', 'tool')
_TOOLS = ('browser', 'search', 'code')
_WORDS = ('alpha', 'beta', 'gamma', 'delta', 'lorem', 'ipsum', 'data',
          'spark', 'query', 'result', 'token', 'stream', 'render', 'table',
          'join', 'filter', 'cache', 'shuffle', 'café', 'q&a')
_EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


def _sentence(rng: random.Random, n: int) -> str:
    return ' '.join(rng.choice(_WORDS) for _ in range(n))


def gen_payload(rng: random.Random) -> str:
    """one turn payload drawn from the corpus classes"""
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


def gen_transcripts_pdf(n_rows: int, seed: int = 42) -> 'pd.DataFrame':
    """deterministic pandas transcripts table with ~n_rows rows (pandas is
    imported here, not with the module: the package ``__init__`` re-exports
    this generator, and the kernel workers that import the package must not
    load pandas)"""
    import pandas as pd

    rng = random.Random(seed)
    rows: List[Tuple] = []
    conv = 0
    while len(rows) < n_rows:
        length = _conv_lengths(rng, 1)[0]
        conv_id = f'conv-{conv:08d}'
        offset = rng.randint(0, 10_000_000)
        for turn in range(min(length, n_rows - len(rows))):
            role = _ROLES[turn % 3]
            rows.append((
                conv_id, turn, role, gen_payload(rng),
                rng.choice(_TOOLS) if role == 'tool' else '',
                _EPOCH + dt.timedelta(seconds=offset + turn * 7),
            ))
        conv += 1
    return pd.DataFrame(rows, columns=['conv_id', 'turn_idx', 'role', 'text',
                                       'tool', 'ts'])


def transcripts_df(spark, n_rows: int, seed: int = 42,
                   partitions: int = 0):
    """synthesize directly into a Spark DataFrame"""
    from .schema import TRANSCRIPTS_SCHEMA
    pdf = gen_transcripts_pdf(n_rows, seed)
    df = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    if partitions:
        df = df.repartition(partitions)
    return df


def write_transcripts(spark, path: str, n_rows: int, seed: int = 42,
                      partitions: int = 32):
    transcripts_df(spark, n_rows, seed, partitions).write.mode(
        'overwrite').parquet(path)
    return path
