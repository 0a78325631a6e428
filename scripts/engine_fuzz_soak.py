"""High-volume differential fuzz soak vs the reference engine.

The hypothesis suites (tests/test_fuzz_parity.py) run ~1,300 examples per
commit; this soak replays the same generator alphabets through plain
``random`` at 10-50x the volume for the per-round parity evidence:

* parse parity: DOM shape (tag/text/tail/attrib pre-order) or mapped
  exception name, both xml and html mode;
* serialize parity: tostring bytes of whatever parses in both engines;
* xpath parity: findall results (tags or values) over the shared root set;
* unescape parity: the order-sensitive entity decoder.

Run: python3 scripts/engine_fuzz_soak.py [--payloads 30000]
     [--xpaths 30000] [--seed N]
"""
from __future__ import annotations

import argparse
import json
import os
import random
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

MARKUP_CHUNKS = [
    '<', '>', '/', '=', '"', "'", ' ', '\n', '\t', '!', '?', '-', '[', ']',
    '&', '#', ';', '\\', 'a', 'b', 'p', 'x', 'div', 'span', 'script',
    'style', 'br', 'img', '<p>', '</p>', '<div ', 'class', '="v"', 'text',
    '&amp;', '&lt;', '&#65;', '&#xe9;', '<!--', '-->', '<?', '?>',
    '<!DOCTYPE', 'é', '1', '<a', '</', '<<', '>>',
]

PATH_CHUNKS = [
    '/', '//', '.', '..', '*', 'p', 'a', 'span', 'div', 'article', 'em',
    '[1]', '[2]', '[@class]', '[@href]', '[last()]', '[position() > 0]',
    '[contains(@class, "message")]', '[not(false)]', '[name()="p"]',
    'text()', '@class', 'position()', 'name()', 'count(p)',
    'upper-case(text())', 'substring(text(), 0, 3)',
    '[starts-with(@class, "m")]', '[1 < 2]', '[@class="p1"]',
    'contains(text(), "a")', '[count(p) = 0]', ' ', '[', ']', '(', ')',
    '"x"', '=',
]

XPATH_DOC = b'''<article><p class="p1">one <em>two</em> tail</p>
<p class="message m2">three</p><div><p class="p1">four</p>
<a href="/x">link</a></div><span>five</span></article>'''


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument('--payloads', type=int, default=30_000)
    ap.add_argument('--xpaths', type=int, default=30_000)
    ap.add_argument('--seed', type=int, default=20260817)
    args = ap.parse_args(argv)

    sys.path.insert(0, os.path.join(REPO, 'tests'))
    from conftest import has_reference, norm_error, run_to_shape
    if not has_reference():
        print(json.dumps({'error': 'reference unavailable'}))
        return 1

    import pyxml
    import pyxml.html
    from bench import stamped
    from perfbench.run import cpu_probe, nproc
    from pyxml_spark.engine import html as my_html
    from pyxml_spark.engine.entities import unescape as my_unescape
    from pyxml_spark.engine.parse import fromstring as my_fromstring
    from pyxml_spark.engine.render import tostring as my_tostring
    from pyxml_spark.engine.xq import findall as my_findall
    from pyxml.escape import unescape as ref_unescape
    from pyxml.etree import tostring as ref_tostring

    probe_before = cpu_probe(nproc())
    rng = random.Random(args.seed)
    mismatches = []
    stats = {'parsed_both': 0, 'err_both': 0, 'serialized': 0}

    # ---- parse + serialize parity over random markup ----
    for t in range(args.payloads):
        payload = ''.join(
            rng.choices(MARKUP_CHUNKS, k=rng.randint(0, 40))).encode()
        mode = rng.random() < 0.5
        ref_parse = pyxml.html.fromstring if mode else pyxml.fromstring
        my_parse = my_html.fromstring if mode else my_fromstring
        want = run_to_shape(ref_parse, payload)
        have = run_to_shape(my_parse, payload)
        if want != have:
            mismatches.append(('parse', mode, payload[:80]))
            continue
        if want[0] == 'err':
            stats['err_both'] += 1
            continue
        stats['parsed_both'] += 1
        try:
            rs = ref_tostring(ref_parse(payload))
        except Exception as exc:  # noqa: BLE001
            rs = ('err', norm_error(exc))
        try:
            ms = my_tostring(my_parse(payload))
        except Exception as exc:  # noqa: BLE001
            ms = ('err', norm_error(exc))
        if rs != ms:
            mismatches.append(('serialize', mode, payload[:80]))
        else:
            stats['serialized'] += 1

    # ---- xpath parity over the shared root ----
    ref_root = pyxml.html.fromstring(XPATH_DOC)
    my_root = my_html.fromstring(XPATH_DOC)

    def norm(vals):
        out = []
        for v in vals:
            out.append(v if isinstance(v, str)
                       else getattr(v, 'tag', type(v).__name__))
        return out

    def run(findall, root, path):
        try:
            return ('ok', norm(findall(root, path)))
        except Exception as exc:  # noqa: BLE001
            return ('err', norm_error(exc))

    xp_ok = 0
    for t in range(args.xpaths):
        path = ''.join(rng.choices(PATH_CHUNKS, k=rng.randint(1, 4)))
        want = run(pyxml.xpath.findall, ref_root, path)
        have = run(my_findall, my_root, path)
        if want != have:
            mismatches.append(('xpath', path))
        elif want[0] == 'ok':
            xp_ok += 1

    # ---- unescape parity ----
    un_ok = 0
    pieces = ['&', 'amp;', 'lt;', '#65;', '#x41;', '#xg1;', ';', 'a', '&&',
              '#', 'x', 'nbsp;', 'gt;', 'quot;', '&#', '&#x']
    for t in range(20_000):
        s = ''.join(rng.choices(pieces, k=rng.randint(0, 10)))
        try:
            want = ('ok', ref_unescape(s))
        except Exception as exc:  # noqa: BLE001
            want = ('err', norm_error(exc))
        try:
            have = ('ok', my_unescape(s))
        except Exception as exc:  # noqa: BLE001
            have = ('err', norm_error(exc))
        if want != have:
            mismatches.append(('unescape', s[:60]))
        else:
            un_ok += 1

    out = {
        'payloads': args.payloads,
        'xpaths': args.xpaths,
        'unescapes': 20_000,
        'seed': args.seed,
        'mismatches': len(mismatches),
        'xpath_ok_rows': xp_ok,
        'unescape_ok': un_ok,
        **stats,
    }
    print(json.dumps(stamped(out, probe_before)))
    for m in mismatches[:10]:
        print('MISMATCH', repr(m), file=sys.stderr)
    return 1 if mismatches else 0


if __name__ == '__main__':
    raise SystemExit(main())
