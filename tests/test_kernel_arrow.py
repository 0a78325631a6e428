"""The extraction kernel's Arrow output, without a Spark session: the
buffer-built batch equals a ``pa.array``-built reference, and a worker that
imports and runs the kernel never loads pandas."""
import os
import subprocess
import sys

import pyarrow as pa
import pytest

from pyxml_spark.pipeline.extract import _extract_row, extract_arrow_batches
from pyxml_spark.pipeline.heuristics import ExtractConfig
from tests.conftest import REPO

# a payload the engine rejects, so its turn lands in parse_error
BROKEN = '<?php never terminated'


def _input_batch(texts):
    n = len(texts)
    return pa.RecordBatch.from_arrays(
        [pa.array([f'c{i // 3}' for i in range(n)], pa.string()),
         pa.array([i % 3 for i in range(n)], pa.int32()),
         pa.array(texts, pa.string())],
        names=['conv_id', 'turn_idx', 'text'])


def _reference_batch(batch):
    """the kernel's output built the plain way, one ``pa.array`` per
    column"""
    texts = batch.column(2).to_pylist()
    rows = [_extract_row(t, ExtractConfig()) for t in texts]
    spans = [[{'start': s, 'end': e} for s, e in r[1]] for r in rows]
    span_type = pa.list_(pa.struct([('start', pa.int32()),
                                    ('end', pa.int32())]))
    raw = [len(t) if t is not None else 0 for t in texts]
    return pa.RecordBatch.from_arrays(
        [batch.column(0), batch.column(1),
         pa.array([r[0] for r in rows], pa.string()),
         pa.array(spans, span_type),
         pa.array([r[2] for r in rows], pa.string()),
         pa.array([r[3] for r in rows], pa.int32()),
         pa.array([r[4] for r in rows], pa.int32()),
         pa.array(raw, pa.int32())],
        names=['conv_id', 'turn_idx', 'main_text', 'spans', 'parse_error',
               'n_nodes', 'n_text_chars', 'n_raw_chars'])


def _run_kernel(texts):
    batch = _input_batch(texts)
    (out,) = extract_arrow_batches(iter([batch]))
    return batch, out


def _many_spans(k):
    return '<div>' + '<br>'.join(f'line {i} of text' for i in range(k)) \
        + '</div>'


CASES = {
    'empty': [],
    'all_null': [None, None, None],
    'no_errors': ['plain text', '<p>hello <b>world</b></p>', '',
                  '<ul><li>a<li>b</ul>'],
    'all_errors': [BROKEN, BROKEN],
    'multibyte': ['café au lait', '<p>café \U0001F600 ok</p>',
                  '\U0001F600', None],
    'zero_and_many_spans': ['', '<script>x</script>', _many_spans(200),
                            'no markup at all'],
    'mixed': ['<article><p>main body text here</p></article>', None,
              BROKEN, 'plain', '<ul><li>a<li>b</ul>'],
}


@pytest.mark.parametrize('case', sorted(CASES))
def test_buffer_built_batch_equals_reference(case):
    texts = CASES[case]
    batch, out = _run_kernel(texts)
    out.validate(full=True)
    ref = _reference_batch(batch)
    assert out.schema.equals(ref.schema), (out.schema, ref.schema)
    assert out.equals(ref), (out.to_pylist(), ref.to_pylist())


def test_case_coverage():
    """the parity cases reach what they name: an error-free batch has an
    all-null parse_error and a main_text without a validity bitmap, an
    all-error batch a parse_error without one, and the many-spans turn
    really carries many spans"""
    _, out = _run_kernel(CASES['no_errors'])
    perr = out.column(out.schema.names.index('parse_error'))
    main = out.column(out.schema.names.index('main_text'))
    assert perr.null_count == len(out) and main.buffers()[0] is None
    _, out = _run_kernel(CASES['all_errors'])
    perr = out.column(out.schema.names.index('parse_error'))
    assert perr.null_count == 0 and perr.buffers()[0] is None
    _, out = _run_kernel(CASES['zero_and_many_spans'])
    counts = [len(s) for s in out.column(
        out.schema.names.index('spans')).to_pylist()]
    assert counts[0] == 0 and max(counts) >= 100, counts


PURITY_SCRIPT = r'''
import sys
import pyarrow as pa
from pyxml_spark.pipeline.extract import extract_arrow_batches
assert 'pandas' not in sys.modules, 'pandas loaded by the kernel import'
reader = pa.ipc.open_stream(pa.py_buffer(sys.stdin.buffer.read()))
outs = list(extract_arrow_batches(iter(reader)))
assert 'pandas' not in sys.modules, 'pandas loaded by the kernel batch'
errs = outs[0].column(outs[0].schema.names.index('parse_error'))
print(len(outs), errs.to_pylist())
'''


def test_kernel_worker_never_imports_pandas():
    """the import and one batch of the kernel, in a fresh interpreter as a
    Spark Python worker runs them: pandas never enters ``sys.modules``"""
    batch = _input_batch(['<p>html <b>turn</b></p>', 'plain text', None,
                          BROKEN])
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, batch.schema) as writer:
        writer.write_batch(batch)
    env = dict(os.environ, PYTHONPATH=REPO)
    p = subprocess.run([sys.executable, '-c', PURITY_SCRIPT],
                       input=sink.getvalue().to_pybytes(),
                       capture_output=True, env=env, cwd=REPO, timeout=120)
    assert p.returncode == 0, p.stderr.decode()
    n, errs = p.stdout.decode().split(' ', 1)
    assert n == '1'
    assert errs.startswith('[None, None, ') and 'null' in errs, errs
