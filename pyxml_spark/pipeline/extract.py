"""Arrow-batched main-content extraction over a transcripts DataFrame.

The Spark operator required by the north_star: "batched Arrow/pandas UDFs
that tokenize and tree-build whole columns of turn payloads per partition (no
per-row Python)". One ``mapInArrow`` stage; each Arrow batch crosses the
JVM/Python boundary once, with no pandas conversion on either side, and the
engine parses each payload in-process.

Scale design (SURVEY.md §2-F / §4):

* the exchange spreads long conversations over tasks — safe because
  extraction is per-turn independent: :func:`extract_turns` salts on
  ``conv_id``, the resume job range-partitions on its buckets (skew.py);
* the UDF is an iterator-of-batches function, so one Python worker streams
  batches without materializing a partition;
* final ordering is ``sortWithinPartitions(conv_id, turn_idx)`` — a local
  sort, no extra shuffle, giving the stable per-turn ordering the equality
  gate requires.
"""
from __future__ import annotations

from array import array
from itertools import accumulate
from typing import Optional

from pyspark.accumulators import AccumulatorParam

from .gather import gather_document
from .heuristics import ExtractConfig, score_fragments, select_main
from .schema import EXTRACTION_SCHEMA

__all__ = ['BUCKET_SUMS', 'BucketSums', 'extract_payload',
           'extract_arrow_batches', 'extract_stage', 'extract_turns']

#: the per-bucket sums the resume kernel accumulates, in vector order and
#: named by their manifest columns: rows, input chars, ``main_text`` chars
#: (as ``F.length`` counts them), parse errors, nodes and text chars
BUCKET_SUMS = ('rows_out', 'bytes_in', 'bytes_out', 'parse_errors', 'nodes',
               'text_chars')


def _extract_row(payload: Optional[str], config: ExtractConfig) -> tuple:
    """one turn -> (main_text, spans, parse_error, n_nodes, n_text_chars);
    never raises — errors land in the parse_error slot (kernel hot path).

    Uses the streaming gatherer (no DOM build, pipeline/gather.py) — output
    is differentially pinned to the DOM path in tests/test_gather.py."""
    if payload is None:
        return ('', [], 'null', 0, 0)
    if '<' not in payload and '>' not in payload:
        n = len(payload)
        return (payload, [(0, n)] if n else [], None, 0, n)
    try:
        frags, block_boiler, n_nodes = gather_document(
            payload.encode(), mode='html', fix_broken=True, track_spans=True)
    except Exception as exc:  # noqa: BLE001 - per-turn containment
        return ('', [], f'{type(exc).__name__}: {exc}', 0, 0)
    got = select_main(score_fragments(frags, block_boiler), n_nodes, config)
    return (got.main_text, got.spans, None, got.n_nodes, got.n_text_chars)


def extract_payload(payload: Optional[str],
                    config: ExtractConfig = ExtractConfig()) -> dict:
    """extract one turn; never raises — errors land in ``parse_error``.

    Deterministic contract (mirrored by the DuckDB oracles in
    __spark_entry__.py):

    * None -> empty output with ``parse_error='null'``;
    * no ``<`` and no ``>`` in the payload -> identity fast path
      (``main_text`` = payload, one full-range span);
    * otherwise parse (HTML mode, fix_broken) + heuristics; any engine
      exception is captured per turn as ``type: message``.
    """
    main_text, spans, parse_error, n_nodes, n_text_chars = _extract_row(
        payload, config)
    return dict(main_text=main_text, spans=list(spans),
                parse_error=parse_error, n_nodes=n_nodes,
                n_text_chars=n_text_chars)


def _int32_array(values):
    """non-null int32 Arrow array over one ``array('i')`` copy of
    ``values``"""
    import pyarrow as pa
    buf = array('i', values)
    return pa.Array.from_buffers(pa.int32(), len(buf),
                                 [None, pa.py_buffer(buf)])


def _string_array(values):
    """utf8 Arrow array from the encoded values and their int32 offsets;
    a validity bitmap is built only when a ``None`` is present"""
    import pyarrow as pa
    n = len(values)
    data = [b'' if v is None else v.encode() for v in values]
    offsets = array('i', accumulate(map(len, data), initial=0))
    validity, null_count = None, 0
    if None in values:
        import numpy as np
        valid = np.fromiter((v is not None for v in values), bool, n)
        validity = pa.py_buffer(np.packbits(valid, bitorder='little'))
        null_count = n - int(valid.sum())
    return pa.Array.from_buffers(
        pa.string(), n,
        [validity, pa.py_buffer(offsets), pa.py_buffer(b''.join(data))],
        null_count)


class BucketSums(AccumulatorParam):
    """accumulator of ``{bucket: [BUCKET_SUMS...]}``: dicts merge by
    bucket, vectors add element-wise"""

    def zero(self, value):
        return {}

    def addInPlace(self, acc, other):
        for bucket, vec in other.items():
            have = acc.get(bucket)
            if have is None:
                acc[bucket] = list(vec)
            else:
                for k, v in enumerate(vec):
                    have[k] += v
        return acc


def _bucket_sums(buckets, main_text, perr, nodes, chars, raw) -> dict:
    """one batch's ``{bucket: [BUCKET_SUMS...]}``"""
    got: dict = {}
    for b, mt, pe, nn, nc, r in zip(buckets, main_text, perr, nodes, chars,
                                    raw):
        vec = got.get(b)
        if vec is None:
            vec = got[b] = [0, 0, 0, 0, 0, 0]
        vec[0] += 1
        vec[1] += r
        vec[2] += len(mt)
        vec[3] += pe is not None
        vec[4] += nn
        vec[5] += nc
    return got


def extract_arrow_batches(batches, config: ExtractConfig = ExtractConfig(),
                          sums=None):
    """mapInArrow kernel: pyarrow RecordBatch in/out, no pandas layer.

    Input strings come out once via ``to_pylist``; every output array is
    built from buffers (:func:`_int32_array`, :func:`_string_array`), so no
    Arrow->pandas->Arrow copy is paid per batch and the worker never loads
    pandas: pyarrow 16 imports it the first time ``pa.array`` converts a
    python list, about 35 MB per worker.

    With ``sums`` (a :class:`BucketSums` accumulator) the input carries a
    fourth column, ``bucket``, and each batch adds its per-bucket sums
    before it is yielded. Spark applies a result task's accumulator
    updates once per partition, so the stage running this kernel must be
    the write's result stage (no Exchange after it).
    """
    import pyarrow as pa

    for batch in batches:
        cols = batch.schema.names
        conv = batch.column(cols.index('conv_id'))
        turn = batch.column(cols.index('turn_idx'))
        texts = batch.column(cols.index('text')).to_pylist()
        n = len(texts)
        main_text = [None] * n
        perr = [None] * n
        nodes = [0] * n
        chars = [0] * n
        raw = [0] * n
        # spans go out as a ListArray built from flat offset/start/end
        # columns — no per-span python dicts in the hot loop
        starts: list = []
        ends: list = []
        offsets = [0] * (n + 1)
        run = _extract_row
        for i, t in enumerate(texts):
            mt, spans, pe, nn, nc = run(t, config)
            main_text[i] = mt
            perr[i] = pe
            nodes[i] = nn
            chars[i] = nc
            raw[i] = len(t) if t is not None else 0
            for s, e in spans:
                starts.append(s)
                ends.append(e)
            offsets[i + 1] = len(starts)
        if sums is not None:
            sums.add(_bucket_sums(
                batch.column(cols.index('bucket')).to_pylist(),
                main_text, perr, nodes, chars, raw))
        span_struct = pa.StructArray.from_arrays(
            [_int32_array(starts), _int32_array(ends)],
            names=['start', 'end'])
        span_arr = pa.ListArray.from_arrays(_int32_array(offsets),
                                            span_struct)
        yield pa.RecordBatch.from_arrays(
            [conv, turn,
             _string_array(main_text),
             span_arr,
             _string_array(perr),
             _int32_array(nodes),
             _int32_array(chars),
             _int32_array(raw)],
            names=['conv_id', 'turn_idx', 'main_text', 'spans',
                   'parse_error', 'n_nodes', 'n_text_chars',
                   'n_raw_chars'])


def extract_stage(spread, config: ExtractConfig = ExtractConfig(),
                  sort_output: bool = True, sums=None):
    """the kernel stage behind an exchange: the mapInArrow kernel over
    (conv_id, turn_idx, text), then the local (conv_id, turn_idx) output
    sort. :func:`extract_turns` feeds it the salted exchange, the resume
    job a range exchange on its buckets, with ``bucket`` as a fourth input
    column and a ``sums`` accumulator."""
    cols = ('conv_id', 'turn_idx', 'text') + (() if sums is None
                                              else ('bucket',))
    out = spread.select(*cols).mapInArrow(
        lambda it: extract_arrow_batches(it, config, sums),
        schema=EXTRACTION_SCHEMA)
    if sort_output:
        out = out.sortWithinPartitions('conv_id', 'turn_idx')
    return out


def extract_turns(df,
                  config: ExtractConfig = ExtractConfig(),
                  partitions: Optional[int] = None,
                  salt: int = 16,
                  sort_output: bool = True):
    """transcripts DataFrame -> extraction DataFrame.

    ``partitions``/``salt`` control the explicit salted repartition; with
    ``partitions=None`` the session's shuffle parallelism is used.
    """
    from .skew import salted_repartition

    cols = df.select('conv_id', 'turn_idx', 'text')
    spread = salted_repartition(cols, partitions, salt=salt)
    return extract_stage(spread, config, sort_output)
