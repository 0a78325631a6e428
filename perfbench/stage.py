"""Stage a workload's inputs and expected outputs to parquet, outside the
timing, cached by (workload, seed, generator version).

Expected outputs of the extraction workloads come from the reference
oracle: each payload is parsed to a DOM with ``engine.html.fromstring``
and reduced with ``heuristics.extract_main``, the equality gate of the
pipeline tests. The production kernel never builds a DOM (it streams
parse events into ``gather``), so the two paths meet only in the parser
and the block scorer. Expected outputs of ``curate_corpus`` come from the
planted facts alone: which documents each gate, the dedup and the
decontamination must remove, and the packing arithmetic.
"""
from __future__ import annotations

import json
import multiprocessing
import os
import shutil
from typing import List, Optional

from . import workloads

#: staged input is split into this many parquet files, like a real table
N_FILES = 4
#: pack budget and token arithmetic of jobs/curate.py's defaults
PACK_BUDGET = 512


def oracle_main_text(payload: Optional[str]) -> str:
    """what the pipeline must emit as ``main_text`` for one payload"""
    from pyxml_spark.engine.html import fromstring
    from pyxml_spark.pipeline.heuristics import extract_main
    if payload is None:
        return ''
    if '<' not in payload and '>' not in payload:
        return payload
    try:
        root = fromstring(payload.encode())
    except Exception:  # noqa: BLE001 - a parse failure emits ''
        return ''
    return extract_main(root, count_nodes=False).main_text


def _oracle_chunk(payloads: List[Optional[str]]) -> List[str]:
    return [oracle_main_text(p) for p in payloads]


def _oracle_all(payloads: List[Optional[str]], procs: int) -> List[str]:
    step = max(1, -(-len(payloads) // (procs * 4)))
    chunks = [payloads[i:i + step] for i in range(0, len(payloads), step)]
    # fork: a spawn pool starts a resource tracker that outlives the pool
    ctx = multiprocessing.get_context('fork')
    with ctx.Pool(procs) as pool:
        parts = pool.map(_oracle_chunk, chunks)
    return [t for part in parts for t in part]


def _write_files(table, path: str) -> None:
    import pyarrow.parquet as pq
    os.makedirs(path)
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f'part-{i:05d}.parquet'))


def _expected_curate(docs, facts) -> tuple:
    """(expected job metrics, expected curated rows) from the planting"""
    kinds = facts['kinds']
    counts = {k: kinds.count(k) for k in set(kinds)}
    hot = [i for i, k in enumerate(kinds) if k == 'hot']
    removed = {i for i, k in enumerate(kinds)
               if k in ('tiny', 'longtok', 'nolang', 'repeat', 'neardup',
                        'contam')}
    removed.update(hot[1:])
    metrics = {
        'n_input': len(kinds),
        'n_fail_quality': counts.get('tiny', 0) + counts.get('longtok', 0),
        'n_fail_lang': counts.get('nolang', 0),
        'n_fail_repetition': counts.get('tiny', 0) + counts.get('repeat', 0),
        'n_dup_removed': counts.get('neardup', 0) + max(len(hot) - 1, 0),
        'n_contaminated_removed': counts.get('contam', 0),
    }
    metrics['n_pass_gates'] = metrics['n_input'] - sum(
        counts.get(k, 0) for k in ('tiny', 'longtok', 'nolang', 'repeat'))
    sources = docs.column('source').to_pylist()
    texts = docs.column('text').to_pylist()
    running: dict = {}
    rows = []
    for doc_id in range(len(kinds)):  # doc_id order inside each source
        if doc_id in removed:
            continue
        n_tokens = len(texts[doc_id].split())
        before = running.get(sources[doc_id], 0)
        running[sources[doc_id]] = before + n_tokens
        rows.append((doc_id, sources[doc_id], texts[doc_id], n_tokens,
                     before // PACK_BUDGET))
    metrics['n_curated'] = len(rows)
    metrics['n_packs'] = len({(r[1], r[4]) for r in rows})
    return metrics, rows


def stage(workload: str, seed: int, cache_root: str, procs: int) -> str:
    """directory holding the staged inputs and expected outputs; built
    once per (workload, seed, generator version) and reused after"""
    import pyarrow as pa
    import pyarrow.parquet as pq
    path = os.path.join(cache_root,
                        f'{workload}-s{seed}-g{workloads.GEN_VERSION}')
    if os.path.exists(os.path.join(path, 'facts.json')):
        return path
    tmp = f'{path}.tmp{os.getpid()}'
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload == 'curate_corpus':
        docs, evals, facts = workloads.curate_corpus(seed)
        _write_files(docs, os.path.join(tmp, 'input'))
        _write_files(evals, os.path.join(tmp, 'eval'))
        metrics, rows = _expected_curate(docs, facts)
        cols = list(zip(*rows))
        pq.write_table(pa.table({
            'doc_id': pa.array(cols[0], pa.int64()),
            'source': pa.array(cols[1], pa.string()),
            'text': pa.array(cols[2], pa.string()),
            'n_tokens': pa.array(cols[3], pa.int64()),
            'pack_id': pa.array(cols[4], pa.int64())}),
            os.path.join(tmp, 'expected.parquet'))
        facts_out = {'rows': docs.num_rows, 'docs': docs.num_rows,
                     'expected_metrics': metrics,
                     'dup_ids': sorted(facts['dup_of'])}
    else:
        table = workloads.transcripts(workload, seed)
        _write_files(table, os.path.join(tmp, 'input'))
        texts = table.column('text').to_pylist()
        pq.write_table(pa.table({
            'conv_id': table.column('conv_id'),
            'turn_idx': table.column('turn_idx'),
            'main_text': pa.array(_oracle_all(texts, procs), pa.string())}),
            os.path.join(tmp, 'expected.parquet'))
        facts_out = {
            'rows': table.num_rows,
            'docs': len(set(table.column('conv_id').to_pylist())),
            'input_chars': sum(len(t) for t in texts),
            'fast_path_rows': sum(1 for t in texts
                                  if '<' not in t and '>' not in t)}
    with open(os.path.join(tmp, 'facts.json'), 'w') as f:
        json.dump(facts_out, f)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path
