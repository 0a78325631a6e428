"""BPE subword tokenizer: merge-table validity, algorithm/replace-chain
equivalence (the SQL-twinnability invariant), and the Spark kernel."""
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MERGES_PATH = os.path.join(REPO, 'pyxml_spark', 'pipeline',
                           'bpe_merges.json')


def corpus_words():
    import pyarrow.parquet as pq
    tbl = pq.read_table('/root/testdata/sf0.001/documents.parquet',
                        columns=['text'])
    words = set()
    for text in tbl.column('text').to_pylist():
        if text and text.strip():
            words.update(re.split(r'\s+', text.strip()))
    return sorted(words)


def replace_chain(word, merges):
    """the DuckDB oracle's model: rank-ordered replace chain"""
    for i, (a, b) in enumerate(merges):
        word = word.replace(a + b, chr(0xE000 + i))
    return word


def test_merge_table_valid():
    with open(MERGES_PATH) as f:
        merges = json.load(f)
    assert len(merges) >= 32
    seen_reps = set()
    for i, (a, b) in enumerate(merges):
        rep = chr(0xE000 + i)
        assert len(a) == 1 and len(b) == 1, 'symbols must be single chars'
        assert rep not in seen_reps
        seen_reps.add(rep)
        # a merge part is either a raw corpus char or an EARLIER merge's
        # replacement char — never a later one (rank order is causal)
        for part in (a, b):
            if 0xE000 <= ord(part) <= 0xE0FF:
                assert ord(part) - 0xE000 < i, (i, part)


def test_bpe_equals_replace_chain_on_corpus():
    """the invariant the oracle rides on: greedy ranked-merge BPE ==
    rank-ordered replace chain, for every distinct corpus word"""
    from pyxml_spark.pipeline.tokenize import bpe_apply, load_merges
    merges = load_merges()
    words = corpus_words()
    assert len(words) > 20
    for w in words:
        assert bpe_apply(w) == replace_chain(w, merges), w


def test_bpe_equals_replace_chain_on_adversarial_strings():
    """strings designed to stress merge interactions: repeats, overlaps,
    chars outside the training alphabet"""
    from pyxml_spark.pipeline.tokenize import bpe_apply, load_merges
    merges = load_merges()
    probes = ['', 'a', 'erer', 'ererer', 'rrrr', 'eeer', 'inin',
              'joinjoinjoin', 'windowwindow', 'the', 'xxxyyyzzz',
              'sparkling', 'reorder', 'ordering', 'Ω≈ç√', 'a-b_c.d',
              'stst', 'tsts', 'window' * 20]
    for w in probes:
        assert bpe_apply(w) == replace_chain(w, merges), repr(w)


def test_bpe_compresses():
    """BPE must actually merge on in-domain words (fewer subword symbols
    than chars) and never exceed the char count"""
    from pyxml_spark.pipeline.tokenize import bpe_token_count
    words = corpus_words()
    compressed = sum(1 for w in words if bpe_token_count(w) < len(w))
    assert compressed >= len(words) // 2, 'merge table fits its corpus'
    for w in words:
        assert 1 <= bpe_token_count(w) <= len(w)


def test_registry_swappable():
    from pyxml_spark.pipeline.tokenize import TOKENIZERS
    assert set(TOKENIZERS) >= {'bpe', 'whitespace'}
    assert TOKENIZERS['whitespace']('anything') == 1
    assert TOKENIZERS['whitespace']('') == 0


def test_subword_count_spark_kernel(spark):
    from pyxml_spark.pipeline.tokenize import bpe_token_count
    import __spark_entry__ as entry
    rows = entry.q_subword_count(spark, entry.DEFAULT_SF_DIR).collect()
    assert len(rows) == 500
    import pyarrow.parquet as pq
    texts = {r['doc_id']: r['text'] for r in pq.read_table(
        f'{entry.DEFAULT_SF_DIR}/documents.parquet').to_pylist()}
    for r in rows[:50]:
        text = texts[r.doc_id]
        want = (0 if not text.strip() else
                sum(bpe_token_count(w)
                    for w in re.split(r'\s+', text.strip())))
        assert r.n_subwords == want, r.doc_id


def test_training_reproduces_committed_vocab(tmp_path):
    """scripts/train_bpe.py must regenerate bpe_merges.json byte-for-byte
    from the deterministic corpus — guards against silent vocab drift"""
    from scripts.train_bpe import main
    out = str(tmp_path / 'merges.json')
    assert main(['--output', out]) == 0
    with open(out, 'rb') as f1, open(MERGES_PATH, 'rb') as f2:
        assert f1.read() == f2.read()
