"""Spot semantics for the round-2 text-pipeline contract queries (the
hash-level check lives in scripts/check_contract.py; these pin the
operator semantics independently of the oracle)."""
import pytest

pyspark = pytest.importorskip('pyspark')

SF_DIR = '/root/testdata/sf0.001'


def test_pii_scrub_removes_all_pii(spark):
    import __spark_entry__ as entry
    rows = entry.q_pii_scrub(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        s = r.scrubbed
        assert '<EMAIL>' in s and '<IP>' in s and '<PHONE>' in s
        assert '@' not in s
        assert not any(ch.isdigit() for ch in s.split('<PHONE>')[-1])


def test_gopher_repetition_bounds_and_repeats(spark):
    import __spark_entry__ as entry
    rows = entry.q_gopher_repetition(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r.rep_x10k <= 10000
        assert r.top_count <= r.n_bigrams
    # the synthetic corpus repeats words, so some doc must repeat a bigram
    assert any(r.top_count > 1 for r in rows)


def test_gopher_repetition_plan_is_linear(spark):
    """the r2 quadratic (array_distinct + a nested rescan per distinct
    bigram) must stay gone: the optimized plan goes through explode +
    aggregates, never back into the bigram array per distinct element"""
    import __spark_entry__ as entry
    df = entry.q_gopher_repetition(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString().lower()
    assert 'array_distinct' not in plan
    assert 'generate explode' in plan or 'explode' in plan


def test_gopher_repetition_flat_on_long_doc(spark, tmp_path):
    """a 50k-token document must cost O(tokens): the old row-local form was
    O(distinct_bigrams * tokens) =~ 5e7 comparisons for this payload (many
    seconds in one expression); the exploded plan finishes with the rest of
    the micro-corpus in normal query time, and the closed form pins the
    values"""
    import time
    import __spark_entry__ as entry
    text = ' '.join(f'w{i % 1000}' for i in range(50_000))
    d = str(tmp_path / 'sf_long')
    spark.createDataFrame(
        [(1, text, 'en', 'synth', len(text))],
        'doc_id long, text string, lang string, source string, '
        'n_chars long').write.parquet(f'{d}/documents.parquet')
    t0 = time.monotonic()
    rows = entry.q_gopher_repetition(spark, d).collect()
    wall = time.monotonic() - t0
    assert len(rows) == 1
    r = rows[0]
    # bigram 'w{i} w{i+1}' repeats once per 1000-token period -> top = 50
    assert r.n_bigrams == 49_999
    assert r.top_count == 50
    assert r.rep_x10k == 50 * 10000 // 49_999
    assert wall < 30, f'long-doc gopher took {wall:.1f}s'


def test_conversation_assemble_groups_are_bounded(spark):
    """no aggregation buffer may grow with corpus size: each (source,
    pack_id) group's token total is bounded by the pack budget plus the one
    boundary doc that starts inside it"""
    from pyspark.sql import functions as F
    import __spark_entry__ as entry
    out = entry.q_conversation_assemble(spark, SF_DIR)
    assert out.where(F.col('pack_id').isNull()).count() == 0
    packs = entry.q_sequence_pack(spark, SF_DIR)
    stats = (packs.groupBy('source', 'pack_id')
             .agg(F.sum('n_tokens').alias('tok'),
                  F.max('n_tokens').alias('mx')).collect())
    budget = 512
    for r in stats:
        assert r.tok <= budget + r.mx, (r.source, r.pack_id, r.tok)
    # and the assembled groups are the same partitioning
    n_groups = out.count()
    assert n_groups == len(stats)


def test_boilerplate_strip_is_subsequence(spark):
    """clean_text must be the original token sequence minus the stripped
    tokens — order preserved, nothing invented"""
    import __spark_entry__ as entry
    docs = {r.doc_id: r.text for r in
            spark.read.parquet(f'{SF_DIR}/documents.parquet')
            .select('doc_id', 'text').collect()}
    sources = {r.doc_id: r.source for r in
               spark.read.parquet(f'{SF_DIR}/documents.parquet')
               .select('doc_id', 'source').collect()}
    # independently recompute the boilerplate set per source:
    # tokens present in >= 90% of the source's documents
    from collections import defaultdict
    src_docs = defaultdict(list)
    for did, text in docs.items():
        src_docs[sources[did]].append(set(text.split()))
    boiler = {}
    for src, tok_sets in src_docs.items():
        n = len(tok_sets)
        counts = defaultdict(int)
        for s in tok_sets:
            for t in s:
                counts[t] += 1
        boiler[src] = {t for t, c in counts.items() if c * 10 >= n * 9}
    assert any(boiler.values()), 'corpus should have source boilerplate'
    out = entry.q_source_boilerplate_strip(spark, SF_DIR).collect()
    assert len(out) == len(docs)
    stripped_any = False
    for r in out:
        orig = docs[r.doc_id].split()
        kept = r.clean_text.split() if r.clean_text else []
        assert len(kept) == r.n_kept
        # subsequence check
        it = iter(orig)
        assert all(tok in it for tok in kept), r.doc_id
        # exactly the independently-computed boilerplate set is stripped
        b = boiler[sources[r.doc_id]]
        assert not (b & set(kept)), r.doc_id
        assert kept == [t for t in orig if t not in b], r.doc_id
        if len(kept) < len(orig):
            stripped_any = True
    assert stripped_any, 'threshold should strip something on this corpus'


def _bare_window_before(df):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    w = (Window.partitionBy('source').orderBy('doc_id')
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return {r.doc_id: r.before for r in
            df.select('doc_id',
                      (F.sum('v').over(w)
                       - F.coalesce('v', F.lit(0))).alias('before'))
            .collect()}


def test_chunked_prefix_sum_equals_bare_window(spark):
    """running_sum_before with a forced chunk count (forcing many chunks and
    the offset join) must equal the naive single-window running sum"""
    from pyxml_spark.pipeline.prefix import running_sum_before
    import random
    rng = random.Random(11)
    rows = [(i, f's{rng.randint(0, 3)}', rng.randint(0, 9))
            for i in range(0, 2000, 3)]  # sparse, non-dense keys
    df = spark.createDataFrame(rows, 'doc_id long, source string, v long')
    got = {(r.doc_id): r.before for r in
           running_sum_before(df, 'source', 'doc_id', 'v', 'before',
                              target_chunks=11).collect()}
    want = _bare_window_before(df)
    assert got == want and len(got) == len(rows)


def test_chunked_prefix_sum_sparse_60bit_keys_bounded_chunks(spark):
    """VERDICT r3 #1: 60-bit hashed order keys with one popular source must
    (a) still equal the bare window and (b) spread across many chunks with
    a bounded per-chunk row count — the r3 key//2^20 chunking put ~1 row
    per chunk here, degenerating the offset window into a whole-partition
    single-task sort."""
    import hashlib
    from pyspark.sql import functions as F
    from pyxml_spark.pipeline.prefix import running_sum_before
    n = 4000
    rows = [(int.from_bytes(hashlib.md5(f'k{i}'.encode()).digest()[:8],
                            'big') >> 4,          # sparse 60-bit keys
             'hot' if i % 10 else f's{i % 7}',    # one popular source
             i % 13)
            for i in range(n)]
    df = spark.createDataFrame(rows, 'doc_id long, source string, v long')
    out = running_sum_before(df, 'source', 'doc_id', 'v', 'before')
    got = {r.doc_id: r.before for r in out.collect()}
    assert got == _bare_window_before(df) and len(got) == n
    # chunk balance: rebuild the adaptive chunk assignment and assert the
    # hot source's largest (part, chunk) group is far below the bare
    # window's single n-row sort AND the offsets table is far below n rows
    stats = df.agg(F.count('doc_id').alias('n'), F.min('doc_id').alias('mn'),
                   F.max('doc_id').alias('mx')).first()
    import math
    n_chunks = max(1, math.ceil(math.sqrt(stats.n)))
    width = max(1, math.ceil((stats.mx - stats.mn + 1) / n_chunks))
    sizes = (df.groupBy('source',
                        F.floor((F.col('doc_id') - stats.mn) / width))
             .count().collect())
    # expected ~n/n_chunks rows per chunk (the hot source holds ~90% of n);
    # 4x slack over that mean vs the bare window's 3600-row single sort
    assert max(r['count'] for r in sizes) <= 4 * ((n // n_chunks) + 1)
    assert len(sizes) >= n_chunks // 2               # offsets stay chunked


def test_chunked_prefix_sum_randomized_distributions(spark):
    """seeded sweep over key distributions (dense, sparse, clustered,
    negative, tiny-n, single-part, constant-v) — the chunked scan must
    equal the bare window on every one"""
    import random
    from pyxml_spark.pipeline.prefix import running_sum_before

    def keyset(rng, kind, m):
        if kind == 'dense':
            return rng.sample(range(m * 2), m)
        if kind == 'sparse':
            return rng.sample(range(-(1 << 50), 1 << 50), m)
        if kind == 'clustered':        # 90% in a narrow band + outliers
            band = rng.sample(range(1000, 1000 + m * 2), m * 9 // 10)
            far = rng.sample(range(1 << 40, (1 << 40) + (1 << 20)),
                             m - len(band))
            return band + far
        return rng.sample(range(-5, 6), min(m, 11))  # tiny

    for seed in range(5):
        rng = random.Random(seed)
        for kind in ('dense', 'sparse', 'clustered', 'tiny'):
            m = 11 if kind == 'tiny' else 300
            keys = keyset(rng, kind, m)
            nparts = 1 if seed == 0 else 4
            rows = [(k, f'p{i % nparts}',
                     0 if seed == 1 else rng.randint(-9, 9))
                    for i, k in enumerate(keys)]
            df = spark.createDataFrame(
                rows, 'doc_id long, source string, v long')
            got = {r.doc_id: r.before for r in
                   running_sum_before(df, 'source', 'doc_id', 'v',
                                      'before').collect()}
            assert got == _bare_window_before(df), (seed, kind)
            assert len(got) == len(rows), (seed, kind)


def test_chunked_prefix_sum_full_range_int64_keys(spark):
    """review r4: keys spanning more than 2^63 (raw-xxhash64-style order
    keys near +-2^62) must not wrap the chunk arithmetic — long math here
    produced non-monotone chunk ids and silently wrong sums"""
    import random
    from pyxml_spark.pipeline.prefix import running_sum_before
    rng = random.Random(5)
    lo, hi = -(1 << 62) - 7, (1 << 62) + 9
    keys = {lo, hi, 0, -1, 1} | {rng.randint(lo, hi) for _ in range(500)}
    rows = [(k, f's{abs(k) % 3}', abs(k) % 11) for k in sorted(keys)]
    df = spark.createDataFrame(rows, 'doc_id long, source string, v long')
    out = running_sum_before(df, 'source', 'doc_id', 'v', 'before')
    got = {r.doc_id: r.before for r in out.collect()}
    assert got == _bare_window_before(df) and len(got) == len(rows)


def test_chunked_prefix_sum_null_keys_kept(spark):
    """ADVICE r3: NULL part_col forms its own running-sum group and a NULL
    order key sorts first — neither row is dropped (the r3 inner join
    silently lost both)."""
    from pyxml_spark.pipeline.prefix import running_sum_before
    rows = [(10, 'a', 1), (20, 'a', 2), (None, 'a', 5),
            (10, None, 3), (30, None, 4)]
    df = spark.createDataFrame(rows, 'doc_id long, source string, v long')
    out = running_sum_before(df, 'source', 'doc_id', 'v', 'before')
    got = {(r.doc_id, r.source): r.before for r in out.collect()}
    assert got == _bare_window_before_keyed(df)
    assert len(got) == len(rows)


def _bare_window_before_keyed(df):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    w = (Window.partitionBy('source').orderBy('doc_id')
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return {(r.doc_id, r.source): r.before for r in
            df.select('doc_id', 'source',
                      (F.sum('v').over(w)
                       - F.coalesce('v', F.lit(0))).alias('before'))
            .collect()}


def test_mixture_sample_matches_closed_form(spark):
    """round-4 mixture op: per-doc copy counts equal the closed form
    floor(w) + [md5-hash16 < frac(w)*2^16] for w = 0.25 + 0.75*(src%4),
    and copy_idx is dense 0..n-1 (deterministic upsampling, no RNG)."""
    import hashlib
    from collections import defaultdict
    import __spark_entry__ as entry
    got = defaultdict(list)
    for r in entry.q_mixture_sample(spark, SF_DIR).collect():
        got[(r.doc_id, r.source)].append(r.copy_idx)
    docs = {(r.doc_id, r.source) for r in
            entry._table(spark, SF_DIR, 'documents')
            .select('doc_id', 'source').collect()}
    assert docs, 'empty documents table'
    seen_counts = set()
    for doc_id, source in docs:
        m = int(source[3:]) % 4
        h4 = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16)
        n = entry._MIX_WHOLE[m] + (1 if h4 < entry._MIX_FRAC16[m] else 0)
        idxs = sorted(got.pop((doc_id, source), []))
        assert idxs == list(range(n)), (doc_id, source, n, idxs)
        seen_counts.add(n)
    assert not got, f'copies for unknown docs: {list(got)[:3]}'
    assert 0 in seen_counts and max(seen_counts) >= 2  # sub- AND up-sampled


def test_tfidf_top_terms_matches_python_recompute(spark):
    """round-4 tf-idf op: the full (doc, term, tf, df, score, rnk) frame
    equals an exact integer recompute from the raw text."""
    from collections import Counter
    import re
    import __spark_entry__ as entry
    docs = {r.doc_id: r.text for r in
            entry._table(spark, SF_DIR, 'documents')
            .select('doc_id', 'text').collect()}

    def toks(txt):
        # mirror the engines exactly: trim() strips ASCII spaces only, and
        # Java-regex \s is the ASCII set [ \t\n\x0B\f\r] — Python's
        # str.split()/str.strip() are Unicode-aware (U+00A0 etc.) and would
        # diverge from BOTH engines on non-ASCII whitespace
        return [t for t in re.split(r'[ \t\n\x0b\f\r]+', txt.strip(' '))
                if t]

    tf = {d: Counter(toks(txt)) for d, txt in docs.items()}
    df = Counter(t for c in tf.values() for t in c)
    expect = set()
    for d, c in tf.items():
        ranked = sorted(((t, n) for t, n in c.items()),
                        key=lambda tn: (-(tn[1] * 10000 // df[tn[0]]),
                                        tn[0]))
        for rnk, (t, n) in enumerate(ranked[:entry._TFIDF_TOPK], 1):
            expect.add((d, t, n, df[t], n * 10000 // df[t], rnk))
    got = {(r.doc_id, r.term, r.tf, r.df, r.score_x10k, r.rnk)
           for r in entry.q_tfidf_top_terms(spark, SF_DIR).collect()}
    assert got == expect
