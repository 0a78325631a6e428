"""Multi-band MinHash-LSH scale properties (VERDICT r1 finding #1).

The round-1 scheme put 44% of all pairs into shared bands; the rework must
keep candidates (a) linearly bounded by bands*window*n regardless of corpus
similarity structure, (b) a small fraction of n^2, and (c) semantically
complete for dedup — near-identical docs end up in the same connected
component of the candidate graph even where the rank-window cap drops the
direct pair.
"""
import pytest

from tests.conftest import sql_plans

pyspark = pytest.importorskip('pyspark')

SF_DIR = '/root/testdata/sf0.001'


@pytest.fixture(scope='module')
def corpus(spark):
    docs = spark.read.parquet(f'{SF_DIR}/documents.parquet')
    rows = docs.select('doc_id', 'text').collect()
    return {r.doc_id: frozenset(r.text.split()) for r in rows}


@pytest.fixture(scope='module')
def candidates(spark):
    from pyxml_spark.pipeline.dedup import (candidate_pairs, minhash_bands,
                                            token_sets)
    docs = spark.read.parquet(f'{SF_DIR}/documents.parquet')
    toks = token_sets(docs)
    pairs = candidate_pairs(minhash_bands(toks)).collect()
    return [(r.doc_a, r.doc_b) for r in pairs]


def test_candidate_count_linear_bound(candidates, corpus):
    from pyxml_spark.pipeline.dedup import N_BANDS, PAIR_WINDOW
    n = len(corpus)
    all_pairs = n * (n - 1) // 2
    # hard linear bound: the rank-window cap guarantees this even on a
    # corpus of n identical documents (+1 covers the sub-bucket rep chain)
    assert len(candidates) <= N_BANDS * (PAIR_WINDOW + 1) * n
    # and on this (pathologically self-similar: 26% of pairs have
    # jaccard >= 0.8) corpus the banding still keeps candidates small —
    # round 1 produced 54,647 (44%) here
    assert len(candidates) < 0.05 * all_pairs


def _components(pairs, nodes):
    parent = {d: d for d in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return {d: find(d) for d in nodes}


def test_near_identical_docs_stay_connected(candidates, corpus):
    """dedup semantics survive the pair-window cap: docs whose token sets
    are identical or near-identical (jaccard >= 0.9) land in one connected
    component, so connected-component keeper selection dedups them"""
    comp = _components(candidates, corpus.keys())
    ids = sorted(corpus)
    missed = total = 0
    for i, a in enumerate(ids):
        wa = corpus[a]
        for b in ids[i + 1:]:
            wb = corpus[b]
            inter = len(wa & wb)
            if inter * 10 < max(len(wa), len(wb)) * 9:
                continue  # cheap upper-bound prune before exact jaccard
            j = inter / len(wa | wb)
            if j >= 0.9:
                total += 1
                if comp[a] != comp[b]:
                    missed += 1
    assert total > 1000, 'corpus should contain many true near-dups'
    # banding S-curve at (1/8)^(1/8) ~= 0.77 plus transitive closure:
    # essentially every j>=0.9 pair must be linked
    assert missed / total < 0.01, f'{missed}/{total} near-dup pairs unlinked'


def test_identical_sets_share_all_bands(spark):
    from pyspark.sql import functions as F
    from pyxml_spark.pipeline.dedup import minhash_bands, token_sets
    docs = spark.createDataFrame(
        [(1, 'a b c d e'), (2, 'e d c b a'), (3, 'x y z w q')],
        'doc_id long, text string')
    bands = minhash_bands(token_sets(docs))
    k1 = {(r.band_id, r.band_key) for r in
          bands.where(F.col('doc_id') == 1).collect()}
    k2 = {(r.band_id, r.band_key) for r in
          bands.where(F.col('doc_id') == 2).collect()}
    k3 = {(r.band_id, r.band_key) for r in
          bands.where(F.col('doc_id') == 3).collect()}
    assert k1 == k2, 'same token set => same band keys'
    assert not (k1 & k3), 'disjoint vocab => no shared band'


def test_keeper_matches_union_find(spark, corpus):
    """dup_components must equal an exact union-find over the same verified
    dup pairs (component minimum as keeper, singletons keep themselves)"""
    from pyspark.sql import functions as F
    from pyxml_spark.pipeline.dedup import (candidate_pairs, dup_components,
                                            jaccard_pairs, minhash_bands,
                                            token_sets)
    docs = spark.read.parquet(f'{SF_DIR}/documents.parquet')
    toks = token_sets(docs)
    dups = (jaccard_pairs(toks, candidate_pairs(minhash_bands(toks)))
            .where(F.col('is_dup')).select('doc_a', 'doc_b'))
    pairs = [(r.doc_a, r.doc_b) for r in dups.collect()]
    got = {r.doc_id: r.keeper
           for r in dup_components(toks, dups).collect()}
    comp = _components(pairs, corpus.keys())
    # map each union-find root to its component minimum
    members = {}
    for d, root in comp.items():
        members.setdefault(root, []).append(d)
    want = {d: min(members[root]) for d, root in comp.items()}
    assert got == want
    # there must be real multi-doc components on this corpus
    assert sum(1 for d, k in got.items() if k != d) > 50


def test_spark_pipeline_matches_python_model(spark):
    """differential check: the whole Spark band/candidate pipeline against
    an independent pure-Python model of the same scheme (md5 base hash,
    universal-hash perms, b x r banding, rank-window pairs) on small random
    corpora — catches engine-specific defects (hash parity, lambda arity,
    window semantics) that the DuckDB oracle alone could share"""
    import hashlib
    import random
    from pyxml_spark.pipeline.dedup import (HOT_BUCKET_THRESHOLD, MH_PRIME,
                                            N_BANDS, N_PERMS, N_ROWS,
                                            N_SUBBUCKETS, PAIR_WINDOW,
                                            candidate_pairs, minhash_bands,
                                            perm_coeffs, token_sets)

    def salt(band, d):
        return int(hashlib.md5(f'{band}:{d}'.encode()).hexdigest()[:15],
                   16) % N_SUBBUCKETS

    def model(texts, hot_threshold=HOT_BUCKET_THRESHOLD):
        cs = [perm_coeffs(i) for i in range(N_PERMS)]
        bands = {}
        for d, t in texts:
            ws = set(t.split())
            if not ws:
                continue
            hs = [int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
                  % MH_PRIME for w in ws]
            mins = [min((a * h + b) % MH_PRIME for h in hs) for a, b in cs]
            for j in range(N_BANDS):
                key = (j, '-'.join(str(m) for m in
                                   mins[j * N_ROWS:(j + 1) * N_ROWS]))
                bands.setdefault(key, []).append(d)
        pairs = set()
        for (j, _key), mem in bands.items():
            subs = {}
            for d in mem:
                s = salt(j, d) if len(mem) > hot_threshold else 0
                subs.setdefault(s, []).append(d)
            for sub in subs.values():
                sub.sort()
                for i, a in enumerate(sub):
                    for b in sub[i + 1:i + 1 + PAIR_WINDOW]:
                        pairs.add((a, b))
            reps = sorted(min(sub) for sub in subs.values())
            for a, b in zip(reps, reps[1:]):
                pairs.add((a, b))
        membership = {(d, j, k) for (j, k), mem in bands.items()
                      for d in mem}
        return membership, pairs

    rng = random.Random(2024)
    vocab = [f'w{i}' for i in range(40)]
    for case in range(3):
        texts = [(d, ' '.join(rng.choices(vocab, k=rng.randint(0, 12))))
                 for d in range(30)]
        df = spark.createDataFrame(texts, 'doc_id long, text string')
        toks = token_sets(df)
        got_bands = {(r.doc_id, r.band_id, r.band_key)
                     for r in minhash_bands(toks).collect()}
        got_pairs = {(r.doc_a, r.doc_b)
                     for r in candidate_pairs(minhash_bands(toks)).collect()}
        want_bands, want_pairs = model(texts)
        assert got_bands == want_bands, f'case {case}'
        assert got_pairs == want_pairs, f'case {case}'


def test_minhash_bands_aggregate_once(spark):
    """the executed plan runs the 64-wide minima aggregate once per row:
    exploding the literal band ids instead of an array attribute leaves
    the optimizer no inferred Generate filter to paste the aggregate into
    (the attribute form's plan held it 65 times)"""
    from pyxml_spark.pipeline.dedup import minhash_bands, token_sets
    docs = spark.read.parquet(f'{SF_DIR}/documents.parquet')
    with sql_plans(spark) as plans:
        minhash_bands(token_sets(docs)).collect()
    (plan,) = plans.values()
    assert plan.count('aggregate(') == 1, plan.count('aggregate(')


def test_hot_bucket_no_single_task_sort(spark):
    """r2 VERDICT watch item: a degenerate bucket (half the corpus
    identical, so one band key holds them all in every band — well over
    HOT_BUCKET_THRESHOLD) must be windowed by N_SUBBUCKETS parallel
    groups, not sorted by one straggler task; candidates stay linear and
    the bucket stays one component"""
    from pyspark.sql import functions as F
    from pyxml_spark.pipeline.dedup import (HOT_BUCKET_THRESHOLD, N_BANDS,
                                            PAIR_WINDOW, candidate_pairs,
                                            minhash_bands, salt_expr,
                                            token_sets)
    n = 2000
    assert n // 2 > HOT_BUCKET_THRESHOLD
    rows = [(d, 'alpha beta gamma delta epsilon')
            for d in range(n // 2)] + \
           [(d, f'uniq{d}a uniq{d}b uniq{d}c') for d in range(n // 2, n)]
    df = spark.createDataFrame(rows, 'doc_id long, text string')
    bands = minhash_bands(token_sets(df)).cache()
    # the hot bucket's salted window groups, exactly as candidate_pairs
    # partitions them (band-dependent salt, hot buckets only)
    hot_sizes = (bands.groupBy('band_id', 'band_key').count()
                 .where(F.col('count') > HOT_BUCKET_THRESHOLD))
    assert hot_sizes.count() > 0, 'corpus must contain a hot bucket'
    hot_keys = {(r.band_id, r.band_key) for r in hot_sizes.collect()}
    salted = bands.select('band_id', 'band_key', 'doc_id',
                          salt_expr().alias('salt'))
    sizes = (salted.groupBy('band_id', 'band_key', 'salt').count()
             .collect())
    biggest = max(r['count'] for r in sizes
                  if (r.band_id, r.band_key) in hot_keys)
    # the hot bucket (1000 docs) must be split roughly 8 ways
    assert biggest < (n // 2) * 0.25, biggest
    pairs = candidate_pairs(bands)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert len(got) <= N_BANDS * (PAIR_WINDOW + 1) * n
    comp = _components(got, range(n))
    assert len({comp[d] for d in range(n // 2)}) == 1, \
        'identical docs must remain one connected component'


def test_small_mixed_bucket_keeps_full_pairing(spark):
    """regression (r3 code review): salting must NOT split small buckets —
    in a 3-doc bucket every in-window pair must be generated even when the
    members' salts differ, otherwise a true near-dup pair separated by an
    interloper is never jaccard-tested"""
    from pyxml_spark.pipeline.dedup import candidate_pairs
    bands = spark.createDataFrame(
        [(0, 'k', d) for d in (0, 1, 13)],
        'band_id long, band_key string, doc_id long')
    got = {(r.doc_a, r.doc_b) for r in candidate_pairs(bands).collect()}
    assert got == {(0, 1), (0, 13), (1, 13)}, got


def _model_rounds(n_nodes, pairs) -> int:
    """rounds dup_components runs: min-label propagation plus one
    pointer-doubling shortcut per round, until the label sum is stable"""
    label = list(range(n_nodes))
    prev = sum(label)
    rounds = 0
    while True:
        rounds += 1
        new = list(label)
        for a, b in pairs:
            new[b] = min(new[b], label[a])
            new[a] = min(new[a], label[b])
        label = [min(lb, new[lb]) for lb in new]
        if sum(label) == prev:
            return rounds
        prev = sum(label)


def test_chain_component_converges_fast(spark):
    """pointer doubling: a 512-node path graph (the shape a degenerate
    bucket's rank-window pairs produce) must converge well inside a small
    round budget — plain min-propagation would need ~512 rounds (the r2
    silent-truncation defect flagged in ADVICE). The convergence witness
    rides each round's eager checkpoint as an observation: the call runs
    one SQL execution per round of the model, plus the edge and
    initial-label checkpoints."""
    from pyxml_spark.pipeline.dedup import dup_components
    n = 512
    edges = [(d, d + 1) for d in range(n - 1)]
    toks = spark.createDataFrame([(d,) for d in range(n)], 'doc_id long')
    pairs = spark.createDataFrame(edges, 'doc_a long, doc_b long')
    with sql_plans(spark) as plans:
        comps = dup_components(toks, pairs, max_iters=16)
    got = {r.doc_id: r.keeper for r in comps.collect()}
    assert got == {d: 0 for d in range(n)}
    rounds = _model_rounds(n, edges)
    assert len(plans) == rounds + 2, (len(plans), rounds)


def test_nonconvergence_raises(spark):
    """exhausting max_iters must raise, never silently return split
    components"""
    import pytest as _pytest
    from pyxml_spark.pipeline.dedup import dup_components
    n = 64
    toks = spark.createDataFrame([(d,) for d in range(n)], 'doc_id long')
    pairs = spark.createDataFrame([(d, d + 1) for d in range(n - 1)],
                                  'doc_a long, doc_b long')
    with _pytest.raises(RuntimeError, match='did not converge'):
        dup_components(toks, pairs, max_iters=2)


def test_reliable_checkpoint_dir(spark, tmp_path):
    """VERDICT r3 #2: with checkpoint_dir set, component resolution uses
    reliable checkpoint() (files land in the dir, so lineage survives
    executor loss on a real cluster) and still returns the same keepers"""
    import os
    from pyxml_spark.pipeline.dedup import dup_components
    n = 64
    ckpt = str(tmp_path / 'ckpt')
    toks = spark.createDataFrame([(d,) for d in range(n)], 'doc_id long')
    pairs = spark.createDataFrame([(d, d + 1) for d in range(n - 1)],
                                  'doc_a long, doc_b long')
    got = {r.doc_id: r.keeper for r in
           dup_components(toks, pairs, max_iters=16,
                          checkpoint_dir=ckpt).collect()}
    assert got == {d: 0 for d in range(n)}
    found = [os.path.join(dp, f) for dp, _, fs in os.walk(ckpt) for f in fs]
    assert found, 'checkpoint() must materialize files in checkpoint_dir'
    # review r4: superseded rounds are deleted as the iteration advances —
    # only edges + the final round survive inside the dupc run dir
    (run_dir,) = [os.path.join(ckpt, d) for d in os.listdir(ckpt)]
    assert os.path.basename(run_dir).startswith('dupc-')
    subdirs = sorted(os.listdir(run_dir))
    assert len(subdirs) == 2 and 'edges' in subdirs, subdirs



def test_incremental_pairs_link_and_verify(spark):
    """planted semantics for incremental_candidate_pairs (small-bucket
    regime): a shard doc near-identical to existing corpus docs links to
    EVERY member of each shared small bucket (a single-rep link could be
    an interloper hiding the true dup); a unique shard doc links to
    nothing; and the links feed jaccard_pairs directly (doc_a/doc_b
    columns) so the documented verify-before-components workflow is
    mechanically possible."""
    from pyxml_spark.pipeline.dedup import (incremental_candidate_pairs,
                                            jaccard_pairs, minhash_bands,
                                            token_sets)
    base = ('alpha beta gamma delta epsilon zeta eta theta iota kappa '
            'lam mu nu xi omicron pi rho sigma tau upsilon')
    corpus = [(1, base), (2, base + ' extraword')]
    shard = [(10, base), (20, 'totally different content nothing shared '
                              'here at all whatsoever really')]
    cdf = spark.createDataFrame(corpus, 'doc_id long, text string')
    sdf = spark.createDataFrame(shard, 'doc_id long, text string')
    index = minhash_bands(token_sets(cdf))
    nb = minhash_bands(token_sets(sdf))
    links_df = incremental_candidate_pairs(nb, index)
    links = links_df.collect()
    by_new = {}
    for r in links:
        by_new.setdefault(r.doc_a, set()).add(r.doc_b)
    # identical doc 10 shares every band bucket with doc 1; small-bucket
    # regime links ALL members of each shared bucket
    assert 1 in by_new[10]
    assert by_new[10] <= {1, 2}
    assert 20 not in by_new
    # the verification composition: union token sets, jaccard-verify
    toks = token_sets(cdf).unionByName(token_sets(sdf))
    verified = {(r.doc_a, r.doc_b)
                for r in jaccard_pairs(toks, links_df).collect()
                if r.is_dup}
    assert (10, 1) in verified
    # broadcast_keys=False (bulk-backfill path) is plan-only
    links2 = incremental_candidate_pairs(
        nb, index, broadcast_keys=False).collect()
    assert {(r.doc_a, r.doc_b) for r in links2} == \
        {(r.doc_a, r.doc_b) for r in links}


def test_incremental_pairs_scan_index_once(spark, tmp_path):
    """the hits of the broadcast key join feed both the bucket sizes and
    the member links; they are materialized once, so across every SQL
    execution the call runs the persisted index is scanned once (the lazy
    form scanned it once per consumer: three times)"""
    from pyxml_spark.pipeline.dedup import (incremental_candidate_pairs,
                                            minhash_bands, token_sets)
    base = ('alpha beta gamma delta epsilon zeta eta theta iota kappa '
            'lam mu nu xi omicron pi rho sigma tau upsilon')
    corpus = [(i, f'{base} w{i % 3}') for i in range(1, 30)]
    shard = [(100, base), (200, 'nothing shared with the corpus here')]
    path = str(tmp_path / 'index')
    minhash_bands(token_sets(spark.createDataFrame(
        corpus, 'doc_id long, text string'))).write.parquet(path)
    index = spark.read.parquet(path)
    nb = minhash_bands(token_sets(spark.createDataFrame(
        shard, 'doc_id long, text string')))
    with sql_plans(spark) as plans:
        links = incremental_candidate_pairs(nb, index,
                                            hot_threshold=3).collect()
    assert {r.doc_a for r in links} == {100}
    # the tree of each executed (AQE: current) plan; the shard side is an
    # in-memory relation, so every parquet scan reads the index
    scans = sum(plan.split('== Initial Plan ==')[0].split('\n\n')[0]
                .count('Scan parquet ') for plan in plans.values())
    assert scans == 1, scans


def test_incremental_pairs_hot_bucket_caps_fanout(spark):
    """hot-bucket regime: 40 near-identical existing docs in one logical
    bucket with hot_threshold=3 must NOT fan a single new doc into 40
    links — output is capped at one min per (band, salt sub-bucket),
    <= N_BANDS * n_subbuckets distinct partners, and the global minimum
    member (doc 1, the eventual keeper root) is always among them."""
    from pyxml_spark.pipeline.dedup import (N_BANDS,
                                            incremental_candidate_pairs,
                                            minhash_bands, token_sets)
    base = ('alpha beta gamma delta epsilon zeta eta theta iota kappa '
            'lam mu nu xi omicron pi rho sigma tau upsilon')
    corpus = [(i, base) for i in range(1, 41)]  # identical -> same buckets
    shard = [(100, base)]
    cdf = spark.createDataFrame(corpus, 'doc_id long, text string')
    sdf = spark.createDataFrame(shard, 'doc_id long, text string')
    index = minhash_bands(token_sets(cdf))
    nb = minhash_bands(token_sets(sdf))
    n_sub = 2
    links = incremental_candidate_pairs(
        nb, index, hot_threshold=3, n_subbuckets=n_sub).collect()
    partners = {r.doc_b for r in links if r.doc_a == 100}
    assert partners, 'hot bucket must still produce links'
    assert len(partners) <= N_BANDS * n_sub
    assert len(partners) < 40  # the cap actually did something
    assert 1 in partners  # min of its salt sub-bucket in every band


def test_dedup_job_resume_manifest_invalidates_on_param_change(tmp_path,
                                                                run_job):
    """ADVICE r3: --resume only honors a stage's _SUCCESS when its params
    manifest matches the current invocation — changing --dup-threshold-x10k
    must re-run pairs+keepers but reuse toks+bands."""
    from pyxml_spark.jobs.dedup import main
    out = str(tmp_path / 'dedup_out')
    base = ['--input', '/root/testdata/sf0.001/documents.parquet',
            '--output', out, '--cpus', '4']
    assert run_job(main, base)[0] == 0
    # identical resume: nothing re-runs
    rc, rerun = run_job(main, base + ['--resume'])
    assert rc == 0 and rerun['stages_run'] == []
    # changed threshold: toks/bands reused, pairs/keepers recomputed
    rc, changed = run_job(main, base + ['--resume',
                                        '--dup-threshold-x10k', '9000'])
    assert rc == 0 and changed['stages_run'] == ['pairs', 'keepers']
