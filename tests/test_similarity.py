"""ANN (LSH-bucketed) vs brute-force cosine: recall + candidate reduction."""
import pytest

pyspark = pytest.importorskip('pyspark')


@pytest.fixture(scope='module')
def vectors(spark):
    from pyxml_spark.pipeline.similarity import as_double_vec
    emb = spark.read.parquet('/root/testdata/sf0.01/embeddings.parquet')
    return as_double_vec(emb).select('vec_id', 'v').cache()


def test_lsh_recall_vs_brute_force(spark, vectors):
    from pyspark.sql import functions as F
    from pyxml_spark.pipeline.similarity import brute_force_topk, lsh_topk

    hits = 0
    total = 0
    for qid in (0, 7, 42):
        q = vectors.where(F.col('vec_id') == qid).select(
            F.col('v').alias('q'))
        exact = {r.vec_id for r in
                 brute_force_topk(vectors, q, k=10).collect()}
        approx = {r.vec_id for r in
                  lsh_topk(vectors, q, k=10, n_planes=6,
                           dim=64).collect()}
        assert qid in approx, 'query vector must match itself'
        hits += len(exact & approx)
        total += len(exact)
    recall = hits / total
    # random gaussian embeddings are the hard case for LSH; the point is the
    # bucketing machinery + rerank, so the bar is modest but non-trivial
    assert recall >= 0.2, f'recall {recall:.2f}'


def test_lsh_candidate_reduction(spark, vectors):
    """the probe set must actually prune the corpus (scale path property)"""
    from pyspark.sql import functions as F
    from pyxml_spark.pipeline.similarity import add_lsh_signature

    n = vectors.count()
    sigs = add_lsh_signature(vectors, n_planes=6, dim=64)
    counts = sigs.groupBy('sig').count().collect()
    largest = max(r['count'] for r in counts)
    # 7 probes (self + 6 single-bit flips) x largest bucket bounds candidates
    assert largest * 7 < n, (largest, n)


def test_signature_deterministic(spark, vectors):
    from pyxml_spark.pipeline.similarity import add_lsh_signature
    a = {r.vec_id: r.sig for r in
         add_lsh_signature(vectors, n_planes=8, dim=64).collect()}
    b = {r.vec_id: r.sig for r in
         add_lsh_signature(vectors, n_planes=8, dim=64).collect()}
    assert a == b


def test_signature_requires_dim(spark, vectors):
    """VERDICT r3 #5: no driver-side dimension probe — omitting dim must
    raise instead of silently collecting a row per call"""
    from pyxml_spark.pipeline.similarity import add_lsh_signature, lsh_topk
    with pytest.raises(ValueError, match='dim'):
        add_lsh_signature(vectors, n_planes=8)
    with pytest.raises(ValueError, match='dim'):
        lsh_topk(vectors, vectors.limit(1).select('v'), k=2)


def test_lsh_topk_no_corpus_fanout(spark, vectors):
    """VERDICT r3 #6: the probe joins must not posexplode/Generate the
    corpus x n_tables — each table semi-joins (vec_id, sig) against its
    broadcast probe keys, and only candidate IDS flow to the one rerank"""
    from pyspark.sql import functions as F
    from pyxml_spark.pipeline.similarity import lsh_topk
    import io
    from contextlib import redirect_stdout
    q = vectors.where(F.col('vec_id') == 0).select(F.col('v').alias('q'))
    buf = io.StringIO()
    with redirect_stdout(buf):
        lsh_topk(vectors, q, k=10, dim=64).explain('formatted')
    plan = buf.getvalue()
    assert 'Generate' not in plan, 'corpus fan-out reintroduced'
    assert plan.count('LeftSemi') >= 4, 'per-table semi-joins expected'


def test_ivf_recall_vs_brute_force(spark, vectors):
    from pyspark.sql import functions as F
    from pyxml_spark.pipeline.similarity import (brute_force_topk, build_ivf,
                                                 ivf_topk)
    assigned, model = build_ivf(vectors, n_lists=8, seed=42)
    assigned = assigned.cache()
    hits = total = 0
    for qid in (0, 7, 42):
        q = vectors.where(F.col('vec_id') == qid).select(
            F.col('v').alias('q'))
        exact = {r.vec_id for r in brute_force_topk(vectors, q, 10).collect()}
        approx = {r.vec_id for r in
                  ivf_topk(assigned, model, q, 10, n_probe=3).collect()}
        assert qid in approx
        hits += len(exact & approx)
        total += len(exact)
    # probing 3/8 lists; random gaussians are the worst case for IVF too
    assert hits / total >= 0.3, hits / total


def test_grid_ivf_recall_vs_brute_force(spark, vectors):
    """deterministic sign-bit grid quantizer (the SQL-oracled IVF variant)"""
    from pyspark.sql import functions as F
    from pyxml_spark.pipeline.similarity import (brute_force_topk,
                                                 grid_assign, grid_ivf_topk)
    # 2^3 orthant lists over dim-64 gaussians are roughly balanced
    sizes = [r['count'] for r in
             grid_assign(vectors, n_bits=3).groupBy('list_id')
             .count().collect()]
    n = vectors.count()
    assert len(sizes) == 8 and max(sizes) < n / 2
    hits = total = 0
    for qid in (0, 7, 42):
        q = vectors.where(F.col('vec_id') == qid).select(
            F.col('v').alias('q'))
        exact = {r.vec_id for r in brute_force_topk(vectors, q, 10).collect()}
        approx = {r.vec_id for r in
                  grid_ivf_topk(vectors, q, 10, n_bits=3).collect()}
        assert qid in approx, 'query vector must match itself'
        hits += len(exact & approx)
        total += len(exact)
    # probing 4/8 lists; random gaussians are the worst case
    assert hits / total >= 0.3, hits / total


def test_probe_fraction_at_entry_params(spark, vectors):
    """the r2 defect: 6 planes probed ~11% of the corpus (and the 3-bit
    grid probed 50%). At the corpus-sized entry parameters the candidate
    set must stay a few percent of the corpus."""
    from pyspark.sql import functions as F
    import __spark_entry__ as entry
    from pyxml_spark.pipeline.similarity import (add_lsh_signature,
                                                 grid_assign)
    n = vectors.count()
    # LSH: expected candidates = sum of probed-bucket occupancies
    planes, tables = entry._ANN_PLANES, entry._ANN_TABLES
    frac = 0.0
    for t in range(tables):
        sigs = add_lsh_signature(vectors, planes, dim=64, table=t)
        counts = {r['sig']: r['count']
                  for r in sigs.groupBy('sig').count().collect()}
        qsig = sigs.where(F.col('vec_id') == 0).first()['sig']
        probes = [qsig] + [qsig ^ (1 << p) for p in range(planes)]
        frac += sum(counts.get(p, 0) for p in probes) / n
    assert frac < 0.08, f'LSH probe fraction {frac:.3f}'
    # grid IVF: probed lists hold a few percent of the corpus
    bits = entry._ANN_IVF_BITS
    assigned = grid_assign(vectors, n_bits=bits)
    counts = {r['list_id']: r['count']
              for r in assigned.groupBy('list_id').count().collect()}
    qlist = assigned.where(F.col('vec_id') == 0).first()['list_id']
    probes = [qlist] + [qlist ^ (1 << d) for d in range(bits)]
    ivf_frac = sum(counts.get(p, 0) for p in probes) / n
    assert ivf_frac < 0.08, f'IVF probe fraction {ivf_frac:.3f}'


def test_multitable_lsh_finds_planted_near_dups_at_scale_defaults(spark):
    """at the 16-plane library default a single table is too sharp to
    retrieve true neighbors; the 4 independent tables must recover them.
    Planted pairs (cos ~= 0.95) over a 1000-vector gaussian corpus: top-1
    must be the planted twin for >= 80% of probes, while the probed
    candidate fraction stays small."""
    import math
    import random
    from pyspark.sql import functions as F
    from pyxml_spark.pipeline.similarity import lsh_topk

    rng = random.Random(7)
    dim, n = 64, 1000
    base = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n)]
    # vectors 2i and 2i+1 are near-duplicates for the first 50 pairs
    for i in range(50):
        src = base[2 * i]
        nrm = math.sqrt(sum(x * x for x in src))
        base[2 * i + 1] = [x + rng.gauss(0, 0.18 * nrm / math.sqrt(dim))
                           for x in src]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(base)],
        'vec_id long, v array<double>').cache()
    hits = 0
    probed = 10  # spot-check 10 planted pairs
    for i in range(probed):
        q = df.where(F.col('vec_id') == 2 * i).select(
            F.col('v').alias('q'))
        got = lsh_topk(df, q, k=2, dim=dim).collect()  # library defaults
        ids = [r.vec_id for r in got]
        if 2 * i + 1 in ids:
            hits += 1
    assert hits >= 8, f'planted-twin recall {hits}/{probed} at defaults'


def test_multiprobe_hamming2_recall_uplift(spark):
    """radius-2 multiprobe must retrieve at least as many planted twins as
    radius-1 at the same (sharp) plane count with fewer tables — the knob
    that trades probe count for table count at scale"""
    import math
    import random
    from pyspark.sql import functions as F
    from pyxml_spark.pipeline.similarity import lsh_topk

    rng = random.Random(13)
    dim, n = 64, 600
    base = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n)]
    for i in range(40):
        src = base[2 * i]
        nrm = math.sqrt(sum(x * x for x in src))
        base[2 * i + 1] = [x + rng.gauss(0, 0.18 * nrm / math.sqrt(dim))
                           for x in src]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(base)],
        'vec_id long, v array<double>').cache()

    def recall(hamming):
        hits = 0
        for i in range(8):
            q = df.where(F.col('vec_id') == 2 * i).select(
                F.col('v').alias('q'))
            got = lsh_topk(df, q, k=2, n_planes=16, n_tables=1,
                           probe_hamming=hamming, dim=dim).collect()
            if 2 * i + 1 in [r.vec_id for r in got]:
                hits += 1
        return hits

    r1, r2 = recall(1), recall(2)
    assert r2 >= r1
    assert r2 >= 5, f'radius-2 single-table recall {r2}/8'


def test_grid_multiprobe_hamming2(spark, vectors):
    """radius-2 grid probing must (a) probe exactly the 1 + n + C(n,2)
    lists of the query's orthant neighborhood and (b) never lose results
    vs radius 1 — every radius-1 candidate list is probed at radius 2"""
    from pyspark.sql import functions as F
    from pyxml_spark.pipeline.similarity import (_flip_masks, grid_assign,
                                                 grid_ivf_topk)
    n_bits = 6
    masks = _flip_masks(n_bits, 2)
    assert len(masks) == n_bits + n_bits * (n_bits - 1) // 2
    assert len(set(masks)) == len(masks) and 0 not in masks
    q = vectors.where(F.col('vec_id') == 7).select(F.col('v').alias('q'))
    r1 = {r.vec_id: r.cos_sim for r in
          grid_ivf_topk(vectors, q, k=10, n_bits=n_bits,
                        probe_hamming=1).collect()}
    r2 = {r.vec_id: r.cos_sim for r in
          grid_ivf_topk(vectors, q, k=10, n_bits=n_bits,
                        probe_hamming=2).collect()}
    # radius-2's candidate set is a superset, so its top-10 scores
    # dominate radius-1's
    assert min(r2.values()) >= min(r1.values())
    assert 7 in r1 and 7 in r2
    # superset check on the actual probed lists
    qlist = grid_assign(q.withColumnRenamed('q', 'v'), n_bits) \
        .first()['list_id']
    probed1 = {qlist} | {qlist ^ m for m in _flip_masks(n_bits, 1)}
    probed2 = {qlist} | {qlist ^ m for m in masks}
    assert probed1 < probed2


def test_lsh_topk_batch_matches_per_query(spark, vectors):
    """one batched plan over a (qid, q) table must return exactly the
    per-query lsh_topk results for every query"""
    from pyspark.sql import functions as F
    from pyxml_spark.pipeline.similarity import (build_lsh_index, lsh_topk,
                                                 lsh_topk_batch)
    qids = [0, 7, 42]
    queries = vectors.where(F.col('vec_id').isin(qids)) \
        .select(F.col('vec_id').alias('qid'), F.col('v').alias('q'))
    index = build_lsh_index(vectors, 16, 2, dim=64).cache()
    batch = lsh_topk_batch(vectors, queries, k=5, n_planes=16, n_tables=2,
                           dim=64, index=index).collect()
    got = {}
    for r in batch:
        got.setdefault(r.qid, []).append((r.rnk, r.vec_id,
                                          round(r.cos_sim, 6)))
    for qid in qids:
        q = vectors.where(F.col('vec_id') == qid).select(
            F.col('v').alias('q'))
        want = [(i + 1, r.vec_id, round(r.cos_sim, 6)) for i, r in
                enumerate(lsh_topk(vectors, q, k=5, n_planes=16,
                                   n_tables=2, dim=64,
                                   index=index).collect())]
        assert sorted(got[qid]) == want, qid
