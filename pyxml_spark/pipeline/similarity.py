"""Similarity search over embedding columns.

Two strategies:

* :func:`brute_force_topk` — exact cosine against a broadcast query vector;
  the correctness baseline (O(N) per query; fine fanned out over queries).
* :func:`lsh_topk` — the scale path: random-hyperplane LSH signatures
  (deterministic sign pattern per (table, plane, dim), no RNG state)
  bucket the corpus; a query probes its own bucket plus all
  Hamming-distance-1 buckets in each of ``n_tables`` independent tables
  and reranks exactly within the union of candidates. At 10^9+ vectors
  the bucket join replaces the full scan; signatures are computed
  JVM-side with higher-order functions (no python).

Parameter sizing (the r2 defaults were demo-scale — 6 planes probed ~11%
of the corpus): plane count should grow with the corpus so expected
bucket occupancy stays O(1) — ``n_planes ~= ceil(log2(n))`` (30 planes at
10^9 vectors) — and recall at high plane counts comes from probing
``n_tables`` independent plane families, not from fatter buckets. The
defaults here (16 planes x 4 tables, 8 grid bits) are sized for ~10^5+
corpora; tests/test_similarity.py asserts the probed candidate fraction
stays under a few percent AND that planted near-dups are still found at
these defaults.

Both return (vec_id, cos_sim) DataFrames. Recall of the LSH path vs brute
force is asserted in tests/test_similarity.py.
"""
from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, functions as F

__all__ = ['as_double_vec', 'cosine', 'brute_force_topk',
           'add_lsh_signature', 'build_lsh_index', 'lsh_topk',
           'lsh_topk_batch', 'build_ivf', 'ivf_topk', 'grid_assign',
           'grid_ivf_topk']


def as_double_vec(df: DataFrame, col: str = 'embedding',
                  out: str = 'v') -> DataFrame:
    return df.withColumn(out, F.transform(col, lambda x: x.cast('double')))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(c):
    return F.sqrt(F.aggregate(F.transform(c, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine(a, b):
    """cosine of two double-array columns: one left-fold dot product over
    the product of two left-fold norms"""
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(vec_df: DataFrame, query_df: DataFrame,
                     k: int = 10) -> DataFrame:
    """exact cosine top-k; query_df has one row with column ``q``"""
    scored = (vec_df.crossJoin(F.broadcast(query_df))
              .select('vec_id', cosine('v', 'q').alias('cos_sim')))
    return scored.orderBy(F.desc('cos_sim'), F.asc('vec_id')).limit(k)


def _sign_vector(plane: int, dim: int, table: int = 0) -> List[float]:
    """deterministic ±1 hyperplane from md5 avalanche over
    (table, plane, dim) — a fixed random-sign projection family per LSH
    table, no RNG state to ship. Table 0 keeps the original ``lsh:p:d``
    key so single-table signatures are stable across versions."""
    import hashlib
    key = f'lsh:{plane}' if table == 0 else f'lsh:t{table}:{plane}'
    signs = []
    for d in range(dim):
        byte = hashlib.md5(f'{key}:{d}'.encode()).digest()[0]
        signs.append(1.0 if byte & 1 else -1.0)
    return signs


def add_lsh_signature(vec_df: DataFrame, n_planes: int = 16,
                      col: str = 'v', out: str = 'sig',
                      dim: Optional[int] = None,
                      table: int = 0) -> DataFrame:
    """bit p of the signature = sign(dot(v, hyperplane_p)); hyperplanes are
    array literals, the dot products run JVM-side.

    ``dim`` (the embedding dimensionality) is required: the r3 fallback
    probed it with a driver-side ``.first()``, which silently inserted a
    driver action per call — x n_tables per index build — into what should
    be a purely lazy builder (VERDICT r3 #5)."""
    if dim is None:
        raise ValueError(
            'add_lsh_signature requires dim (embedding dimensionality): '
            'deriving it would need a driver-side row probe per call, '
            'which does not belong in a lazy plan builder')
    # all n_planes dot products in ONE aggregate traversal of the vector
    # with an n_planes-wide accumulator (the minhash_bands lesson: N
    # separate aggregate expressions cost ~10s of fixed analysis/codegen
    # per plan and re-traverse the array per plane). The sign matrix is
    # transposed to per-dimension columns so the fold visits v left to
    # right exactly like the old per-plane left fold — addition order and
    # therefore every float bit (and the DuckDB oracle) are unchanged.
    signs = [_sign_vector(p, dim, table) for p in range(n_planes)]
    # ONE py4j literal per matrix: element-wise F.lit trees cost thousands
    # of driver round-trips per plan (several seconds of pure plan-build)
    by_dim = F.lit([[signs[p][d] for p in range(n_planes)]
                    for d in range(dim)])
    acc = F.aggregate(
        F.zip_with(F.col(col), by_dim,
                   lambda x, s: F.transform(s, lambda si: si * x)),
        F.array_repeat(F.lit(0.0), n_planes),
        lambda a, contrib: F.zip_with(a, contrib, lambda u, w: u + w))
    powers = F.lit([1 << p for p in range(n_planes)])
    sig = F.aggregate(
        F.zip_with(acc, powers,
                   lambda proj, pw: F.when(proj >= 0, pw).otherwise(
                       F.lit(0))),
        F.lit(0), lambda a, x: a + x)
    return vec_df.withColumn(out, sig.cast('int'))


def lsh_topk_batch(vec_df: DataFrame, queries_df: DataFrame, k: int = 10,
                   n_planes: int = 16,
                   n_tables: int = 4,
                   probe_hamming: int = 1,
                   dim: Optional[int] = None,
                   index: Optional[DataFrame] = None) -> DataFrame:
    """(qid, q) queries -> (qid, vec_id, cos_sim, rnk) top-k per query, in
    ONE plan — the fan-out shape for similarity search at scale. The
    per-query :func:`lsh_topk` pays a fixed plan/codegen cost per driver
    job; batching amortizes it and turns probing into one broadcast join
    of (qid, probe) keys per table: Q queries contribute Q x (1 + masks)
    INT PAIRS per table — broadcastable far beyond the point where the
    query *vectors* would be. Candidate (qid, vec_id) pairs are deduped
    across tables, joined once to the rerank vectors, and ranked with a
    per-qid window (each qid's candidate group is bucket-occupancy-sized,
    so no large window partitions). The rerank's join back to the query
    vectors is deliberately NOT broadcast-hinted: the embedding column
    rides it, so at millions of queries a forced broadcast would OOM the
    driver — AQE picks broadcast when Q is actually small."""
    from pyspark.sql.window import Window
    idx = index if index is not None \
        else build_lsh_index(vec_df.select('vec_id', 'v'), n_planes,
                             n_tables, dim=dim)
    masks = vec_df.sparkSession.createDataFrame(
        [(m,) for m in [0] + _flip_masks(n_planes, probe_hamming)],
        'mask int')
    cand = None
    for t in range(n_tables):
        q_t = add_lsh_signature(
            queries_df.select('qid', F.col('q').alias('v')),
            n_planes, out='qsig', dim=dim, table=t)
        probe_keys = (q_t.crossJoin(masks)
                      .select('qid',
                              F.col('qsig').bitwiseXOR(F.col('mask'))
                              .alias('probe'))
                      .distinct())
        c_t = (idx.select('vec_id', F.col(f'sig{t}').alias('sig'))
               .join(F.broadcast(probe_keys),
                     F.col('sig') == F.col('probe'), 'inner')
               .select('qid', 'vec_id'))
        cand = c_t if cand is None else cand.unionByName(c_t)
    cands = cand.distinct()
    scored = (cands.join(vec_df.select('vec_id', 'v'), 'vec_id')
              .join(queries_df, 'qid')
              .select('qid', 'vec_id', cosine('v', 'q').alias('cos_sim')))
    w = Window.partitionBy('qid').orderBy(F.desc('cos_sim'),
                                          F.asc('vec_id'))
    return (scored.withColumn('rnk',
                              F.row_number().over(w).cast('long'))
            .where(F.col('rnk') <= k))


def build_ivf(vec_df: DataFrame, n_lists: int = 16, seed: int = 42):
    """IVF index: KMeans coarse quantizer (Spark ML) + cluster assignment.

    Returns (assigned DataFrame with a ``list_id`` column, fitted model).
    At scale the assignment is a narrow map stage and the per-query probe
    touches only ``n_probe/n_lists`` of the corpus.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = vec_df.withColumn('features', array_to_vector('v'))
    model = KMeans(k=n_lists, seed=seed, featuresCol='features',
                   predictionCol='list_id').fit(feats)
    assigned = model.transform(feats).drop('features')
    return assigned, model


def ivf_topk(assigned: DataFrame, model, query_df: DataFrame, k: int = 10,
             n_probe: int = 4) -> DataFrame:
    """probe the n_probe nearest inverted lists, exact rerank within them"""
    import numpy as np

    q = query_df.first()['q']
    centers = model.clusterCenters()
    qv = np.asarray(q, dtype='float64')
    dists = [float(np.linalg.norm(qv - np.asarray(c, dtype='float64')))
             for c in centers]
    probe = sorted(range(len(centers)), key=lambda i: dists[i])[:n_probe]
    cands = assigned.where(F.col('list_id').isin(probe))
    scored = (cands.crossJoin(F.broadcast(query_df))
              .select('vec_id', cosine('v', 'q').alias('cos_sim')))
    return scored.orderBy(F.desc('cos_sim'), F.asc('vec_id')).limit(k)


def grid_assign(vec_df: DataFrame, n_bits: int = 8, col: str = 'v',
                out: str = 'list_id') -> DataFrame:
    """deterministic IVF coarse quantizer: inverted list = orthant of the
    first ``n_bits`` dimensions (bit d set when v[d] >= 0).

    A KMeans-free quantizer with an exact DuckDB twin (the KMeans variant in
    :func:`build_ivf` stays available but has no SQL oracle); assignment is
    a narrow JVM-side map, no fitted model to ship.
    """
    lid = F.lit(0)
    for d in range(n_bits):
        lid = lid + F.when(F.element_at(F.col(col), d + 1) >= 0,
                           F.lit(1 << d)).otherwise(0)
    return vec_df.withColumn(out, lid.cast('int'))


def grid_ivf_topk(vec_df: DataFrame, query_df: DataFrame, k: int = 10,
                  n_bits: int = 8, probe_hamming: int = 1) -> DataFrame:
    """IVF probe over the grid quantizer: the query's own orthant plus all
    sign flips within ``probe_hamming`` (radius 1 = the n_bits single
    flips; radius 2 adds the C(n_bits, 2) pair flips — :func:`_flip_masks`),
    exact cosine rerank within the probed lists. At the default 8 bits /
    radius 1 the probe touches 9/256 lists ≈ 3.5% of a sign-balanced
    corpus (the r2 default of 3 bits probed 4/8 = 50%); radius 2 touches
    37/256 ≈ 14% for recall-critical queries."""
    corpus = grid_assign(vec_df, n_bits)
    query = grid_assign(query_df.withColumnRenamed('q', 'v'), n_bits) \
        .withColumnRenamed('v', 'q').withColumnRenamed('list_id', 'qlist')
    probes = [F.col('qlist')]
    probes += [F.col('qlist').bitwiseXOR(F.lit(m))
               for m in _flip_masks(n_bits, probe_hamming)]
    query = query.withColumn('probe', F.explode(F.array(*probes)))
    cands = corpus.join(F.broadcast(query),
                        corpus['list_id'] == query['probe'], 'inner')
    scored = cands.select('vec_id', cosine('v', 'q').alias('cos_sim')) \
        .dropDuplicates(['vec_id'])
    return scored.orderBy(F.desc('cos_sim'), F.asc('vec_id')).limit(k)


def _flip_masks(n_bits: int, hamming: int) -> List[int]:
    """XOR masks for all non-zero sign flips up to the probe Hamming
    radius (multiprobe: radius 2 adds the C(n,2) pair flips — the recall
    knob that matters at sharp plane counts, where a true neighbor most
    often disagrees on exactly one or two planes)"""
    masks = []
    if hamming >= 1:
        masks += [1 << d for d in range(n_bits)]
    if hamming >= 2:
        masks += [(1 << a) | (1 << b)
                  for a in range(n_bits) for b in range(a + 1, n_bits)]
    return masks


def build_lsh_index(vec_df: DataFrame, n_planes: int = 16,
                    n_tables: int = 4,
                    dim: Optional[int] = None) -> DataFrame:
    """(vec_id, v, sig0..sig{n_tables-1}): the multi-table LSH index.

    Build once, persist (parquet/cache), and pass to :func:`lsh_topk` as
    ``index`` so the per-corpus signature pass (n_tables x n_planes dot
    products per vector) is amortized across queries instead of recomputed
    per query — the difference between an index lookup and a re-index at
    10^9 vectors (scripts/ann_soak.py measures both shapes)."""
    out = vec_df
    for t in range(n_tables):
        out = add_lsh_signature(out, n_planes, out=f'sig{t}', dim=dim,
                                table=t)
    return out


def lsh_topk(vec_df: DataFrame, query_df: DataFrame, k: int = 10,
             n_planes: int = 16,
             n_tables: int = 4,
             probe_hamming: int = 1,
             dim: Optional[int] = None,
             index: Optional[DataFrame] = None) -> DataFrame:
    """multi-table bucketed ANN: each of ``n_tables`` independent plane
    families buckets the corpus; a candidate shares the query's bucket
    (plus all buckets within the probe Hamming radius) in at least one
    table; the union is reranked exactly. High plane counts keep buckets
    O(1)-occupied at scale, the independent tables recover the recall a
    single sharp table loses. ``dim`` is required (see
    :func:`add_lsh_signature`).

    Shape (VERDICT r3 #6): the r3 version posexploded the corpus
    x n_tables with the full embedding riding every row — 4x shuffle/join
    amplification at 10^9 vectors. Now each table runs a broadcast
    LEFT SEMI join of (vec_id, sig) against that table's ~17 probe keys —
    the corpus embedding column never enters the probe joins — the
    candidate-id unions are deduped, and ONE exact rerank joins the ids
    back to their vectors. Candidate volume is a few percent of the
    corpus (asserted in tests/test_similarity.py), so AQE picks a
    broadcast join for the rerank at realistic scales.

    Pass a persisted :func:`build_lsh_index` result as ``index`` to skip
    the per-query signature pass over the corpus (``vec_df`` then supplies
    only the rerank vectors)."""
    idx = index if index is not None \
        else build_lsh_index(vec_df.select('vec_id', 'v'), n_planes,
                             n_tables, dim=dim)
    masks = vec_df.sparkSession.createDataFrame(
        [(m,) for m in [0] + _flip_masks(n_planes, probe_hamming)],
        'mask int')
    cand = None
    for t in range(n_tables):
        q_t = add_lsh_signature(query_df.withColumnRenamed('q', 'v'),
                                n_planes, out='qsig', dim=dim, table=t)
        probe_keys = (q_t.crossJoin(masks)
                      .select(F.col('qsig').bitwiseXOR(F.col('mask'))
                              .alias('probe'))
                      .distinct())
        c_t = (idx.select('vec_id', F.col(f'sig{t}').alias('sig'))
               .join(F.broadcast(probe_keys),
                     F.col('sig') == F.col('probe'), 'left_semi')
               .select('vec_id'))
        cand = c_t if cand is None else cand.unionByName(c_t)
    cand_ids = cand.distinct()
    scored = (vec_df.select('vec_id', 'v').join(cand_ids, 'vec_id')
              .crossJoin(F.broadcast(query_df))
              .select('vec_id', cosine('v', 'q').alias('cos_sim')))
    return scored.orderBy(F.desc('cos_sim'), F.asc('vec_id')).limit(k)
