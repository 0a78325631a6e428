"""Multi-band MinHash-LSH near-duplicate detection.

Replaces the round-1 2-permutation single-band scheme (VERDICT r1 finding #1:
44% of all pairs collided into shared bands — a quadratic within-bucket
blowup at scale). The scale-safe design:

* **One hash per token.** The base hash ``h(w)`` is the first 60 bits of
  ``md5(w)``; the :data:`N_PERMS` permutations are universal-hash derivations
  ``h_i(w) = (a_i * h(w) + b_i) mod p`` (odd ``a_i``, prime ``p = 2^31-1``),
  so signature cost is one md5 + cheap integer math per token instead of
  ``N_PERMS`` md5 passes.
* **b x r banding.** 64 permutations grouped into :data:`N_BANDS` = 8 bands
  of :data:`N_ROWS` = 8 rows; a pair collides in a band only when all 8
  minima agree. The S-curve threshold ``(1/b)^(1/r) ~= 0.77`` is tuned to the
  pipeline's 0.8 jaccard dup cutoff, so candidates concentrate on genuine
  near-dups.
* **Rank-window bucket cap.** Within a (band_id, band_key) bucket, docs are
  ranked by doc_id and each doc pairs only with its next
  :data:`PAIR_WINDOW` successors (``LEAD``, no self-join). Worst-case
  candidate count is ``N_BANDS * PAIR_WINDOW * n`` — linear in corpus size
  even when a degenerate bucket holds millions of near-identical docs —
  while every bucket's members remain connected through the overlapping
  windows, so connected-component keeper selection sees the same dup
  clusters as the uncapped quadratic join.

All signature math is JVM-side (higher-order functions, no Python) and has
an exact DuckDB twin (__spark_entry__.oracle_sql uses the same constants).
"""
from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.window import Window

__all__ = ['N_PERMS', 'N_BANDS', 'N_ROWS', 'PAIR_WINDOW', 'MH_PRIME',
           'N_SUBBUCKETS', 'HOT_BUCKET_THRESHOLD', 'perm_coeffs',
           'salt_expr', 'token_sets', 'minhash_bands', 'candidate_pairs',
           'incremental_candidate_pairs', 'jaccard_pairs',
           'dup_components', 'cleanup_checkpoint_runs']


def cleanup_checkpoint_runs(spark, checkpoint_dir: str) -> None:
    """delete all ``dupc-<uuid>`` run dirs under ``checkpoint_dir`` —
    reliable checkpoints are never reclaimed by Spark itself, so every
    job that passes ``checkpoint_dir`` to :func:`dup_components` MUST
    call this once its own output is durably written (the final round's
    files are read by the returned DataFrame until then). Also sweeps
    dirs left by crashed runs. Hadoop FS, so HDFS/object stores work."""
    sc = spark.sparkContext
    hp = sc._jvm.org.apache.hadoop.fs.Path(checkpoint_dir)
    fs = hp.getFileSystem(sc._jsc.hadoopConfiguration())
    if fs.exists(hp):
        for st in fs.listStatus(hp):
            if st.getPath().getName().startswith('dupc-'):
                fs.delete(st.getPath(), True)

#: universal-hash modulus (Mersenne prime 2^31 - 1): keeps a_i*h + b_i
#: inside exact int64 range in both Spark and DuckDB
MH_PRIME = 2_147_483_647
N_PERMS = 64
N_BANDS = 8
N_ROWS = N_PERMS // N_BANDS
#: per-bucket rank-window cap: each doc pairs with at most this many
#: successors per band
PAIR_WINDOW = 3
#: salt fan-out inside a band bucket: a degenerate bucket (millions of
#: identical docs hashing to one band key) is sorted by this many parallel
#: window tasks instead of one straggler
N_SUBBUCKETS = 8
#: buckets at or under this size keep the exact unsalted full-bucket
#: rank-window pairing (no recall loss in small mixed buckets — splitting
#: a 3-doc bucket can hide a true pair behind an interloper); only buckets
#: that actually need straggler protection are salted, and a bucket this
#: hot is near-certainly a single near-identical cluster, where sub-bucket
#: chains preserve connectivity
HOT_BUCKET_THRESHOLD = 512


def perm_coeffs(i: int) -> tuple[int, int]:
    """deterministic (a_i, b_i) for permutation i, derived from md5(i) so
    the multipliers are well-mixed (small sequential multipliers barely
    reorder the base hashes — few mod-p wraps — which correlates the
    permutations and collapses band independence; measured 11% missed
    near-dups vs 0% with mixed coefficients). ``a`` is nonzero mod p, so
    ``h -> (a*h + b) mod p`` is a bijection; ``a*h + b < 2^63`` stays exact
    int64 in Spark and DuckDB. Shared with the DuckDB oracle."""
    import hashlib
    d = hashlib.md5(f'mh:{i}'.encode()).digest()
    a = 1 + int.from_bytes(d[:8], 'big') % (MH_PRIME - 1)
    b = int.from_bytes(d[8:16], 'big') % MH_PRIME
    return a, b


def token_sets(df: DataFrame, text_col: str = 'text',
               id_col: str = 'doc_id') -> DataFrame:
    """(id, w: array<string>, hs: array<long>) — distinct token set plus the
    60-bit base hash of each token (one md5 per token, materialized once)"""
    words = F.array_distinct(F.split(F.trim(text_col), r'\s+'))
    hs = F.transform(
        words,
        lambda w: F.conv(F.substring(F.md5(w.cast('binary')), 1, 15),
                         16, 10).cast('long') % MH_PRIME)
    return (df.where(F.trim(text_col) != '')
            .select(F.col(id_col).alias('doc_id'), words.alias('w'),
                    hs.alias('hs')))


def minhash_bands(tokens: DataFrame) -> DataFrame:
    """token_sets output -> exploded (doc_id, band_id: long, band_key).

    All N_PERMS minima come from one aggregate over the hash array with
    an N_PERMS-wide accumulator (zip_with against literal coefficient
    arrays + elementwise least). The naive formulation — N_PERMS separate
    ``array_min(transform(hs, ...))`` expressions — re-traverses the array
    per permutation and, worse, blows up analysis/codegen (~10s of fixed
    plan overhead); the single-pass form measured 4.6x faster end-to-end.

    The rows come from exploding the literal band ids beside the staged
    ``mins``, each band key sliced out per exploded row. Exploding an
    array *attribute* instead (the per-doc array of band keys) makes the
    optimizer infer ``size(bands) > 0 AND isnotnull(bands)`` for the
    Generate and push that filter below the Projects that built the
    array, pasting the aggregate into it: the executed plan then ran the
    64-wide aggregate 65 times per row. A literal sequence infers no
    filter, so the aggregate runs once (tests/test_dedup_lsh.py pins it).
    """
    # one py4j literal per coefficient array (element-wise F.lit trees
    # cost a driver round-trip per element — the similarity.py lesson)
    arr_a = F.lit([perm_coeffs(i)[0] for i in range(N_PERMS)])
    arr_b = F.lit([perm_coeffs(i)[1] for i in range(N_PERMS)])
    init = F.array_repeat(F.lit(MH_PRIME).cast('long'), N_PERMS)
    mins = F.aggregate(
        F.col('hs'), init,
        lambda acc, h: F.zip_with(
            acc,
            F.zip_with(arr_a, arr_b, lambda a, b: (h * a + b) % MH_PRIME),
            lambda x, y: F.least(x, y)))
    staged = tokens.select('doc_id', mins.alias('mins'))
    band = F.explode(F.sequence(F.lit(0), F.lit(N_BANDS - 1)))
    key = F.concat_ws('-', F.slice('mins', F.col('b') * N_ROWS + 1, N_ROWS)
                      .cast('array<string>'))
    return (staged.select('doc_id', 'mins', band.alias('b'))
            .select('doc_id', F.col('b').cast('long').alias('band_id'),
                    key.alias('band_key')))


def salt_expr(doc_col: str = 'doc_id', band_col: str = 'band_id',
              n_subbuckets: int = N_SUBBUCKETS):
    """band-dependent 60-bit md5 sub-bucket salt (shared by
    candidate_pairs, the DuckDB oracle builder, the python model in
    tests/test_dedup_lsh.py, and scripts/dedup_soak.py — one definition so
    the partitioning can never drift between them). Including the band id
    decorrelates the sub-bucket draw across bands: a near-dup pair split
    by the salt in one band gets an independent chance in every other
    band it collides in."""
    return (F.conv(F.substring(F.md5(F.concat_ws(
        ':', F.col(band_col).cast('string'), F.col(doc_col).cast('string'))
        .cast('binary')), 1, 15), 16, 10).cast('long') % n_subbuckets)


def candidate_pairs(bands: DataFrame,
                    pair_window: int = PAIR_WINDOW,
                    n_subbuckets: int = N_SUBBUCKETS,
                    hot_threshold: int = HOT_BUCKET_THRESHOLD) -> DataFrame:
    """distinct (doc_a, doc_b) candidates: linear output, no self-join, and
    no single-task straggler on a degenerate bucket.

    Buckets at or under ``hot_threshold`` docs keep the exact full-bucket
    rank-window pairing (each doc with its next ``pair_window`` successors
    by doc_id) — splitting a small mixed bucket could hide a true pair
    behind an interloper. Buckets over the threshold — found with a
    map-side-combined count whose reduce side sees one row per bucket,
    never the bucket's rows, and broadcast back as a (small) hot-key set —
    are salted into ``n_subbuckets`` sub-buckets by the band-dependent
    :func:`salt_expr`, so a bucket holding millions of near-identical docs
    is sorted by parallel window tasks instead of one. Sub-buckets are
    re-connected by chaining their minimum doc_ids with a second LEAD
    window over at most ``n_subbuckets`` rows per bucket, keeping the
    bucket one connected component for keeper selection. Worst-case
    candidates stay ``N_BANDS * (pair_window + 1) * n`` — linear in corpus
    size."""
    sizes = bands.groupBy('band_id', 'band_key').agg(
        F.count('*').alias('_bsz'))
    hot = (sizes.where(F.col('_bsz') > hot_threshold)
           .select('band_id', 'band_key', F.lit(True).alias('_hot')))
    salted = (bands.join(F.broadcast(hot), ['band_id', 'band_key'], 'left')
              .select('band_id', 'band_key', 'doc_id',
                      F.when(F.col('_hot'),
                             salt_expr(n_subbuckets=n_subbuckets))
                      .otherwise(F.lit(0)).alias('salt')))
    w = Window.partitionBy('band_id', 'band_key', 'salt').orderBy('doc_id')
    succ = F.array(*[F.lead('doc_id', t).over(w)
                     for t in range(1, pair_window + 1)])
    staged = salted.select(F.col('doc_id').alias('doc_a'),
                           succ.alias('succ'))
    # exploding the attribute is safe here: the filter the optimizer
    # infers for it (size(succ) > 0) cannot pass the Window, so the LEADs
    # are not pasted into it (minhash_bands has the case where it can)
    within = (staged.select('doc_a', F.explode('succ').alias('doc_b'))
              .where(F.col('doc_b').isNotNull()))
    reps = (salted.groupBy('band_id', 'band_key', 'salt')
            .agg(F.min('doc_id').alias('rep')))
    wc = Window.partitionBy('band_id', 'band_key').orderBy('rep')
    chain = (reps.select(F.col('rep').alias('doc_a'),
                         F.lead('rep', 1).over(wc).alias('doc_b'))
             .where(F.col('doc_b').isNotNull()))
    return within.union(chain).distinct()


def dup_components(tokens: DataFrame, dup_pairs: DataFrame,
                   max_iters: int = 50,
                   checkpoint_dir: Optional[str] = None) -> DataFrame:
    """(doc_id, keeper): connected components of the dup-pair graph via
    iterative min-label propagation; keeper = the component's minimum
    doc_id, singletons keep themselves.

    Each round (1) sends every node's label across its edges and takes the
    elementwise min, then (2) applies one pointer-doubling shortcut
    (``label <- label(label)`` — every label value is itself a doc_id, so
    a self-join hops the label chain). Step 2 makes chain-shaped
    components — exactly what the rank-window candidate scheme produces on
    a degenerate bucket — converge in O(log diameter) rounds instead of
    O(diameter), so a fixed ``max_iters`` covers any realistic corpus
    (2^50 diameter at the default). Convergence is verified on the label
    sum, taken by an Observation on each round's eager checkpoint (one
    Spark execution per round): labels only decrease, so the label
    sum is a monotone witness — aggregated as decimal(38,0) so it stays
    EXACT at any corpus size (an int64 sum of 10^12 large doc_ids wraps
    silently with ANSI off, and the raise-on-non-convergence guarantee
    rides on this witness). Exhausting ``max_iters`` without the sum
    stabilizing raises instead of silently returning split components.

    Lineage between rounds is truncated by ``checkpoint()`` into
    ``checkpoint_dir`` when given (VERDICT r3 #2: reliable checkpointing —
    on a real cluster the HDFS/object-store copy survives executor loss
    mid-iteration; jobs/dedup.py plumbs ``--checkpoint-dir`` through), or
    by ``localCheckpoint`` otherwise (fine single-node / sandbox; executor
    loss would fail the job rather than corrupt it, since localCheckpoint
    blocks recompute of lost partitions).

    Checkpoint lifecycle (review r4): Spark never deletes reliable
    checkpoints itself, so each round's files land in a per-round subdir
    of a per-invocation ``dupc-<uuid>`` run dir, and the superseded round
    is deleted (Hadoop FS, so HDFS/object stores work) as soon as the
    next round's eager checkpoint is materialized — storage is bounded at
    ~2 label-table copies + edges regardless of round count. The final
    round's files must outlive this call (the returned DataFrame reads
    them); the caller deletes the run dir after materializing its output
    (jobs/dedup.py does). The session's previous checkpoint dir is
    restored on exit.
    """
    sc = tokens.sparkSession.sparkContext
    run_dir = None
    restore_dir = None
    if checkpoint_dir is not None:
        import uuid
        jopt = sc._jsc.sc().getCheckpointDir()
        restore_dir = jopt.get() if jopt.isDefined() else None
        run_dir = f"{checkpoint_dir.rstrip('/')}/dupc-{uuid.uuid4().hex}"

    def _delete(path: str) -> None:
        hp = sc._jvm.org.apache.hadoop.fs.Path(path)
        hp.getFileSystem(sc._jsc.hadoopConfiguration()).delete(hp, True)

    def _truncate(df: DataFrame, tag: str) -> DataFrame:
        if run_dir is None:
            return df.localCheckpoint(eager=True)
        sc.setCheckpointDir(f'{run_dir}/{tag}')
        return df.checkpoint(eager=True)

    def _labels(df: DataFrame, tag: str):
        # the witness rides the eager checkpoint's own execution as an
        # Observation, so a round costs one Spark execution
        obs = Observation()
        df = _truncate(df.observe(
            obs, F.sum(F.col('label').cast('decimal(38,0)')).alias('s')),
            tag)
        return df, obs.get['s']

    edges = dup_pairs.select(F.col('doc_a').alias('src'),
                             F.col('doc_b').alias('dst'))
    edges = edges.union(dup_pairs.select(F.col('doc_b').alias('src'),
                                         F.col('doc_a').alias('dst')))
    edges = _truncate(edges, 'edges')
    labels, prev_sum = _labels(
        tokens.select('doc_id', F.col('doc_id').alias('label')), 'r0')
    try:
        for i in range(1, max_iters + 1):
            # check AFTER each update so every one of the max_iters rounds
            # is a validated doubling step (check-before-update would
            # leave the last round unvalidated and spuriously raise on a
            # graph that converges exactly at the budget)
            msgs = (edges.join(labels.withColumnRenamed('doc_id', 'src'),
                               'src')
                    .select(F.col('dst').alias('doc_id'), 'label'))
            labels = (labels.union(msgs)
                      .groupBy('doc_id').agg(F.min('label').alias('label')))
            shortcut = labels.select(F.col('doc_id').alias('label'),
                                     F.col('label').alias('label2'))
            labels, cur_sum = _labels(
                labels.join(shortcut, 'label', 'left')
                .select('doc_id',
                        F.least('label', F.coalesce('label2', 'label'))
                        .alias('label')), f'r{i}')
            if run_dir is not None:
                # round i's eager checkpoint is self-contained; round i-1
                # is superseded and can go — bounds storage at ~2 copies
                _delete(f'{run_dir}/r{i - 1}')
            if cur_sum == prev_sum:
                return labels.select('doc_id',
                                     F.col('label').alias('keeper'))
            prev_sum = cur_sum
        raise RuntimeError(
            f'dup_components: label propagation did not converge within '
            f'{max_iters} rounds — with pointer doubling that covers '
            f'component diameters far beyond any real corpus, so this '
            f'indicates corrupt candidate pairs (or raise max_iters)')
    finally:
        if run_dir is not None and restore_dir is not None:
            sc.setCheckpointDir(restore_dir)


def incremental_candidate_pairs(new_bands: DataFrame,
                                index_bands: DataFrame,
                                broadcast_keys: bool = True,
                                n_subbuckets: int = N_SUBBUCKETS,
                                hot_threshold: int = HOT_BUCKET_THRESHOLD
                                ) -> DataFrame:
    """distinct CANDIDATE (doc_a=new, doc_b=existing) links for a
    freshly ingested shard against the PERSISTED corpus band index —
    daily ingest dedup without recomputing a single corpus signature.

    VERIFICATION CONTRACT — same as :func:`candidate_pairs`: these are
    LSH candidates at the band threshold, NOT verified duplicates. Run
    them through :func:`jaccard_pairs` (token sets unioned over shard +
    linked corpus docs) and filter ``is_dup`` before any keeper or
    component use, exactly as jobs/dedup.py does for the batch path —
    an unverified chance band collision fed to :func:`dup_components`
    would merge two non-duplicate components.

    Scale shape, in order:
    (1) the shard's distinct band keys broadcast into a join with the
        index (``broadcast_keys=True``, the daily-shard case; pass False
        for a bulk backfill and AQE plans the equi-join), so only index
        rows in buckets the shard hits survive — the join filters them,
        the scan still reads the whole index. These ``hits`` feed both the
        bucket sizes and the member links, so they are materialized once
        by an eager local checkpoint (one Spark execution at call time,
        as each dup_components round is) and the index is scanned once;
    (2) bucket linking mirrors candidate_pairs' two regimes:
        * small buckets (<= hot_threshold surviving members): the new
          doc links to EVERY existing member — a single-rep link could
          be a chance collision (interloper) hiding the true dup behind
          it, the round-3 salting lesson; fan-out bounded by
          hot_threshold per bucket;
        * hot buckets: one MIN per (bucket, band-dependent salt_expr
          sub-bucket) — a map-side-combinable aggregate, never a
          per-bucket window sort; a hot bucket's near-identical members
          are mutually chained in the corpus dup_pairs, so
          ``n_subbuckets`` verified links suffice to merge components;
    (3) output bounded by N_BANDS * hot_threshold links per new doc —
        linear in shard size, independent of corpus size.

    Composition for a full ingest: verified links from here + verified
    intra-shard dups from ``candidate_pairs(new_bands)`` (shard-internal
    duplicates never touch the index) + the corpus dup_pairs, all into
    :func:`dup_components`; only components the shard touches change.
    STAGE ``new_bands`` (and read the index) from parquet first — both
    sides are referenced more than once and lazy recompute would re-run
    the signature job per reference (the round-3 bands.parquet lesson)."""
    keys = new_bands.select('band_id', 'band_key').distinct()
    keys_side = F.broadcast(keys) if broadcast_keys else keys
    hits = (index_bands.join(keys_side, ['band_id', 'band_key'])
            .localCheckpoint(eager=True))
    sizes = hits.groupBy('band_id', 'band_key').agg(
        F.count('*').alias('_bsz'))
    hot = (sizes.where(F.col('_bsz') > hot_threshold)
           .select('band_id', 'band_key', F.lit(True).alias('_hot')))
    flagged = hits.join(F.broadcast(hot), ['band_id', 'band_key'], 'left')
    small = (flagged.where(F.col('_hot').isNull())
             .select('band_id', 'band_key',
                     F.col('doc_id').alias('doc_b')))
    hot_reps = (flagged.where(F.col('_hot'))
                .groupBy('band_id', 'band_key',
                         salt_expr(n_subbuckets=n_subbuckets)
                         .alias('_salt'))
                .agg(F.min('doc_id').alias('doc_b'))
                .select('band_id', 'band_key', 'doc_b'))
    existing = small.unionByName(hot_reps)
    return (new_bands.join(existing, ['band_id', 'band_key'])
            .select(F.col('doc_id').alias('doc_a'), 'doc_b')
            .distinct())


def jaccard_pairs(tokens: DataFrame, cands: DataFrame,
                  dup_threshold_x10k: int = 8000) -> DataFrame:
    """exact jaccard verification of candidate pairs (integer x10000 math
    for cross-engine determinism)"""
    a = tokens.select(F.col('doc_id').alias('doc_a'), F.col('w').alias('wa'))
    c = tokens.select(F.col('doc_id').alias('doc_b'), F.col('w').alias('wb'))
    j = cands.join(a, 'doc_a').join(c, 'doc_b')
    inter = F.size(F.array_intersect('wa', 'wb')).cast('long')
    union = F.size(F.array_union('wa', 'wb')).cast('long')
    jac = F.when(union == 0, F.lit(0)).otherwise(
        F.floor(inter * 10000 / union)).cast('long')
    return j.select('doc_a', 'doc_b', jac.alias('jaccard_x10k'),
                    (jac >= dup_threshold_x10k).alias('is_dup'))
