"""Corpus curation: the gate/score/pack operators a training-data
pipeline runs, each defined once here.

The oracle-checked contract rows in __spark_entry__ and jobs/curate.py
call these functions, so the contract's oracle checks pin exactly the
code the job runs: column builders (:func:`token_count`,
:func:`quality_columns`, :func:`lang_columns`), :func:`repetition_x10k`,
:func:`score_documents` with its gate :func:`passes_gates`,
:func:`decontaminate`, :func:`pack_sequences` and the mixture sampler
(:func:`mixture_copies`).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ['QUALITY_MIN_TOKENS', 'QUALITY_MAX_TOKENS', 'REP_MAX_X10K',
           'token_count', 'quality_columns', 'lang_columns',
           'score_documents', 'repetition_x10k', 'passes_gates',
           'decontaminate', 'pack_sequences', 'mixture_copies',
           'source_weight_cols']

QUALITY_MIN_TOKENS = 5
QUALITY_MAX_TOKENS = 500
#: default gate: drop docs whose top bigram takes > 20% of all bigrams
REP_MAX_X10K = 2000

_EN_STOPWORDS = ('the', 'and', 'of', 'to', 'in')
#: high-frequency English character trigrams for the n-gram scorer
_EN_TRIGRAMS = ('the', 'ing', 'ent', 'ion', 'and')


def token_count(text_col: str = 'text') -> Column:
    """whitespace token count (long): 0 for blank text, else the number
    of whitespace-separated tokens of the trimmed text"""
    trimmed = F.trim(F.col(text_col))
    return F.when(trimmed == '', F.lit(0)).otherwise(
        F.size(F.split(trimmed, r'\s+'))).cast('long')


def quality_columns(text_col: str = 'text') -> dict:
    """{n_tokens, chars_ns, is_quality}: length/word-shape quality gate
    with integer-only math (token bounds, 3..12 non-space chars/token)"""
    n_tokens = token_count(text_col)
    chars_ns = F.length(F.regexp_replace(text_col, r'\s+', '')).cast('long')
    return {'n_tokens': n_tokens, 'chars_ns': chars_ns,
            'is_quality': ((n_tokens >= QUALITY_MIN_TOKENS)
                           & (n_tokens <= QUALITY_MAX_TOKENS)
                           & (chars_ns >= 3 * n_tokens)
                           & (chars_ns <= 12 * n_tokens))}


def lang_columns(text_col: str = 'text') -> dict:
    """{en_hits, tri_hits, lang}: language-ID heuristic from stopword hits
    plus character-trigram frequency (occurrences counted via length
    difference — exact in both engines)"""
    padded = F.concat(F.lit(' '), F.col(text_col), F.lit(' '))
    en_hits = sum((F.instr(padded, f' {w} ') > 0).cast('long')
                  for w in _EN_STOPWORDS)
    tri_hits = sum(((F.length(text_col)
                     - F.length(F.replace(F.col(text_col), F.lit(g)))) / 3)
                   .cast('long') for g in _EN_TRIGRAMS)
    return {'en_hits': en_hits, 'tri_hits': tri_hits,
            'lang': F.when((en_hits >= 2) | (tri_hits >= 3),
                           F.lit('en')).otherwise(F.lit('unk'))}


def repetition_x10k(df: DataFrame, id_col: str = 'doc_id',
                    text_col: str = 'text') -> DataFrame:
    """(doc_id, n_bigrams, top_count, rep_x10k): Gopher-style repetition
    signal — the fraction of the document's word bigrams taken by the most
    frequent bigram, as an integer x10000.

    Linear plan: the bigram array is staged in a Project, explode_outer'd
    (so zero-bigram docs keep their row), counted per (doc_id, bigram),
    then reduced per doc — two hash aggregates with map-side partial
    combine. A row-local form (array_distinct + a nested filter per
    distinct bigram) rescans the whole array once per distinct bigram:
    O(D*N) inside a single row's expression, ~1e10 comparisons on a
    100k-token document. tests/test_textops.py pins the flat cost on a
    50k-token doc and asserts array_distinct is absent from the plan."""
    # stage the split token array in its own Project: element_at inside the
    # transform lambda would otherwise re-evaluate the split per element
    # (no common-subexpression elimination across higher-order-function
    # boundaries) — quadratic bigram *construction* on long documents
    ws = df.select(F.col(id_col).alias('doc_id'),
                   F.split(F.trim(text_col), r'\s+').alias('ws'))
    n = F.size('ws')
    bg = F.when(n >= 2, F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat(F.element_at('ws', i), F.lit(' '),
                           F.element_at('ws', i + 1)))) \
        .otherwise(F.array().cast('array<string>'))
    staged = ws.select('doc_id', bg.alias('bg'))
    exploded = staged.select('doc_id',
                             F.explode_outer('bg').alias('bigram'))
    cnt = F.when(F.col('bigram').isNull(), F.lit(0)) \
        .otherwise(F.col('cnt'))
    agg = (exploded.groupBy('doc_id', 'bigram')
           .agg(F.count('*').alias('cnt'))
           .groupBy('doc_id')
           .agg(F.sum(cnt).cast('long').alias('n_bigrams'),
                F.max(cnt).cast('long').alias('top_count')))
    rep = F.when(F.col('n_bigrams') <= 0, F.lit(0)).otherwise(
        F.floor(F.col('top_count') * 10000 / F.col('n_bigrams')))
    return agg.select('doc_id', 'n_bigrams', 'top_count',
                      rep.cast('long').alias('rep_x10k'))


def score_documents(df: DataFrame, id_col: str = 'doc_id',
                    text_col: str = 'text') -> DataFrame:
    """input columns + (n_tokens, chars_ns, is_quality, lang, rep_x10k).

    One projection pass for the shape/lang columns plus the repetition
    aggregate joined back on the id — no python, no windows."""
    scored = df.withColumns({**quality_columns(text_col),
                             'lang': lang_columns(text_col)['lang']})
    rep = repetition_x10k(df, id_col, text_col) \
        .select(F.col('doc_id').alias(id_col), 'rep_x10k')
    return scored.join(rep, id_col, 'left') \
        .fillna({'rep_x10k': 0})


def passes_gates(max_rep_x10k: int = REP_MAX_X10K) -> Column:
    """the curation gate over :func:`score_documents` output: quality
    shape, English, and top-bigram repetition at most ``max_rep_x10k``"""
    return (F.col('is_quality') & (F.col('lang') == 'en')
            & (F.col('rep_x10k') <= max_rep_x10k))


def decontaminate(df: DataFrame, bench_df: DataFrame,
                  id_col: str = 'doc_id', text_col: str = 'text',
                  bench_text_col: str = 'text', k: int = 8,
                  broadcast: bool = True) -> DataFrame:
    """(id, n_gram_hits, contaminated): docs sharing any exact k-token
    gram with the benchmark corpus (GPT-3/Gopher-style n-gram
    decontamination).

    Scale shape: the benchmark gram set is distinct-small and broadcasts
    into the corpus gram join; the corpus side reduces to distinct
    (doc, gram-hash) rows. Grams travel as 60-bit md5 hashes
    (deterministic in both engines, collision odds ~n²/2^60), so the
    distinct/join shuffles move 8-byte keys instead of ~50-char strings.
    Cost is two hash shuffles, never a corpus x corpus comparison. The
    token array is staged in a Project and each doc explodes its gram
    start offsets, guarded with when(n >= k) because Spark's
    sequence(1, stop) turns descending for stop < 1; each exploded row
    hashes its one gram, so the plan holds no higher-order function.
    Exploding a staged array of gram hashes would paste the array's
    builder into the filter the optimizer infers for the Generate and
    re-split the text once per gram (CLAUDE.md, MinHash gotchas). The
    benchmark gram set is built from ``bench_df`` alone — deriving it
    from the corpus grams would re-run the full-corpus
    tokenize+hash+explode for the broadcast side.

    SMALL-SIDE CONTRACT (same style as pipeline/temporal.py): ``bench_df``
    must be an eval/benchmark suite — thousands to low millions of
    distinct k-gram hashes (8 bytes each), i.e. MBs, not a corpus slice.
    The forced broadcast hint exists because the planner's size estimate
    for the exploded+distinct gram relation is unreliable; it would OOM
    the driver if handed a corpus-scale bench_df. For an untrusted or
    possibly-large benchmark set pass ``broadcast=False`` — the join
    falls back to AQE's own strategy choice (shuffle join unless its
    runtime size estimate qualifies the bench side), identical output."""
    def gram_rows(d: DataFrame, textc: str, gid_col=None) -> DataFrame:
        head = [F.col(gid_col).alias('_gid')] if gid_col else []
        keep = [F.col('_gid')] if gid_col else []
        ws = d.where(F.trim(textc) != '').select(
            *head, F.split(F.trim(textc), r'\s+').alias('ws'))
        n = F.size('ws')
        starts = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1)))
        g = F.conv(F.substring(
            F.md5(F.concat_ws(' ', F.slice('ws', F.col('i'), k))
                  .cast('binary')), 1, 15), 16, 10).cast('long')
        return (ws.select(*keep, 'ws', F.explode(starts).alias('i'))
                .select(*keep, g.alias('g'))
                .distinct())
    # gram_rows' gid-less branch is already a distinct single 'g' column
    bench = gram_rows(bench_df, bench_text_col)
    corpus = gram_rows(df, text_col, gid_col=id_col)
    bench_side = F.broadcast(bench) if broadcast else bench
    hits = (corpus.join(bench_side, 'g')
            .groupBy('_gid').agg(F.count('*').alias('n_gram_hits')))
    out = df.select(F.col(id_col)).join(
        hits.withColumnRenamed('_gid', id_col), id_col, 'left')
    return out.select(
        id_col,
        F.coalesce('n_gram_hits', F.lit(0)).cast('long')
        .alias('n_gram_hits'),
        (F.coalesce('n_gram_hits', F.lit(0)) > 0).alias('contaminated'))


def pack_sequences(df: DataFrame, budget: int) -> DataFrame:
    """context-window packing: ``df`` (doc_id, source, n_tokens, ...)
    plus ``tokens_before`` (tokens of the same source's lower doc_ids) and
    ``pack_id = tokens_before // budget`` — docs in stable doc_id order
    per source, a boundary doc belongs to the pack where it starts.

    The cumulative sum is the chunked two-phase prefix scan
    (pipeline/prefix.py): no driver loop AND no task ever sorts a whole
    source (a bare per-source window would single-task a popular source's
    sort at 10^12 rows)."""
    from .prefix import running_sum_before
    d = running_sum_before(df, 'source', 'doc_id', 'n_tokens',
                           'tokens_before')
    return d.withColumn(
        'pack_id', F.floor(F.col('tokens_before') / budget).cast('long'))


def mixture_copies(df: DataFrame, whole, frac16,
                   id_col: str = 'doc_id',
                   out_col: str = 'copy_idx') -> DataFrame:
    """Deterministic weighted up/down-sampling (training-corpus epoch
    weights): emit ``whole + [hash16 < frac16]`` copies of each row with a
    dense ``out_col`` = 0..n-1, where ``whole``/``frac16`` are integer
    Column expressions (floor of the weight and its fraction in 2^16ths).

    The copy decision hashes only the row id (md5, first 16 bits) — the
    same content-independent basis as the dataset split — so re-runs,
    re-shards, and text edits never change which rows carry the extra
    fractional copy. Copies materialize via posexplode of the
    array_repeat expression itself: exploding a staged array attribute
    would let the optimizer paste its builder (and the md5) into the
    filter it infers for the Generate, and F.sequence is unsafe for the
    empty case (sequence(0,-1) is [0,-1], not []). The plan is a narrow
    map + generate over the scan — no shuffle, no driver action; a weight
    of 0.25 keeps a deterministic quarter of rows, 2.5 duplicates every
    row twice and half a third time.
    """
    h16 = F.conv(F.substring(
        F.md5(F.col(id_col).cast('string').cast('binary')), 1, 4),
        16, 10).cast('long')
    n = (whole + F.when(h16 < frac16, 1).otherwise(0)).cast('int')
    return (df.select(*df.columns,
                      F.posexplode(F.array_repeat(F.lit(1), n))
                      .alias(out_col, '_mix_one'))
            .drop('_mix_one')
            .withColumn(out_col, F.col(out_col).cast('long')))


def source_weight_cols(weights: dict, source_col: str = 'source',
                       default: float = 1.0):
    """map per-source float weights to the (whole, frac16) integer Column
    pair :func:`mixture_copies` takes; sources absent from ``weights``
    get ``default``. Weights land as two nested literal arrays + one
    array_position lookup (one py4j literal per array — the similarity.py
    lesson), so the mapping is vocab-sized and rides the row projection.
    """
    import math

    def split_w(w: float):
        if w < 0:
            raise ValueError(f'negative mixture weight: {w}')
        whole = int(math.floor(w))
        return whole, int(round((w - whole) * 65536))

    d_whole, d_frac = split_w(default)
    sources = sorted(weights)
    if not sources:
        return F.lit(d_whole), F.lit(d_frac)
    wholes = [split_w(weights[s])[0] for s in sources]
    fracs = [split_w(weights[s])[1] for s in sources]
    idx = F.array_position(F.lit(sources), F.col(source_col))
    whole = F.when(idx > 0, F.element_at(F.lit(wholes), idx.cast('int'))) \
        .otherwise(d_whole)
    frac16 = F.when(idx > 0, F.element_at(F.lit(fracs), idx.cast('int'))) \
        .otherwise(d_frac)
    return whole, frac16
