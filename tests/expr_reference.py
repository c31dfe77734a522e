"""Catalyst-expression formulations of the dedup and ANN kernels.

The library runs one implementation of each operator: numpy Arrow kernels
for the pair cosines, nearest-centroid and nearest-code assignment and
winnowing.  The functions here are the plan-transparent expression trees
those kernels replaced — the same left-to-right folds the DuckDB oracles
write — kept only as references: the parity tests run a library operator
and its reference on the same inputs and require identical rows.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jionlp_spark.operators.ann import (_DOT, _norm_col, _pq_code_means,
                                        _pq_seed_codebooks, _pq_subvectors,
                                        _window_topk, ivf_assign)


def cosine_pre(a_vec: str, b_vec: str, a_nrm: str, b_nrm: str):
    """Cosine with precomputed norms as one aggregate(zip_with) fold."""
    return F.expr(f"{_DOT.format(a=a_vec, b=b_vec)} / ({a_nrm} * {b_nrm})")


def pair_cosine(a_vec: str, b_vec: str, a_nrm: str, b_nrm: str):
    """Reference for ann._pair_cosine."""
    return F.round(cosine_pre(a_vec, b_vec, a_nrm, b_nrm), 6)


def assign(emb: DataFrame, centroids: DataFrame, probes: int,
           vec_col: str = 'embedding', id_col: str = 'vec_id') -> DataFrame:
    """Reference for ann._assign: broadcast crossJoin of every vector
    with every centroid, round-6 cosine, (sim desc, centroid_id) window."""
    cents = centroids.withColumn('_nrm_c', _norm_col('centroid'))
    sims = (emb.withColumn('_nrm', _norm_col(vec_col))
            .crossJoin(F.broadcast(cents))
            .select(id_col, vec_col, '_nrm', 'centroid_id',
                    F.round(cosine_pre(vec_col, 'centroid',
                                       '_nrm', '_nrm_c'), 6).alias('sim')))
    w = Window.partitionBy(id_col).orderBy(F.desc('sim'), 'centroid_id')
    return (sims.withColumn('_rn', F.row_number().over(w))
            .filter(F.col('_rn') <= probes)
            .select(id_col, vec_col, '_nrm',
                    F.col('centroid_id').alias('bucket')))


def ivf_topk(assigned: DataFrame, queries_assigned: DataFrame, k: int = 5,
             vec_col: str = 'embedding', id_col: str = 'vec_id') -> DataFrame:
    """Reference for ann.ivf_topk with the expression pair cosine."""
    joined = (
        queries_assigned.alias('q')
        .join(assigned.alias('e'), 'bucket')
        .filter(F.col(f'q.{id_col}') != F.col(f'e.{id_col}'))
        .select(F.col(f'q.{id_col}').alias('qid'),
                F.col(f'e.{id_col}').alias(id_col),
                pair_cosine(f'q.{vec_col}', f'e.{vec_col}',
                            'q._nrm', 'e._nrm').alias('cos'))
        .distinct()
    )
    return _window_topk(joined, 'cos', k, id_col)


def embedding_near_dups(emb: DataFrame, threshold: float = 0.9,
                        n_centroids: int = 8, probes: int = 2,
                        vec_col: str = 'embedding',
                        id_col: str = 'vec_id') -> DataFrame:
    """Reference for dedup.embedding_near_dups: the same IVF buckets,
    verified by a bucket self-join with the expression pair cosine
    instead of the per-bucket kernel."""
    assigned, _ = ivf_assign(emb, n_centroids=n_centroids, probes=probes,
                             vec_col=vec_col, id_col=id_col)
    a, b = assigned.alias('a'), assigned.alias('b')
    return (
        a.join(b, 'bucket')
        .filter(F.col(f'a.{id_col}') < F.col(f'b.{id_col}'))
        .select(F.col(f'a.{id_col}').alias('vec_a'),
                F.col(f'b.{id_col}').alias('vec_b'),
                pair_cosine(f'a.{vec_col}', f'b.{vec_col}',
                            'a._nrm', 'b._nrm').alias('cos'))
        .distinct()
        .filter(F.col('cos') >= threshold)
    )


_PQ_SCORE = ("round(" + _DOT.format(a='sv', b='code')
             + " - 0.5 * " + _DOT.format(a='code', b='code') + ", 6)")


def pq_assign(esub: DataFrame, codebooks: DataFrame,
              id_col: str) -> DataFrame:
    """Reference for ann._pq_assign over _pq_subvectors rows: broadcast
    join with the codebook, score x·c − ‖c‖²/2, (score desc, code_id)
    window."""
    scored = (esub.join(F.broadcast(codebooks), 'sub_id')
              .select(id_col, 'sub_id', 'sv', 'code_id',
                      F.expr(_PQ_SCORE).alias('sc')))
    w = Window.partitionBy(id_col, 'sub_id').orderBy(
        F.desc('sc'), 'code_id')
    return (scored.withColumn('_rn', F.row_number().over(w))
            .filter(F.col('_rn') <= 1)
            .select(id_col, 'sub_id', 'sv', 'code_id'))


def pq_encode(emb: DataFrame, codebooks: DataFrame, m: int = 8,
              dim: int = 64, vec_col: str = 'embedding',
              id_col: str = 'vec_id') -> DataFrame:
    """Reference for ann.pq_encode."""
    assigned = pq_assign(_pq_subvectors(emb, m, dim // m, vec_col, id_col),
                         codebooks, id_col)
    return (assigned.groupBy(id_col)
            .agg(F.array_sort(F.collect_list(
                F.struct('sub_id', 'code_id'))).alias('s'))
            .select(id_col,
                    F.expr('transform(s, x -> x.code_id)').alias('codes')))


def pq_codebooks(emb: DataFrame, m: int = 8, k: int = 64, dim: int = 64,
                 iters: int = 1, vec_col: str = 'embedding',
                 id_col: str = 'vec_id') -> DataFrame:
    """Reference for ann.pq_codebooks: the library's seeds and mean
    update around the reference assignment."""
    sub_d = dim // m
    cb = _pq_seed_codebooks(emb, m, k, sub_d, vec_col, id_col)
    esub = _pq_subvectors(emb, m, sub_d, vec_col, id_col)
    for _ in range(iters):
        cb = _pq_code_means(pq_assign(esub, cb, id_col))
    return cb


def winnow_fingerprints(docs: DataFrame, k: int = 8, w: int = 4,
                        text_col: str = 'text',
                        id_col: str = 'doc_id') -> DataFrame:
    """Reference for textstats.winnow_fingerprints: the rolling hash as
    an aggregate fold per k-gram, and the rightmost-minimum selection as
    a fold over each window."""
    mod = 1_000_000_007
    hashes = (
        f"transform(sequence(0, length({text_col}) - {k}), i -> "
        f"aggregate(split(substring({text_col}, i + 1, {k}), ''), "
        f"cast(7 as bigint), (acc, x) -> (acc * 31 + ascii(x)) % {mod}))"
    )
    # fold left→right keeping (min, pos) with <= → rightmost minimal hash
    sel = (
        f"transform(sequence(0, size(h) - {w}), j -> "
        f"aggregate(sequence(j, j + {w} - 1), "
        "named_struct('v', cast(9223372036854775807 as bigint), "
        "'p', cast(-1 as bigint)), "
        "(acc, p) -> case when h[p] <= acc.v "
        "then named_struct('v', h[p], 'p', cast(p as bigint)) "
        "else acc end))"
    )
    return (docs
            .filter(F.expr(f'length({text_col}) >= {k + w - 1}'))
            .select(id_col, F.expr(hashes).alias('h'))
            .select(id_col,
                    F.explode(F.expr(f'array_distinct({sel})')).alias('s'))
            .select(F.col(id_col),
                    F.col('s.p').alias('pos'),
                    F.col('s.v').alias('fp')))
