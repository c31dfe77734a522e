"""Similarity search over embedding columns.

Brute-force cosine top-k (the exactness baseline) and an IVF-style
bucketed variant for scale: assign every vector to its nearest of K
centroids (sampled deterministically), then search only within the probe's
bucket(s) — turning the O(N·Q) cross join into a bucket-partitioned join.
Every dot product folds its dims left to right: Catalyst `aggregate` where
the math stays JVM-side (norms, LSH signatures, ADC parts), numpy Arrow
kernels for pair cosines and nearest-centroid/code assignment — the same
IEEE op sequence either way, so the DuckDB oracles reproduce every double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        "cast(0.0 as double), (acc, v) -> acc + v)")
_NORM = ("sqrt(aggregate(transform({a}, x -> cast(x as double) * cast(x as double)), "
         "cast(0.0 as double), (acc, v) -> acc + v))")


def _norm_col(vec_col: str):
    return F.expr(_NORM.format(a=vec_col))


def _cosine_pairs_arrow():
    """Vectorized Arrow cosine for the candidate-pair verify join: the
    per-pair `aggregate(zip_with(...))` fold runs as interpreted Catalyst
    lambdas (no codegen) and dominates CPU once LSH/IVF candidate volume
    grows; a numpy kernel over the join's Arrow batches is ~10× cheaper
    and **bit-identical** to that fold:

    - float32→float64 widening and the per-element double product are
      single IEEE ops in both paths;
    - np.cumsum (add.accumulate) is a strict left-to-right sequential
      fold, exactly like the Catalyst `aggregate` — np.dot/np.sum must
      NOT be used here (pairwise/SIMD summation differs in the last ulp,
      which breaks round-6 oracle parity on boundary values);
    - the final `+ 0.0` canonicalizes a -0.0 cumsum result to the +0.0
      the fold (which seeds with +0.0) produces.

    Returns an (a_vec, b_vec, a_nrm, b_nrm) -> double pandas UDF; apply
    F.round JVM-side on the result so rounding semantics stay Spark's.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _cos(a, b, na, nb):
        if len(a) == 0:
            return pd.Series([], dtype='float64')
        av = np.stack([np.asarray(v, dtype=np.float64) for v in a])
        bv = np.stack([np.asarray(v, dtype=np.float64) for v in b])
        # zeros-seeded accumulator (like the dedup bucket kernel) so
        # zero-length vectors fold to 0.0 instead of IndexError-ing on
        # cumsum[:, -1] of an (n, 0) array
        dot = np.zeros(len(a))
        if av.shape[1] > 0:
            # += is the fold's +0.0 seed: canonicalizes -0.0 like the
            # Catalyst fold's trailing `+ 0.0`
            dot += np.cumsum(av * bv, axis=1)[:, -1]
        den = na.to_numpy(dtype=np.float64) * nb.to_numpy(dtype=np.float64)
        return pd.Series(dot / den)

    # real annotation objects (module uses `from __future__ import
    # annotations`, so inline hints would be unresolvable strings)
    _cos.__annotations__ = {'a': pd.Series, 'b': pd.Series,
                            'na': pd.Series, 'nb': pd.Series,
                            'return': pd.Series}
    return pandas_udf(_cos, 'double')


def _pair_cosine(a_vec: str, b_vec: str, a_nrm: str, b_nrm: str):
    """Round-6 pair cosine over precomputed norms (_cosine_pairs_arrow)."""
    cos = _cosine_pairs_arrow()
    return F.round(cos(F.col(a_vec), F.col(b_vec),
                       F.col(a_nrm), F.col(b_nrm)), 6)


def _window_topk(scored: DataFrame, score: str, k: int,
                 id_col: str) -> DataFrame:
    """Per-query top-k of (qid, id_col, score) rows: score desc, ties to
    the smaller id — the row_number window every search operator ends
    with."""
    from pyspark.sql.window import Window
    w = Window.partitionBy('qid').orderBy(F.desc(score), F.col(id_col))
    return (scored.withColumn('rn', F.row_number().over(w))
            .filter(F.col('rn') <= k).drop('rn'))


def brute_force_topk(emb: DataFrame, queries: DataFrame, k: int = 5,
                     vec_col: str = 'embedding',
                     id_col: str = 'vec_id') -> DataFrame:
    """Exact cosine top-k: queries(qid, qe) × emb → (qid, vec_id, cos)."""
    emb = emb.withColumn('_nrm_e', _norm_col(vec_col))
    queries = queries.withColumn('_nrm_q', _norm_col('qe'))
    joined = (
        queries.crossJoin(emb)
        .filter(F.col('qid') != F.col(id_col))
        .select('qid', id_col,
                _pair_cosine('qe', vec_col, '_nrm_q', '_nrm_e').alias('cos'))
    )
    return _window_topk(joined, 'cos', k, id_col)


def kmeans_centroids(emb: DataFrame, k: int = 8, iters: int = 1,
                     vec_col: str = 'embedding',
                     id_col: str = 'vec_id',
                     train_cap: int | None = None) -> DataFrame:
    """Deterministic Lloyd k-means over cosine assignment.

    Init = the k vectors with the smallest md5(vec_id) (a deterministic
    uniform sample, unlike first-N which inherits whatever order the data
    arrived in).  Each iteration: broadcast centroids → argmax-cosine assign
    → element-wise mean per bucket.  Means are computed with exact decimal
    sums so centroids are bit-identical run-to-run and engine-to-engine
    (double addition is order-sensitive under shuffle).

    Scale shape per iteration: one narrow Arrow assign pass (see _assign),
    one shuffle keyed (bucket, dim) with partial aggs.
    Returns (centroid_id, centroid array<double>).

    ``train_cap``: train on a deterministic md5 subsample of ~train_cap
    vectors when N exceeds it — the standard IVF practice (FAISS trains
    coarse quantizers on bounded samples); with k ∝ N, full-corpus
    training is O(N²) wall while a bounded sample loses almost nothing
    (centroid quality needs ~10²-10³ points per centroid, not N/k).
    Opt-in (None = train on everything): the cap adds one count() job
    and changes centroid VALUES, so oracle-gated paths leave it unset.
    """
    train = emb
    if train_cap is not None:
        n = emb.count()
        if n > train_cap:
            # engine-portable deterministic sample: keep ids whose md5
            # prefix falls under the keep-fraction threshold
            thresh = int(train_cap / n * 16 ** 8)
            train = emb.filter(
                F.conv(F.substring(F.md5(F.col(id_col).cast('string')),
                                   1, 8), 16, 10)
                .cast('long') < F.lit(thresh))
    # localCheckpoint each ROUND RESULT: centroids are k tiny rows but
    # their lineage spans the whole corpus — every downstream use (index
    # assign, query assign, next iteration) would otherwise recompute it.
    # The seed stage is checkpointed only when it IS the result (iters=0);
    # inside the loop its lineage runs once per iteration anyway.
    centroids = _hash_seed_centroids(train, k, vec_col, id_col)
    if iters == 0:
        return centroids.localCheckpoint(eager=False)
    for _ in range(iters):
        assigned = _assign(train, centroids, probes=1, vec_col=vec_col,
                           id_col=id_col)
        dim = (assigned
               .select('bucket', F.posexplode(
                   F.expr(f'transform({vec_col}, x -> cast(x as double))'))
                   .alias('pos', 'v'))
               .groupBy('bucket', 'pos')
               .agg((F.sum(F.col('v').cast('string').cast('decimal(38,18)'))
                     .cast('double') / F.count('*')).alias('m')))
        centroids = (dim.groupBy('bucket')
                     .agg(F.array_sort(F.collect_list(F.struct('pos', 'm')))
                          .alias('s'))
                     .select(F.col('bucket').alias('centroid_id'),
                             F.expr('transform(s, x -> x.m)')
                             .alias('centroid'))
                     .localCheckpoint(eager=False))
    return centroids


def _hash_seed_centroids(emb: DataFrame, k: int, vec_col: str,
                         id_col: str) -> DataFrame:
    """k deterministic hash-sampled seed vectors.  orderBy().limit(k) plans
    as TakeOrderedAndProject (distributed top-k, no global sort); the
    row-number window then runs over just k rows."""
    from pyspark.sql.window import Window
    seeds = (emb.select(id_col, vec_col,
                        F.md5(F.col(id_col).cast('string')).alias('_h'))
             .orderBy('_h', id_col).limit(k))
    rk = Window.orderBy('_h', id_col)
    return (seeds.withColumn('_rn', F.row_number().over(rk))
            .select((F.col('_rn') - 1).alias('centroid_id'),
                    F.expr(f'transform({vec_col}, x -> cast(x as double))')
                    .alias('centroid')))


def _half_up6(x):
    """HALF_UP rounding to 6 decimals over a numpy array — Spark's
    round() semantics (DuckDB's round is half-even; ties at an exact
    .5e-6 double representation have never been observed on real data)."""
    import numpy as np
    scaled = x * 1e6
    return np.where(x >= 0, np.floor(scaled + 0.5),
                    np.ceil(scaled - 0.5)) / 1e6


def _assign(emb: DataFrame, centroids: DataFrame, probes: int,
            vec_col: str, id_col: str) -> DataFrame:
    """Top-`probes` buckets per vector by cosine (round-6 before ranking —
    deterministic across engines; ties by centroid_id).  Output keeps the
    per-vector norm in ``_nrm`` so downstream pair joins reuse it.

    One mapInPandas pass: the centroid matrix is collected once (k tiny
    rows) and closed over; each Arrow batch computes all k sims via
    sequential-dim outer-product accumulation — the left-to-right fold of
    the Catalyst aggregate, so sims are bit-identical to the DuckDB
    oracle's (see _cosine_pairs_arrow) — with HALF_UP rounding.  An N·k
    interpreted-lambda crossJoin would dominate IVF cost once k follows
    the n_centroids ∝ N rule (measured 99 s → ~8 s at 200k vectors ×
    k=800, scripts/scale_bench.py --families dedup)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    rows = centroids.orderBy('centroid_id').collect()
    C = np.stack([np.asarray(r['centroid'], dtype=np.float64)
                  for r in rows])
    cids = np.array([int(r['centroid_id']) for r in rows])
    acc = np.zeros(len(C))
    for d in range(C.shape[1]):
        acc += C[:, d] * C[:, d]
    cnrm = np.sqrt(acc)
    if (cnrm == 0.0).any():
        # crash-for-crash with ANSI Spark's DIVIDE_BY_ZERO on a
        # zero-norm cosine (see the vector-norm guard below): a caller-
        # supplied all-zero centroid must not yield inf/nan sims
        bad = cids[cnrm == 0.0][0]
        raise ArithmeticError(
            f'zero-norm centroid (centroid_id {bad}) — a Catalyst '
            f'cosine raises DIVIDE_BY_ZERO here; fix the centroid input')

    vec_field = emb.schema[vec_col].dataType

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            vacc = np.zeros(len(V))
            S = np.zeros((len(V), len(C)))
            for d in range(V.shape[1]):
                vacc += V[:, d] * V[:, d]
                S += np.outer(V[:, d], C[:, d])
            nrm = np.sqrt(vacc)
            if (nrm == 0.0).any():
                # crash-for-crash with ANSI-mode Spark, which raises
                # DIVIDE_BY_ZERO on a zero-norm vector's cosine: never
                # silently bucket what a Catalyst cosine rejects
                bad = pdf[id_col].to_numpy()[nrm == 0.0][0]
                raise ArithmeticError(
                    f'zero-norm vector (id {bad}) — a Catalyst '
                    f'cosine raises DIVIDE_BY_ZERO here; filter or '
                    f'normalize degenerate vectors upstream')
            sims = _half_up6(S / np.outer(nrm, cnrm))
            # per row: top-`probes` by (sim desc, centroid_id asc) —
            # lexsort's last key is primary.  Spark orders NaN as
            # GREATEST under desc (NaN vector COMPONENTS propagate NaN
            # sims through the fold without a zero division), while
            # lexsort puts NaN last — map NaN to -inf in the negated
            # key so NaN rows rank first, ties falling to centroid_id,
            # exactly like a (sim desc, centroid_id) row_number window
            key = np.where(np.isnan(sims), -np.inf, -sims)
            order = np.lexsort(
                (np.broadcast_to(cids, sims.shape), key), axis=1)
            top = order[:, :probes]
            n, p = top.shape
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy().repeat(p),
                vec_col: [v for v in pdf[vec_col] for _ in range(p)],
                '_nrm': nrm.repeat(p),
                'bucket': cids[top].reshape(-1).astype('int32'),
            })

    schema = T.StructType([
        emb.schema[id_col],
        T.StructField(vec_col, vec_field),
        T.StructField('_nrm', T.DoubleType()),
        # centroid_id is a row_number int (_hash_seed_centroids)
        T.StructField('bucket', T.IntegerType()),
    ])
    return emb.select(id_col, vec_col).mapInPandas(kernel, schema)


def ivf_assign(emb: DataFrame, n_centroids: int = 16,
               vec_col: str = 'embedding', id_col: str = 'vec_id',
               centroids: DataFrame | None = None,
               probes: int = 1) -> tuple:
    """IVF bucketing against `centroids` (default: deterministic
    hash-sampled vectors; pass kmeans_centroids(...) output for trained
    buckets).  probes > 1 emits one row per (vector, probed bucket) — used
    on the query side for multi-probe recall."""
    if centroids is None:
        centroids = _hash_seed_centroids(emb, n_centroids, vec_col, id_col)
    assigned = _assign(emb, centroids, probes, vec_col, id_col)
    return assigned, centroids


def ivf_topk(assigned: DataFrame, queries_assigned: DataFrame,
             k: int = 5, vec_col: str = 'embedding',
             id_col: str = 'vec_id') -> DataFrame:
    """Search only the probed bucket(s); multi-probe queries contribute one
    row per probe and the distinct() collapses duplicates."""
    joined = (
        queries_assigned.alias('q')
        .join(assigned.alias('e'), 'bucket')
        .filter(F.col(f'q.{id_col}') != F.col(f'e.{id_col}'))
        .select(F.col(f'q.{id_col}').alias('qid'),
                F.col(f'e.{id_col}').alias(id_col),
                _pair_cosine(f'q.{vec_col}', f'e.{vec_col}',
                             'q._nrm', 'e._nrm').alias('cos'))
        .distinct()
    )
    return _window_topk(joined, 'cos', k, id_col)


# ---------------------------------------------------------------------------
# cosine LSH (random hyperplanes) — the bucket-join alternative to IVF

def random_hyperplanes(n_bits: int, dim: int) -> list:
    """Deterministic ±1 hyperplanes from md5(bit, dim) parity — engine-
    portable: the same literal vectors are embedded in the DuckDB oracle,
    so signatures are reproducible everywhere without RNG state."""
    import hashlib
    planes = []
    for k in range(n_bits):
        row = []
        for d in range(dim):
            h = hashlib.md5(f'{k}_{d}'.encode()).digest()[0]
            row.append(1.0 if h >= 128 else -1.0)
        planes.append(row)
    return planes


def lsh_assign(emb: DataFrame, planes: list,
               vec_col: str = 'embedding',
               id_col: str = 'vec_id') -> DataFrame:
    """Signature bucket per vector: bit k = (v · plane_k > 0); bucket =
    Σ bit_k · 2^k.  Pure per-row JVM expressions (n_bits dot folds/row);
    also carries the vector norm for downstream cosine verifies."""
    bits = []
    for k, plane in enumerate(planes):
        arr = 'array(' + ','.join(f'cast({x} as double)'
                                  for x in plane) + ')'
        dot = (f"aggregate(zip_with({vec_col}, {arr}, "
               "(x, y) -> cast(x as double) * y), "
               "cast(0.0 as double), (acc, v) -> acc + v)")
        bits.append(f'(case when {dot} > 0 then {1 << k} else 0 end)')
    bucket = F.expr(' + '.join(bits))
    return emb.select(id_col, vec_col, _norm_col(vec_col).alias('_nrm'),
                      bucket.cast('int').alias('bucket'))


def lsh_topk(emb: DataFrame, n_bits: int = 6, k: int = 3,
             n_queries: int = 3, vec_col: str = 'embedding',
             id_col: str = 'vec_id', dim: int | None = None) -> DataFrame:
    """Cosine top-k within the query's LSH bucket (single-table variant;
    more tables / fewer bits trade recall vs candidate volume exactly like
    minhash banding).

    Pass ``dim`` (the embedding dimensionality) so building the query plan
    launches no Spark job; the ``first()`` fallback exists only for ad-hoc
    exploration."""
    if dim is None:  # convenience fallback — runs a job at build time
        dim = len(emb.select(vec_col).first()[0])
    assigned = lsh_assign(emb, random_hyperplanes(n_bits, dim),
                          vec_col, id_col)
    assigned = assigned.persist()  # caller-owned (see dedup note)
    q = assigned.filter(F.col(id_col) < n_queries)
    joined = (q.alias('q').join(assigned.alias('e'), 'bucket')
              .filter(F.col(f'q.{id_col}') != F.col(f'e.{id_col}'))
              .select(F.col(f'q.{id_col}').alias('qid'),
                      F.col(f'e.{id_col}').alias(id_col),
                      _pair_cosine(f'q.{vec_col}', f'e.{vec_col}',
                                   'q._nrm', 'e._nrm').alias('cos')))
    return _window_topk(joined, 'cos', k, id_col)


# ---------------------------------------------------------------------------
# persistent IVF index through the catalog — the serving-side counterpart
# of operators/dedup.incremental_lsh_dedup: train/assign once, publish,
# then every query batch joins the stored index without re-embedding or
# re-assigning the corpus

def publish_ann_index(spark, base_path: str, emb: DataFrame,
                      n_centroids: int = 8, iters: int = 1,
                      vec_col: str = 'embedding', id_col: str = 'vec_id',
                      centroids: DataFrame | None = None,
                      input_fingerprint: str | None = None) -> dict:
    """Publish a persistent IVF index: a `centroids` table (k rows) and
    an `assignments` table BUCKETED on the IVF bucket id, both through
    the catalog (atomic publish, lineage manifest, snapshot history).

    The bucketed layout is the 100-TB lever: a large query batch
    assigned to the same bucket ids equi-joins the index with NO
    exchange on the index side (file-name bucket ids restore
    co-location in any later session via catalog.read_table), and a
    small batch broadcast-joins as usual.  Re-publishing with a new
    fingerprint snapshots the old index (time travel / rollback come
    from the catalog for free).
    """
    from jionlp_spark.sources import catalog

    if centroids is None:
        centroids = kmeans_centroids(emb, k=n_centroids, iters=iters,
                                     vec_col=vec_col, id_col=id_col)
    cents = catalog.run_stage(
        spark, f'{base_path}/centroids', 'ann_centroids',
        lambda: centroids, input_fingerprint=input_fingerprint)

    def build() -> DataFrame:
        assigned = _assign(emb, cents, probes=1, vec_col=vec_col,
                           id_col=id_col)
        return assigned.select(id_col, vec_col, '_nrm', 'bucket')

    idx = catalog.run_stage(
        spark, f'{base_path}/assignments', 'ann_assignments', build,
        input_fingerprint=input_fingerprint, bucket_by=('bucket',))
    return {'centroids': cents, 'index': idx}


def query_ann_index(spark, base_path: str, queries: DataFrame,
                    k: int = 5, probes: int = 2,
                    vec_col: str = 'embedding',
                    id_col: str = 'vec_id') -> DataFrame:
    """Top-k search of a published IVF index: assign the query batch to
    its top-`probes` buckets against the STORED centroids, equi-join the
    bucketed assignments table, exact cosine verify + per-query window
    top-k.  Nothing corpus-sized is recomputed — the index side is a
    bucketed columnar scan."""
    from jionlp_spark.sources import catalog

    cents = catalog.read_table(spark, f'{base_path}/centroids')
    idx = catalog.read_table(spark, f'{base_path}/assignments')
    q_assigned = _assign(queries, cents, probes=probes, vec_col=vec_col,
                         id_col=id_col)
    return ivf_topk(idx, q_assigned, k=k, vec_col=vec_col, id_col=id_col)


def extend_ann_index(spark, base_path: str, new_emb: DataFrame,
                     batch_id: str, vec_col: str = 'embedding',
                     id_col: str = 'vec_id') -> dict:
    """Append a NEW vector batch to a published IVF index without
    retraining: assign the batch against the STORED centroids (one Arrow
    pass over the batch — history is never re-read for compute), union
    into the assignments table, republish bucketed (snapshot-versioned;
    the batch_id fingerprint makes a re-publish a no-op).

    This is the daily-embeddings shape: centroids train once on an early
    corpus sample (the standard IVF practice — coarse quantizers need
    ~10²–10³ points per centroid, not the full corpus), each day's
    vectors append in O(batch).  Queries against the extended index are
    value-identical to a from-scratch publish over the union with the
    same centroids (oracle: ann_index_extend trains on batch 1 only in
    SQL, indexes everything).
    """
    from jionlp_spark.sources import catalog

    cents = catalog.read_table(spark, f'{base_path}/centroids')
    new_assigned = _assign(new_emb, cents, probes=1, vec_col=vec_col,
                           id_col=id_col)
    idx = catalog.read_table(spark, f'{base_path}/assignments')
    updated = idx.union(new_assigned.select(*idx.columns))
    index = catalog.run_stage(
        spark, f'{base_path}/assignments', 'ann_assignments',
        lambda: updated, input_fingerprint=batch_id,
        bucket_by=('bucket',))
    return {'centroids': cents, 'index': index}


# ---------------------------------------------------------------------------
# product quantization (PQ) — the memory-compression scale path: each
# vector is stored as m small code ids instead of dim floats (here
# 8 byte-sized code ids vs 64 float32s = 32× less index payload), and query scoring reads
# ONLY the codes column plus a broadcast codebook.  Jégou et al. 2011
# (TPAMI, "Product quantization for nearest neighbor search"); scoring
# is ADC for max-inner-product — rank by Σ_m q_m · c_{m,code_m(x)}.

def _pq_subvectors(emb: DataFrame, m: int, sub_d: int,
                   vec_col: str, id_col: str) -> DataFrame:
    """One row per (vector, subspace): sv = dims [s·sub_d, (s+1)·sub_d)
    as double.  slice() clamps at the tail exactly like DuckDB's
    1-based-inclusive list slice, so both engines cut identical subs."""
    return emb.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias('sub_id'),
        F.col(vec_col)).select(
        id_col, 'sub_id',
        F.expr(f'slice(transform({vec_col}, x -> cast(x as double)), '
               f'sub_id * {sub_d} + 1, {sub_d})').alias('sv'))


def _collect_pq_codebooks(codebooks: DataFrame, m: int) -> list:
    """Collect the m·k tiny codebook rows into per-subspace
    (code_ids, code matrix, ‖c‖² via the sequential fold) triples for
    the Arrow kernels."""
    import numpy as np
    rows = codebooks.orderBy('sub_id', 'code_id').collect()
    cb = {}
    for r in rows:
        cb.setdefault(int(r['sub_id']), []).append(
            (int(r['code_id']), np.asarray(r['code'], dtype=np.float64)))
    subs = []
    for s in range(m):
        cids = np.array([c for c, _ in cb[s]])
        C = np.stack([v for _, v in cb[s]])
        cc = np.zeros(len(C))
        for d in range(C.shape[1]):
            cc += C[:, d] * C[:, d]
        subs.append((cids, C, cc))
    return subs


def _pq_nearest_codes(Vs, cids, C, cc):
    """Nearest code id per row of one subspace block ``Vs`` — argmin L2
    written with dot folds only: argmin ‖x−c‖² = argmax (x·c − ‖c‖²/2),
    so the DuckDB oracle scores with its engine-identical list dot
    product and needs no (x−y)² zip (which DuckDB 1.0 cannot fold
    sequentially).  The dot folds dims left to right (sequential outer-
    product accumulation, see _cosine_pairs_arrow), the score is rounded
    HALF_UP to 6 decimals, and ties order by (score desc, code_id asc)."""
    import numpy as np
    S = np.zeros((len(Vs), len(C)))
    for d in range(C.shape[1]):
        S += np.outer(Vs[:, d], C[:, d])
    sc = _half_up6(S - 0.5 * cc)
    order = np.lexsort((np.broadcast_to(cids, sc.shape), -sc), axis=1)
    return cids[order[:, 0]]


def _pq_assign(emb: DataFrame, codebooks: DataFrame, m: int,
               sub_d: int, vec_col: str, id_col: str) -> DataFrame:
    """Training assignment: (id, sub_id, sv, code_id), m rows per vector,
    each sub-vector's nearest code (_pq_nearest_codes) in one narrow
    Arrow pass — an N·m·k interpreted-lambda broadcast join + window
    would dominate training once the corpus grows (measured 57 s → 4.4 s
    at x100 = 200k vectors, BENCH/PLANS.md)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    subs = _collect_pq_codebooks(codebooks, m)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            ids = pdf[id_col].to_numpy()
            out_sv, out_code, out_sub = [], [], []
            for s, (cids, C, cc) in enumerate(subs):
                Vs = V[:, s * sub_d:(s + 1) * sub_d]
                out_code.append(_pq_nearest_codes(Vs, cids, C, cc))
                out_sub.append(np.full(len(V), s))
                out_sv.append(Vs)
            yield pd.DataFrame({
                id_col: np.tile(ids, m),
                'sub_id': np.concatenate(out_sub).astype('int32'),
                'sv': [r for block in out_sv for r in block],
                'code_id': np.concatenate(out_code).astype('int32'),
            })

    schema = T.StructType([
        emb.schema[id_col],
        T.StructField('sub_id', T.IntegerType()),
        T.StructField('sv', T.ArrayType(T.DoubleType())),
        T.StructField('code_id', T.IntegerType()),
    ])
    return emb.select(id_col, vec_col).mapInPandas(kernel, schema)


def _pq_seed_codebooks(emb: DataFrame, m: int, k: int, sub_d: int,
                       vec_col: str, id_col: str) -> DataFrame:
    """The untrained codebooks: the k hash-sampled seed vectors
    (_hash_seed_centroids) sliced per subspace."""
    subs = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias('sub_id')
    seeds = _hash_seed_centroids(emb, k, vec_col, id_col)
    return (seeds.select(F.col('centroid_id').alias('code_id'), 'centroid')
            .select('code_id', subs, 'centroid')
            .select('sub_id', 'code_id',
                    F.expr(f'slice(centroid, sub_id * {sub_d} + 1, {sub_d})')
                    .alias('code'))
            .localCheckpoint(eager=False))


def _pq_code_means(assigned: DataFrame) -> DataFrame:
    """One Lloyd update: each code becomes the decimal-exact element mean
    of the sub-vectors assigned to it (rows of _pq_assign)."""
    dims = (assigned
            .select('sub_id', 'code_id',
                    F.posexplode('sv').alias('pos', 'v'))
            .groupBy('sub_id', 'code_id', 'pos')
            .agg((F.sum(F.col('v').cast('string')
                        .cast('decimal(38,18)'))
                  .cast('double') / F.count('*')).alias('mv')))
    return (dims.groupBy('sub_id', 'code_id')
            .agg(F.array_sort(F.collect_list(F.struct('pos', 'mv')))
                 .alias('s'))
            .select('sub_id', 'code_id',
                    F.expr('transform(s, x -> x.mv)').alias('code'))
            .localCheckpoint(eager=False))


def pq_codebooks(emb: DataFrame, m: int = 8, k: int = 64,
                 dim: int = 64, iters: int = 1,
                 vec_col: str = 'embedding',
                 id_col: str = 'vec_id') -> DataFrame:
    """Train per-subspace PQ codebooks: (sub_id, code_id, code double[]).

    Init = the k vectors with the smallest md5(id) (the same
    deterministic sample as kmeans_centroids), sliced per subspace;
    each Lloyd iteration assigns sub-vectors by exact argmin-L2 (see
    _pq_assign) and recomputes codes as decimal-exact element means —
    bit-identical run-to-run and engine-to-engine.  A code that loses
    all members drops out (both engines: the mean groupBy only emits
    assigned codes).  Codebooks are m·k tiny rows; training cost per
    iteration is one Arrow assignment pass over the N vectors plus one
    (sub, code, pos)-keyed shuffle — localCheckpoint'ed per round so
    downstream encode/query plans start from k rows, not the corpus."""
    sub_d = dim // m
    cb = _pq_seed_codebooks(emb, m, k, sub_d, vec_col, id_col)
    for _ in range(iters):
        cb = _pq_code_means(_pq_assign(emb, cb, m, sub_d, vec_col, id_col))
    return cb


def pq_encode(emb: DataFrame, codebooks: DataFrame, m: int = 8,
              dim: int = 64, vec_col: str = 'embedding',
              id_col: str = 'vec_id') -> DataFrame:
    """Encode each vector as its m nearest-code ids: (id, codes int[]).

    The codebook is collected once (m·k tiny rows) and closed over; each
    Arrow batch takes every subspace's nearest code (_pq_nearest_codes).
    Zero shuffle: one narrow map over the corpus."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    sub_d = dim // m
    subs = _collect_pq_codebooks(codebooks, m)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            codes = np.zeros((len(V), m), dtype=np.int64)
            for s, (cids, C, cc) in enumerate(subs):
                codes[:, s] = _pq_nearest_codes(
                    V[:, s * sub_d:(s + 1) * sub_d], cids, C, cc)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(),
                                'codes': list(codes)})

    schema = T.StructType([
        emb.schema[id_col],
        T.StructField('codes', T.ArrayType(T.LongType())),
    ])
    return emb.select(id_col, vec_col).mapInPandas(kernel, schema)


def pq_topk(emb: DataFrame, k: int = 3, n_queries: int = 3,
            m: int = 8, n_codes: int = 64, dim: int = 64,
            iters: int = 1, codebooks: DataFrame | None = None,
            vec_col: str = 'embedding',
            id_col: str = 'vec_id') -> DataFrame:
    """PQ-ADC top-k by approximate inner product: (qid, vec_id, adc).

    The encoded corpus carries ONLY (id, codes) — at 100 TB the index
    scan reads m ints per vector, not dim floats — and the query batch
    scores against the broadcast codebook: part(q, s, code) =
    round6(q_s · c_{s,code}); adc = Σ_s part, summed as exact decimals
    (cross-row double addition is order-sensitive; the decimal route is
    order-independent and engine-exact, emitted via string→double).
    Ranking (adc desc, vec_id) per query via window top-k like the
    sibling operators.  Queries score themselves approximately too —
    the qid==vec_id row is excluded like brute_force_topk."""
    sub_d = dim // m
    if codebooks is None:
        codebooks = pq_codebooks(emb, m=m, k=n_codes, dim=dim,
                                 iters=iters, vec_col=vec_col,
                                 id_col=id_col)
    enc = pq_encode(emb, codebooks, m=m, dim=dim, vec_col=vec_col,
                    id_col=id_col)
    qsub = (_pq_subvectors(emb.filter(F.col(id_col) < n_queries),
                           m, sub_d, vec_col, id_col)
            .select(F.col(id_col).alias('qid'), 'sub_id',
                    F.col('sv').alias('qv')))
    return _pq_adc_topk(enc, codebooks, qsub, k, id_col)


def _pq_adc_topk(enc: DataFrame, codebooks: DataFrame, qsub: DataFrame,
                 k: int, id_col: str) -> DataFrame:
    """ADC scoring core over an encoded corpus: explode codes, attach
    code vectors (broadcast m·k rows) and query subvectors (broadcast
    q·m rows), per-sub round-6 dots decimal-summed, window top-k."""
    parts = (enc
             .select(id_col, F.posexplode('codes')
                     .alias('sub_id', 'code_id'))
             .join(F.broadcast(codebooks), ['sub_id', 'code_id'])
             .join(F.broadcast(qsub), 'sub_id')
             .filter(F.col('qid') != F.col(id_col))
             .select('qid', id_col,
                     F.round(F.expr(_DOT.format(a='qv', b='code')), 6)
                     .alias('part')))
    adc = (parts.groupBy('qid', id_col)
           .agg(F.sum(F.col('part').cast('string').cast('decimal(38,18)'))
                .cast('string').cast('double').alias('adc')))
    return _window_topk(adc, 'adc', k, id_col)


# ---------------------------------------------------------------------------
# persistent PQ index through the catalog — the PQ analog of
# publish_ann_index: train once, encode once, store CODES ONLY (8 ints
# per vector); daily batches append via encoding against the STORED
# codebooks, queries scan the stored codes.

def publish_pq_index(spark, base_path: str, emb: DataFrame,
                     m: int = 8, n_codes: int = 64, dim: int = 64,
                     iters: int = 1, vec_col: str = 'embedding',
                     id_col: str = 'vec_id',
                     codebooks: DataFrame | None = None,
                     input_fingerprint: str | None = None) -> dict:
    """Publish a PQ index: `codebooks` (m·k tiny rows) and `codes`
    (id + m code ids — the 32×-compressed searchable corpus), both
    catalog tables (atomic publish, lineage, snapshot history).  The
    codes table IS the scan at query time; the float embeddings are
    never read again."""
    from jionlp_spark.sources import catalog

    if codebooks is None:
        codebooks = pq_codebooks(emb, m=m, k=n_codes, dim=dim,
                                 iters=iters, vec_col=vec_col,
                                 id_col=id_col)
    cb = catalog.run_stage(
        spark, f'{base_path}/codebooks', 'pq_codebooks',
        lambda: codebooks, input_fingerprint=input_fingerprint)
    codes = catalog.run_stage(
        spark, f'{base_path}/codes', 'pq_codes',
        lambda: pq_encode(emb, cb, m=m, dim=dim, vec_col=vec_col,
                          id_col=id_col),
        input_fingerprint=input_fingerprint)
    return {'codebooks': cb, 'codes': codes}


def extend_pq_index(spark, base_path: str, new_emb: DataFrame,
                    batch_id: str, m: int = 8, dim: int = 64,
                    vec_col: str = 'embedding',
                    id_col: str = 'vec_id') -> dict:
    """Append a NEW vector batch to a published PQ index: encode the
    batch against the STORED codebooks (one zero-shuffle Arrow pass
    over the batch — history never re-read for compute) and union into
    the codes table.  Codes are per-vector, so the extended index is
    value-identical to a from-scratch encode over the union with the
    same codebooks (oracle: pq_index_extend trains in SQL on the first
    batch only, encodes everything)."""
    from jionlp_spark.sources import catalog

    cb = catalog.read_table(spark, f'{base_path}/codebooks')
    codes = catalog.read_table(spark, f'{base_path}/codes')
    new_codes = pq_encode(new_emb, cb, m=m, dim=dim, vec_col=vec_col,
                          id_col=id_col)
    updated = codes.union(new_codes.select(*codes.columns))
    out = catalog.run_stage(
        spark, f'{base_path}/codes', 'pq_codes',
        lambda: updated, input_fingerprint=batch_id)
    return {'codebooks': cb, 'codes': out}


def query_pq_index(spark, base_path: str, queries: DataFrame,
                   k: int = 3, m: int = 8, dim: int = 64,
                   vec_col: str = 'embedding',
                   id_col: str = 'vec_id') -> DataFrame:
    """ADC top-k against a published PQ index: slice the query batch
    into subvectors, scan the stored CODES table (m ints per corpus
    vector — the compression is the I/O win), score via the broadcast
    stored codebooks."""
    from jionlp_spark.sources import catalog

    cb = catalog.read_table(spark, f'{base_path}/codebooks')
    codes = catalog.read_table(spark, f'{base_path}/codes')
    qsub = (_pq_subvectors(queries, m, dim // m, vec_col, id_col)
            .select(F.col(id_col).alias('qid'), 'sub_id',
                    F.col('sv').alias('qv')))
    return _pq_adc_topk(codes, cb, qsub, k, id_col)
