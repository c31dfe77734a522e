"""IVF recall gate: trained (Lloyd-iterated) multi-probe IVF must beat the
untrained single-probe baseline against exact brute-force top-k, and clear
an absolute floor.  Everything in the chain is deterministic (hash-seeded
init, exact decimal means, round-6 sims), so the measured recalls are exact
constants of the fixture."""

from pyspark.sql import functions as F

SF = '/root/testdata/sf0.01'


def _recall(bf, iv):
    per_q = [len(bf[q] & iv.get(q, set())) / len(bf[q]) for q in bf]
    return sum(per_q) / len(per_q)


def test_ivf_kmeans_multiprobe_recall(spark):
    from jionlp_spark.operators.ann import (brute_force_topk, ivf_assign,
                                            ivf_topk, kmeans_centroids)
    emb = spark.read.parquet(f'{SF}/embeddings.parquet').cache()
    queries = emb.filter(F.col('vec_id') < 20).select(
        F.col('vec_id').alias('qid'), F.col('embedding').alias('qe'))
    bf = {}
    for r in brute_force_topk(emb, queries, k=5).collect():
        bf.setdefault(r.qid, set()).add(r.vec_id)

    def run(iters, probes):
        cents = kmeans_centroids(emb, k=8, iters=iters)
        assigned, _ = ivf_assign(emb, centroids=cents)
        qa, _ = ivf_assign(emb.filter(F.col('vec_id') < 20),
                           centroids=cents, probes=probes)
        out = {}
        for r in ivf_topk(assigned, qa, k=5).collect():
            out.setdefault(r.qid, set()).add(r.vec_id)
        return _recall(bf, out)

    baseline = run(iters=0, probes=1)     # hash seeds, single probe
    trained = run(iters=2, probes=3)      # 2 Lloyd iterations, 3 probes
    assert trained > baseline, (trained, baseline)
    assert trained >= 0.5, trained


def test_simhash_wide_banding_equivalent(spark):
    """The Manku block-combination banding must produce exactly the pairs
    of the 4×16-bit scheme (both are exact for Hamming ≤ 3)."""
    from jionlp_spark.operators.dedup import (simhash64, simhash_near_dups,
                                              simhash_near_dups_wide)
    docs = spark.read.parquet(f'{SF}/documents.parquet')
    sims = simhash64(docs).cache()
    classic = {(r.doc_a, r.doc_b, r.hamming)
               for r in simhash_near_dups(sims).collect()}
    wide = {(r.doc_a, r.doc_b, r.hamming)
            for r in simhash_near_dups_wide(sims).collect()}
    assert classic == wide
    assert classic  # fixture has at least one true near-dup pair


def test_arrow_cosine_zero_dim_guard(spark):
    """ADVICE r4: zero-length vectors fold to dot=0.0 (zeros-seeded
    accumulator, like the dedup bucket kernel) instead of IndexError-ing
    inside the Arrow kernel."""
    import pyspark.sql.functions as F

    from jionlp_spark.operators.ann import _cosine_pairs_arrow
    cos = _cosine_pairs_arrow()
    df = spark.createDataFrame(
        [([], [], 1.0, 1.0)],
        'a array<double>, b array<double>, na double, nb double')
    row = df.select(cos(F.col('a'), F.col('b'), F.col('na'),
                        F.col('nb')).alias('c')).collect()[0]
    assert row['c'] == 0.0


def test_arrow_assign_identical_to_expression(spark):
    """The vectorized coarse-assignment kernel must emit the same
    (vec_id, bucket, _nrm) rows as the expression crossJoin
    (tests/expr_reference.py) — same sequential-dim fold, HALF_UP
    rounding, (sim desc, centroid_id) tie-break."""
    import expr_reference as ref
    from jionlp_spark.operators.ann import ivf_assign, kmeans_centroids
    emb = spark.read.parquet('/root/testdata/sf0.001/embeddings.parquet')
    cents = kmeans_centroids(emb, k=8, iters=1)
    for probes in (1, 2):
        a = ref.assign(emb, cents, probes)
        b, _ = ivf_assign(emb, centroids=cents, probes=probes)
        ra = sorted((r['vec_id'], r['bucket'], r['_nrm'])
                    for r in a.collect())
        rb = sorted((r['vec_id'], r['bucket'], r['_nrm'])
                    for r in b.collect())
        assert ra == rb and len(ra) > 0


def test_kmeans_train_cap(spark):
    """train_cap=None and train_cap>N produce identical centroids; a
    binding cap trains on the md5 subsample and still yields k usable
    centroids that assign every vector."""
    from jionlp_spark.operators.ann import ivf_assign, kmeans_centroids
    emb = spark.read.parquet('/root/testdata/sf0.001/embeddings.parquet')
    full = sorted(map(tuple, kmeans_centroids(emb, k=4, iters=1).collect()))
    uncapped = sorted(map(tuple, kmeans_centroids(
        emb, k=4, iters=1, train_cap=10 ** 9).collect()))
    assert full == uncapped
    capped = kmeans_centroids(emb, k=4, iters=1, train_cap=100)
    assert capped.count() == 4
    assigned, _ = ivf_assign(emb, centroids=capped)
    assert assigned.count() == emb.count()
    # deterministic: same cap → same centroids
    capped2 = kmeans_centroids(emb, k=4, iters=1, train_cap=100)
    assert sorted(map(tuple, capped.collect())) == \
        sorted(map(tuple, capped2.collect()))


def test_arrow_assign_degenerate_vectors_match_expression(spark):
    """Crash-for-crash + NaN-order parity (review finding r5): a
    zero-norm vector makes ANSI Spark raise DIVIDE_BY_ZERO in the
    expression reference — the Arrow assigner must raise too, not silently
    bucket; a NaN COMPONENT propagates NaN sims through both folds, and
    Spark's desc sort ranks NaN greatest — the Arrow top-probes
    selection must bucket those vectors identically."""
    import pytest
    import pyspark.sql.functions as F

    import expr_reference as ref
    from jionlp_spark.operators.ann import ivf_assign, kmeans_centroids
    base = spark.read.parquet('/root/testdata/sf0.001/embeddings.parquet')
    dim = len(base.select('embedding').first()[0])
    cents = kmeans_centroids(base, k=4, iters=1)

    zero = spark.createDataFrame([(100000,)], 'vec_id long').select(
        'vec_id', F.array_repeat(F.lit(0.0), dim).cast('array<float>')
        .alias('embedding'))
    with_zero = base.select('vec_id', 'embedding').union(zero)
    for a in (ref.assign(with_zero, cents, probes=1),
              ivf_assign(with_zero, centroids=cents, probes=1)[0]):
        with pytest.raises(Exception):
            a.collect()

    nan = spark.createDataFrame([(100001,)], 'vec_id long').select(
        'vec_id',
        F.concat(F.array_repeat(F.lit(float('nan')), 1),
                 F.array_repeat(F.lit(1.0), dim - 1))
        .cast('array<float>').alias('embedding'))
    emb = base.select('vec_id', 'embedding').union(nan)
    a = ref.assign(emb, cents, probes=2)
    b, _ = ivf_assign(emb, centroids=cents, probes=2)
    ra = sorted((r['vec_id'], r['bucket']) for r in a.collect())
    rb = sorted((r['vec_id'], r['bucket']) for r in b.collect())
    assert ra == rb
    assert sum(1 for v, _b in ra if v == 100001) == 2


def test_arrow_assign_zero_norm_centroid_raises(spark):
    """Advisor finding r5: a caller-supplied all-zero CENTROID must fail
    crash-for-crash with a Catalyst cosine (which raises ANSI
    DIVIDE_BY_ZERO), not silently emit inf/nan sims."""
    import pytest
    import pyspark.sql.functions as F

    from jionlp_spark.operators.ann import ivf_assign
    emb = spark.read.parquet('/root/testdata/sf0.001/embeddings.parquet')
    dim = len(emb.select('embedding').first()[0])
    cents = spark.createDataFrame([(0,), (1,)], 'centroid_id int').select(
        'centroid_id',
        F.when(F.col('centroid_id') == 0,
               F.array_repeat(F.lit(0.0), dim))
        .otherwise(F.array_repeat(F.lit(1.0), dim)).alias('centroid'))
    # the arrow kernel collects the k centroid rows at plan-build time,
    # so the guard fails fast in the driver (before any executor work)
    with pytest.raises(ArithmeticError, match='zero-norm centroid'):
        ivf_assign(emb, centroids=cents, probes=1)


def test_pq_encode_arrow_identical_to_expression(spark):
    """The Arrow PQ encoder and the broadcast-join + window expression
    reference (tests/expr_reference.py) emit identical code assignments —
    same dot folds, same HALF_UP rounding, same (score, code_id) ties."""
    import expr_reference as ref
    from jionlp_spark.operators.ann import pq_codebooks, pq_encode
    emb = spark.read.parquet(f'{SF}/embeddings.parquet')
    cb = pq_codebooks(emb)
    arrow = sorted((r.vec_id, tuple(r.codes))
                   for r in pq_encode(emb, cb).collect())
    expr = sorted((r.vec_id, tuple(r.codes))
                  for r in ref.pq_encode(emb, cb).collect())
    assert arrow == expr


def test_pq_mips_recall_beats_random(spark):
    """PQ-ADC top-5 against exact max-inner-product top-5.  The fixture
    embeddings are near-random 64-dim vectors — the hard case for
    quantization — so the pinned floor is modest; random guessing
    scores 5/499 ≈ 0.01, the deterministic measured value is 0.41."""
    from jionlp_spark.operators.ann import pq_topk
    emb = spark.read.parquet(f'{SF}/embeddings.parquet').cache()
    exact = {}
    dot = ("aggregate(zip_with(qe, embedding, (x, y) -> "
           "cast(x as double) * cast(y as double)), "
           "cast(0.0 as double), (acc, v) -> acc + v)")
    from pyspark.sql.window import Window
    q = emb.filter(F.col('vec_id') < 20).select(
        F.col('vec_id').alias('qid'), F.col('embedding').alias('qe'))
    scored = (q.crossJoin(emb).filter(F.col('qid') != F.col('vec_id'))
              .select('qid', 'vec_id', F.expr(dot).alias('dot')))
    w = Window.partitionBy('qid').orderBy(F.desc('dot'), 'vec_id')
    for r in (scored.withColumn('rn', F.row_number().over(w))
              .filter('rn <= 5').collect()):
        exact.setdefault(r.qid, set()).add(r.vec_id)
    approx = {}
    for r in pq_topk(emb, k=5, n_queries=20).collect():
        approx.setdefault(r.qid, set()).add(r.vec_id)
    recall = _recall(exact, approx)
    assert recall >= 0.35, recall


def test_pq_identical_vectors_identical_codes(spark):
    """Deterministic encode: planted exact-duplicate vectors quantize to
    the same code ids (the PQ dedup/serving invariant)."""
    from jionlp_spark.operators.ann import pq_codebooks, pq_encode
    emb = spark.read.parquet(f'{SF}/embeddings.parquet')
    dup = emb.filter(F.col('vec_id') < 4).withColumn(
        'vec_id', F.col('vec_id') + 10000)
    both = emb.union(dup)
    cb = pq_codebooks(emb)
    codes = {r.vec_id: tuple(r.codes)
             for r in pq_encode(both, cb).collect()}
    for i in range(4):
        assert codes[i] == codes[i + 10000], i


def test_pq_codebooks_arrow_identical_to_expression(spark):
    """The Arrow training assignment and the broadcast-join expression
    reference (tests/expr_reference.py) train IDENTICAL codebooks — same
    scores, ties, and decimal-exact means."""
    import expr_reference as ref
    from jionlp_spark.operators.ann import pq_codebooks
    emb = spark.read.parquet(f'{SF}/embeddings.parquet')
    a = sorted((r.sub_id, r.code_id, tuple(r.code)) for r in
               pq_codebooks(emb, iters=2).collect())
    e = sorted((r.sub_id, r.code_id, tuple(r.code)) for r in
               ref.pq_codebooks(emb, iters=2).collect())
    assert a == e
