"""Byte-level BPE codec parity vs the live reference + distributed merge
training on a hand-computable fixture."""

TEXTS = ['メトロ', '中文字符', 'hello world', '¡Ωmega™', 'a', '',
         'русский', '😀 emoji', '\x00control\x07', 'ĠħŃ']


def test_byte_codec_parity(reference):
    from jionlp_spark.kernels.bpe import byte_level_decode, byte_level_encode
    reference.check(
        'encode', TEXTS,
        ref=lambda jio, t: jio.bpe.byte_level_bpe.encode(t),
        ours=byte_level_encode)
    encoded = [byte_level_encode(t) for t in TEXTS]
    reference.check(
        'decode', encoded + ['ã'],
        ref=lambda jio, e: jio.bpe.byte_level_bpe.decode(e),
        ours=byte_level_decode)
    for t, enc in zip(TEXTS, encoded):
        assert byte_level_decode(enc) == t, t
    # undecodable input → U+FFFD per position (encoder_decoder.py:119-121)
    assert byte_level_decode('ã') == '�'


def test_bpe_train_hand_computed(spark):
    from jionlp_spark.operators.bpe import bpe_encode, bpe_train
    docs = spark.createDataFrame(
        [(0, 'low low low lower lowest')], 'doc_id long, text string')
    merges = bpe_train(docs, n_merges=10)
    # pair counts: (l,o)=5 ties (o,w)=5 → lexical tie-break picks (l,o);
    # then (lo,w)=5; then (low,e)=2; every remaining pair has count 1 → stop
    assert merges == [('l', 'o'), ('lo', 'w'), ('low', 'e')]
    enc = bpe_encode(
        spark.createDataFrame([(1, 'low lowest')], 'doc_id long, text string'),
        merges).collect()[0]
    assert enc.tokens == ['low', 'lowe', 's', 't']
    assert enc.n_tokens == 4


def test_bpe_modes_identical_and_job_bounded(spark):
    """Driver mode (1 corpus-scan job) and the batched distributed mode
    must produce byte-identical merge sequences; driver mode bounds the
    job cadence of a 50-merge train far under the 1-job-per-merge naive."""
    from jionlp_spark.operators.bpe import bpe_train
    docs = spark.read.parquet('/root/testdata/sf0.001/documents.parquet') \
        .limit(60).cache()
    st_drv, st_dist = {}, {}
    drv = bpe_train(docs, n_merges=50, mode='driver', stats=st_drv)
    dist = bpe_train(docs, n_merges=50, mode='distributed', stats=st_dist)
    assert drv == dist
    assert len(drv) == 50
    assert st_drv['rounds'] == 1          # one Spark job per train
    assert st_dist['rounds'] <= 50        # batching never exceeds naive


def test_bpe_train_compresses_corpus(spark):
    from pyspark.sql import functions as F

    from jionlp_spark.operators.bpe import bpe_encode, bpe_train
    docs = spark.read.parquet('/root/testdata/sf0.001/documents.parquet') \
        .limit(100).cache()
    merges = bpe_train(docs, n_merges=20)
    assert len(merges) == 20
    enc = bpe_encode(docs, merges)
    base = docs.select(F.sum(F.length(F.regexp_replace('text', ' ', '')))
                       .alias('chars')).collect()[0].chars
    total = enc.agg(F.sum('n_tokens').alias('n')).collect()[0].n
    assert total < base  # merges strictly compress vs char-level
