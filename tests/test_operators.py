"""Unit tests for the training-data-pipeline operators (dedup, textstats,
ann, multimodal, streaming) beyond the oracle contract."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope='module')
def docs(spark):
    rows = [
        (0, 'the quick brown fox jumps over the lazy dog', 'en', 's0'),
        (1, 'the quick brown fox jumps over the lazy dog', 'en', 's0'),
        (2, 'the quick brown fox jumps over a lazy cat', 'en', 's1'),
        (3, 'el rapido zorro marron salta sobre el perro', 'es', 's1'),
        (4, 'completely different text about spark engines', 'en', 's2'),
        (5, 'der schnelle braune fuchs und der faule hund', 'de', 's2'),
    ]
    return spark.createDataFrame(rows, 'doc_id long, text string, '
                                       'lang string, source string').cache()


def test_dedup_exact(docs):
    from jionlp_spark.operators.dedup import dedup_exact
    res = dedup_exact(docs).collect()
    assert len(res) == 1 and res[0]['cluster_size'] == 2
    assert res[0]['keep_doc_id'] == 0


def test_minhash_lsh_finds_near_dups(docs):
    from jionlp_spark.operators.dedup import (lsh_candidate_pairs,
                                              minhash_signatures, shingles)
    sigs = minhash_signatures(shingles(docs, n=1), num_hashes=16)
    pairs = {(r['doc_a'], r['doc_b'])
             for r in lsh_candidate_pairs(sigs, bands=4).collect()}
    assert (0, 1) in pairs          # exact dups always collide
    assert (0, 5) not in pairs      # unrelated languages don't


def test_components_driver_matches_star(spark):
    """The r8 small-edge-set driver union-find must label identically to
    the distributed star rounds (min id per component, every endpoint
    present) — random graphs incl. chains, stars, singleton pairs."""
    import random

    from jionlp_spark.operators import dedup as dd
    rng = random.Random(13)
    cases = [
        [(1, 2)],
        [(1, 2), (2, 3), (3, 4), (10, 11)],             # chain + pair
        [(5, i) for i in range(6, 20)],                  # star
        [(rng.randrange(60), rng.randrange(60)) for _ in range(150)],
    ]
    for pairs in cases:
        pairs = [(a, b) for a, b in pairs if a != b]
        df = spark.createDataFrame(pairs, 'doc_a long, doc_b long')
        small = {(r['doc_id'], r['cluster'])
                 for r in dd.dedup_components(df).collect()}
        old_cut = dd._SMALL_COMPONENTS_CUTOFF
        dd._SMALL_COMPONENTS_CUTOFF = -1      # force the star rounds
        try:
            star = {(r['doc_id'], r['cluster'])
                    for r in dd.dedup_components(df).collect()}
        finally:
            dd._SMALL_COMPONENTS_CUTOFF = old_cut
        assert small == star and small


def test_minhash_arrow_matches_expression_tree(docs, spark):
    """The r8 Arrow md5-signature pass must be bit-identical to the
    higher-order-expression tree it replaced — same salt-concat-md5-
    substring-min chain, including null-element skipping and the
    empty-shingles drop."""
    from pyspark.sql import functions as F

    from jionlp_spark.operators.dedup import minhash_signatures, shingles
    extra = spark.createDataFrame(
        [(100, 'a  b   c'),          # multi-space → empty tokens
         (101, 'ab'), (102, '')],    # single/empty text
        'doc_id long, text string')
    sh = shingles(docs.select('doc_id', 'text').union(extra), n=3)
    got = {r['doc_id']: (r['mh0'], r['mh3'], r['mh7'])
           for r in minhash_signatures(sh, num_hashes=8).collect()}

    # reference: the pre-r8 expression formulation, inline
    salt_cols = [
        F.expr(f"transform(shingles, s -> md5(concat('{g}', s)))")
        .alias(f'_h{g}') for g in range(2)]
    hashed = sh.filter(F.size('shingles') > 0).select('doc_id', *salt_cols)
    mh = [F.expr(f"array_min(transform(_h{k // 4}, "
                 f"x -> substring(x, {(k % 4) * 8 + 1}, 8)))")
          .alias(f'mh{k}') for k in range(8)]
    want = {r['doc_id']: (r['mh0'], r['mh3'], r['mh7'])
            for r in hashed.select('doc_id', *mh).collect()}
    assert got == want and len(got) > 5


def test_simhash_near_dups(docs):
    from jionlp_spark.operators.dedup import simhash64, simhash_near_dups
    sims = simhash64(docs)
    vals = {r['doc_id']: r['simhash'] for r in sims.collect()}
    assert vals[0] == vals[1]       # identical text → identical simhash
    pairs = {(r['doc_a'], r['doc_b'], r['hamming'])
             for r in simhash_near_dups(sims).collect()}
    assert (0, 1, 0) in pairs


def test_jaccard_pairs(docs):
    from jionlp_spark.operators.dedup import jaccard_pairs, shingles
    res = {(r['doc_a'], r['doc_b']): r['jaccard']
           for r in jaccard_pairs(shingles(docs, n=1), 0.5).collect()}
    assert res[(0, 1)] == 1.0
    assert (0, 2) in res            # 7/9 shared tokens


def test_lang_id(docs):
    from jionlp_spark.operators.textstats import lang_id
    res = {r['doc_id']: r['lang_pred'] for r in lang_id(docs).collect()}
    assert res[0] == 'en' and res[3] == 'es' and res[5] == 'de'


def test_quality_and_tokens(docs):
    from jionlp_spark.operators.textstats import quality_score, token_counts
    q = quality_score(docs).filter('doc_id = 0').collect()[0]
    assert q['n_tokens'] == 9
    assert 0 < q['quality'] <= 1
    t = token_counts(docs).filter('doc_id = 0').collect()[0]
    assert t['ws_tokens'] == 9
    assert t['subword_tokens'] >= 9


def test_ann_brute_vs_ivf(spark):
    emb = spark.read.parquet('/root/testdata/sf0.001/embeddings.parquet')
    from jionlp_spark.operators.ann import (brute_force_topk, ivf_assign,
                                            ivf_topk)
    queries = emb.filter('vec_id < 2').select(
        F.col('vec_id').alias('qid'), F.col('embedding').alias('qe'))
    brute = brute_force_topk(emb, queries, k=3).collect()
    assert {r['qid'] for r in brute} == {0, 1}
    assigned, _ = ivf_assign(emb, n_centroids=4)
    q = assigned.filter('vec_id < 2')
    ivf = ivf_topk(assigned, q, k=3).collect()
    # single-probe IVF returns ≤ k per query, from the same bucket
    assert all(r['cos'] <= 1.0 for r in ivf)


def test_arrow_cosine_bit_equal(spark):
    """The vectorized Arrow pair-cosine must be BIT-identical to the
    expression fold (same doubles pre-round; tests/expr_reference.py):
    the DuckDB oracle reproduces the sequential fold, so any last-ulp
    drift (e.g. np.dot's pairwise summation) would surface as round-6
    hash mismatches."""
    import expr_reference as ref
    from jionlp_spark.operators.ann import ivf_assign, ivf_topk
    from jionlp_spark.operators.dedup import embedding_near_dups
    emb = spark.read.parquet('/root/testdata/sf0.001/embeddings.parquet')

    assigned, _ = ivf_assign(emb, n_centroids=4, probes=2)
    q = assigned.filter('vec_id < 8')
    expr_rows = sorted(map(tuple, ref.ivf_topk(assigned, q, k=5).collect()))
    arrow_rows = sorted(map(tuple, ivf_topk(assigned, q, k=5).collect()))
    assert expr_rows == arrow_rows and len(arrow_rows) > 0

    e = sorted(map(tuple, ref.embedding_near_dups(
        emb, threshold=-1.0).collect()))
    a = sorted(map(tuple, embedding_near_dups(
        emb, threshold=-1.0).collect()))
    assert e == a and len(a) > 0


def test_multimodal_plumbing(spark):
    from jionlp_spark.operators.multimodal import (decode_image_features,
                                                   frame_sample_stub)
    media = spark.createDataFrame(
        [(1, 'image', b'\x89PNG1234' * 100, None),
         (2, 'image', b'\xff\xd8\xffrest', None)],
        'media_id long, media_type string, payload binary, meta string')
    feats = {r['media_id']: r for r in decode_image_features(media).collect()}
    assert feats[1]['format'] == 'png'
    assert feats[2]['format'] == 'jpeg'
    assert feats[1]['n_bytes'] == 800
    assert len(feats[1]['embedding']) == 8
    frames = frame_sample_stub(media, every_n_bytes=256).collect()
    assert len([f for f in frames if f['media_id'] == 1]) == 4  # 800/256→4


def test_streaming_mentions(spark, tmp_path):
    """Structured Streaming variant: file source → mention deltas, row for
    row the lazy batch pipeline's mentions over the same pages."""
    import os

    from jionlp_spark.plans.pipeline import run_pipeline
    from jionlp_spark.sources.pages import generate_pages
    from jionlp_spark.streaming.stream import run_file_stream

    src = str(tmp_path / 'src')
    out = str(tmp_path / 'out')
    ckpt = str(tmp_path / 'ckpt')
    generate_pages(spark, 50, num_partitions=2).write.parquet(src)
    q = run_file_stream(spark, src, out, ckpt)
    q.awaitTermination(120)
    streamed = spark.read.parquet(out)
    batch = run_pipeline(spark, spark.read.parquet(src))['mentions']
    assert streamed.count() > 0
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0
    assert os.path.exists(ckpt)


def test_stateful_dedup_stream(spark, tmp_path):
    """applyInPandasWithState exact-dedup: state persists across restarts
    of an availableNow stream — a repeat arriving in a later batch gets
    dup_index > 0."""
    import datetime

    from jionlp_spark.streaming.stream import stateful_dedup_stream

    src = str(tmp_path / 'src')
    out = str(tmp_path / 'out')
    ckpt = str(tmp_path / 'ckpt')
    ts = datetime.datetime(2021, 9, 1)

    def run_batch(rows):
        spark.createDataFrame(
            rows, 'doc_id long, text string, warc_ts timestamp') \
            .write.mode('append').parquet(src)
        stream = spark.readStream.schema(
            'doc_id long, text string, warc_ts timestamp').parquet(src)
        q = (stateful_dedup_stream(stream).writeStream
             .format('parquet').option('path', out)
             .option('checkpointLocation', ckpt)
             .outputMode('append').trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_batch([(0, 'aaa bbb', ts), (1, 'ccc ddd', ts),
               (2, 'aaa bbb', ts)])
    run_batch([(3, 'aaa bbb', ts + datetime.timedelta(minutes=5)),
               (4, 'eee fff', ts + datetime.timedelta(minutes=5))])

    rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert len(rows) == 5
    # first arrivals keep dup_index 0
    assert rows[1].dup_index == 0 and rows[4].dup_index == 0
    # 'aaa bbb' arrived three times across two micro-batch runs: indices
    # 0,1 in run 1 (order by ts,doc_id) and 2 in run 2 (state survived)
    assert sorted([rows[0].dup_index, rows[2].dup_index]) == [0, 1]
    assert rows[3].dup_index == 2


def test_stateful_dedup_stream_orders_whole_micro_batch(spark, tmp_path):
    """dup_index follows (warc_ts, doc_id) over a key's whole micro-batch,
    not over each Arrow chunk: with one record per chunk, one hash whose
    rows sit in descending warc_ts in the source file still gives
    dup_index 0 to its earliest row."""
    import datetime

    from jionlp_spark.streaming.stream import stateful_dedup_stream

    schema = 'doc_id long, text string, warc_ts timestamp'
    src, out = str(tmp_path / 'src'), str(tmp_path / 'out')
    ts = datetime.datetime(2021, 9, 1)
    spark.createDataFrame(
        [(d, 'same text', ts - datetime.timedelta(minutes=d))
         for d in range(4)], schema).coalesce(1).write.parquet(src)
    conf = 'spark.sql.execution.arrow.maxRecordsPerBatch'
    old = spark.conf.get(conf)
    spark.conf.set(conf, '1')
    try:
        q = (stateful_dedup_stream(spark.readStream.schema(schema)
                                   .parquet(src))
             .writeStream.format('parquet').option('path', out)
             .option('checkpointLocation', str(tmp_path / 'ckpt'))
             .outputMode('append').trigger(availableNow=True).start())
        q.awaitTermination(120)
    finally:
        spark.conf.set(conf, old)
    got = {r.doc_id: r.dup_index for r in spark.read.parquet(out).collect()}
    # doc 3 carries the earliest warc_ts
    assert got == {3: 0, 2: 1, 1: 2, 0: 3}, got


def test_multimodal_resize_and_aug_add_delete(spark):
    """Resize-stub plumbing shape + the distributed add/delete augmenter
    matches the kernel under the same per-row seed."""
    import numpy as np
    from pyspark.sql import functions as F

    from jionlp_spark import lexicons
    from jionlp_spark.kernels.textaug import RandomAddDelete
    from jionlp_spark.operators.multimodal import resize_image_stub
    from jionlp_spark.operators.textaug import augment_add_delete

    media = spark.createDataFrame(
        [(0, b'\x89PNGxxxx'), (1, b'\xff\xd8\xffyyy')],
        'media_id long, payload binary')
    res = {r.media_id: r for r in
           resize_image_stub(media, 128, 96).collect()}
    assert res[0].target_w == 128 and res[0].target_h == 96
    assert len(res[0].resized) == 128 * 96 // 64
    # deterministic: second run bit-identical
    res2 = {r.media_id: r for r in
            resize_image_stub(media, 128, 96).collect()}
    assert res[0].resized_md5 == res2[0].resized_md5

    docs = spark.createDataFrame(
        [(7, '今天天气不错，适合出门散步。'),
         (8, '数据清洗是大规模语料处理的关键步骤。')],
        'doc_id long, text string')
    got = {r.doc_id: r.augmented for r in
           augment_add_delete(docs, augmentation_num=2, add_ratio=0.1,
                              delete_ratio=0.1, base_seed=100).collect()}
    dist = lexicons.load_char_distribution()
    for doc_id, text in [(7, '今天天气不错，适合出门散步。'),
                         (8, '数据清洗是大规模语料处理的关键步骤。')]:
        kern = RandomAddDelete(
            dist, add_ratio=0.1, delete_ratio=0.1,
            rng=np.random.RandomState(100 + doc_id))
        assert got[doc_id] == '|'.join(kern(text, augmentation_num=2))


def test_winnow_impls_identical(spark):
    """The vectorized arrow winnowing kernel must match the JVM expression
    fold (tests/expr_reference.py) row-for-row (same modular integer
    semantics)."""
    import expr_reference as ref
    from jionlp_spark.operators.textstats import winnow_fingerprints
    docs = spark.read.parquet('/root/testdata/sf0.001/documents.parquet') \
        .limit(80).cache()
    a = sorted(map(tuple, ref.winnow_fingerprints(docs).collect()))
    b = sorted(map(tuple, winnow_fingerprints(docs).collect()))
    assert a == b and len(a) > 0


def test_winnow_guarantee_property(spark):
    """Winnowing's core guarantee (Schleimer et al. §2): two documents
    sharing a substring of length >= k+w-1 share at least one selected
    fingerprint.  Seeded random pairs with planted common passages."""
    import random
    from jionlp_spark.operators.textstats import winnow_fingerprints
    rng = random.Random(99)
    rows = []
    for i in range(30):
        common = ''.join(rng.choice('abcdefg ') for _ in range(11))  # k+w-1
        a = (''.join(rng.choice('hijklmn ') for _ in range(rng.randrange(0, 30)))
             + common
             + ''.join(rng.choice('opqrstu ') for _ in range(rng.randrange(0, 30))))
        b = (''.join(rng.choice('vwxyz ') for _ in range(rng.randrange(0, 30)))
             + common
             + ''.join(rng.choice('hijklmn ') for _ in range(rng.randrange(0, 30))))
        rows.append((2 * i, a))
        rows.append((2 * i + 1, b))
    docs = spark.createDataFrame(rows, 'doc_id long, text string')
    fps = winnow_fingerprints(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    for i in range(30):
        assert by_doc.get(2 * i, set()) & by_doc.get(2 * i + 1, set()), \
            f'pair {i} shares no fingerprint'


def test_multimodal_stub_contract(spark):
    """Pin the stub boundary (r3 verdict item 7): REAL fields are genuine
    byte-level features (independently recomputed here from the raw
    payload); STUB fields follow the documented md5-derivation exactly.
    A production decoder swap-in keeps every REAL field's value and
    replaces only the STUB formulas."""
    import hashlib

    from jionlp_spark.operators import multimodal as mm

    import struct

    png = (b'\x89PNG\r\n\x1a\n' + struct.pack('>I', 13) + b'IHDR'
           + struct.pack('>II', 320, 240) + b'\x08\x02\x00\x00\x00')
    gif = b'GIF89a' + struct.pack('<HH', 200, 100) + b'\xf7\x00\x00'
    jpeg = (b'\xff\xd8\xff\xe0' + struct.pack('>H', 16) + b'JFIF\x00'
            + b'\x00' * 9  # APP0 payload pads to the declared length 16
            + b'\xff\xc0' + struct.pack('>H', 17) + b'\x08'
            + struct.pack('>HH', 480, 640) + b'\x03' + b'\x00' * 9)
    payloads = {1: b'\x89PNG1234' * 100, 2: b'\xff\xd8\xffrest' * 7,
                3: b'plainbytes', 4: png, 5: gif, 6: jpeg}
    dims = {1: (None, None), 2: (None, None), 3: (None, None),
            4: (320, 240), 5: (200, 100), 6: (640, 480)}
    media = spark.createDataFrame(
        [(k, 'image', v, None) for k, v in payloads.items()],
        'media_id long, media_type string, payload binary, meta string')

    # schema column sets = REAL ∪ STUB, disjoint (the contract covers
    # every output field exactly once)
    feats_df = mm.decode_image_features(media)
    for op, df_cols in (('decode_image_features', feats_df.columns),
                        ('decode_audio_features',
                         mm.decode_audio_features(media).columns),
                        ('frame_sample_stub',
                         mm.frame_sample_stub(media).columns),
                        ('resize_image_stub',
                         mm.resize_image_stub(media).columns)):
        real, stub = set(mm.REAL_FIELDS[op]), set(mm.STUB_FIELDS[op])
        assert real | stub == set(df_cols) and not real & stub

    feats = {r['media_id']: r for r in feats_df.collect()}
    for mid, b in payloads.items():
        digest = hashlib.md5(b).digest()
        r = feats[mid]
        # REAL: byte-level features, recomputed independently — width/
        # height are header-parsed since r5 (verdict item 5), null for
        # unparseable payloads (incl. a 'png'-sniffed but truncated magic)
        assert r['n_bytes'] == len(b)
        assert r['content_md5'] == digest.hex()
        assert r['format'] == mm._sniff(b)
        assert (r['width'], r['height']) == dims[mid]
        # STUB: the pinned md5-derivation (what a real decoder replaces)
        assert r['embedding'] == pytest.approx(
            [(digest[i % 16] - 128) / 128.0 for i in range(8)])

    resized = {r['media_id']: r
               for r in mm.resize_image_stub(media, 224, 224).collect()}
    for mid, b in payloads.items():
        seed = hashlib.md5(b).digest()
        fake = (seed * ((224 * 224) // len(seed) + 1))[: 224 * 224 // 64]
        assert bytes(resized[mid]['resized']) == fake
        assert resized[mid]['resized_md5'] == hashlib.md5(fake).hexdigest()

    frames = mm.frame_sample_stub(media, every_n_bytes=256).collect()
    for r in frames:
        b = payloads[r['media_id']]
        chunk = b[r['offset']: r['offset'] + 256]
        assert r['frame_md5'] == hashlib.md5(chunk).hexdigest()


def test_cosine_fold_bit_equality_property():
    """Property behind the Arrow cosine kernels (no Spark needed): for
    ANY float32 vectors, np.cumsum over the products is bit-identical to
    the sequential left-to-right fold Catalyst's `aggregate` performs —
    while np.dot (pairwise/SIMD summation) is allowed to drift in the
    last ulp.  This is the invariant that keeps round-6 oracle parity."""
    import struct

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.tuples(
        st.floats(-1e4, 1e4, width=32), st.floats(-1e4, 1e4, width=32)),
        min_size=1, max_size=300))
    def check(pairs):
        a = np.array([p[0] for p in pairs], dtype=np.float32)
        b = np.array([p[1] for p in pairs], dtype=np.float32)
        prod = a.astype(np.float64) * b.astype(np.float64)
        acc = 0.0
        for v in prod.tolist():
            acc = acc + v
        kernel = float(np.cumsum(prod)[-1] + 0.0)
        assert struct.pack('<d', acc + 0.0) == struct.pack('<d', kernel)

    check()


def test_multimodal_header_literals():
    """Anchor the multimodal_features oracle literals to the real header
    bytes: every (format, width, height, n_bytes, md5) tuple in
    _MM_HEADERS recomputes from its base64 payload via the parser and
    hashlib (the DuckDB side can't md5 blobs, so it emits these
    literals)."""
    import base64
    import hashlib

    import __spark_entry__ as entry
    from jionlp_spark.operators import multimodal as mm

    for b64, fmt, w, h, n_bytes, md5 in entry._MM_HEADERS:
        b = base64.b64decode(b64)
        assert mm._sniff(b) == fmt
        assert mm.parse_image_dimensions(b) == (w, h)
        assert len(b) == n_bytes
        assert hashlib.md5(b).hexdigest() == md5


def test_winnow_hot_guard_paths_identical(spark):
    """Adversarial boilerplate corpus (r4 verdict item 7): every doc
    shares a boilerplate passage whose fingerprints are all hot.  The
    broadcast anti-join and the shuffle fallback (forced via
    hot_broadcast_limit=0) must produce identical pair sets, the capped
    boilerplate must NOT pair up the unrelated docs, and a genuinely
    rare shared passage must still be found."""
    from jionlp_spark.operators.dedup import winnow_near_dups

    boiler = ('subscribe to our newsletter terms of service '
              'privacy policy all rights reserved ') * 3
    rows = [(i, boiler + f'unique tail number {i} ' * 4)
            for i in range(12)]
    rare = ('a very specific shared passage that appears in exactly '
            'two documents of this corpus')
    rows += [(100, rare + ' alpha ending'), (101, rare + ' beta ending')]
    docs = spark.createDataFrame(rows, 'doc_id long, text string')

    kw = dict(min_shared=3, max_df=5, k=8, w=4)
    bc = {(r['doc_a'], r['doc_b'], r['shared_fps'])
          for r in winnow_near_dups(docs, hot_broadcast_limit=None,
                                    **kw).collect()}
    sh = {(r['doc_a'], r['doc_b'], r['shared_fps'])
          for r in winnow_near_dups(docs, hot_broadcast_limit=0,
                                    **kw).collect()}
    assert bc == sh
    pairs = {(a, b) for a, b, _ in bc}
    assert (100, 101) in pairs
    assert not any(a < 100 and b < 100 for a, b in pairs), \
        'boilerplate-only overlap should be capped out'


def test_dedup_components_and_keep_list(spark):
    """Min-label propagation: a chain merges transitively (a-b, b-c, c-d
    → one cluster labeled by the min id) even though a/d never pair;
    disjoint components stay separate; keep list picks the min doc."""
    from jionlp_spark.operators.dedup import (dedup_components,
                                              dedup_keep_list)
    pairs = spark.createDataFrame(
        [(3, 7), (7, 5), (5, 9),        # chain {3,5,7,9} → label 3
         (20, 21),                      # pair {20,21} → label 20
         (30, 31), (31, 30)],           # duplicate/reversed edges ok
        'doc_a long, doc_b long')
    comp = {r['doc_id']: r['cluster']
            for r in dedup_components(pairs).collect()}
    assert comp == {3: 3, 5: 3, 7: 3, 9: 3,
                    20: 20, 21: 20, 30: 30, 31: 30}
    keep = {r['cluster']: (r['cluster_size'], r['keep_doc_id'],
                           r['dropped'])
            for r in dedup_keep_list(pairs).collect()}
    assert keep == {3: (4, 3, 3), 20: (2, 20, 1), 30: (2, 30, 1)}


def test_incremental_lsh_dedup(spark, tmp_path):
    """Daily-batch dedup against a persistent snapshot index: batch 2's
    repeats of batch-1 texts are flagged against HISTORY (no re-signing),
    its internal dup is flagged within-batch, survivors extend the index
    as snapshot 2, and snapshot 1 remains time-travelable."""
    from jionlp_spark.operators.dedup import incremental_lsh_dedup
    from jionlp_spark.sources import catalog

    idx_path = str(tmp_path / 'lsh_index')
    texts = ['the quick brown fox jumps over the lazy dog tonight again',
             'completely different words about spark execution engines here',
             'a third unique document mentioning streams and watermarks now']
    b1 = spark.createDataFrame(
        list(enumerate(texts)), 'doc_id long, text string')
    r1 = incremental_lsh_dedup(spark, idx_path, b1, batch_id='b1')
    assert r1['dups'].count() == 0
    n_idx1 = r1['index'].count()
    assert n_idx1 > 0

    # batch 2: doc 10 repeats text 0 (dup vs history), docs 11+12 repeat
    # each other (within-batch dup, keep 11), doc 13 is new
    b2 = spark.createDataFrame(
        [(10, texts[0]), (11, 'some fresh sentence that nobody wrote yet'),
         (12, 'some fresh sentence that nobody wrote yet'),
         (13, 'another genuinely novel document for the second batch')],
        'doc_id long, text string')
    r2 = incremental_lsh_dedup(spark, idx_path, b2, batch_id='b2')
    dups = {(r['new_doc'], r['dup_of']) for r in r2['dups'].collect()}
    assert (10, 0) in dups and (12, 11) in dups
    assert not any(d in (11, 13) for d, _of in dups)
    # survivors 11 and 13 joined the index
    surv = {r['doc_id'] for r in
            r2['survivor_bands'].select('doc_id').distinct().collect()}
    assert surv == {11, 13}

    m = catalog.read_manifest(idx_path)
    assert m['current_snapshot_id'] == 2
    assert catalog.read_snapshot(spark, idx_path, 1).count() == n_idx1
    assert r2['index'].count() > n_idx1

    # re-publishing the same batch resumes (snapshot count unchanged)
    # AND the dup report stays correct: survivors must not read as dups
    # of their own published bands (identity-filtered cross join)
    r3 = incremental_lsh_dedup(spark, idx_path, b2, batch_id='b2')
    assert catalog.read_manifest(idx_path)['current_snapshot_id'] == 2
    dups3 = {(r['new_doc'], r['dup_of']) for r in r3['dups'].collect()}
    assert (11, 11) not in dups3 and (13, 13) not in dups3
    assert (10, 0) in dups3 and (12, 11) in dups3
    surv3 = {r['doc_id'] for r in
             r3['survivor_bands'].select('doc_id').distinct().collect()}
    assert surv3 == {11, 13}


def test_jpeg_fill_bytes_and_eoi():
    """JPEG spec allows 0xFF fill bytes before any marker — the header
    scanner must skip them like a real decoder (review finding r5); EOI
    before SOF terminates as unparseable rather than reading a bogus
    segment length."""
    import struct

    from jionlp_spark.operators.multimodal import parse_image_dimensions

    sof = (b'\xff\xc0' + struct.pack('>H', 17) + b'\x08'
           + struct.pack('>HH', 480, 640) + b'\x03' + b'\x00' * 9)
    # fill bytes directly before SOF0
    assert parse_image_dimensions(b'\xff\xd8' + b'\xff\xff\xff' + sof) \
        == (640, 480)
    app0 = (b'\xff\xe0' + struct.pack('>H', 16) + b'JFIF\x00'
            + b'\x00' * 9)
    # fill bytes between APP0 and SOF0
    assert parse_image_dimensions(
        b'\xff\xd8' + app0 + b'\xff\xff' + sof) == (640, 480)
    # EOI with no SOF → None (not a bogus seglen walk)
    assert parse_image_dimensions(b'\xff\xd8\xff\xd9\x12\x34\x56\x78') \
        is None


def test_dedup_components_property_vs_union_find(spark, monkeypatch):
    """Property check: on random graphs both component paths — the
    driver union-find every pair set this small takes, and the star
    rounds forced by a negative cutoff — equal a plain Python union-find
    relabeled to component minima."""
    import random

    from jionlp_spark.operators import dedup as dd
    from jionlp_spark.operators.dedup import dedup_components

    rng = random.Random(11)
    driver_cutoff = dd._SMALL_COMPONENTS_CUTOFF
    for trial in range(3):
        n = 40
        edges = sorted({tuple(sorted(rng.sample(range(n), 2)))
                        for _ in range(rng.randrange(10, 45))})
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        touched = {v for e in edges for v in e}
        minima = {}
        for v in touched:
            r = find(v)
            minima[r] = min(minima.get(r, v), v)
        want = {v: minima[find(v)] for v in touched}

        pairs = spark.createDataFrame(
            [(a, b) for a, b in edges], 'doc_a long, doc_b long')
        for cutoff in (driver_cutoff, -1):
            monkeypatch.setattr(dd, '_SMALL_COMPONENTS_CUTOFF', cutoff)
            got = {r['doc_id']: r['cluster']
                   for r in dedup_components(pairs, max_iter=50).collect()}
            assert got == want, (cutoff, trial, edges)


def test_dedup_components_adversarial_chain(spark, monkeypatch):
    """A 1000-node path graph (boilerplate page series that near-dup
    pairwise), with the star rounds forced past the driver cutoff: star
    contraction converges in O(log n) rounds and labels everything 0,
    and a max_iter below what the chain needs raises instead of
    returning fragmented clusters."""
    import pytest

    from jionlp_spark.operators import dedup as dd
    from jionlp_spark.operators.dedup import dedup_components

    monkeypatch.setattr(dd, '_SMALL_COMPONENTS_CUTOFF', -1)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(999)],
        'doc_a long, doc_b long').coalesce(4)
    comp = dedup_components(pairs, max_iter=16).collect()
    assert len(comp) == 1000
    assert all(r['cluster'] == 0 for r in comp)
    with pytest.raises(RuntimeError, match='did not converge'):
        dedup_components(pairs, max_iter=2).collect()


def test_streaming_lsh_pairs_cross_batch_and_cap(spark, tmp_path):
    """A near-dup pair split ACROSS micro-batches is found through state
    (the whole point vs per-batch joins), and a hot bucket stops pairing
    at max_bucket."""
    import datetime
    import os

    from jionlp_spark.streaming.stream import streaming_lsh_pairs

    t0 = datetime.datetime(2021, 9, 1)
    text_a = 'the quick brown fox jumps over the lazy dog tonight again ok'
    text_b = 'completely different words about spark execution engines now'
    boiler = 'subscribe newsletter terms of service privacy policy today'
    rows1 = [(0, text_a, t0), (1, text_b, t0)]
    rows1 += [(100 + i, boiler, t0) for i in range(4)]
    # batch 2: doc 2 repeats text_a (cross-batch pair through state)
    rows2 = [(2, text_a, t0), (3, 'yet another unrelated document', t0)]
    rows2 += [(200 + i, boiler, t0) for i in range(4)]

    src = str(tmp_path / 'src')
    for i, rows in enumerate((rows1, rows2)):
        part = f'{src}/batch_{i}'
        spark.createDataFrame(
            rows, 'doc_id long, text string, warc_ts timestamp') \
            .coalesce(1).write.parquet(part)
        for root, _d, files in os.walk(part):
            for fn in files:
                os.utime(os.path.join(root, fn),
                         (1_600_000_000 + i * 3600,) * 2)

    stream = (spark.readStream
              .schema('doc_id long, text string, warc_ts timestamp')
              .option('maxFilesPerTrigger', '1').parquet(f'{src}/batch_*'))
    result = streaming_lsh_pairs(stream, max_bucket=5)
    q = (result.writeStream.format('memory').queryName('slsh_test')
         .outputMode('append').trigger(availableNow=True)
         .option('checkpointLocation', str(tmp_path / 'ckpt')).start())
    q.awaitTermination(180)
    pairs = {(r['doc_a'], r['doc_b'])
             for r in spark.table('slsh_test').collect()}
    assert (0, 2) in pairs            # across micro-batches, via state
    assert (0, 1) not in pairs        # unrelated texts don't pair
    # 8 boilerplate docs, cap 5: the capped bucket pairs at most
    # C(5,2) = 10 of the C(8,2) = 28 — overflow emits nothing
    boiler_pairs = {(a, b) for a, b in pairs if a >= 100 and b >= 100}
    assert len(boiler_pairs) == 10


def test_interval_ms_validation():
    """Advisor finding r5: bad watermark/ttl specs fail fast with the
    accepted grammar, not an opaque KeyError mid-stream."""
    import pytest

    from jionlp_spark.streaming.stream import _interval_ms

    assert _interval_ms('30 minutes') == 1_800_000
    assert _interval_ms('1 Hour') == 3_600_000  # case-normalized
    assert _interval_ms('2 day') == 172_800_000
    for bad in ('30 min', '500 milliseconds', '1hour', 'x hours', ''):
        with pytest.raises(ValueError, match='interval'):
            _interval_ms(bad)


def test_tsv_roundtrip_adversarial(spark, tmp_path):
    """Advisor finding r5: the TSV pair must survive REAL crawl text —
    embedded tabs, newlines, quotes, empty strings, nulls, and
    sub-second timestamps — not just the digit-free test corpus."""
    import datetime

    from jionlp_spark.sources.pages import read_pages_tsv, write_pages_tsv

    rows = [
        ('u1', datetime.datetime(2021, 9, 1, 0, 0, 0, 123456),
         'en', 'tab\there and\nnewline and "quote"'),
        ('u2', datetime.datetime(2021, 9, 1, 0, 0, 1), 'en', ''),
        ('u3', datetime.datetime(2021, 9, 1, 0, 0, 2), 'en', None),
        ('u4', None, None, 'plain'),
    ]
    df = spark.createDataFrame(
        rows, 'url string, warc_ts timestamp, lang string, text string')
    path = str(tmp_path / 'tsv')
    write_pages_tsv(df, path)
    got = {r['url']: (r['warc_ts'], r['lang'], r['text'])
           for r in read_pages_tsv(spark, path).collect()}
    want = {u: (ts, lg, tx) for u, ts, lg, tx in rows}
    assert got == want


def test_curate_corpus_stage_priority(spark):
    """Curation audit: every doc gets exactly one status; stage order
    means a doc failing two gates reports the earlier one (zh + low
    quality → dropped_lang; low quality + exact dup → dropped_quality),
    and the near-dup stage only ever sees exact-dedup survivors."""
    from jionlp_spark.operators.curate import curate_corpus
    long_a = ' '.join(f'w{i}' for i in range(30))
    long_b = long_a + ' tail'            # near-dup of long_a (J≈0.93)
    rows = [
        (0, long_a, 'en'),               # kept (cluster keep, min id)
        (1, long_b, 'en'),               # dropped_neardup
        (2, long_a, 'en'),               # dropped_exact (dup of 0)
        (3, long_a, 'zh'),               # dropped_lang (before exact)
        (4, 'a a a a a a', 'en'),        # dropped_quality (dr=1/6)
        (5, 'b b b b b b', 'zh'),        # dropped_lang (before quality)
        (6, ' '.join(f'x{i}' for i in range(40)), 'fr'),  # kept, unpaired
    ]
    docs = spark.createDataFrame(rows, 'doc_id long, text string, '
                                       'lang string')
    got = {r['doc_id']: r['status']
           for r in curate_corpus(docs).collect()}
    assert got == {0: 'kept', 1: 'dropped_neardup', 2: 'dropped_exact',
                   3: 'dropped_lang', 4: 'dropped_quality',
                   5: 'dropped_lang', 6: 'kept'}


def test_incremental_curate_state_and_idempotence(spark, tmp_path):
    """Daily-crawl curation: batch 2's exact/near dups vs ADMITTED history
    are caught through the published hash + band state; docs dropped in
    batch 1 do NOT pollute the state (a dup of a dropped doc is judged
    only against admitted docs); re-running a batch (fingerprint resume)
    returns the SAME verdicts — the identity filters keep a batch's own
    published rows from flagging it."""
    from jionlp_spark.operators.curate import incremental_curate
    long = lambda tag: ' '.join(f'{tag}{i}' for i in range(30))
    state = str(tmp_path / 'state')
    b1 = spark.createDataFrame([
        (0, long('w'), 'en'),            # admitted
        (1, long('w'), 'en'),            # dropped_exact within b1
        (2, long('q'), 'zh'),            # dropped_lang → NOT in state
    ], 'doc_id long, text string, lang string')
    v1 = {r['doc_id']: r['status'] for r in
          incremental_curate(spark, state, b1, 'b1')['verdict'].collect()}
    assert v1 == {0: 'kept', 1: 'dropped_exact', 2: 'dropped_lang'}

    b2 = spark.createDataFrame([
        (10, long('w'), 'en'),           # exact dup of ADMITTED 0
        (11, long('q'), 'en'),           # same text as DROPPED 2 → kept
        (12, long('w') + ' tail', 'en'),  # near-dup of admitted 0
        (13, long('z'), 'fr'),           # fresh → kept
    ], 'doc_id long, text string, lang string')
    v2 = {r['doc_id']: r['status'] for r in
          incremental_curate(spark, state, b2, 'b2')['verdict'].collect()}
    assert v2 == {10: 'dropped_exact', 11: 'kept',
                  12: 'dropped_neardup', 13: 'kept'}

    # re-run batch 2: publish is a fingerprint no-op, verdict identical
    # even though b2's own kept rows are now IN the state
    v2b = {r['doc_id']: r['status'] for r in
           incremental_curate(spark, state, b2, 'b2')['verdict'].collect()}
    assert v2b == v2


def test_decontaminate_paths_and_edges(spark):
    """Decontamination: benchmark 8-gram overlap flags exactly the docs
    containing a verbatim benchmark run; docs shorter than n yield
    n_ngrams=0 and are never flagged; the broadcast and shuffle-join
    paths return identical rows; the corpus-side plan broadcasts the
    benchmark (corpus rows never shuffle before the hit aggregation)."""
    from jionlp_spark.operators.decontam import decontaminate
    run = ' '.join(f'b{i}' for i in range(10))       # 10-token bench item
    docs = spark.createDataFrame([
        (0, 'x0 x1 x2 ' + run + ' y0 y1', 'en'),     # contains the run
        (1, ' '.join(f'c{i}' for i in range(20)), 'en'),   # clean
        (2, 'short doc', 'en'),                      # < n tokens
        (3, run, 'en'),                              # the run verbatim
    ], 'doc_id long, text string, lang string')
    bench = spark.createDataFrame([(run,)], 'text string')

    got = {r['doc_id']: (r['n_ngrams'], r['n_hit'], r['contaminated'])
           for r in decontaminate(docs, bench, n=8).collect()}
    # 10-token run → 3 distinct 8-grams; doc 0 (15 tokens) embeds all 3
    assert got[0] == (8, 3, True)
    assert got[1] == (13, 0, False)
    assert got[2] == (0, 0, False)
    assert got[3] == (3, 3, True)

    shuffle = {tuple(r) for r in
               decontaminate(docs, bench, n=8,
                             broadcast_bench=False).collect()}
    assert shuffle == {tuple(r) for r in
                       decontaminate(docs, bench, n=8).collect()}

    plan = decontaminate(docs, bench, n=8)._jdf.queryExecution() \
        .executedPlan().toString()
    assert 'BroadcastHashJoin' in plan


def test_lm_perplexity_ordering_and_edges(spark):
    """Bigram-LM perplexity: a doc repeating the corpus' dominant bigram
    scores lower perplexity than a doc of one-off bigrams; docs with
    < 2 tokens get n_bigrams=0 and null scores; ppl = exp(-avg_logprob)
    exactly."""
    import math
    from jionlp_spark.operators.textstats import lm_perplexity
    common = ' '.join(['a b'] * 10)          # "a b" bigram dominates
    docs = spark.createDataFrame([
        (0, common, 'en'),
        (1, common, 'en'),
        (2, 'c d e f g h', 'en'),            # all singleton bigrams
        (3, 'solo', 'en'),                   # no bigrams
    ], 'doc_id long, text string, lang string')
    got = {r['doc_id']: r for r in lm_perplexity(docs).collect()}
    assert got[3]['n_bigrams'] == 0 and got[3]['ppl'] is None
    assert got[0]['ppl'] < got[2]['ppl']
    assert got[0]['ppl'] == got[1]['ppl']    # identical docs, same score
    for i in (0, 1, 2):
        # rel_tol: JVM Math.exp and libm exp may differ in the last ulp
        # (engine parity is what the DuckDB gate certifies, not
        # JVM-vs-CPython identity)
        assert math.isclose(got[i]['ppl'],
                            math.exp(-got[i]['avg_logprob']),
                            rel_tol=1e-12)


def test_pagerank_hub_and_mass(spark):
    """PageRank on a symmetric star+path graph: total mass stays 1 (the
    symmetric graph is out-degree-complete, so no mass leaks), the hub
    outranks every leaf, and a node outside the star ranks lowest."""
    import math
    from jionlp_spark.operators.graph import pagerank
    und = [('hub', 'l1', 3), ('hub', 'l2', 3), ('hub', 'l3', 3),
           ('l3', 'tail', 1)]
    edges = spark.createDataFrame(
        [(a, b, w) for a, b, w in und] + [(b, a, w) for a, b, w in und],
        'src string, dst string, weight long')
    got = {r['v']: r['pr'] for r in pagerank(edges, iters=5).collect()}
    assert math.isclose(sum(got.values()), 1.0, rel_tol=1e-9)
    assert got['hub'] == max(got.values())
    assert got['tail'] < got['l3']
    assert got['l1'] == got['l2']        # symmetric leaves tie exactly


def test_training_mix_two_phase_equals_spec(spark):
    """Two-phase top-K sampling equals the single-window spec under
    adversarial partitioning, clamps to availability, is insensitive to
    input layout, and drops unquota'd languages."""
    from pyspark.sql.window import Window
    from jionlp_spark.operators.curate import training_mix_sample
    rows = [(i, 'en' if i % 3 else 'de') for i in range(200)] \
        + [(1000 + i, 'xx') for i in range(5)]
    docs = spark.createDataFrame(rows, 'doc_id long, lang string')
    quotas = {'en': 20, 'de': 100}       # de has only 67 docs → clamps

    got = {tuple(r) for r in
           training_mix_sample(docs.repartition(16), quotas).collect()}
    got2 = {tuple(r) for r in
            training_mix_sample(docs.coalesce(1), quotas).collect()}
    assert got == got2                   # layout-independent

    w = Window.partitionBy('lang').orderBy(
        F.md5(F.col('doc_id').cast('string')), 'doc_id')
    spec = {tuple(r) for r in
            docs.withColumn('rk', F.row_number().over(w).cast('long'))
            .filter((F.col('lang') == 'en') & (F.col('rk') <= 20)
                    | (F.col('lang') == 'de') & (F.col('rk') <= 100))
            .select('doc_id', 'lang', 'rk').collect()}
    assert got == spec
    by_lang = {}
    for _d, lang, _r in got:
        by_lang[lang] = by_lang.get(lang, 0) + 1
    assert by_lang == {'en': 20, 'de': 67}


def test_repetition_filters_values_and_plan(spark):
    """Repetition filters: hand-computed fractions on crafted docs, the
    short-doc guards, and the plan contract — a pure projection (zero
    exchanges; the whole operator must scale as a map)."""
    from jionlp_spark.operators.textstats import repetition_filters
    docs = spark.createDataFrame([
        (0, 'a a a a b', 'en'),         # top uni 4/5; bigrams: aa aa aa ab → dup 2/4
        (1, 'a b c d e', 'en'),         # no repetition
        (2, 'x', 'en'),                 # 1 token → n-gram fracs 0.0
        (3, 'a b a b a b', 'en'),       # bigram dup 3/5, trigram dup 2/4
    ], 'doc_id long, text string, lang string')
    got = {r['doc_id']: r for r in repetition_filters(docs).collect()}
    assert got[0]['top_unigram_frac'] == 0.8
    assert got[0]['dup_bigram_frac'] == 0.5
    assert got[0]['repetition_flagged']
    assert got[1]['dup_bigram_frac'] == 0.0
    assert not got[1]['repetition_flagged']
    assert got[2]['dup_bigram_frac'] == 0.0
    assert got[2]['dup_trigram_frac'] == 0.0
    assert got[3]['dup_bigram_frac'] == 0.6
    assert got[3]['dup_trigram_frac'] == 0.5
    assert got[3]['repetition_flagged']

    plan = repetition_filters(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert 'Exchange' not in plan


def test_edge_association_hand_computed(spark):
    """edge_association: exact counts and the pmi/npmi closed forms on a
    4-doc graph, npmi null when the pair spans every document."""
    import math
    from jionlp_spark.operators.graph import edge_association
    m = spark.createDataFrame(
        [(1, 'A'), (1, 'B'), (2, 'A'), (2, 'B'), (3, 'A'), (3, 'C'),
         (4, 'B'), (3, 'A')],                      # dup mention collapses
        'doc_id long, obj string')
    got = {(r['ent_a'], r['ent_b']): r
           for r in edge_association(m).collect()}
    assert set(got) == {('A', 'B'), ('A', 'C')}
    ab = got[('A', 'B')]
    assert (ab['n_ab'], ab['n_a'], ab['n_b']) == (2, 3, 3)
    assert ab['pmi'] == math.log((2 * 4) / (3 * 3))
    assert ab['npmi'] == math.log((2 * 4) / (3 * 3)) / math.log(4 / 2)
    ac = got[('A', 'C')]
    assert (ac['n_ab'], ac['n_a'], ac['n_b']) == (1, 3, 1)
    assert ac['pmi'] == math.log((1 * 4) / (3 * 1))

    # a pair present in EVERY doc: pmi defined, npmi null (ln 1 = 0)
    m2 = spark.createDataFrame([(1, 'X'), (1, 'Y'), (2, 'X'), (2, 'Y')],
                               'doc_id long, obj string')
    rows = edge_association(m2).collect()
    assert len(rows) == 1 and rows[0]['npmi'] is None
    assert rows[0]['pmi'] == math.log((2 * 2) / (2 * 2))


def test_dsir_logweights(spark):
    """DSIR weights: target == pool gives exactly-zero log-ratios for
    every bucket (ct=cr, tt=rt), so every doc scores 0.0; a skewed
    target ranks target-vocab docs above off-target docs; n_grams =
    unigrams + bigrams with the 1-token guard."""
    from jionlp_spark.operators.curate import dsir_logweights
    docs = spark.createDataFrame(
        [(0, 'cat dog bird'), (1, 'qq zz'), (2, 'x')],
        'doc_id long, text string')
    got = {r['doc_id']: r for r in dsir_logweights(docs, docs).collect()}
    assert {d: r['n_grams'] for d, r in got.items()} == {0: 5, 1: 3, 2: 1}
    assert all(r['dsir_logweight'] == 0.0 for r in got.values())

    target = docs.filter(F.col('doc_id') == 0)
    w = {r['doc_id']: r['dsir_logweight']
         for r in dsir_logweights(docs, target).collect()}
    assert w[0] > w[1]


def test_semantic_dedup_verdicts(spark):
    """semantic_dedup: transitive embedding near-dups collapse to the
    min id; singletons keep themselves; exactly one kept per cluster."""
    from jionlp_spark.operators.dedup import semantic_dedup
    # v0≈v1≈v2 (same direction), v3 orthogonal
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.999, 0.01]), (2, [0.998, 0.02]),
         (3, [0.0, 1.0])],
        'vec_id long, embedding array<double>')
    got = {r['vec_id']: r for r in
           semantic_dedup(emb, threshold=0.9, n_centroids=2).collect()}
    assert len(got) == 4
    assert got[3]['kept'] and got[3]['keep_id'] == 3
    dup_group = {v: r['keep_id'] for v, r in got.items() if v != 3}
    assert set(dup_group.values()) == {0}
    assert got[0]['kept'] and not got[1]['kept'] and not got[2]['kept']


def test_edge_confidence_clamps_and_composes(spark):
    """edge_confidence = (pr_a + pr_b) · max(npmi, 0): independent-ish
    pairs (npmi ≤ 0) score exactly 0; associated pairs score positive;
    the composition matches recomputing from the parts."""
    from jionlp_spark.operators.graph import (edge_association,
                                              edge_confidence, pagerank)
    m = spark.createDataFrame(
        [(d, e) for d in range(4) for e in ('A', 'B')]  # A,B everywhere
        + [(0, 'C'), (1, 'C')],                         # C in half
        'doc_id long, obj string')
    conf = {(r['ent_a'], r['ent_b']): r['confidence']
            for r in edge_confidence(m).collect()}
    # (A,B) spans every doc → npmi null → clamped to 0
    assert conf[('A', 'B')] == 0.0
    # (A,C)/(B,C): npmi = ln(2·4/(4·2))/ln(4/2) = 0 → exactly 0 too
    assert conf[('A', 'C')] == 0.0 and conf[('B', 'C')] == 0.0

    # a genuinely associated pair scores positive
    m2 = spark.createDataFrame(
        [(0, 'X'), (0, 'Y'), (1, 'X'), (1, 'Y'), (2, 'X'), (2, 'Z'),
         (3, 'W'), (3, 'Z')],
        'doc_id long, obj string')
    rows = {(r['ent_a'], r['ent_b']): r['confidence']
            for r in edge_confidence(m2).collect()}
    assert rows[('X', 'Y')] > 0.0          # together 2/4, alone 3/4·2/4
    assert all(v >= 0.0 for v in rows.values())


def test_length_quantiles_exact(spark):
    """length_quantiles: lower-rank discrete rule on a hand-computed
    distribution; single-doc language hits the boundary everywhere."""
    from jionlp_spark.operators.textstats import length_quantiles
    rows = []
    # en: 10 docs with lengths 1..10 → q25=3, q50=5, q90=9, q99=10
    for i in range(1, 11):
        rows.append((i, ' '.join(['w'] * i), 'en'))
    rows.append((100, 'a b', 'fr'))       # 1 doc → every quantile = 2
    docs = spark.createDataFrame(rows, 'doc_id long, text string, lang string')
    got = {r['lang']: r for r in length_quantiles(docs).collect()}
    en = got['en']
    assert (en['n_docs'], en['q_25'], en['q_50'], en['q_90'], en['q_99']) \
        == (10, 3, 5, 9, 10)
    fr = got['fr']
    assert (fr['n_docs'], fr['q_25'], fr['q_50'], fr['q_90'], fr['q_99']) \
        == (1, 2, 2, 2, 2)


def test_pack_plan_contract(spark):
    """pack_plan: within every shard, offsets tile the concatenation with
    no gaps/overlaps in hash order; pack ids follow the div rule; a doc
    crossing a window boundary spans multiple packs."""
    from jionlp_spark.operators.curate import pack_plan
    docs = spark.createDataFrame(
        [(i, ' '.join(['w'] * (7 + i % 11))) for i in range(200)],
        'doc_id long, text string')
    rows = pack_plan(docs, max_len=16).collect()
    assert len(rows) == 200
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r['shard'], []).append(r)
    lens = {r['doc_id']: 7 + r['doc_id'] % 11 for r in rows}
    straddlers = 0
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r['start_off'])
        off = 0
        for r in rs:
            assert r['start_off'] == off          # gapless tiling
            ln = lens[r['doc_id']]
            assert r['pack_first'] == off // 16
            assert r['pack_last'] == (off + ln - 1) // 16
            straddlers += r['pack_last'] > r['pack_first']
            off += ln
    assert straddlers > 0


def test_pack_plan_bfd_exact_and_invariants(spark):
    """pack_plan_bfd hand case: five same-shard docs with lens
    100/60/50/40/30 at max_len=128 pack as BFD dictates
    (100→p0; 60 opens p1; 50 best-fits p1@60; 40 opens p2; 30
    best-fits p2@40), plus corpus invariants: non-oversize pack loads
    ≤ max_len, oversize ⇔ len > max_len ⇔ solo pack."""
    import hashlib
    from jionlp_spark.operators.curate import pack_plan_bfd

    # five doc ids whose md5 hex shares a first char → one shard
    ids, want = [], None
    i = 0
    while len(ids) < 5:
        if hashlib.md5(str(i).encode()).hexdigest()[0] == 'a':
            ids.append(i)
        i += 1
    lens = dict(zip(ids, [100, 60, 50, 40, 30]))
    docs = spark.createDataFrame(
        [(d, ' '.join(['w'] * n)) for d, n in lens.items()],
        'doc_id long, text string')
    rows = {r['doc_id']: r for r in pack_plan_bfd(docs, 128).collect()}
    assert all(r['shard'] == 'a' for r in rows.values())
    by_len = {lens[d]: rows[d] for d in ids}
    got = {n: (r['pack_id'], r['pack_off'], r['oversize'])
           for n, r in by_len.items()}
    assert got == {100: (0, 0, False), 60: (1, 0, False),
                   50: (1, 60, False), 40: (2, 0, False),
                   30: (2, 40, False)}

    # invariants over a 300-doc mixed corpus with oversize docs
    docs2 = spark.createDataFrame(
        [(i, ' '.join(['w'] * (200 if i % 17 == 0 else 5 + i % 90)))
         for i in range(300)], 'doc_id long, text string')
    rs = pack_plan_bfd(docs2, 128).collect()
    assert len(rs) == 300
    ln = {i: (200 if i % 17 == 0 else 5 + i % 90) for i in range(300)}
    packs = {}
    for r in rs:
        assert r['oversize'] == (ln[r['doc_id']] > 128)
        packs.setdefault((r['shard'], r['pack_id']), []).append(r)
    for members in packs.values():
        total = sum(ln[r['doc_id']] for r in members)
        if any(r['oversize'] for r in members):
            assert len(members) == 1          # oversize packs are solo
        else:
            assert total <= 128
            # offsets are the placement-order prefix sums
            acc, seen = 0, sorted(
                members, key=lambda r: r['pack_off'])
            for r in seen:
                assert r['pack_off'] == acc
                acc += ln[r['doc_id']]


def test_entity_neighbor_similarity_alias_and_hub_cap(spark):
    """Neighbor-vector cosine: two alias surface forms that never
    co-occur with EACH OTHER but share all neighbors score cos=1 with
    exact integer dot/norms; a hub neighbor above max_hub_degree is
    dropped from every neighbor vector (pairs it alone supported
    vanish, norms stay consistent)."""
    from jionlp_spark.operators.graph import entity_neighbor_similarity
    rows = []
    for d, ents in enumerate([('A1', 'N1'), ('A1', 'N2'),
                              ('A2', 'N1'), ('A2', 'N2')]):
        rows += [(d, e) for e in ents] + [(d, 'H')]   # hub in docs 0-3
    rows += [(4, 'P'), (4, 'H'), (5, 'Q'), (5, 'H')]  # P,Q only via hub
    m = spark.createDataFrame(rows, 'doc_id long, obj string')

    free = {(r['ent_a'], r['ent_b']): r
            for r in entity_neighbor_similarity(m).collect()}
    # hand-check: A1/A2 share neighbors {N1:1, N2:1, H:2} exactly
    a = free[('A1', 'A2')]
    assert (a['n_shared'], a['dot']) == (3, 1 + 1 + 4)
    assert abs(a['cos'] - 1.0) < 1e-12          # identical vectors
    assert free[('P', 'Q')]['n_shared'] == 1    # joined only by the hub

    capped = {(r['ent_a'], r['ent_b']): r
              for r in entity_neighbor_similarity(
                  m, max_hub_degree=5).collect()}
    assert ('P', 'Q') not in capped             # hub-only pair gone
    c = capped[('A1', 'A2')]                    # H out of BOTH vectors
    assert (c['n_shared'], c['dot']) == (2, 2)
    assert abs(c['cos'] - 1.0) < 1e-12

    high = entity_neighbor_similarity(m, min_cos=0.999).collect()
    assert all(r['cos'] >= 0.999 for r in high)
    assert ('A1', 'A2') in {(r['ent_a'], r['ent_b']) for r in high}


def test_canonicalize_entities_alias_cluster(spark):
    """canonicalize_entities: an alias pair (same neighbors, zero direct
    co-occurrence) clusters and maps to the max-df member; directly
    co-occurring neighbor pairs are excluded even at cos≈1; unclustered
    surfaces are absent (identity mapping)."""
    from jionlp_spark.operators.graph import canonicalize_entities
    rows = []
    for d in (0, 1):
        rows += [(d, 'X1'), (d, 'N1'), (d, 'N2')]
    for d in (2, 3):
        rows += [(d, 'X2'), (d, 'N1'), (d, 'N2')]
    rows += [(4, 'X2')]                       # lone mention: df tiebreak
    m = spark.createDataFrame(rows, 'doc_id long, obj string')
    got = {r['ent']: r for r in canonicalize_entities(
        m, min_cos=0.9, min_shared=2).collect()}
    # only the alias pair clusters: N1/N2 co-occur directly (cos 1 but
    # excluded), X*/N* co-occur directly too
    assert set(got) == {'X1', 'X2'}
    assert got['X1']['canon'] == 'X2' and got['X2']['canon'] == 'X2'
    assert got['X1']['cluster_size'] == 2
    assert (got['X1']['df'], got['X2']['df']) == (2, 3)

    # with the doc-4 mention removed, df ties 2-2 → lex-min wins
    got2 = {r['ent']: r['canon'] for r in canonicalize_entities(
        m.filter(F.col('doc_id') < 4), min_cos=0.9,
        min_shared=2).collect()}
    assert got2 == {'X1': 'X1', 'X2': 'X1'}


def test_leakage_safe_split_guarantee(spark):
    """leakage_safe_split: every paired doc shares its whole component's
    split (chain closure included); unpaired docs follow the doc-id
    hash rule exactly (strict refinement of dataset_split_stats)."""
    from jionlp_spark.operators.curate import leakage_safe_split
    docs = spark.createDataFrame([(i,) for i in range(100)],
                                 'doc_id long')
    # a chain 5-17-93 plus an isolated pair 40-41: components must pull
    # 5/17/93 into ONE group even though (5, 93) was never paired
    pairs = spark.createDataFrame(
        [(5, 17), (17, 93), (40, 41)], 'doc_a long, doc_b long')
    got = {r['doc_id']: r for r in
           leakage_safe_split(docs, pairs).collect()}
    assert len(got) == 100
    assert (got[5]['group_id'] == got[17]['group_id']
            == got[93]['group_id'] == 5)
    assert got[5]['split'] == got[17]['split'] == got[93]['split']
    assert got[40]['group_id'] == got[41]['group_id'] == 40
    assert got[40]['split'] == got[41]['split']
    for i in (0, 1, 2, 3, 99):                # unpaired → doc-id rule
        b = (i * 2654435761) % 100
        want = 'train' if b < 80 else ('valid' if b < 85 else 'test')
        assert got[i]['group_id'] == i and got[i]['split'] == want


def test_duplicate_substring_spans_merge(spark):
    """duplicate_substring_spans at n=5: identical docs collapse to one
    full-width span; two hits with a gap stay separate islands;
    within-doc verbatim repetition merges via the adjacency rule;
    unique and too-short docs are absent."""
    from jionlp_spark.operators.dedup import duplicate_substring_spans
    w = lambda *xs: ' '.join(xs)
    docs = spark.createDataFrame([
        (0, w(*[f'w{i}' for i in range(10)])),
        (1, w(*[f'w{i}' for i in range(10)])),      # verbatim copy
        (2, w('w0', 'w1', 'w2', 'w3', 'w4', 'x1', 'x2', 'x3',
              'w0', 'w1', 'w2', 'w3', 'w4')),       # two hits, gap at 5-7
        (3, w('y0', 'y1', 'y2', 'y3', 'y4',
              'y0', 'y1', 'y2', 'y3', 'y4')),       # self-repeat: merge
        (4, w(*[f'z{i}' for i in range(10)])),      # unique
        (5, 'a b c'),                               # too short
    ], 'doc_id long, text string')
    got = sorted((r['doc_id'], r['start_tok'], r['end_tok']) for r in
                 duplicate_substring_spans(docs, n=5).collect())
    assert got == [(0, 0, 9), (1, 0, 9),
                   (2, 0, 4), (2, 8, 12),
                   (3, 0, 9)]


def test_burst_scores_trailing_baseline(spark):
    """burst_scores: steady traffic scores exactly 1.0; a 5× spike over
    a 2/day baseline scores 5.0; calendar gaps contribute ZERO to the
    baseline (ratio doubles when half the trailing week is silent);
    days with an empty trailing window are omitted."""
    from datetime import datetime
    from jionlp_spark.operators.trends import burst_scores
    rows = []
    # key A: 2 events/day on days 1..10, then 10 events on day 11
    for d in range(1, 11):
        rows += [('A', datetime(2024, 1, d, 12, 0, 0))] * 2
    rows += [('A', datetime(2024, 1, 11, 12, 0, 0))] * 10
    # key B: 2/day on days 1-3, silent 4-7, then 2 on day 8: the
    # trailing week (days 1-7) still holds 6 events → burst 7/3
    for d in (1, 2, 3, 8):
        rows += [('B', datetime(2024, 1, d, 12, 0, 0))] * 2
    ev = spark.createDataFrame(rows, 'k string, ts timestamp')
    got = {(r['key'], r['day'].day): r for r in
           burst_scores(ev, key_col='k').collect()}
    assert ('A', 1) not in got                 # empty trailing window
    # series warm-up: at day 5 the zero-filled week holds only days
    # 1-4 (8 events) → 2*7/8; a caller wanting full baselines filters
    # days_present == window_days
    assert got[('A', 5)]['burst'] == 1.75
    assert got[('A', 5)]['days_present'] == 4
    assert got[('A', 8)]['burst'] == 1.0       # full week: 2*7/14
    assert got[('A', 11)]['burst'] == 5.0      # 10*7 / 14
    assert got[('B', 8)]['burst'] == 2.0 * 7 / 6
    assert got[('B', 8)]['days_present'] == 3


def test_sessionize_gap_rule_exact(spark):
    """sessionize: a gap of exactly gap_minutes does NOT split (strict
    >); one microsecond more does; microsecond durations are exact."""
    from datetime import datetime
    from jionlp_spark.operators.trends import sessionize
    t0 = datetime(2024, 3, 1, 10, 0, 0)
    rows = [
        (1, datetime(2024, 3, 1, 10, 0, 0)),
        (1, datetime(2024, 3, 1, 10, 30, 0)),          # exactly 30 min
        (1, datetime(2024, 3, 1, 11, 0, 0, 1)),        # 30 min + 1 µs
        (2, datetime(2024, 3, 1, 9, 0, 0, 250000)),
        (2, datetime(2024, 3, 1, 9, 0, 0, 750000)),    # 0.5 s gap
    ]
    ev = spark.createDataFrame(rows, 'user_id long, ts timestamp')
    got = sorted(((r['user_id'], r['sess_idx'], r['n_events'],
                   r['duration_us']) for r in
                  sessionize(ev, gap_minutes=30).collect()))
    assert got == [(1, 0, 2, 1800000000), (1, 1, 1, 0),
                   (2, 0, 2, 500000)]
    _ = t0


def test_window_perplexity_tiles_and_matches_doc_lm(spark):
    """window_perplexity: window bigram counts tile the doc's bigram
    stream exactly once; a single-window doc's score equals
    lm_perplexity's doc score under the same corpus model; a repeated
    high-frequency window scores lower ppl than a one-off window."""
    from jionlp_spark.operators.textstats import (lm_perplexity,
                                                  window_perplexity)
    common = ' '.join(['a b'] * 10)               # 20 toks of a/b
    docs = spark.createDataFrame(
        [(0, common), (1, common),
         (2, common + ' ' + ' '.join(f'u{i}' for i in range(20)))],
        'doc_id long, text string')
    wins = window_perplexity(docs, window=20).collect()
    by_doc = {}
    for r in wins:
        by_doc.setdefault(r['doc_id'], {})[r['win_idx']] = r
    # tiling: doc2 has 39 bigrams → windows 0 (20) and 1 (19)
    assert by_doc[2][0]['n_bigrams'] == 20
    assert by_doc[2][1]['n_bigrams'] == 19
    assert sum(r['n_bigrams'] for r in by_doc[2].values()) == 39
    # single-window docs reduce to the doc-level LM score
    doc_ppl = {r['doc_id']: r['ppl']
               for r in lm_perplexity(docs).collect()}
    assert abs(by_doc[0][0]['ppl'] - doc_ppl[0]) < 1e-12
    # the boilerplate window (corpus-frequent bigrams) beats the
    # unique-token tail window
    assert by_doc[2][0]['ppl'] < by_doc[2][1]['ppl']


def test_triangle_stats_known_graph(spark):
    """triangle_stats on a hand graph: K4 plus a pendant — K4 members
    have 3 triangles each at cc=1 except the pendant-attached vertex
    (degree 4 → cc 0.5); the pendant has degree 1, cc null; a square
    (4-cycle) has zero triangles at cc=0."""
    from jionlp_spark.operators.graph import triangle_stats
    k4 = [('a', 'b'), ('a', 'c'), ('a', 'd'),
          ('b', 'c'), ('b', 'd'), ('c', 'd')]
    pend = [('d', 'p')]
    square = [('s1', 's2'), ('s2', 's3'), ('s3', 's4'), ('s4', 's1')]
    edges = spark.createDataFrame(k4 + pend + square,
                                  'ent_a string, ent_b string')
    got = {r['ent']: r for r in triangle_stats(edges).collect()}
    assert len(got) == 9
    for v in ('a', 'b', 'c'):
        assert (got[v]['degree'], got[v]['triangles']) == (3, 3)
        assert got[v]['clustering'] == 1.0
    assert (got['d']['degree'], got['d']['triangles']) == (4, 3)
    assert got['d']['clustering'] == 0.5
    assert (got['p']['degree'], got['p']['triangles']) == (1, 0)
    assert got['p']['clustering'] is None
    for v in ('s1', 's2', 's3', 's4'):
        assert (got[v]['degree'], got[v]['triangles'],
                got[v]['clustering']) == (2, 0, 0.0)


import math


def test_link_predictions_adamic_adar(spark):
    """Adamic-Adar on a hand graph: x and y share neighbors {h, r}
    (deg 4 hub and deg 2 rare) and are non-adjacent → score
    1/ln(4) + 1/ln(2); adjacent pairs are excluded; the rare shared
    neighbor contributes MORE than the hub; hub cap drops hub-only
    evidence."""
    from jionlp_spark.operators.graph import link_predictions
    edges = [('x', 'h'), ('y', 'h'), ('u', 'h'), ('v', 'h'),
             ('x', 'r'), ('y', 'r'),
             ('u', 'v')]                      # u-v adjacent AND share h
    e = spark.createDataFrame(edges, 'ent_a string, ent_b string')
    got = {(r['ent_a'], r['ent_b']): r
           for r in link_predictions(e).collect()}
    xy = got[('x', 'y')]
    assert xy['n_shared'] == 2
    assert abs(xy['aa_score']
               - (1 / math.log(4) + 1 / math.log(2))) < 1e-12
    assert ('u', 'v') not in got              # adjacent → excluded
    assert ('x', 'h') not in got
    # (x, u) share only the hub h → weaker than (x, y)
    assert got[('u', 'x')]['aa_score'] < xy['aa_score']

    capped = {(r['ent_a'], r['ent_b']): r for r in
              link_predictions(e, max_hub_degree=3).collect()}
    assert ('u', 'x') not in capped           # hub-only evidence gone
    assert abs(capped[('x', 'y')]['aa_score'] - 1 / math.log(2)) < 1e-12


def test_vocab_coverage_topk_and_external(spark):
    """vocab_coverage: top-K cut follows the (freq desc, token asc)
    total order including the tie boundary; an external vocab table
    overrides the corpus top-K."""
    from jionlp_spark.operators.textstats import vocab_coverage
    docs = spark.createDataFrame([
        (0, 'a a a b b c'),        # freqs: a3 b2(+1 below) c1 d1
        (1, 'b d'),
    ], 'doc_id long, text string')
    # top-2 = {a(3), b(3)} — b ties nothing; top-3 adds c over d (tie
    # broken lexicographically)
    got = {r['doc_id']: r for r in
           vocab_coverage(docs, top_k=3).collect()}
    assert (got[0]['n_tokens'], got[0]['oov']) == (6, 0)   # a,b,c all in
    assert (got[1]['n_tokens'], got[1]['oov']) == (2, 1)   # d out
    assert got[1]['oov_rate'] == 0.5
    ext = spark.createDataFrame([('d',)], 'w string')
    got2 = {r['doc_id']: r for r in
            vocab_coverage(docs, vocab=ext).collect()}
    assert got2[0]['oov'] == 6 and got2[1]['oov'] == 1


def test_ccnet_buckets_terciles(spark):
    """ccnet_buckets: within one language, docs made of corpus-frequent
    bigrams land in head and unique-token docs in tail; tercile sizes
    follow the lower-rank rule; unscoreable docs are absent; languages
    are bucketed independently."""
    from jionlp_spark.operators.textstats import ccnet_buckets
    rows = []
    for i in range(4):                         # clean: 'a b' * 8
        rows.append((i, ' '.join(['a b'] * 8), 'en'))
    for i in range(4, 8):                      # medium: half clean
        rows.append((i, ' '.join(['a b'] * 4)
                     + ' ' + ' '.join(f'm{i}_{j}' for j in range(8)),
                     'en'))
    for i in range(8, 12):                     # noisy: all unique toks
        rows.append((i, ' '.join(f'u{i}_{j}' for j in range(16)), 'en'))
    rows.append((100, 'x', 'fr'))              # 1 token → unscoreable
    rows.append((101, 'p q p q', 'fr'))
    docs = spark.createDataFrame(rows,
                                 'doc_id long, text string, lang string')
    got = {r['doc_id']: r for r in ccnet_buckets(docs).collect()}
    assert 100 not in got
    assert got[101]['lang'] == 'fr' and got[101]['bucket'] == 'head'
    # en: 12 docs in 3 grid cells of 4 → cuts at cum ≥ 4 and cum ≥ 8:
    # each score group is exactly one tercile
    for i in range(4):
        assert got[i]['bucket'] == 'head', (i, got[i])
    for i in range(4, 8):
        assert got[i]['bucket'] == 'middle', (i, got[i])
    for i in range(8, 12):
        assert got[i]['bucket'] == 'tail', (i, got[i])
    assert got[0]['nlp_grid'] < got[4]['nlp_grid'] < got[8]['nlp_grid']


def test_entity_profiles_npmi_ranking(spark):
    """entity_profiles: a rare exclusive partner outranks a hub that
    co-occurs with everything (npmi contrast); null npmi (pair in every
    doc) ranks LAST; k caps the profile; symmetric rows exist."""
    from jionlp_spark.operators.graph import entity_profiles
    rows = []
    # X and R appear ONLY together in docs 0-1 (exclusive partners);
    # H appears in every doc (hub); filler F_i makes H non-trivial
    for d in (0, 1):
        rows += [(d, 'X'), (d, 'R'), (d, 'H')]
    for d in (2, 3, 4, 5):
        rows += [(d, 'H'), (d, f'F{d}')]
    m = spark.createDataFrame(rows, 'doc_id long, obj string')
    prof = {}
    for r in entity_profiles(m, k=2).collect():
        prof.setdefault(r['ent'], []).append(r)
    x = sorted(prof['X'], key=lambda r: r['rnk'])
    # exclusive partner R (npmi 1.0) beats hub H (npmi null: X-H...
    # X,H co-occur in 2 of 6 docs → npmi defined and < R's)
    assert x[0]['other'] == 'R' and abs(x[0]['npmi'] - 1.0) < 1e-12
    assert x[1]['other'] == 'H' and x[1]['npmi'] < 1.0
    assert all(len(v) <= 2 for v in prof.values())
    # symmetry: R's top partner is X
    assert sorted(prof['R'], key=lambda r: r['rnk'])[0]['other'] == 'X'


def test_substring_dup_rate_verdict(spark):
    """substring_dup_rate: exact covered-token fractions from merged
    spans — a full verbatim copy rates 1.0 and flags; a half-duplicated
    doc rates 10/20 (flag_at=0.5 inclusive); clean docs rate 0.0."""
    from jionlp_spark.operators.dedup import substring_dup_rate
    half = ' '.join(f'c{i}' for i in range(10))     # shared 10 tokens
    docs = spark.createDataFrame([
        (0, half + ' ' + ' '.join(f'a{i}' for i in range(10))),
        (1, half + ' ' + ' '.join(f'b{i}' for i in range(10))),
        (2, ' '.join(f'z{i}' for i in range(20))),
    ], 'doc_id long, text string')
    got = {r['doc_id']: r for r in
           substring_dup_rate(docs, n=5, flag_at=0.5).collect()}
    # shared prefix: matching 5-grams at pos 0..5 → span [0, 9]
    assert (got[0]['n_tokens'], got[0]['dup_tokens']) == (20, 10)
    assert got[0]['dup_rate'] == 0.5 and got[0]['flagged']
    assert got[1]['dup_tokens'] == 10 and got[1]['flagged']
    assert (got[2]['dup_tokens'], got[2]['dup_rate'],
            got[2]['flagged']) == (0, 0.0, False)


def test_winsorized_stats_exact_cut(spark):
    """winsorized_stats: p90 lower-rank cut on a hand distribution —
    the outlier caps to the cut, the capped count and winsorized
    mean are exact; a key with no outlier is untouched."""
    from jionlp_spark.operators.trends import winsorized_stats
    rows = ([('a', float(i)) for i in range(1, 10)]  # 1..9
            + [('a', 1000.0)]                        # the outlier
            + [('b', 5.0)] * 4)
    ev = spark.createDataFrame(rows, 'event_type string, value double')
    got = {r['key']: r for r in winsorized_stats(ev, p=90).collect()}
    a = got['a']
    # n=10 → rank ceil(900/100)=9 → cut = 9.0; 1000 caps to 9
    assert (a['n'], a['cut'], a['n_capped']) == (10, 9.0, 1)
    assert a['win_sum'] == sum(range(1, 10)) + 9.0
    assert a['win_mean'] == a['win_sum'] / 10
    b = got['b']
    assert (b['n'], b['cut'], b['n_capped'], b['win_mean']) \
        == (4, 5.0, 0, 5.0)


def test_streaming_sessions_merge_and_timeout(spark, tmp_path):
    """streaming_sessions: a session spanning two micro-batches merges
    (no split at the boundary); once the watermark passes a quiet
    user's deadline the open session closes via TIMEOUT and is
    emitted; still-open sessions are not."""
    import datetime
    import os

    from jionlp_spark.streaming.stream import streaming_sessions

    src = str(tmp_path / 'src')
    ckpt = str(tmp_path / 'ckpt')
    os.makedirs(src)
    t = lambda h, m: datetime.datetime(2021, 9, 1, h, m)
    batches = [
        [(1, t(10, 0)), (1, t(10, 5)), (5, t(10, 0))],
        [(5, t(10, 10)), (9, t(10, 20))],     # u5 merges across batches
        [(9, t(14, 0))],                      # advances wm to 13:00
        [(9, t(14, 10))],                     # wm 13:00 fires timeouts
    ]
    for i, rows in enumerate(batches):
        part = f'{src}/batch_{i}'
        spark.createDataFrame(rows, 'user_id long, ts timestamp') \
            .coalesce(1).write.parquet(part)
        for root, _d, files in os.walk(part):
            for fn in files:
                os.utime(os.path.join(root, fn),
                         (1_600_000_000 + i * 3600,) * 2)
    stream = (spark.readStream.schema('user_id long, ts timestamp')
              .option('maxFilesPerTrigger', '1').parquet(f'{src}/batch_*'))
    q = (streaming_sessions(stream, gap_minutes=30, watermark='1 hour')
         .writeStream.format('memory').queryName('sess_test')
         .outputMode('append').trigger(availableNow=True)
         .option('checkpointLocation', ckpt).start())
    q.awaitTermination(240)
    got = {(r['user_id'], r['sess_idx']): r
           for r in spark.table('sess_test').collect()}
    us = lambda h, m: int(datetime.datetime(
        2021, 9, 1, h, m).timestamp() * 1_000_000)
    # u9's 10:20 one-event session closes when its own 14:00 event
    # arrives; the 14:00-14:10 session (idx 1) is still open → absent
    assert set(got) == {(1, 0), (5, 0), (9, 0)}
    u9 = got[(9, 0)]
    assert (u9['start_us'], u9['end_us'], u9['n_events']) == \
        (us(10, 20), us(10, 20), 1)
    u1 = got[(1, 0)]
    assert (u1['start_us'], u1['end_us'], u1['n_events']) == \
        (us(10, 0), us(10, 5), 2)             # closed by timeout
    u5 = got[(5, 0)]
    assert (u5['start_us'], u5['end_us'], u5['n_events']) == \
        (us(10, 0), us(10, 10), 2)            # merged across the split


def test_bm25_hand_corpus(spark):
    """Hand-checkable BM25: doc 0's query terms (a b c d) match doc 1
    only through 'a' (tf=2) and doc 3 through three terms; doc 2 shares
    nothing and must be absent; the multi-term match outranks the
    single-term one; the query's own doc is excluded."""
    import math

    from jionlp_spark.operators.retrieval import bm25_topk
    docs = spark.createDataFrame(
        [(0, 'a b c d'), (1, 'a a x y'), (2, 'z z z w'),
         (3, 'b c d q')], 'doc_id long, text string')
    rows = bm25_topk(docs, n_queries=1, n_terms=4, k=10).collect()
    got = {r.doc_id: r.score for r in rows}
    assert set(got) == {1, 3}
    assert got[3] > got[1] > 0
    # exact check for the doc-1 score: one matched term, tf=2, df=2,
    # N=4, doclen=4, total_len=16 → avg-normalizer = 4·4/16 = 1.0
    idf = math.log(1.0 + ((4.0 - 2.0) + 0.5) / (2.0 + 0.5))
    part = round(idf * ((2.0 * 2.2) / (2.0 + 1.2 * ((1.0 - 0.75)
                                                    + 0.75 * 1.0))), 6)
    assert got[1] == part, (got[1], part)


def test_bm25_rare_term_outranks_common(spark):
    """idf discrimination: with equal tf/doclen, the doc matching the
    corpus-rare query term scores above the doc matching the common
    one."""
    from jionlp_spark.operators.retrieval import bm25_topk
    rows = [(0, 'rare common'), (1, 'rare pad pad pad'),
            (2, 'common pad pad pad')]
    rows += [(i, 'common filler filler filler') for i in range(3, 10)]
    docs = spark.createDataFrame(rows, 'doc_id long, text string')
    got = {r.doc_id: r.score
           for r in bm25_topk(docs, n_queries=1, n_terms=2, k=10)
           .collect() if r.doc_id in (1, 2)}
    assert got[1] > got[2], got


def test_text_index_extend_idempotent(spark, tmp_path):
    """Re-extending with the same batch_id is a no-op (fingerprint
    resume): postings don't duplicate and the corpus scalars don't
    double-count — the seam that would silently corrupt BM25 idf."""
    from jionlp_spark.operators.retrieval import (extend_text_index,
                                                  publish_text_index)
    from jionlp_spark.sources import catalog
    docs = spark.createDataFrame(
        [(i, f'tok{i % 5} common word{i}') for i in range(20)],
        'doc_id long, text string')
    base = str(tmp_path / 'ti')
    publish_text_index(spark, base, docs.filter('doc_id % 2 = 0'),
                       input_fingerprint='even')
    for _ in range(2):          # second call must resume, not re-append
        extend_text_index(spark, base, docs.filter('doc_id % 2 = 1'),
                          batch_id='odd')
        n_posts = catalog.read_table(spark, f'{base}/postings').count()
        stats = catalog.read_table(spark, f'{base}/stats').collect()[0]
        assert stats['n_docs'] == 20, stats
        assert stats['total_len'] == 60, stats
        assert n_posts == 60, n_posts   # 3 distinct tokens per doc


def test_rrf_fuse_hand_lists(spark):
    """RRF semantics: a doc present in both lists outranks a doc that
    leads one list only; an absent list contributes exactly 0."""
    from jionlp_spark.operators.retrieval import rrf_fuse
    a = spark.createDataFrame([(0, 1, 1), (0, 2, 2)],
                              'qid long, doc_id long, rank long')
    b = spark.createDataFrame([(0, 2, 1), (0, 3, 2)],
                              'qid long, doc_id long, rank long')
    got = {r.doc_id: r.rrf for r in rrf_fuse(a, b, k=10).collect()}
    assert got[2] == 1.0 / 62 + 1.0 / 61       # both lists
    assert got[1] == 1.0 / 61                  # list-a only
    assert got[3] == 1.0 / 62                  # list-b only
    assert got[2] > got[1] > got[3]


def test_host_curation_verdict_priority(spark):
    """A host failing BOTH rules reports blocked_quality (the cheaper,
    first-judged rule); dup charging follows the global keep-min (the
    original's host stays clean, the mirror blocks); boundary: dup rule
    is strict-greater (exactly 20% does not block)."""
    from jionlp_spark.operators.curate import host_curation
    low = 'x x x x x x x x x x'                       # quality ≈ 0.07
    rows = [
        (0, 'alpha beta gamma delta epsilon', 'http://a.org/0'),
        (1, 'alpha beta gamma delta epsilon', 'http://b.org/1'),  # mirror
        (2, 'zeta eta theta iota kappa', 'http://b.org/2'),
        (3, 'unique one two three four', 'http://b.org/3'),
        (4, 'other five six seven eight', 'http://b.org/4'),
        (5, 'more nine ten eleven twelve', 'http://b.org/5'),
        (6, low, 'http://c.org/6'),                   # low quality
        (7, low, 'http://c.org/7'),                   # AND a dup of 6
    ]
    docs = spark.createDataFrame(rows, 'doc_id long, text string, url string')
    got = {r.host: (r.verdict, r.n_dups)
           for r in host_curation(docs, min_avg_quality='0.2',
                                  max_dup_pct=20).collect()}
    assert got['a.org'] == ('kept', 0)                # original host clean
    assert got['b.org'] == ('kept', 1)                # 1/5 = 20%, not >20%
    assert got['c.org'][0] == 'blocked_quality'       # beats blocked_dup


def test_streaming_url_dedup_cross_batch_and_junk(spark, tmp_path):
    """streaming_url_dedup: syntactic variants of one resource count a
    shared dup_index ACROSS micro-batches (state carries); mailto/
    fragment junk is dropped BEFORE the state shuffle and never
    emitted."""
    import datetime
    import os

    from jionlp_spark.streaming.stream import streaming_url_dedup

    src = str(tmp_path / 'src')
    ckpt = str(tmp_path / 'ckpt')
    os.makedirs(src)
    t = lambda m: datetime.datetime(2021, 9, 1, 10, m)
    batches = [
        [(0, 'http://a.com/x', t(0)),
         (1, 'HTTP://A.COM:80/x#f', t(1)),          # same resource
         (2, 'mailto:u@x.com', t(2))],              # junk, no state
        [(3, 'http://a.com/q/../x', t(3)),          # carries n_seen=2
         (4, 'http://b.com/y?utm_source=s', t(4))],
    ]
    for i, rows in enumerate(batches):
        part = f'{src}/batch_{i}'
        spark.createDataFrame(
            rows, 'doc_id long, url string, warc_ts timestamp') \
            .coalesce(1).write.parquet(part)
        for root, _d, files in os.walk(part):
            for fn in files:
                os.utime(os.path.join(root, fn),
                         (1_600_000_000 + i * 3600,) * 2)
    stream = (spark.readStream
              .schema('doc_id long, url string, warc_ts timestamp')
              .option('maxFilesPerTrigger', '1').parquet(f'{src}/batch_*'))
    q = (streaming_url_dedup(stream)
         .writeStream.format('memory').queryName('url_dedup_test')
         .outputMode('append').trigger(availableNow=True)
         .option('checkpointLocation', ckpt).start())
    q.awaitTermination(240)
    got = {r['doc_id']: (r['canon_url'], r['dup_index'])
           for r in spark.table('url_dedup_test').collect()}
    assert set(got) == {0, 1, 3, 4}              # doc 2 (mailto) dropped
    assert got[0] == ('http://a.com/x', 0)
    assert got[1] == ('http://a.com/x', 1)
    assert got[3] == ('http://a.com/x', 2)       # state crossed batches
    assert got[4] == ('http://b.com/y', 0)


def test_snapshot_diff_null_safe_payload(spark, tmp_path):
    """snapshot_diff: a payload toggling to/from null IS a change (the
    compare is null-safe <=>); identical rows are not emitted; keys
    present in only one snapshot classify added/removed."""
    from jionlp_spark.sources.catalog import run_stage, snapshot_diff
    base = str(tmp_path / 't')
    v1 = spark.createDataFrame(
        [(1, 'a'), (2, None), (3, 'c'), (4, 'd')],
        'k long, v string')
    v2 = spark.createDataFrame(
        [(1, 'a'), (2, 'b'), (3, None), (5, 'e')],
        'k long, v string')
    run_stage(spark, base, 's', lambda: v1, input_fingerprint='1')
    run_stage(spark, base, 's', lambda: v2, input_fingerprint='2')
    got = {r.k: r.change
           for r in snapshot_diff(spark, base, 1, 2, ('k',),
                                  ('v',)).collect()}
    assert got == {2: 'changed', 3: 'changed',
                   4: 'removed', 5: 'added'}, got


def test_stupid_backoff_branches(spark):
    """All three scoring branches on a hand corpus: seen bigram =
    c12/c1, unseen bigram with seen unigram = 0.4·c(w2)/N, OOV unigram
    excluded and counted; n_scored denominator excludes OOV only."""
    import math

    from jionlp_spark.operators.textstats import stupid_backoff_scores
    train = spark.createDataFrame(
        [(0, 'a b a b c')], 'doc_id long, text string')
    # N=5 tokens; c(a b)=2, c(a)=2 as context; c(c)=1
    score = spark.createDataFrame(
        [(1, 'a b x c q')], 'doc_id long, text string')
    # bigrams: (a,b) seen → ln(2/2); (b,x) x OOV → excluded;
    # (x,c) backoff to c → ln(0.4·1/5); (c,q) q OOV → excluded
    r = stupid_backoff_scores(train, score).collect()[0]
    assert (r.n_bigrams, r.n_backoff, r.n_oov) == (4, 1, 2)
    want = (math.log(2.0 / 2.0) + math.log(0.4 * 1.0 / 5.0)) / 2
    assert abs(r.sb_avg - want) < 1e-12, (r.sb_avg, want)


def test_stupid_backoff_nothing_scored_is_null(spark):
    """A doc whose every bigram hits an OOV token scores null, not a
    zero-division."""
    from jionlp_spark.operators.textstats import stupid_backoff_scores
    train = spark.createDataFrame(
        [(0, 'a b a b')], 'doc_id long, text string')
    score = spark.createDataFrame(
        [(1, 'x y z')], 'doc_id long, text string')
    r = stupid_backoff_scores(train, score).collect()[0]
    assert r.n_oov == 2 and r.sb_avg is None


def test_random_walks_deterministic_and_terminating(spark):
    """random_walks: hop choice is the md5 rule (reproducible across
    runs), walks reaching a sink keep their prefix and stop, and a
    single-out-neighbor chain is followed exactly."""
    import hashlib

    from jionlp_spark.operators.graph import random_walks
    edges = spark.createDataFrame(
        [('a', 'b'), ('a', 'c'), ('b', 'd'), ('c', 'a')],
        'src string, dst string')          # d is a sink
    rows = {(r.start, r.step): r.node
            for r in random_walks(edges, walk_len=3).collect()}
    # a's first hop: min md5('a|1|b') vs md5('a|1|c')
    first = min(['b', 'c'], key=lambda d: (hashlib.md5(
        f'a|1|{d}'.encode()).hexdigest(), d))
    assert rows[('a', 1)] == first
    # b → d (only neighbor), then the walk ends at the sink
    assert rows[('b', 1)] == 'd'
    assert ('b', 2) not in rows
    # two runs agree exactly
    again = {(r.start, r.step): r.node
             for r in random_walks(edges, walk_len=3).collect()}
    assert rows == again


def test_mirror_pairs_hot_hash_guard_and_jaccard(spark):
    """mirror_pairs: a boilerplate fingerprint on many hosts is cut
    before the self-join (no O(hosts²) pair storm) AND leaves the set
    sizes; partial overlap computes the exact jaccard."""
    from jionlp_spark.operators.weblinks import mirror_pairs
    rows = []
    # 10 hosts all serving the same error page (hot hash, limit 8)
    for i in range(10):
        rows.append((i, 'not found oops', f'http://h{i}.org/e'))
    # hosts m0/m1 share 2 of m0's 3 / m1's 2 real pages
    rows += [(100, 'alpha beta', 'http://m0.org/a'),
             (101, 'gamma delta', 'http://m0.org/b'),
             (102, 'epsilon zeta', 'http://m0.org/c'),
             (103, 'alpha beta', 'http://m1.org/a'),
             (104, 'gamma delta', 'http://m1.org/b')]
    docs = spark.createDataFrame(
        rows, 'doc_id long, text string, url string')
    got = {(r.host_a, r.host_b): r
           for r in mirror_pairs(docs, min_shared=2).collect()}
    assert set(got) == {('m0.org', 'm1.org')}   # no error-page pairs
    r = got[('m0.org', 'm1.org')]
    assert (r.shared, r.n_a, r.n_b) == (2, 3, 2)
    assert r.jaccard == 2.0 / 3.0


def test_label_propagation_seeds_clamped_and_tie_lexmin(spark):
    """Two seeds fight over node c with equal total weight → lex-min
    label wins; the seed nodes themselves never change."""
    from jionlp_spark.operators.graph import label_propagation
    und = [('a', 'c', 2), ('b', 'c', 2)]
    edges = spark.createDataFrame(
        und + [(d, s, w) for s, d, w in und],
        'src string, dst string, w long')
    seeds = spark.createDataFrame(
        [('a', 'tb'), ('b', 'ta')], 'v string, label string')
    got = {r.v: (r.label, r.is_seed)
           for r in label_propagation(edges, seeds, rounds=2,
                                      weight_col='w').collect()}
    assert got['c'] == ('ta', False)       # tie 2-2 → lex-min label
    assert got['a'] == ('tb', True) and got['b'] == ('ta', True)


def test_label_propagation_weight_beats_count(spark):
    """c has TWO light tb-neighbors vs ONE heavy ta-neighbor — the
    weighted vote must pick ta (an unweighted LPA would pick tb)."""
    from jionlp_spark.operators.graph import label_propagation
    und = [('a', 'c', 5), ('b1', 'c', 2), ('b2', 'c', 2)]
    edges = spark.createDataFrame(
        und + [(d, s, w) for s, d, w in und],
        'src string, dst string, w long')
    seeds = spark.createDataFrame(
        [('a', 'ta'), ('b1', 'tb'), ('b2', 'tb')], 'v string, label string')
    got = {r.v: r.label
           for r in label_propagation(edges, seeds, rounds=1,
                                      weight_col='w').collect()}
    assert got['c'] == 'ta'


def test_label_propagation_radius_is_rounds(spark):
    """Path a-b-c-d seeded at a: after 2 rounds the label reaches c but
    not d (absent — no labeled neighbor yet); after 3 it reaches d."""
    from jionlp_spark.operators.graph import label_propagation
    und = [('a', 'b'), ('b', 'c'), ('c', 'd')]
    edges = spark.createDataFrame(
        und + [(d, s) for s, d in und], 'src string, dst string')
    seeds = spark.createDataFrame([('a', 't')], 'v string, label string')
    two = {r.v for r in label_propagation(edges, seeds, rounds=2).collect()}
    assert two == {'a', 'b', 'c'}
    three = {r.v for r in
             label_propagation(edges, seeds, rounds=3).collect()}
    assert three == {'a', 'b', 'c', 'd'}


def test_paragraph_dedup_semantics(spark):
    """Within-doc repetition counts df=1 (distinct doc count); fully-
    boilerplate docs come back as empty string; order preserved."""
    import pytest
    from jionlp_spark.operators.dedup import paragraph_dedup
    docs = spark.createDataFrame(
        [(0, 'nav\nbody zero\nnav\nfooter'),
         (1, 'nav\nbody one\nfooter'),
         (2, 'nav\nfooter'),
         (3, 'solo page')],
        'doc_id long, text string')
    got = {r.doc_id: r for r in
           paragraph_dedup(docs, min_df=3).collect()}
    # 'nav' df=3 removed (doc 0's double copy counts once); 'footer'
    # df=3 removed; bodies unique
    assert got[0].clean_text == 'body zero'
    assert (got[0].n_paras, got[0].n_removed) == (4, 3)
    assert got[1].clean_text == 'body one'
    assert got[2].clean_text == '' and got[2].n_removed == 2
    assert got[3].clean_text == 'solo page' and got[3].n_removed == 0
    with pytest.raises(Exception, match='boilerplate set exceeds'):
        paragraph_dedup(docs, min_df=1, max_boilerplate=2).collect()


def test_entity_timeline_counts_distinct_docs(spark):
    """Two time mentions of the same day in one doc count once; the
    same (entity, day) from two docs counts twice."""
    from jionlp_spark.operators.graph import entity_timeline
    ents = spark.createDataFrame(
        [(1, 'e1', 'phone'), (2, 'e1', 'phone')],
        'doc_id long, obj string, obj_type string')
    times = spark.createDataFrame(
        [(1, '2021-01-01'), (1, '2021-01-01'), (1, '2021-02-02'),
         (2, '2021-01-01')],
        'doc_id long, day string')
    got = {(r.obj, r.day): r.n_docs
           for r in entity_timeline(ents, times).collect()}
    assert got[('e1', '2021-01-01')] == 2
    assert got[('e1', '2021-02-02')] == 1


def test_audio_metadata_contract(spark):
    """REAL audio fields recomputed independently from the raw WAV
    bytes; unknown chunks skipped; odd-size chunks pad-aligned;
    non-WAV payloads yield all-null metadata."""
    import hashlib
    import struct

    from jionlp_spark.operators import multimodal as mm

    def wav(channels, rate, bits, n_frames, pre_junk=False,
            odd_junk=False):
        block = channels * bits // 8
        data = bytes((i * 7) % 256 for i in range(n_frames * block))
        chunks = b''
        if pre_junk:
            chunks += b'LIST' + struct.pack('<I', 4) + b'INFO'
        if odd_junk:  # odd-sized chunk: the reader must skip the pad byte
            chunks += b'junk' + struct.pack('<I', 3) + b'abc\x00'
        chunks += (b'fmt ' + struct.pack('<IHHIIHH', 16, 1, channels,
                                         rate, rate * block, block, bits))
        chunks += b'data' + struct.pack('<I', len(data)) + data
        return b'RIFF' + struct.pack('<I', 4 + len(chunks)) + b'WAVE' + chunks

    payloads = {1: wav(1, 8000, 16, 80),            # 160 B / 16000 Bps = 10ms
                2: wav(2, 22050, 16, 441, pre_junk=True),   # 20ms
                3: wav(1, 8000, 8, 100, odd_junk=True),     # 12ms
                4: b'not audio at all'}
    want = {1: (1, 8000, 16, 10), 2: (2, 22050, 16, 20),
            3: (1, 8000, 8, 12), 4: (None, None, None, None)}
    media = spark.createDataFrame(
        [(k, v) for k, v in payloads.items()],
        'media_id long, payload binary')
    got = {r.media_id: r
           for r in mm.decode_audio_features(media).collect()}
    for mid, b in payloads.items():
        r = got[mid]
        assert (r.channels, r.sample_rate, r.bits,
                r.duration_ms) == want[mid]
        assert r.n_bytes == len(b)
        assert r.content_md5 == hashlib.md5(b).hexdigest()
        # pure-Python parse agrees with the distributed kernel
        assert mm.parse_audio_metadata(b) == (
            None if want[mid][0] is None else want[mid])


def test_negative_samples_reject_and_shortfall(spark):
    """No sampled negative is a neighbor or endpoint; a hub adjacent to
    the whole graph yields FEWER than k negatives (rejection); output
    is deterministic run-to-run."""
    from jionlp_spark.operators.graph import negative_samples
    # hub h adjacent to every other node; ring a-b-c-d besides
    nodes = ['a', 'b', 'c', 'd']
    und = [('h', x) for x in nodes] + [('a', 'b'), ('c', 'd')]
    edges = spark.createDataFrame(
        und + [(y, x) for x, y in und], 'src string, dst string')
    adj = set(und) | {(y, x) for x, y in und}
    out = negative_samples(edges, k=2, draws=8).collect()
    assert out, 'no negatives sampled at all'
    for r in out:
        assert (r.src, r.neg) not in adj
        assert r.neg not in (r.src, r.dst)
    # hub-sourced positives: every candidate is adjacent -> zero rows
    assert not [r for r in out if r.src == 'h']
    again = negative_samples(edges, k=2, draws=8).collect()
    key = lambda r: (r.src, r.dst, r.neg, r.draw_i)  # noqa: E731
    assert sorted(map(key, out)) == sorted(map(key, again))


def test_transe_scores_hinge_and_hash_contract(spark):
    """transe_scores: loss is the exact hinge over the row's own
    scores; pos_score is recomputable in pure Python from the md5
    hash-embedding contract; deterministic run-to-run."""
    import hashlib

    from jionlp_spark.operators.graph import transe_scores
    negs = spark.createDataFrame(
        [('a', 'b', 'c'), ('a', 'b', 'd'), ('x', 'y', 'a')],
        'src string, dst string, neg string')
    rows = transe_scores(negs, dim=4, margin=1.0).collect()
    assert len(rows) == 3

    def comp(v, j):
        h = hashlib.md5(f'emb|{v}|{j}'.encode()).hexdigest()
        return int(h[2:10], 16) / 4294967296.0 - 0.5

    def l1(u, v):
        return sum(abs(comp(u, j) - comp(v, j)) for j in range(4))

    for r in rows:
        assert r['pos_score'] == pytest.approx(l1(r['src'], r['dst']),
                                               abs=0.0)
        assert r['neg_score'] == pytest.approx(l1(r['src'], r['neg']),
                                               abs=0.0)
        assert r['loss'] == max(
            0.0, 1.0 + r['pos_score'] - r['neg_score'])
        assert 0.0 <= r['pos_score'] <= 4.0
    again = transe_scores(negs, dim=4, margin=1.0).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_hits_hand_graph_and_dangling(spark):
    """hits: 2-round exact-integer scores on a hand graph — a dangling
    (dst-only) node keeps hub=0; weights multiply contributions."""
    from jionlp_spark.operators.graph import hits
    # a→c(w2), b→c(w1), c→d(w1); d dangling
    edges = spark.createDataFrame(
        [('a', 'c', 2), ('b', 'c', 1), ('c', 'd', 1)],
        'src string, dst string, w long')
    out = {r['v']: (r['hub'], r['auth'])
           for r in hits(edges, iters=2, weight_col='w').collect()}
    # round 1: auth = in-weight·1 → c:3, d:1; hub = Σ out w·auth →
    #   a: 2·3=6, b: 1·3=3, c: 1·1=1
    # round 2: auth: c = 2·hub(a)+1·hub(b) = 15, d = 1·hub(c) = 1;
    #   hub: a = 2·15=30, b = 15, c = 1
    assert out == {'a': (30, 0), 'b': (15, 0), 'c': (1, 15),
                   'd': (0, 1)}
    # unweighted: same shape, w=1 everywhere
    out1 = {r['v']: (r['hub'], r['auth'])
            for r in hits(edges.select('src', 'dst'),
                          iters=1).collect()}
    assert out1 == {'a': (2, 0), 'b': (2, 0), 'c': (1, 2),
                    'd': (0, 1)}


def test_entity_salience_frequency_and_earliness(spark):
    """entity_salience: n_doc is the doc's TOTAL mention count; the
    score rewards frequency and early first mention."""
    from jionlp_spark.operators.graph import entity_salience
    m = spark.createDataFrame(
        [(1, 'a', 0), (1, 'b', 1), (1, 'a', 2), (1, 'a', 3),
         (2, 'z', 0)],
        'doc_id long, obj string, pos long')
    out = {(r['doc_id'], r['entity']):
           (r['n_mentions'], r['first_pos'], r['salience'])
           for r in entity_salience(m).collect()}
    # doc 1: n_doc=4; a: 3 mentions, first 0 → 0.5·3/4 + 0.5·1 = 0.875
    #        b: 1 mention, first 1 → 0.5·1/4 + 0.5·(1−1/4) = 0.5
    assert out[(1, 'a')] == (3, 0, 0.875)
    assert out[(1, 'b')] == (1, 1, 0.5)
    # single-mention doc: 0.5·1 + 0.5·1 = 1.0 (the upper bound)
    assert out[(2, 'z')] == (1, 0, 1.0)
    # frequency and earliness both bite: a outranks b
    assert out[(1, 'a')][2] > out[(1, 'b')][2]


def test_containment_asymmetric_and_hot_cut(spark):
    """containment_pairs: a doc fully contained in a wrapper scores
    1.0 even when Jaccard is low; the hot-shingle cut removes a
    boilerplate shingle from BOTH sides so subset pairs survive it;
    sub-threshold overlap is dropped."""
    from jionlp_spark.operators.dedup import containment_pairs, shingles
    rows = [
        # doc 1 ⊂ doc 2 (wrapper prepends 1's text) — Jaccard ≈ 0.4
        (1, 'alpha beta gamma delta epsilon zeta'),
        (2, 'alpha beta gamma delta epsilon zeta eta theta iota kappa '
            'lam mu nu xi omicron'),
        # doc 3 shares one shingle with 1/2 — below threshold
        (3, 'alpha beta gamma completely different tail here now'),
        # 4..8: make 'alpha beta gamma' hot (df 8 > cap 5)
        (4, 'alpha beta gamma aa bb'), (5, 'alpha beta gamma cc dd'),
        (6, 'alpha beta gamma ee ff'), (7, 'alpha beta gamma gg hh'),
        (8, 'alpha beta gamma ii jj'),
    ]
    docs = spark.createDataFrame(rows, 'doc_id long, text string')
    out = {(r['doc_a'], r['doc_b']): r
           for r in containment_pairs(shingles(docs, n=3),
                                      threshold=0.8,
                                      max_shingle_df=5).collect()}
    assert (1, 2) in out
    r = out[(1, 2)]
    # 'alpha beta gamma' was cut from BOTH docs: doc 1 keeps 3 of its
    # 4 shingles, all present in doc 2 → containment exactly 1.0
    assert r['size_a'] == 3 and r['n_shared'] == 3
    assert r['containment'] == 1.0
    # the sub-threshold pair is gone; so is any pair made ONLY of the
    # hot shingle (docs 4..8 share nothing after the cut)
    assert (1, 3) not in out
    assert not any(a >= 4 and b >= 4 for a, b in out)


def test_containment_df_frac_scale_stable_cap(spark):
    """df_frac makes the hot cut corpus-relative: the effective cap is
    greatest(max_shingle_df, ceil(df_frac·n_docs)), so the same
    fixture that cuts 'alpha beta gamma' under the absolute cap keeps
    it once the relative term raises the cap past its df — and the
    absolute floor still governs when the corpus is small."""
    from jionlp_spark.operators.dedup import containment_pairs, shingles
    rows = [
        (1, 'alpha beta gamma delta epsilon zeta'),
        (2, 'alpha beta gamma delta epsilon zeta eta theta iota kappa '
            'lam mu nu xi omicron'),
        (3, 'alpha beta gamma completely different tail here now'),
        (4, 'alpha beta gamma aa bb'), (5, 'alpha beta gamma cc dd'),
        (6, 'alpha beta gamma ee ff'), (7, 'alpha beta gamma gg hh'),
        (8, 'alpha beta gamma ii jj'),
    ]
    docs = spark.createDataFrame(rows, 'doc_id long, text string')
    sh = shingles(docs, n=3)
    # relative term dominates: ceil(1.0·8)=8 ≥ df('alpha beta gamma')=8
    # → nothing is cut; doc 1 keeps all 4 shingles, still ⊆ doc 2
    rel = {(r['doc_a'], r['doc_b']): r
           for r in containment_pairs(sh, threshold=0.8,
                                      max_shingle_df=5,
                                      df_frac=1.0).collect()}
    assert rel[(1, 2)]['size_a'] == 4
    assert rel[(1, 2)]['containment'] == 1.0
    # absolute floor governs a tiny relative term: cap stays 5, the
    # result is exactly the absolute-cap result
    lo = {(r['doc_a'], r['doc_b']): (r['n_shared'], r['size_a'],
                                     r['size_b'])
          for r in containment_pairs(sh, threshold=0.8,
                                     max_shingle_df=5,
                                     df_frac=1e-9).collect()}
    base = {(r['doc_a'], r['doc_b']): (r['n_shared'], r['size_a'],
                                       r['size_b'])
            for r in containment_pairs(sh, threshold=0.8,
                                       max_shingle_df=5).collect()}
    assert lo == base


def test_personalized_pagerank_seed_confinement(spark):
    """personalized_pagerank: teleport mass returns only to seeds —
    hand-computed 2-round values on a cycle, an unreached non-seed
    holds exactly 0.0."""
    from jionlp_spark.operators.graph import personalized_pagerank
    edges = spark.createDataFrame(
        [('a', 'b', 1), ('b', 'c', 1), ('c', 'a', 1), ('d', 'a', 1)],
        'src string, dst string, weight long')
    seeds = spark.createDataFrame([('a',)], 'v string')
    out = {r['v']: r['ppr']
           for r in personalized_pagerank(edges, seeds,
                                          iters=2).collect()}
    tele = 1.0 - 0.85
    # round 1: a = tele (c holds 0), b = 0.85·1, c = 0, d = 0
    # round 2: a = tele + 0.85·0, b = 0.85·tele, c = 0.85·0.85, d = 0
    assert out['a'] == tele
    assert out['b'] == 0.85 * tele
    assert out['c'] == 0.85 * 0.85
    assert out['d'] == 0.0
    # total mass stays bounded by 1 (leaks only via the d sink's share)
    assert sum(out.values()) <= 1.0 + 1e-12


def test_gopher_quality_rules(spark):
    """gopher_quality: each rule flags independently and gopher_pass
    composes them; alpha detection is translate-based (no regex)."""
    from jionlp_spark.operators.textstats import gopher_quality
    rows = [
        (1, 'alpha beta gamma delta echo'),            # clean, 5 words
        (2, 'a b c d e'),                               # mean len 1 < 3
        (3, 'alpha beta # # #'),                        # alpha 2/5 < 0.8
        (4, 'w x y z q r s t u v w x'),                 # 12 > max_words
        (5, 'zeta eta theta iota kappa'),               # no stop hits
    ]
    docs = spark.createDataFrame(rows, 'doc_id long, text string')
    out = {r['doc_id']: r
           for r in gopher_quality(
               docs, min_words=3, max_words=10,
               stopwords=('alpha', 'beta', 'echo'),
               min_stop_hits=2).collect()}
    assert out[1]['gopher_pass'] and out[1]['stop_hits'] == 3
    assert out[1]['mean_word_len'] == pytest.approx(23 / 5.0, abs=0.0)
    assert out[2]['bad_mean_len'] and not out[2]['gopher_pass']
    assert out[3]['low_alpha'] and out[3]['alpha_frac'] == 0.4
    assert out[4]['too_long']
    assert out[5]['low_stopwords'] and out[5]['stop_hits'] == 0
    # exactly one doc passes everything
    assert [d for d, r in out.items() if r['gopher_pass']] == [1]


def test_edge_index_extend_idempotent(spark, tmp_path):
    """extend_edge_index: extended ≡ from-scratch on disjoint batches;
    re-extending the SAME batch_id is a no-op (no double counting)."""
    from jionlp_spark.operators.graph import (extend_edge_index,
                                              pair_counts,
                                              publish_edge_index,
                                              read_edge_index)
    m = spark.createDataFrame(
        [(i, f'e{j}') for i in range(10) for j in (i % 3, i % 4, 7)],
        'doc_id long, obj string')
    base = str(tmp_path / 'edgeidx2')
    publish_edge_index(spark, f'{base}/kg',
                       m.filter('doc_id % 2 = 0'),
                       input_fingerprint='even')
    extend_edge_index(spark, f'{base}/kg',
                      m.filter('doc_id % 2 = 1'), batch_id='odd')

    def snap():
        return sorted((r['ent_a'], r['ent_b'], r['weight'])
                      for r in read_edge_index(spark,
                                               f'{base}/kg').collect())

    want = sorted((r['ent_a'], r['ent_b'], r['n_ab'])
                  for r in pair_counts(m).collect())
    got = snap()
    assert got == want
    # same batch_id again → fingerprint no-op, counts unchanged
    extend_edge_index(spark, f'{base}/kg',
                      m.filter('doc_id % 2 = 1'), batch_id='odd')
    assert snap() == got


def test_asof_join_hand_case(spark):
    """asof_join: ≤ semantics (a right row AT the left ts matches),
    the most recent prior snapshot wins, no-prior-row yields nulls,
    and tolerance nulls stale matches — hand-computed."""
    from datetime import datetime

    from jionlp_spark.operators.trends import asof_join
    T = datetime
    left = spark.createDataFrame(
        [(1, 1, T(2021, 1, 1, 0, 0, 5)),
         (2, 1, T(2021, 1, 1, 0, 0, 2)),
         (3, 1, T(2021, 1, 1, 0, 0, 1)),   # before any snapshot? no: eq
         (4, 2, T(2021, 1, 1, 0, 0, 9)),   # user 2 has no snapshots
         (5, 3, T(2021, 1, 1, 1, 0, 0))],  # match is 59:56 old
        'event_id long, user_id long, ts timestamp')
    right = spark.createDataFrame(
        [(1, T(2021, 1, 1, 0, 0, 1), 10.0),
         (1, T(2021, 1, 1, 0, 0, 4), 20.0),
         (1, T(2021, 1, 1, 0, 0, 5), 30.0),
         (3, T(2021, 1, 1, 0, 0, 4), 40.0)],
        'user_id long, ts timestamp, value double')
    got = {r['event_id']: (r['asof_ts'], r['asof_value'])
           for r in asof_join(left, right).collect()}
    assert got[1] == (T(2021, 1, 1, 0, 0, 5), 30.0)   # eq-ts matches
    assert got[2] == (T(2021, 1, 1, 0, 0, 1), 10.0)
    assert got[3] == (T(2021, 1, 1, 0, 0, 1), 10.0)
    assert got[4] == (None, None)
    assert got[5] == (T(2021, 1, 1, 0, 0, 4), 40.0)
    # tolerance: event 5's match is 3596 s old → nulled at 3595
    tol = {r['event_id']: (r['asof_ts'], r['asof_value'])
           for r in asof_join(left, right,
                              tolerance_sec=3595).collect()}
    assert tol[5] == (None, None)
    assert tol[1] == (T(2021, 1, 1, 0, 0, 5), 30.0)   # age 0 survives


def test_training_shards_deterministic_permutation(spark):
    """training_shards: a reproducible global pseudorandom shuffle —
    identical output across runs, per-shard positions contiguous from
    0, every doc exactly once, and a different seed produces a
    different permutation over the same doc set."""
    from jionlp_spark.operators.curate import training_shards
    docs = spark.createDataFrame([(i,) for i in range(200)],
                                 'doc_id long')
    a = sorted(map(tuple, training_shards(docs, n_shards=7,
                                          seed='s1').collect()))
    b = sorted(map(tuple, training_shards(docs, n_shards=7,
                                          seed='s1').collect()))
    assert a == b                              # machine-deterministic
    assert len(a) == 200
    assert {t[2] for t in a} == set(range(200))   # every doc once
    by_shard = {}
    for shard, pos, _ in a:
        assert 0 <= shard < 7
        by_shard.setdefault(shard, []).append(pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))  # contiguous
    c = sorted(map(tuple, training_shards(docs, n_shards=7,
                                          seed='s2').collect()))
    assert c != a                              # seed reshuffles
    assert {t[2] for t in c} == set(range(200))
    import pytest as _pt
    with _pt.raises(ValueError):
        training_shards(docs, n_shards=0)


def test_pagerank_warm_same_fixed_point_and_faster(spark):
    """pagerank_warm: (1) run long enough, warm and cold land on the
    same fixed point (the start vector changes the distance travelled,
    never the destination); (2) after a small edge delta, 2 warm
    rounds from the base graph's scores sit strictly closer to the
    converged vector than 2 cold rounds — the whole point of
    warm-starting; (3) nodes absent from the prior (delta-only
    entities) still get scored (uniform entry)."""
    from jionlp_spark.operators.graph import pagerank, pagerank_warm

    def sym(pairs):
        rows = [(a, b, w) for a, b, w in pairs] + \
               [(b, a, w) for a, b, w in pairs]
        return spark.createDataFrame(rows, 'src string, dst string, '
                                           'weight long')

    # hub-skewed graph: the fixed point is FAR from uniform, so a
    # cold uniform start has real distance to travel (a near-regular
    # graph would make cold-start trivially converged and the
    # comparison meaningless)
    base_pairs = [('hub', f'n{i}', 3 * i + 1) for i in range(20)] + \
                 [(f'n{i}', f'n{(i + 1) % 20}', 1) for i in range(20)]
    delta_pairs = [('n0', 'x_new', 1), ('n5', 'x_new', 2)]
    base, full = sym(base_pairs), sym(base_pairs + delta_pairs)

    prior = pagerank(base, iters=6)
    conv = {r['v']: r['pr'] for r in pagerank(full, iters=14).collect()}
    warm = {r['v']: r['pr']
            for r in pagerank_warm(full, prior, iters=2).collect()}
    cold = {r['v']: r['pr'] for r in pagerank(full, iters=2).collect()}

    assert set(warm) == set(conv) and 'x_new' in warm   # delta node in
    l1_warm = sum(abs(warm[v] - conv[v]) for v in conv)
    l1_cold = sum(abs(cold[v] - conv[v]) for v in conv)
    assert l1_warm < l1_cold                  # warm start pays off
    # same destination: the two trajectories CONTRACT toward each
    # other at rate d^k (0.85¹² ≈ 0.14) — warm₁₄ vs cold₁₄ must be
    # well inside a quarter of warm₂ vs cold₂
    warm_long = {r['v']: r['pr']
                 for r in pagerank_warm(full, prior, iters=14).collect()}
    gap_2 = sum(abs(warm[v] - cold[v]) for v in conv)
    gap_14 = sum(abs(warm_long[v] - conv[v]) for v in conv)
    assert gap_14 < 0.25 * gap_2


def test_neighbor_agg_cap_mean_and_self(spark):
    """neighbor_agg: the hub keeps its TRUE degree but aggregates only
    max_neighbors rows, selected by (weight desc, id asc); the mean is
    over n_used, not deg; self components match the transe hash
    embedding of the node id."""
    from jionlp_spark.operators.graph import neighbor_agg

    # hub h with 5 neighbors (weights 5..1), spoke s1 with 1 neighbor
    rows = [('h', f's{i}', 6 - i) for i in range(1, 6)] + \
           [(f's{i}', 'h', 6 - i) for i in range(1, 6)]
    edges = spark.createDataFrame(rows, 'src string, dst string, '
                                        'weight long')
    out = {r['v']: r for r in
           neighbor_agg(edges, dim=2, max_neighbors=3).collect()}
    assert out['h']['deg'] == 5 and out['h']['n_used'] == 3
    assert out['s1']['deg'] == 1 and out['s1']['n_used'] == 1

    # the hub's top-3 by (w desc, dst asc) = s1, s2, s3
    import hashlib

    def comp(v, j):
        hx = hashlib.md5(f'emb|{v}|{j}'.encode()).hexdigest()
        return int(hx[2:10], 16) / 4294967296.0 - 0.5

    for j in range(2):
        want = sum(comp(f's{i}', j) for i in (1, 2, 3)) / 3
        assert abs(out['h'][f'h_nbr{j}'] - want) < 1e-12
        assert abs(out['h'][f'h_self{j}'] - comp('h', j)) < 1e-15
    # s1's only neighbor is the hub: mean == hub's own embedding
    for j in range(2):
        assert abs(out['s1'][f'h_nbr{j}'] - comp('h', j)) < 1e-15


def test_shard_manifest_invariants_and_checksum(spark):
    """shard_manifest: per-shard counts add up to the corpus, pos_max
    == n_docs - 1 (contiguity), the checksum is order-independent and
    re-verifiable from the doc ids alone, and token/char sums match a
    hand fold."""
    from jionlp_spark.operators.curate import (shard_manifest,
                                               training_shards)
    import hashlib

    docs = spark.createDataFrame(
        [(i, 'a b  c' if i % 2 else 'xy z', f'src{i % 3}')
         for i in range(60)],
        'doc_id long, text string, source string')
    shards = training_shards(docs, n_shards=4, seed='m')
    man = shard_manifest(docs, shards).collect()

    assert sum(r['n_docs'] for r in man) == 60
    for r in man:
        assert r['pos_max'] == r['n_docs'] - 1     # contiguous shards
        assert 1 <= r['n_sources'] <= 3

    # recompute one shard's checksum independently from the assignment
    assign = {r['doc_id']: r['shard'] for r in shards.collect()}

    def w32(i):
        hx = hashlib.md5(f'man|{i}'.encode()).hexdigest()
        return int(hx[2:10], 16)

    for r in man:
        ids = [i for i, s in assign.items() if s == r['shard']]
        assert r['checksum'] == sum(w32(i) for i in ids)
        # whitespace token rule: split(' ') counts empty runs too
        want_tok = sum((4 if i % 2 else 2) for i in ids)
        want_chr = sum((6 if i % 2 else 4) for i in ids)
        assert r['n_tokens'] == want_tok and r['n_chars'] == want_chr


def test_fuzzy_decontaminate_verify_and_threshold(spark):
    """fuzzy_decontaminate: a bench item that is a corpus doc minus its
    last token LSH-candidates with it and carries the exact Jaccard
    (|A∩B|/|A∪B| over 3-gram shingles); the threshold splits the SAME
    candidate into flagged/unflagged (verify rejects below cut); an
    unrelated doc never pairs."""
    from jionlp_spark.operators.decontam import fuzzy_decontaminate

    toks = [f'w{i}' for i in range(30)]
    docs = spark.createDataFrame(
        [(1, ' '.join(toks)),
         (3, ' '.join(f'z{i}' for i in range(30)))],
        'doc_id long, text string')
    bench = spark.createDataFrame(
        [(101, ' '.join(toks[:-1])),                 # 27/28-shingle dup
         (102, ' '.join(f'q{i}' for i in range(30)))],  # unrelated
        'bench_id long, text string')

    rows = {(r['doc_id'], r['bench_id']): r
            for r in fuzzy_decontaminate(docs, bench,
                                         threshold=0.8).collect()}
    assert (1, 101) in rows
    r = rows[(1, 101)]
    # doc1: 28 shingles, bench101: 27, all shared → jaccard 27/28
    assert (r['n_doc'], r['n_bench'], r['n_inter']) == (28, 27, 27)
    assert abs(r['jaccard'] - 27 / 28) < 1e-15 and r['flagged']
    assert not any(d == 3 for d, _ in rows)          # unrelated silent
    assert not any(b == 102 for _, b in rows)

    # same candidate, stricter cut → verify REJECTS (audit row stays)
    strict = {(r['doc_id'], r['bench_id']): r
              for r in fuzzy_decontaminate(docs, bench,
                                           threshold=0.99).collect()}
    assert (1, 101) in strict and not strict[(1, 101)]['flagged']


def test_mixing_weights_temperature_and_cap(spark):
    """mixing_weights: alpha=0.5 upweights the small source past its
    proportional share (p ∝ sqrt(c)); weights sum to 1; budgets sum to
    the target; the epoch cap bites exactly the source whose demanded
    repetition exceeds it; alpha=1 reproduces proportional sampling."""
    import math

    from jionlp_spark.operators.curate import mixing_weights

    # big: 4 docs x 100 tokens = 400; small: 1 doc x 4 tokens
    rows = [(i, 'big', ' '.join(f'w{j}' for j in range(100)))
            for i in range(4)]
    rows.append((9, 'small', 'a b c d'))
    docs = spark.createDataFrame(rows, 'doc_id long, source string, '
                                       'text string')

    out = {r['source']: r for r in
           mixing_weights(docs, alpha=0.5, target_tokens=1000,
                          max_epochs=4.0).collect()}
    big, small = out['big'], out['small']
    assert (big['n_docs'], big['n_tokens']) == (4, 400)
    assert (small['n_docs'], small['n_tokens']) == (1, 4)
    den = math.sqrt(400) + math.sqrt(4)
    assert abs(big['weight'] - 20 / den) < 1e-12
    assert abs(small['weight'] - 2 / den) < 1e-12
    # temperature: small's share (1/11) >> proportional (4/404)
    assert small['weight'] > 4 / 404
    assert abs(big['weight'] + small['weight'] - 1.0) < 1e-12
    assert abs(big['budget_tokens'] + small['budget_tokens']
               - 1000.0) < 1e-9
    # small demands 1000*(2/22)/4 ≈ 22.7 epochs → capped at 4;
    # big demands 1000*(20/22)/400 ≈ 2.27 → uncapped
    assert small['capped'] and small['epochs'] == 4.0
    assert not big['capped']
    assert abs(big['epochs'] - (1000 * 20 / 22) / 400) < 1e-12

    prop = {r['source']: r for r in
            mixing_weights(docs, alpha=1.0, target_tokens=1000,
                           max_epochs=100.0).collect()}
    assert abs(prop['big']['weight'] - 400 / 404) < 1e-12
    assert abs(prop['small']['epochs']
               - (1000 * 4 / 404) / 4) < 1e-12


def test_weighted_sample_gumbel_topk(spark):
    """weighted_sample: key arithmetic matches the closed form
    (md5-nibble u → -ln(-ln(u)) + logweight); exactly k rows with
    contiguous ranks in (key desc, id) order — the two-phase plan
    equals the global spec; deterministic across runs; the seed
    re-draws; a dominant logweight always wins slot 1."""
    import hashlib
    import math

    from jionlp_spark.operators.curate import weighted_sample

    rows = [(i, float(-(i % 7))) for i in range(200)]
    rows.append((999, 50.0))                      # dominant weight
    items = spark.createDataFrame(rows, 'doc_id long, lw double')

    def key(i, lw, seed='s1'):
        h = hashlib.md5(f'{seed}:{i}'.encode()).hexdigest()
        u = (int(h[:8], 16) + 0.5) / 2 ** 32
        return lw + (-math.log(-math.log(u)))

    got = weighted_sample(items, k=25, logweight_col='lw',
                          seed='s1').collect()
    assert len(got) == 25
    assert sorted(r['rk'] for r in got) == list(range(1, 26))
    want = sorted(((key(i, lw), i) for i, lw in rows),
                  key=lambda t: (-t[0], t[1]))[:25]
    got_sorted = sorted(got, key=lambda r: r['rk'])
    for r, (wk, wi) in zip(got_sorted, want):
        assert r['doc_id'] == wi and abs(r['gumbel_key'] - wk) < 1e-9
    assert got_sorted[0]['doc_id'] == 999          # dominant weight

    again = weighted_sample(items, k=25, logweight_col='lw',
                            seed='s1').collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, got))
    other = weighted_sample(items, k=25, logweight_col='lw',
                            seed='s2').collect()
    assert {r['doc_id'] for r in other} != {r['doc_id'] for r in got}


def test_cluster_mix_sample_quota_and_order(spark):
    """cluster_mix_sample: exactly min(quota, |cluster|) per cluster in
    md5(id) order with contiguous ranks; the two-phase plan equals the
    global per-cluster spec; items outside the sample hash strictly
    later than every sampled item of their cluster."""
    import hashlib

    from jionlp_spark.operators.curate import cluster_mix_sample

    # cluster 0: 5 members, cluster 1: 2 members; quota 3
    assigned = spark.createDataFrame(
        [(i, 0) for i in range(5)] + [(10, 1), (11, 1)],
        'vec_id long, bucket int')
    got = cluster_mix_sample(assigned, quota=3).collect()
    by_b = {}
    for r in got:
        by_b.setdefault(r['bucket'], []).append(r)
    assert len(by_b[0]) == 3 and len(by_b[1]) == 2
    for b, rows in by_b.items():
        assert sorted(r['rk'] for r in rows) == list(
            range(1, len(rows) + 1))

    def hk(i):
        return hashlib.md5(str(i).encode()).hexdigest()

    want0 = sorted(range(5), key=lambda i: (hk(i), i))[:3]
    got0 = [r['vec_id'] for r in sorted(by_b[0], key=lambda r: r['rk'])]
    assert got0 == want0
    left_out = set(range(5)) - set(want0)
    assert all(hk(o) > max(hk(i) for i in want0) for o in left_out)


def test_epoch_expand_fractional_copies(spark):
    """epoch_expand: floor(f) copies for every doc plus one more
    exactly when the closed-form md5-nibble uniform clears the
    fraction; contiguous 0-based epochs; integer epochs get no
    extras; sub-1 epochs keep only the fractional subset; epochs=0
    sources vanish."""
    import hashlib

    from jionlp_spark.operators.curate import epoch_expand

    docs = spark.createDataFrame(
        [(i, 'a') for i in range(20)]
        + [(100 + i, 'b') for i in range(5)]
        + [(200 + i, 'c') for i in range(10)]
        + [(300, 'z')],
        'doc_id long, source string')
    mix = spark.createDataFrame(
        [('a', 2.5), ('b', 3.0), ('c', 0.4), ('z', 0.0)],
        'source string, epochs double')

    got = epoch_expand(docs, mix).collect()
    per = {}
    for r in got:
        per.setdefault(r['doc_id'], []).append(r['epoch'])

    def u(i):
        h = hashlib.md5(f'ep:{i}'.encode()).hexdigest()
        return (int(h[:8], 16) + 0.5) / 2 ** 32

    for i in range(20):                        # source a: 2 or 3 copies
        want = 3 if u(i) < 0.5 else 2
        assert sorted(per[i]) == list(range(want)), i
    assert any(len(per[i]) == 3 for i in range(20))
    assert any(len(per[i]) == 2 for i in range(20))
    for i in range(100, 105):                  # integer epochs: exact 3
        assert sorted(per[i]) == [0, 1, 2]
    for i in range(200, 210):                  # sub-1: fraction only
        if u(i) < 0.4:
            assert per[i] == [0]
        else:
            assert i not in per
    assert 300 not in per                      # epochs=0 vanishes
    assert {r['source'] for r in got} == {'a', 'b', 'c'}


def test_predicate_schema_functionality_and_signature(spark):
    """predicate_schema on a hand triple pile: born_in is functional
    (every subject one object, support folded into n_triples), works_at
    is not (one subject two objects); the modal type signature wins by
    count with signature-asc tie-break."""
    from jionlp_spark.operators.graph import predicate_schema
    rows = [
        # born_in: 3 subjects, 3 pairs, 4 triples (s1 asserted twice)
        ('s1', 'born_in', 'o1', 'person', 'city'),
        ('s1', 'born_in', 'o1', 'person', 'city'),
        ('s2', 'born_in', 'o2', 'person', 'city'),
        ('s3', 'born_in', 'o3', 'person', 'country'),
        # works_at: 1 subject, 2 pairs -> functionality 0.5
        ('s1', 'works_at', 'w1', 'person', 'org'),
        ('s1', 'works_at', 'w2', 'person', 'org'),
    ]
    t = spark.createDataFrame(
        rows, 'subj string, pred string, obj string, '
              'subj_type string, obj_type string')
    got = {r['pred']: r for r in predicate_schema(t).collect()}
    b = got['born_in']
    assert (b['n_triples'], b['n_subj'], b['n_obj'], b['n_pairs']) \
        == (4, 3, 3, 3)
    assert b['functionality'] == 1.0
    assert b['top_signature'] == 'person->city'
    assert b['sig_share'] == 3 / 4
    w = got['works_at']
    assert w['functionality'] == 0.5
    assert w['inv_functionality'] == 1.0
    # tie-break: two signatures at equal count -> lexicographically first
    t2 = spark.createDataFrame(
        [('a', 'p', 'x', 't1', 'u1'), ('b', 'p', 'y', 't0', 'u9')],
        'subj string, pred string, obj string, '
        'subj_type string, obj_type string')
    assert predicate_schema(t2).collect()[0]['top_signature'] == 't0->u9'


def test_conflict_resolution_gate_vote_and_tie(spark):
    """conflict_resolution: a near-functional predicate (9 clean
    subjects + 1 conflicted -> fun 10/11) surfaces only the conflicted
    subject with a support-majority winner; an equal-vote conflict
    falls to the obj-asc tie rule; a non-functional predicate is
    excluded by the gate even though it has multi-valued subjects."""
    from jionlp_spark.operators.graph import conflict_resolution
    rows = []
    for i in range(9):
        rows += [(f's{i}', 'cap', f'o{i}')] * 2
    rows += [('sx', 'cap', 'right')] * 3 + [('sx', 'cap', 'wrong')]
    # tie predicate: 8 clean + 1 conflicted at equal votes (fun 9/10)
    for i in range(8):
        rows += [(f's{i}', 'tie', f'o{i}')]
    rows += [('st', 'tie', 'alpha'), ('st', 'tie', 'beta')]
    # non-functional: every subject 3 objects (fun 1/3)
    for i in range(3):
        rows += [(f's{i}', 'multi', f'm{j}') for j in range(3)]
    t = spark.createDataFrame(rows, 'subj string, pred string, obj string')
    got = conflict_resolution(t, min_functionality=0.8).collect()
    assert {r['pred'] for r in got} == {'cap', 'tie'}
    cap = sorted([r for r in got if r['pred'] == 'cap'],
                 key=lambda r: r['obj'])
    assert [(r['subj'], r['obj'], r['support'], r['n_alternatives'],
             r['is_winner']) for r in cap] == \
        [('sx', 'right', 3, 2, True), ('sx', 'wrong', 1, 2, False)]
    tie = {r['obj']: r['is_winner'] for r in got if r['pred'] == 'tie'}
    assert tie == {'alpha': True, 'beta': False}


def test_hierarchy_closure_chain_tree_cut_and_cycle(spark):
    """hierarchy_closure: a depth-4 chain closes with exact per-hop
    depths in log rounds; tree ancestry unions branches; max_depth
    cuts deep ancestors; a 2-cycle terminates with bounded depths
    instead of looping."""
    from jionlp_spark.operators.graph import hierarchy_closure
    edges = spark.createDataFrame(
        [('a', 'b'), ('b', 'c'), ('c', 'd'), ('d', 'e'),
         ('x', 'p'), ('y', 'p'), ('p', 'r')],
        'node string, parent string')
    got = {(r['node'], r['ancestor']): r['depth']
           for r in hierarchy_closure(edges, max_depth=8).collect()}
    assert {k: v for k, v in got.items() if k[0] == 'a'} == \
        {('a', 'b'): 1, ('a', 'c'): 2, ('a', 'd'): 3, ('a', 'e'): 4}
    assert {k: v for k, v in got.items() if k[0] == 'x'} == \
        {('x', 'p'): 1, ('x', 'r'): 2}
    cut = hierarchy_closure(edges, max_depth=2).collect()
    assert max(r['depth'] for r in cut) == 2
    assert ('a', 'd') not in {(r['node'], r['ancestor']) for r in cut}
    cyc = hierarchy_closure(
        spark.createDataFrame([('u', 'v'), ('v', 'u')],
                              'node string, parent string'),
        max_depth=4).collect()
    assert cyc and max(r['depth'] for r in cyc) <= 4


def test_disambiguate_mentions_argmax_and_tie(spark):
    """disambiguate_mentions on hand vectors: orthogonal prototypes pick
    the aligned sense; an equidistant context falls to the sense-asc
    tie rule on the ROUNDED cosine; every candidate row is emitted with
    exactly one is_best per mention."""
    from jionlp_spark.operators.graph import disambiguate_mentions
    senses = spark.createDataFrame(
        [('a', 'k0', [1.0, 0.0]), ('a', 'k1', [0.0, 1.0]),
         ('b', 'k0', [1.0, 1.0])],
        'surface string, sense_id string, proto array<float>')
    emb = spark.createDataFrame(
        [(1, [0.9, 0.1]), (2, [0.1, 0.9]), (3, [1.0, 1.0])],
        'vec_id long, embedding array<float>')
    mentions = spark.createDataFrame(
        [(1, 'a'), (2, 'a'), (3, 'a'), (3, 'b')],
        'doc_id long, surface string')
    got = disambiguate_mentions(mentions, senses, emb).collect()
    best = {(r['doc_id'], r['surface']): r['sense_id']
            for r in got if r['is_best']}
    assert best == {(1, 'a'): 'k0', (2, 'a'): 'k1',
                    (3, 'a'): 'k0',      # tie 0.707107 both -> sense asc
                    (3, 'b'): 'k0'}
    by_mention = {}
    for r in got:
        by_mention.setdefault((r['doc_id'], r['surface']), []).append(r)
    assert all(sum(r['is_best'] for r in v) == 1
               for v in by_mention.values())
    tie = sorted(r['cos'] for r in by_mention[(3, 'a')])
    assert tie[0] == tie[1] == 0.707107
    assert by_mention[(3, 'b')][0]['cos'] == 1.0


def test_hashed_logit_quality_exact_and_branches(spark):
    """hashed_logit_quality: the logit equals the closed-form Python
    replay BIT-EXACTLY (16-bit dyadic weights make every partial sum
    exact), keep thresholds it, multi-space runs contribute no empty
    tokens, and an all-space doc yields null logit/keep."""
    import hashlib
    from jionlp_spark.operators.textstats import hashed_logit_quality
    docs = spark.createDataFrame(
        [(0, 'alpha beta gamma'), (1, 'alpha  alpha'), (2, ' '),
         (3, None)],
        'doc_id long, text string')
    got = {r['doc_id']: r for r in
           hashed_logit_quality(docs, threshold=0.0).collect()}

    def w(tok):
        h = hashlib.md5(f'qw|{tok}'.encode()).hexdigest()
        return int(h[:4], 16) / 65536 - 0.5

    exp0 = (w('alpha') + w('beta') + w('gamma')) / 3
    assert got[0]['n_tokens'] == 3
    assert got[0]['logit'] == exp0            # bit-exact, no tolerance
    assert got[0]['keep'] == (exp0 > 0.0)
    assert got[1]['n_tokens'] == 2
    assert got[1]['logit'] == w('alpha')      # mean of two equal weights
    assert got[2]['n_tokens'] == 0
    assert got[2]['logit'] is None and got[2]['keep'] is None
    # null text: size(null) is null → every output field null
    assert got[3]['n_tokens'] is None
    assert got[3]['logit'] is None and got[3]['keep'] is None


def test_signature_violations_share_gate(spark):
    """signature_violations: a 9:1 dominant signature (share exactly
    0.9) flags the deviant with the expected signature attached; a
    50/50 contested signature asserts no constraint and flags
    nothing."""
    from jionlp_spark.operators.graph import signature_violations
    rows = [('s%d' % i, 'p', 'o%d' % i, 'a', 'b') for i in range(9)]
    rows += [('sx', 'p', 'ox', 'a', 'c'),
             ('s1', 'q', 'o1', 'a', 'b'), ('s2', 'q', 'o2', 'a', 'c')]
    t = spark.createDataFrame(
        rows, 'subj string, pred string, obj string, '
              'subj_type string, obj_type string')
    got = signature_violations(t, min_share=0.9).collect()
    assert [(r['pred'], r['subj'], r['sig'], r['expected_signature'],
             r['sig_share']) for r in got] == \
        [('p', 'sx', 'a->c', 'a->b', 0.9)]


def test_hierarchy_closure_random_forests_vs_python(spark):
    """hierarchy_closure ≡ a hop-at-a-time Python walk on seeded random
    forests (parents always lower-numbered → acyclic by construction):
    identical (node, ancestor, depth) sets including the max_depth
    cut."""
    import random
    from jionlp_spark.operators.graph import hierarchy_closure
    for seed in (0, 1, 2):
        rng = random.Random(seed)
        parent = {}
        for i in range(1, 25):
            if rng.random() < 0.7:
                parent[i] = rng.randrange(i)
        edges = spark.createDataFrame(
            [(str(n), str(p)) for n, p in parent.items()],
            'node string, parent string')
        md = rng.choice([2, 4, 16])
        got = {(r['node'], r['ancestor'], r['depth'])
               for r in hierarchy_closure(edges, max_depth=md).collect()}
        want = set()
        for n in parent:
            a, d = n, 0
            while a in parent and d < md:
                a, d = parent[a], d + 1
                want.add((str(n), str(a), d))
        assert got == want, (seed, md)


def test_conflict_resolution_random_vs_python(spark):
    """conflict_resolution ≡ a brute-force Python replay on seeded
    random triple piles: same functionality gate, same conflicted
    subjects, same (support desc, obj asc) winners."""
    import random
    from collections import Counter
    from jionlp_spark.operators.graph import conflict_resolution
    for seed in (3, 4, 5):
        rng = random.Random(seed)
        rows = [(f's{rng.randrange(6)}', f'p{rng.randrange(3)}',
                 f'o{rng.randrange(3)}') for _ in range(120)]
        t = spark.createDataFrame(rows,
                                  'subj string, pred string, obj string')
        got = {(r['pred'], r['subj'], r['obj'], r['support'],
                r['n_alternatives'], r['is_winner'])
               for r in conflict_resolution(t, 0.8).collect()}
        sup = Counter(rows)
        want = set()
        for p in {r[1] for r in rows}:
            pairs = {(s, o) for s, pp, o in sup if pp == p}
            subjects = {s for s, o in pairs}
            if len(subjects) / len(pairs) < 0.8:
                continue
            for s in subjects:
                objs = sorted(o for ss, o in pairs if ss == s)
                if len(objs) < 2:
                    continue
                ranked = sorted(objs,
                                key=lambda o: (-sup[(s, p, o)], o))
                for o in objs:
                    want.add((p, s, o, sup[(s, p, o)], len(objs),
                              o == ranked[0]))
        assert got == want, seed


def test_streaming_conflicts_handoff_winner_and_cap(spark, tmp_path):
    """streaming_conflicts: votes accumulate across the micro-batch
    boundary (batch-2 emissions carry cumulative counts), the winner
    flips when the late alternative overtakes, the max_objs cap
    tallies overflow instead of tracking a third alternative, and a
    single-object subject never emits."""
    import datetime
    import os

    from jionlp_spark.streaming.stream import streaming_conflicts

    src = str(tmp_path / 'src')
    ckpt = str(tmp_path / 'ckpt')
    os.makedirs(src)
    t = lambda m: datetime.datetime(2021, 9, 1, 10, m)
    batches = [
        [('p', 's', 'a', t(0)), ('p', 's', 'a', t(1)),
         ('p', 's', 'b', t(2)), ('p', 'solo', 'only', t(3))],
        [('p', 's', 'b', t(10)), ('p', 's', 'b', t(11)),
         ('p', 's', 'c', t(12)), ('p', 's', 'c', t(13)),
         ('p', 'solo', 'only', t(14))],
    ]
    for i, rows in enumerate(batches):
        part = f'{src}/batch_{i}'
        spark.createDataFrame(
            rows, 'pred string, subj string, obj string, '
                  'warc_ts timestamp') \
            .coalesce(1).write.parquet(part)
        for root, _d, files in os.walk(part):
            for fn in files:
                os.utime(os.path.join(root, fn),
                         (1_600_000_000 + i * 3600,) * 2)
    stream = (spark.readStream
              .schema('pred string, subj string, obj string, '
                      'warc_ts timestamp')
              .option('maxFilesPerTrigger', '1').parquet(f'{src}/batch_*'))
    q = (streaming_conflicts(stream, max_objs=2)
         .writeStream.format('memory').queryName('confl_test')
         .outputMode('append').trigger(availableNow=True)
         .option('checkpointLocation', ckpt).start())
    q.awaitTermination(240)
    got = [tuple(r) for r in spark.table('confl_test').collect()]
    assert ('p', 'solo') not in {(p, s) for p, s, *_ in got}
    b0 = sorted(r for r in got if r[6] == 0)
    b1 = sorted(r for r in got if r[6] == 2)
    assert b0 == [('p', 's', 'a', 2, 2, True, 0),
                  ('p', 's', 'b', 1, 2, False, 0)]
    # cumulative: b overtakes (3 > 2); 'c' arrived twice past the cap
    assert b1 == [('p', 's', 'a', 2, 2, False, 2),
                  ('p', 's', 'b', 3, 2, True, 2)]
    assert len(got) == 4


def test_temporal_scoping_runs_ties_and_current(spark):
    """temporal_scoping: consecutive same-object runs collapse into one
    interval, a replaced object RE-OPENS a new interval on return,
    valid_to = the next run's valid_from, the last run is current
    (null valid_to), and same-instant ties order by obj asc."""
    import datetime

    from jionlp_spark.operators.graph import temporal_scoping

    t = lambda m: datetime.datetime(2021, 9, 1, 10, m)
    rows = [
        # s: A,A,B,A -> three intervals, A returns after interruption
        ('p', 's', 'A', t(0)), ('p', 's', 'A', t(1)),
        ('p', 's', 'B', t(2)), ('p', 's', 'A', t(3)),
        # s2: same-instant tie -> A (obj asc) reigns first, B current
        ('p', 's2', 'B', t(0)), ('p', 's2', 'A', t(0)),
        # s3: one object only -> single current interval, support 2
        ('p', 's3', 'X', t(0)), ('p', 's3', 'X', t(5)),
    ]
    df = spark.createDataFrame(
        rows, 'pred string, subj string, obj string, ts timestamp')
    got = {(r.subj, r.obj, r.valid_from, r.valid_to, r.n_assertions,
            r.is_current)
           for r in temporal_scoping(df).collect()}
    want = {
        ('s', 'A', t(0), t(2), 2, False),
        ('s', 'B', t(2), t(3), 1, False),
        ('s', 'A', t(3), None, 1, True),
        ('s2', 'A', t(0), t(0), 1, False),
        ('s2', 'B', t(0), None, 1, True),
        ('s3', 'X', t(0), None, 2, True),
    }
    assert got == want


def test_align_entities_gate_cap_scores_and_mutual(spark):
    """align_entities: the inverse-functionality gate excludes the
    multi-valued predicate's shared objects, the max_bucket cap drops
    the placeholder value's would-be |A|x|B| explosion, n_shared
    counts DISTINCT shared (pred, obj) (assertion repetition is not
    evidence), and the best/mutual flags follow (n_shared desc,
    ent asc)."""
    from jionlp_spark.operators.graph import align_entities

    kb_a = spark.createDataFrame(
        [('phone', 'a1', 'ph1'), ('phone', 'a1', 'ph1'),  # dup assertion
         ('phone', 'a2', 'ph2'), ('phone', 'a3', 'ph9'),
         ('phone', 'adup5', 'ph5'), ('phone', 'a5', 'ph5'),
         ('idcard', 'a2', 'id2'),
         # placeholder value: 3 subjects per side > max_bucket=2
         ('phone', 'x1', 'hot'), ('phone', 'x2', 'hot'),
         ('phone', 'x3', 'hot'),
         # multi-valued predicate: everyone shares c1 -> gate excludes
         ('mentions', 'a1', 'c1'), ('mentions', 'a2', 'c1'),
         ('mentions', 'a3', 'c1')],
        'pred string, subj string, obj string')
    kb_b = spark.createDataFrame(
        [('phone', 'b1', 'ph1'), ('phone', 'b2', 'ph2'),
         ('phone', 'b2', 'ph9'), ('phone', 'b5', 'ph5'),
         ('idcard', 'b2', 'id2'),
         ('phone', 'y1', 'hot'), ('phone', 'y2', 'hot'),
         ('phone', 'y3', 'hot'),
         ('mentions', 'b1', 'c1'), ('mentions', 'b2', 'c1')],
        'pred string, subj string, obj string')
    got = {(r.ent_a, r.ent_b): (r.n_shared, r.is_best_a, r.is_best_b)
           for r in align_entities(kb_a, kb_b,
                                   min_inv_functionality=0.3,
                                   max_bucket=2).collect()}
    # gate arithmetic: phone = 5 distinct objs / 15 distinct union
    # pairs = 0.333, idcard = 1/2 = 0.5 (both pass 0.3); mentions =
    # 1 obj / 5 pairs = 0.2 (excluded)
    assert ('a1', 'b1') in got and got[('a1', 'b1')] == (1, True, True)
    # b2 matches a2 via phone+idcard (2) and a3 via ph9 (1)
    assert got[('a2', 'b2')] == (2, True, True)
    assert got[('a3', 'b2')] == (1, True, False)
    # adup5 ties a5 on ph5; b5's best is a5 (ent_a asc on equal score)
    assert got[('a5', 'b5')] == (1, True, True)
    assert got[('adup5', 'b5')] == (1, True, False)
    # the hot placeholder must contribute NO pairs, and the
    # gate-excluded mentions predicate none either
    ents = {e for pair in got for e in pair}
    assert not ents & {'x1', 'x2', 'x3', 'y1', 'y2', 'y3'}
    assert len(got) == 5


def test_mine_path_rules_support_confidence_and_cap(spark):
    """mine_path_rules: the born_in ∧ located_in ⇒ citizen_of rule is
    found with distinct-pair support/body counts (duplicate assertions
    are not evidence), empty-body predicate combos never emit, the
    min_support cut holds, and a hub y past max_fanout contributes no
    body pairs."""
    from jionlp_spark.operators.graph import mine_path_rules

    rows = [
        ('born_in', 'p1', 'c1'), ('born_in', 'p1', 'c1'),  # dup
        ('born_in', 'p2', 'c1'), ('born_in', 'p3', 'c2'),
        ('located_in', 'c1', 'v1'), ('located_in', 'c2', 'v2'),
        ('citizen_of', 'p1', 'v1'), ('citizen_of', 'p3', 'v2'),
        # hub: 3 born_in rows share chub > max_fanout=2 -> dropped
        ('born_in', 'p4', 'chub'), ('born_in', 'p5', 'chub'),
        ('born_in', 'p6', 'chub'), ('located_in', 'chub', 'v1'),
    ]
    t = spark.createDataFrame(rows, 'pred string, subj string, obj string')
    got = {(r.head_pred, r.body_pred1, r.body_pred2):
           (r.support, r.n_body_pairs, r.n_pca_pairs, r.confidence,
            r.pca_confidence)
           for r in mine_path_rules(t, min_support=2,
                                    max_fanout=2).collect()}
    # body (born_in, located_in) = {(p1,v1),(p2,v1),(p3,v2)}; heads
    # citizen_of match 2 of 3; the chub pairs are cap-dropped.  p2 has
    # NO citizen_of at all, so the PCA denominator drops its pair:
    # standard confidence 2/3, PCA 2/2 (open-world: p2's absent head
    # is unknown, not a counterexample)
    assert got == {('citizen_of', 'born_in', 'located_in'):
                   (2, 3, 2, 2.0 / 3.0, 1.0)}
    # min_support above the support -> cut
    assert mine_path_rules(t, min_support=3, max_fanout=2).count() == 0


def test_infer_triples_anti_join_and_provenance(spark):
    """infer_triples: the admitted rule derives exactly the head
    triples the KG lacks (p2's citizenship), carries rule provenance +
    confidence, and a min_confidence above the rule's kills all
    inferences."""
    from jionlp_spark.operators.graph import infer_triples

    rows = [
        ('born_in', 'p1', 'c1'), ('born_in', 'p2', 'c1'),
        ('born_in', 'p3', 'c2'),
        ('located_in', 'c1', 'v1'), ('located_in', 'c2', 'v2'),
        ('citizen_of', 'p1', 'v1'), ('citizen_of', 'p3', 'v2'),
    ]
    t = spark.createDataFrame(rows, 'pred string, subj string, obj string')
    got = [(r.pred, r.subj, r.obj, r.body_pred1, r.body_pred2,
            r.confidence)
           for r in infer_triples(t, min_support=2,
                                  min_confidence=0.5).collect()]
    assert got == [('citizen_of', 'p2', 'v1', 'born_in', 'located_in',
                    2.0 / 3.0)]
    assert infer_triples(t, min_support=2,
                         min_confidence=0.7).count() == 0


def test_truth_discovery_trust_beats_vote_tie(spark):
    """truth_discovery: a 5-claim world where bad sources b1/b2 lose
    trust on a minority subject, so a 2-vs-2 VOTE TIE on subject t
    resolves toward the trusted sources' object 'ct' — even though
    'at' wins the lexicographic rule a flat-trust round (iters=1, ≡
    weighted majority) falls back to.  Unanimous subjects never
    emit."""
    from jionlp_spark.operators.graph import truth_discovery

    rows = []
    for s in ('b1', 'b2'):
        rows += [('cap', 'm', 'aw', s), ('cap', 't', 'at', s),
                 ('cap', 'u', 'cu', s)]
    for s in ('g1', 'g2'):
        rows += [('cap', 'm', 'cm', s), ('cap', 't', 'ct', s),
                 ('cap', 'u', 'cu', s)]
    rows += [('cap', 'm', 'cm', 'g3'), ('cap', 'u', 'cu', 'g3'),
             ('cap', 'm', 'cm', 'g3')]          # dup claim: no effect
    claims = spark.createDataFrame(
        rows, 'pred string, subj string, obj string, source string')

    out = {(r.subj, r.obj): (r.n_sources, r.n_alternatives,
                             r.confidence, r.is_winner)
           for r in truth_discovery(claims, iters=2).collect()}
    assert set(out) == {('m', 'aw'), ('m', 'cm'), ('t', 'at'),
                        ('t', 'ct')}
    assert out[('m', 'cm')][3] and not out[('m', 'aw')][3]
    # the showcase: votes tie 2-2 and 'at' < 'ct', but trust decides
    assert out[('t', 'ct')][3] and not out[('t', 'at')][3]
    assert out[('t', 'ct')][2] > out[('t', 'at')][2]
    assert out[('t', 'ct')][:2] == (2, 2)
    # flat-trust baseline (one round): the tie falls to obj asc -> the
    # WRONG 'at' wins, proving the iteration carries the signal
    base = {(r.subj, r.obj): r.is_winner
            for r in truth_discovery(claims, iters=1).collect()}
    assert base[('t', 'at')] and not base[('t', 'ct')]


def test_streaming_fact_intervals_closes_across_batches(spark, tmp_path):
    """streaming_fact_intervals: a run's interval emits when its
    replacement arrives (valid_to = the replacing assertion's ts),
    support accumulates ACROSS the micro-batch boundary, same-instant
    ties replay in (ts, obj asc) order, and the final open run never
    emits."""
    import datetime
    import os

    from jionlp_spark.streaming.stream import streaming_fact_intervals

    t = lambda m: datetime.datetime(2021, 9, 1, 10, m)
    us = lambda m: int(t(m).replace(
        tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
    batches = [
        # s: A,A then B -> A closes in-batch; B stays open in state
        [('p', 's', 'A', t(0)), ('p', 's', 'A', t(1)),
         ('p', 's', 'B', t(2)),
         # s2: same-instant tie -> A first (obj asc), closed by B at t0
         ('p', 's2', 'B', t(0)), ('p', 's2', 'A', t(0))],
        # s: B again (accumulates n=2), then A -> B closes with n=2
        [('p', 's', 'B', t(10)), ('p', 's', 'A', t(11))],
    ]
    src, ckpt = str(tmp_path / 'src'), str(tmp_path / 'ckpt')
    os.makedirs(src)
    for i, rows in enumerate(batches):
        part = f'{src}/batch_{i}'
        spark.createDataFrame(
            rows, 'pred string, subj string, obj string, '
                  'warc_ts timestamp') \
            .coalesce(1).write.parquet(part)
        for root, _d, files in os.walk(part):
            for fn in files:
                os.utime(os.path.join(root, fn),
                         (1_600_000_000 + i * 3600,) * 2)
    stream = (spark.readStream
              .schema('pred string, subj string, obj string, '
                      'warc_ts timestamp')
              .option('maxFilesPerTrigger', '1').parquet(f'{src}/batch_*'))
    q = (streaming_fact_intervals(stream)
         .writeStream.format('memory').queryName('fint_test')
         .outputMode('append').trigger(availableNow=True)
         .option('checkpointLocation', ckpt).start())
    q.awaitTermination(240)
    got = sorted(tuple(r) for r in spark.table('fint_test').collect())
    assert got == sorted([
        ('p', 's', 'A', us(0), us(2), 2),
        ('p', 's', 'B', us(2), us(11), 2),
        ('p', 's2', 'A', us(0), us(0), 1),
    ])


def test_align_entities_iterated_relation_unlock(spark):
    """align_entities_iterated: round 1 matches the orgs on their
    shared phone but CANNOT match the persons (their works_at objects
    live in disjoint namespaces); round 2 rewrites KB-B's works_at
    objects through the accepted org match and the persons align via
    the now-shared employer — while a person whose employer never
    matched stays unmatched."""
    from jionlp_spark.operators.graph import (align_entities,
                                              align_entities_iterated)

    kb_a = spark.createDataFrame(
        [('phone', 'oA1', 'ph1'), ('works_at', 'pA1', 'oA1'),
         ('phone', 'oA2', 'ph2'), ('works_at', 'pA2', 'oA2')],
        'pred string, subj string, obj string')
    kb_b = spark.createDataFrame(
        [('phone', 'oB1', 'ph1'), ('works_at', 'pB1', 'oB1'),
         ('phone', 'oB2', 'phX'), ('works_at', 'pB2', 'oB2')],
        'pred string, subj string, obj string')

    r1 = {(r.ent_a, r.ent_b)
          for r in align_entities(kb_a, kb_b,
                                  min_inv_functionality=0.5).collect()}
    assert r1 == {('oA1', 'oB1')}
    got = {(r.ent_a, r.ent_b): (r.n_shared, r.is_best_a, r.is_best_b)
           for r in align_entities_iterated(
               kb_a, kb_b, rounds=2,
               min_inv_functionality=0.5).collect()}
    assert got == {('oA1', 'oB1'): (1, True, True),
                   ('pA1', 'pB1'): (1, True, True)}


def test_mine_path_rules3_chain_support_and_pca(spark):
    """mine_path_rules3: the 3-hop chain rule born_in ∧ located_in ∧
    part_of ⇒ region_citizen mines with distinct-pair support/body
    counts; p2 derives the body pair but asserts no head — standard
    confidence 2/3, PCA 2/2; no other predicate combo forms a body."""
    from jionlp_spark.operators.graph import mine_path_rules3

    rows = [
        ('born_in', 'p1', 'c1'), ('born_in', 'p2', 'c1'),
        ('born_in', 'p3', 'c2'),
        ('located_in', 'c1', 'v1'), ('located_in', 'c2', 'v2'),
        ('part_of', 'v1', 'r1'), ('part_of', 'v2', 'r1'),
        ('region_citizen', 'p1', 'r1'), ('region_citizen', 'p3', 'r1'),
    ]
    t = spark.createDataFrame(rows, 'pred string, subj string, obj string')
    got = {(r.head_pred, r.body_pred1, r.body_pred2, r.body_pred3):
           (r.support, r.n_body_pairs, r.n_pca_pairs, r.confidence,
            r.pca_confidence)
           for r in mine_path_rules3(t, min_support=2).collect()}
    assert got == {('region_citizen', 'born_in', 'located_in',
                    'part_of'): (2, 3, 2, 2.0 / 3.0, 1.0)}


def test_temporal_scoping_random_vs_python(spark):
    """Seeded-random cross-check: temporal_scoping over random
    assertion piles (small ts domain → plenty of same-instant ties)
    equals an independent pure-Python run-length replay, value for
    value, across seeds."""
    import random

    from jionlp_spark.operators.graph import temporal_scoping

    for seed in (3, 17):
        rng = random.Random(seed)
        rows = [(f'p{rng.randrange(2)}', f's{rng.randrange(5)}',
                 f'o{rng.randrange(3)}', rng.randrange(20))
                for _ in range(200)]
        df = spark.createDataFrame(
            rows, 'pred string, subj string, obj string, ts long')
        got = {(r.pred, r.subj, r.obj, r.valid_from, r.valid_to,
                r.n_assertions, r.is_current)
               for r in temporal_scoping(df).collect()}
        want = set()
        keys = {(p, s) for p, s, _o, _t in rows}
        for p, s in keys:
            seq = sorted(((t, o) for pp, ss, o, t in rows
                          if (pp, ss) == (p, s)))
            runs = []
            for t, o in seq:
                if runs and runs[-1][0] == o:
                    runs[-1][2] += 1
                else:
                    runs.append([o, t, 1])
            for i, (o, vf, n) in enumerate(runs):
                vt = runs[i + 1][1] if i + 1 < len(runs) else None
                want.add((p, s, o, vf, vt, n, vt is None))
        assert got == want, seed


def test_align_entities_random_vs_python(spark):
    """Seeded-random cross-check: align_entities over random two-KB
    evidence equals an independent brute-force Python replay of the
    gate, the bucket caps, the distinct-shared scores, and both argmax
    flags."""
    import random

    from jionlp_spark.operators.graph import align_entities

    for seed in (5, 23):
        rng = random.Random(seed)
        mk = lambda side, n: [(f'q{rng.randrange(3)}',
                               f'{side}{rng.randrange(8)}',
                               f'v{rng.randrange(6)}')
                              for _ in range(n)]
        ra, rb = mk('a', 120), mk('b', 120)
        kb_a = spark.createDataFrame(
            ra, 'pred string, subj string, obj string')
        kb_b = spark.createDataFrame(
            rb, 'pred string, subj string, obj string')
        thr, cap = 0.3, 3
        got = {(r.ent_a, r.ent_b): (r.n_shared, r.is_best_a,
                                    r.is_best_b)
               for r in align_entities(
                   kb_a, kb_b, min_inv_functionality=thr,
                   max_bucket=cap).collect()}

        a = {(p, o, s) for p, s, o in ra}
        b = {(p, o, s) for p, s, o in rb}
        pool = {(p, o, s) for p, o, s in a} | {(p, o, s)
                                              for p, o, s in b}
        preds = {p for p, _o, _s in pool}
        gate = set()
        for p in preds:
            pairs = [(o, s) for pp, o, s in pool if pp == p]
            if len({o for o, _s in pairs}) / len(pairs) >= thr:
                gate.add(p)
        fa = [(p, o, s) for p, o, s in a if p in gate]
        fb = [(p, o, s) for p, o, s in b if p in gate]
        fa = [(p, o, s) for p, o, s in fa
              if sum(1 for pp, oo, _s in fa
                     if (pp, oo) == (p, o)) <= cap]
        fb = [(p, o, s) for p, o, s in fb
              if sum(1 for pp, oo, _s in fb
                     if (pp, oo) == (p, o)) <= cap]
        shared: dict = {}
        for p, o, sa in fa:
            for pp, oo, sb in fb:
                if (p, o) == (pp, oo):
                    shared.setdefault((sa, sb), set()).add((p, o))
        want = {}
        for (sa, sb), ev in shared.items():
            want[(sa, sb)] = len(ev)
        best_a = {}
        best_b = {}
        for (sa, sb), n in want.items():
            ka, kb_ = (-n, sb), (-n, sa)
            if sa not in best_a or ka < best_a[sa][0]:
                best_a[sa] = (ka, sb)
            if sb not in best_b or kb_ < best_b[sb][0]:
                best_b[sb] = (kb_, sa)
        expect = {(sa, sb): (n, best_a[sa][1] == sb,
                             best_b[sb][1] == sa)
                  for (sa, sb), n in want.items()}
        assert got == expect, seed


def test_truth_discovery_random_vs_python(spark):
    """Seeded-random cross-check: truth_discovery equals a pure-Python
    replay of the two-round trust iteration using the SAME arithmetic
    contract (per-fact trust sums and per-source nconf sums as exact
    Decimals via str, cast back through str to double; normalization
    and trust divisions as plain float ops) — confidences compare
    BIT-EXACTLY, not approximately."""
    import random
    from decimal import Decimal, localcontext

    from jionlp_spark.operators.graph import truth_discovery

    for seed in (11, 29):
        rng = random.Random(seed)
        rows = [('p', f's{rng.randrange(6)}', f'o{rng.randrange(3)}',
                 f'h{rng.randrange(5)}') for _ in range(150)]
        df = spark.createDataFrame(
            rows, 'pred string, subj string, obj string, source string')
        got = {(r.pred, r.subj, r.obj): (r.n_sources, r.n_alternatives,
                                         r.confidence, r.is_winner)
               for r in truth_discovery(df, iters=2).collect()}

        claims = sorted({(p, s, o, src) for p, s, o, src in rows})
        sources = sorted({src for *_x, src in claims})
        facts = sorted({(p, s, o) for p, s, o, _src in claims})
        srcs_of = {f: [src for p, s, o, src in claims
                       if (p, s, o) == f] for f in facts}
        facts_of = {src: [f for f in facts if src in srcs_of[f]]
                    for src in sources}
        with localcontext() as ctx:
            ctx.prec = 50
            trust = {src: 0.5 for src in sources}
            conf = nconf = None
            for _ in range(2):
                conf = {f: float(str(sum(Decimal(str(trust[src]))
                                         for src in srcs_of[f])))
                        for f in facts}
                nconf = {}
                for f in facts:
                    mx = max(conf[g] for g in facts
                             if g[:2] == f[:2])
                    nconf[f] = conf[f] / mx
                trust = {src: float(str(sum(Decimal(str(nconf[f]))
                                            for f in facts_of[src])))
                         / float(len(facts_of[src]))
                         for src in sources}
        want = {}
        for f in facts:
            alts = [g for g in facts if g[:2] == f[:2]]
            if len(alts) < 2:
                continue
            ranked = sorted(alts, key=lambda g: (-conf[g], g[2]))
            want[f] = (len(srcs_of[f]), len(alts), conf[f],
                       ranked[0] == f)
        assert got == want, seed
