"""End-to-end pipeline tests: mention P/R vs the reference extractors run on
the same text (north_star gate ≥0.95; kernels are ports so target is 1.0),
cross-run determinism, lazy-vs-published shape parity and checkpoint
resume."""

import hashlib
import os
import shutil

import pytest

N_PAGES = 120

_REF_EXTRACTORS = {
    'cell_phone': lambda jio, t: [
        m for m in jio.extract_phone_number(t, detail=True)
        if m['type'] == 'cell_phone'],
    'landline_phone': lambda jio, t: [
        m for m in jio.extract_phone_number(t, detail=True)
        if m['type'] == 'landline_phone'],
    'email': lambda jio, t: jio.extract_email(t, detail=True),
    'url': lambda jio, t: jio.extract_url(t, detail=True),
    'id_card': lambda jio, t: jio.extract_id_card(t, detail=True),
    'ip_address': lambda jio, t: jio.extract_ip_address(t, detail=True),
    'qq': lambda jio, t: jio.extract_qq(t, detail=True),
    'wechat_id': lambda jio, t: jio.extract_wechat_id(t, detail=True),
    'licence_plate': lambda jio, t:
        jio.extract_motor_vehicle_licence_plate(t, detail=True),
    'money': lambda jio, t: jio.ner.extract_money(t, with_parsing=False),
}

# time needs the row's warc_ts as time_base → handled separately


def _ref_time(jio, t, ts):
    return [{'text': m['text'], 'offset': m['offset']}
            for m in jio.ner.extract_time(t, time_base=ts,
                                          with_parsing=False)]


@pytest.fixture(scope='module')
def pipeline_result(spark):
    from jionlp_spark.plans.pipeline import run_pipeline
    from jionlp_spark.sources.pages import generate_pages
    pages = generate_pages(spark, N_PAGES, num_partitions=4).cache()
    res = run_pipeline(spark, pages)
    res['clean'] = res['clean'].cache()
    res['mentions'] = res['mentions'].cache()
    return pages, res


def test_mention_precision_recall_vs_reference(jio, pipeline_result):
    """P/R per mention type vs the reference extractors on the same
    extract_text — computed as in the reference's own F1 tooling
    (jionlp/algorithm/ner/measure.py): span+type exact match."""
    _pages, res = pipeline_result
    clean_rows = {r['url']: (r['extract_text'], r['warc_ts'])
                  for r in res['clean'].collect()}
    ours = {}
    for r in res['mentions'].collect():
        mt = r['mention_type']
        if mt.startswith('time_'):
            mt = 'time'
        ours.setdefault(mt, set()).add(
            (r['url'], r['text'], r['offset_start'], r['offset_end']))

    # time: span+text match vs reference extract_time at warc_ts time base
    expected_time = set()
    for url, (text, ts) in clean_rows.items():
        for m in _ref_time(jio, text, ts):
            expected_time.add((url, m['text'], m['offset'][0], m['offset'][1]))
    got_time = ours.get('time', set())
    tp = len(expected_time & got_time)
    assert (tp / len(got_time) if got_time else 1.0) >= 0.95, \
        ('time precision', got_time - expected_time)
    assert (tp / len(expected_time) if expected_time else 1.0) >= 0.95, \
        ('time recall', expected_time - got_time)

    clean_rows = {u: t for u, (t, _ts) in clean_rows.items()}
    for mtype, ref_fn in _REF_EXTRACTORS.items():
        expected = set()
        for url, text in clean_rows.items():
            for m in ref_fn(jio, text):
                expected.add((url, m['text'], m['offset'][0], m['offset'][1]))
        got = ours.get(mtype, set())
        tp = len(expected & got)
        precision = tp / len(got) if got else 1.0
        recall = tp / len(expected) if expected else 1.0
        assert precision >= 0.95, (mtype, precision, got - expected)
        assert recall >= 0.95, (mtype, recall, expected - got)


def test_clean_text_column_byte_identical(jio, pipeline_result):
    """Per-url byte identity of the redacted clean column vs reference
    clean_html→clean_text on the raw page html."""
    pages, res = pipeline_result
    raw = {r['url']: bytes(r['html']).decode('utf-8')
           for r in pages.collect() if r['lang'] == 'zh'}
    ours = {r['url']: r['clean'] for r in res['clean'].collect()}
    assert set(raw) == set(ours)
    for url, html in raw.items():
        body, _meta = jio.clean_html(html)
        ref_clean = jio.clean_text(body, remove_html_tag=False)
        assert ref_clean == ours[url], url


def _digest(df):
    rows = sorted(map(str, df.collect()))
    return hashlib.sha256('\n'.join(rows).encode()).hexdigest()


def test_triples_deterministic_across_parallelism(spark, pipeline_result):
    """Same triple set regardless of partitioning (scaling invariance)."""
    from jionlp_spark.plans.pipeline import run_pipeline
    from jionlp_spark.sources.pages import generate_pages
    _pages, res = pipeline_result
    d1 = _digest(res['triples'])
    pages2 = generate_pages(spark, N_PAGES, num_partitions=13)
    res2 = run_pipeline(spark, pages2, num_partitions=3)
    assert _digest(res2['triples']) == d1


ENTITY_COLS = ('url', 'warc_ts', 'text', 'offset_start', 'offset_end',
               'mention_type', 'obj', 'obj_type', 'norm')


@pytest.mark.parametrize('use_html', [True, False], ids=['html', 'plain'])
def test_lazy_and_published_shapes_agree(spark, tmp_path, pipeline_result,
                                         use_html):
    """The fused lazy plan and the four published stages give the same
    entities (every column) and the same triples."""
    from jionlp_spark.plans.pipeline import run_pipeline
    pages, _res = pipeline_result
    lazy = run_pipeline(spark, pages, use_html=use_html)
    published = run_pipeline(spark, pages, use_html=use_html,
                             out_dir=str(tmp_path / 'kg'),
                             input_fingerprint='parity')
    for res in (lazy, published):
        assert sorted(res['entities'].columns) == sorted(ENTITY_COLS)
    want = sorted(map(repr, lazy['entities'].select(*ENTITY_COLS).collect()))
    got = sorted(map(repr,
                     published['entities'].select(*ENTITY_COLS).collect()))
    assert len(want) > N_PAGES and got == want
    assert _digest(published['triples']) == _digest(lazy['triples'])


def test_checkpoint_resume(spark, tmp_path_factory):
    """Kill after S2 (simulated: run S1+S2 only), resume, byte-equal output."""
    from jionlp_spark.operators.clean import clean_pages
    from jionlp_spark.operators.mentions import extract_mentions
    from jionlp_spark.plans.pipeline import run_pipeline
    from jionlp_spark.sources import catalog
    from jionlp_spark.sources.pages import generate_pages

    out = str(tmp_path_factory.mktemp('ckpt'))
    pages = generate_pages(spark, 60, num_partitions=3)

    # full run → reference digests
    full = run_pipeline(spark, pages, out_dir=os.path.join(out, 'full'),
                        input_fingerprint='fp1')
    want = _digest(full['triples'])

    # partial run: stages 1-2 only
    part_dir = os.path.join(out, 'part')
    catalog.run_stage(spark, os.path.join(part_dir, 's1_clean'), 's1_clean',
                      lambda: clean_pages(pages), input_fingerprint='fp1')
    s1 = spark.read.parquet(os.path.join(part_dir, 's1_clean'))
    from jionlp_spark.functions.udfs import build_location_trie
    trie = build_location_trie(spark)
    catalog.run_stage(spark, os.path.join(part_dir, 's2_mentions'),
                      's2_mentions',
                      lambda: extract_mentions(
                          s1, lexicon_trie_broadcast=trie),
                      input_fingerprint='fp1|s1_clean')
    # mark: the manifests exist, s3/s4 do not
    assert catalog.is_complete(os.path.join(part_dir, 's2_mentions'))
    assert not os.path.exists(os.path.join(part_dir, 's3_entities'))

    # resume: stages 1-2 must be skipped (manifest hit), 3-4 computed
    resumed = run_pipeline(spark, pages, out_dir=part_dir,
                           input_fingerprint='fp1')
    assert _digest(resumed['triples']) == want

    # changed input fingerprint → full recompute, not a stale read
    shutil.rmtree(os.path.join(part_dir, 's1_clean'))
    fresh = run_pipeline(spark, pages, out_dir=part_dir,
                         input_fingerprint='fp2')
    assert _digest(fresh['triples']) == want


STAGES = ('s1_clean', 's2_mentions', 's3_entities', 's4_triples')


@pytest.fixture(scope='module')
def published(spark, tmp_path_factory):
    """A fresh published run over 60 pages → (pages, out_dir, triples
    digest).  Tests that publish again work on a copy of out_dir."""
    from jionlp_spark.plans.pipeline import run_pipeline
    from jionlp_spark.sources.pages import generate_pages
    pages = generate_pages(spark, 60, num_partitions=3)
    out = str(tmp_path_factory.mktemp('published') / 'kg')
    res = run_pipeline(spark, pages, out_dir=out, input_fingerprint='fp1')
    return pages, out, _digest(res['triples'])


def test_resume_after_s1_takes_chained_path(spark, tmp_path, monkeypatch,
                                            published):
    """Kill after S1 (only s1_clean published), resume: S1 is read back,
    S2-S4 come from the chained operators over it (the fused page pass
    never runs), and the triples equal the full run's."""
    from jionlp_spark.plans import pipeline
    from jionlp_spark.sources import catalog
    pages, out, want = published
    part = str(tmp_path / 'part')
    shutil.copytree(os.path.join(out, 's1_clean'),
                    os.path.join(part, 's1_clean'))

    def no_fused_pass(*a, **kw):
        raise AssertionError('fused page pass ran on a resumed S1')
    monkeypatch.setattr(pipeline, 'page_frame', no_fused_pass)
    resumed = pipeline.run_pipeline(spark, pages, out_dir=part,
                                    input_fingerprint='fp1')
    assert _digest(resumed['triples']) == want
    ids = {st: catalog.read_manifest(os.path.join(part, st))
           ['current_snapshot_id'] for st in STAGES}
    assert ids == dict.fromkeys(STAGES, 1), ids


def test_no_resume_recomputes_through_fused_pass(spark, tmp_path,
                                                 monkeypatch, published):
    """resume=False over four complete manifests republishes every stage
    from the fused page pass: each snapshot id advances, and the triples
    are unchanged."""
    from jionlp_spark.plans import pipeline
    from jionlp_spark.sources import catalog
    pages, out, want = published
    again = str(tmp_path / 'again')
    shutil.copytree(out, again)
    calls = []
    inner = pipeline.page_frame

    def counted(*a, **kw):
        calls.append(1)
        return inner(*a, **kw)
    monkeypatch.setattr(pipeline, 'page_frame', counted)
    res = pipeline.run_pipeline(spark, pages, out_dir=again,
                                input_fingerprint='fp1', resume=False)
    assert calls == [1]
    assert _digest(res['triples']) == want
    for st in STAGES:
        m = catalog.read_manifest(os.path.join(again, st))
        assert m['current_snapshot_id'] == 2, (st, m['snapshots'])


def test_published_stages_equal_chained_operators(spark, published):
    """Each published stage 1-3 table equals its chained operator over the
    same pages on every column; s2_mentions keeps the extractors' pre-link
    norm, which is null for the mention types only the linker parses."""
    from pyspark.sql import functions as F

    from jionlp_spark.functions.udfs import build_location_trie
    from jionlp_spark.operators.clean import clean_pages
    from jionlp_spark.operators.link import build_bundle, link_mentions
    from jionlp_spark.operators.mentions import extract_mentions
    pages, out, _ = published
    clean = clean_pages(pages).cache()
    mentions = extract_mentions(
        clean, lexicon_trie_broadcast=build_location_trie(spark)).cache()
    chained = {'s1_clean': clean, 's2_mentions': mentions,
               's3_entities': link_mentions(mentions, build_bundle(spark))}
    try:
        for st, want in chained.items():
            got = spark.read.parquet(os.path.join(out, st))
            assert got.columns == want.columns, st
            assert got.exceptAll(want).count() == 0, st
            assert want.exceptAll(got).count() == 0, st
        linker_only = ('cell_phone', 'landline_phone', 'id_card', 'email',
                       'lexicon:location')
        rows = (spark.read.parquet(os.path.join(out, 's2_mentions'))
                .filter(F.col('mention_type').isin(*linker_only))
                .groupBy('mention_type')
                .agg(F.count('norm').alias('norms')).collect())
        assert {r['mention_type'] for r in rows} == set(linker_only), rows
        assert all(r['norms'] == 0 for r in rows), rows
        assert spark.read.parquet(os.path.join(out, 's2_mentions')) \
            .filter(F.col('mention_type') == 'money') \
            .filter(F.col('norm').isNotNull()).count() > 0
    finally:
        clean.unpersist()
        mentions.unpersist()


def test_published_manifests_record_write_seconds(published):
    """Every manifest of a run records its publish's write wall time."""
    from jionlp_spark.sources import catalog
    _pages, out, _ = published
    for st in STAGES:
        metrics = catalog.read_manifest(os.path.join(out, st))['metrics']
        assert set(metrics) == {'write_s'}, (st, metrics)
        assert metrics['write_s'] > 0, (st, metrics)


def test_published_run_releases_page_frame(spark, tmp_path, monkeypatch):
    """The persisted page frame is released when run_pipeline returns, and
    also when a publish raises."""
    from jionlp_spark.plans.pipeline import run_pipeline
    from jionlp_spark.sources import catalog
    from jionlp_spark.sources.pages import generate_pages

    def persisted():
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    pages = generate_pages(spark, 20, num_partitions=2)
    before = persisted()
    run_pipeline(spark, pages, out_dir=str(tmp_path / 'ok'),
                 input_fingerprint='leak')
    assert persisted() == before

    inner = catalog.run_stage

    def failing(spark_, path, stage, *a, **kw):
        if stage == 's2_mentions':   # after the s1 write built the cache
            raise RuntimeError('publish failed')
        return inner(spark_, path, stage, *a, **kw)
    monkeypatch.setattr(catalog, 'run_stage', failing)
    with pytest.raises(RuntimeError, match='publish failed'):
        run_pipeline(spark, pages, out_dir=str(tmp_path / 'fail'),
                     input_fingerprint='leak')
    assert persisted() == before


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """A self-join on the bucket key of a bucketed table must plan without
    Exchange on either side (co-located sort-merge join)."""
    from pyspark.sql import functions as F

    from jionlp_spark.sources.catalog import write_bucketed
    import shutil
    spark.sql('drop table if exists bucketed_docs_test')
    # the Derby metastore is per-session but the warehouse DIRECTORY
    # persists across test runs — clear the stale location too
    wh = spark.conf.get('spark.sql.warehouse.dir').replace('file:', '')
    shutil.rmtree(f'{wh}/bucketed_docs_test', ignore_errors=True)
    df = spark.range(0, 1000).select(
        F.col('id').alias('doc_id'),
        (F.col('id') % 7).alias('grp'))
    write_bucketed(df, 'bucketed_docs_test', 'doc_id', n_buckets=8,
                   sort_col='doc_id')
    # force the sort-merge path (tiny test tables broadcast otherwise,
    # which bypasses bucket pruning entirely)
    prev = spark.conf.get('spark.sql.autoBroadcastJoinThreshold', '10485760')
    spark.conf.set('spark.sql.autoBroadcastJoinThreshold', '-1')
    try:
        t = spark.table('bucketed_docs_test')
        joined = t.alias('a').join(t.alias('b'), 'doc_id')
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert 'Exchange hashpartitioning' not in plan, plan
        assert 'SortMergeJoin' in plan, plan
        assert 'Bucketed: true' in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set('spark.sql.autoBroadcastJoinThreshold', prev)
        spark.sql('drop table bucketed_docs_test')


def test_source_format_adapters(spark, tmp_path):
    """JSONL round-trip (html preserved through base64) and TSV ingest both
    land on the canonical pages schema and feed the pipeline unchanged."""
    from pyspark.sql import functions as F

    from jionlp_spark.operators.clean import clean_pages
    from jionlp_spark.sources.pages import (generate_pages, read_pages_jsonl,
                                            read_pages_tsv, write_pages_jsonl)

    pages = generate_pages(spark, 40, num_partitions=2)
    jl = str(tmp_path / 'pages_jsonl')
    write_pages_jsonl(pages, jl)
    back = read_pages_jsonl(spark, jl)
    assert [f.name for f in back.schema.fields] == \
        ['url', 'warc_ts', 'html', 'text', 'lang']
    orig = {r.url: r for r in pages.collect()}
    got = {r.url: r for r in back.collect()}
    assert set(orig) == set(got)
    for url, r in got.items():
        assert bytes(r.html) == bytes(orig[url].html), url
        assert r.text == orig[url].text

    # html-less TSV feed → pipeline's plain-text path
    tsv = str(tmp_path / 'pages_tsv')
    (pages.select('url',
                  F.date_format('warc_ts', "yyyy-MM-dd'T'HH:mm:ss")
                  .alias('warc_ts'), 'lang', 'text')
     .write.option('sep', '\t').mode('overwrite').csv(tsv))
    tsv_pages = read_pages_tsv(spark, tsv)
    cleaned = clean_pages(tsv_pages, lang='zh', use_html=False)
    assert cleaned.filter(F.col('clean').isNotNull()).count() > 0


def test_salted_agg_balances_skewed_reducers(spark):
    """North-rule skew proof: with one entity owning 50% of all mention
    rows, the unsalted aggregation key sends half the shuffle to ONE
    reducer; the salted phase-1 key (obj, obj_type, salt) caps every
    reducer near the uniform share.  Measured as rows-per-partition under
    each key's hash partitioning (= the exchange feeding the agg), and
    the salted two-phase counts stay exact."""
    from pyspark.sql import functions as F

    from jionlp_spark.operators.link import entity_counts

    n_docs, per_doc, buckets = 2000, 10, 32
    m = (spark.range(n_docs).withColumnRenamed('id', 'doc_id')
         .select('doc_id', F.explode(F.sequence(F.lit(0), F.lit(per_doc - 1)))
                 .alias('k')))
    # (doc_id + k) % 2 == 0 → half of ALL rows go to the hot entity
    ents = m.select(
        F.concat(F.lit('u'), F.col('doc_id')).alias('url'),
        F.when((F.col('doc_id') + F.col('k')) % 2 == 0, F.lit('北京市'))
        .otherwise(F.concat(F.lit('city_'),
                            F.pmod(F.col('doc_id') * per_doc + F.col('k'),
                                   F.lit(97)))).alias('obj'),
        F.lit('location').alias('obj_type'))

    def max_partition_share(df, *keys):
        parts = (df.repartition(buckets, *[F.col(c) for c in keys])
                 .select(F.spark_partition_id().alias('pid'))
                 .groupBy('pid').count().collect())
        total = sum(r['count'] for r in parts)
        return max(r['count'] for r in parts) / total

    unsalted = max_partition_share(ents, 'obj', 'obj_type')
    salted = max_partition_share(
        ents.withColumn('salt', F.pmod(F.xxhash64('url'), F.lit(buckets))),
        'obj', 'obj_type', 'salt')
    assert unsalted >= 0.5  # hot key + whatever else hashes with it
    assert salted <= 3.0 / buckets  # near-uniform (≤3× ideal share)

    # two-phase counts are exact under the skew
    got = {r['obj']: (r['mention_cnt'], r['url_cnt'])
           for r in entity_counts(ents, salt_buckets=buckets).collect()}
    assert got['北京市'] == (n_docs * per_doc // 2, n_docs)
    assert sum(c for c, _u in got.values()) == n_docs * per_doc
    # every cold key's url count is exact too (spot the first few)
    cold = ents.filter(F.col('obj') != '北京市') \
        .groupBy('obj').agg(F.countDistinct('url').alias('u')).collect()
    want_cold = {r['obj']: r['u'] for r in cold}
    for obj, (_c, u) in got.items():
        if obj != '北京市':
            assert u == want_cold[obj]


def test_catalog_snapshot_history(spark, tmp_path):
    """Snapshot history (r4 verdict item 9): three publishes build a
    3-deep lineage chain; time travel reads any retained snapshot;
    expire drops old file sets but keeps the lineage record; a broken
    chain fails is_complete (→ recompute, not a stale read)."""
    import json

    from jionlp_spark.sources import catalog

    path = str(tmp_path / 'tbl')

    def pub(n, fp):
        return catalog.run_stage(
            spark, path, 'stage',
            lambda: spark.range(n).selectExpr('id', 'id * 2 as v'),
            input_fingerprint=fp)

    pub(3, 'fp1')
    pub(5, 'fp2')
    pub(7, 'fp3')

    m = catalog.read_manifest(path)
    assert m['current_snapshot_id'] == 3 and m['parent_snapshot_id'] == 2
    snaps = catalog.validate_lineage(path)
    assert [s['id'] for s in snaps] == [1, 2, 3]
    assert [s['rows'] for s in snaps] == [3, 5, 7]

    # time travel: every retained snapshot readable with its own rows
    assert catalog.read_snapshot(spark, path, 1).count() == 3
    assert catalog.read_snapshot(spark, path, 2).count() == 5
    assert catalog.read_snapshot(spark, path, 3).count() == 7

    # resume against the 3-deep chain still short-circuits
    def must_not_run():
        raise AssertionError('recomputed')
    catalog.run_stage(spark, path, 'stage', must_not_run,
                      input_fingerprint='fp3')

    # expire: snapshot 1's files go, its history entry stays (flagged)
    assert catalog.expire_snapshots(path, keep_last=1) == [1]
    assert not os.path.exists(
        os.path.join(path, catalog.SNAPSHOT_DIR, 'snap-1'))
    assert catalog.read_snapshot(spark, path, 2).count() == 5
    with pytest.raises(ValueError, match='expired'):
        catalog.read_snapshot(spark, path, 1)
    assert catalog.validate_lineage(path)  # chain still valid

    # corrupt the chain → is_complete False (forces recompute)
    mf = os.path.join(path, catalog.MANIFEST)
    m = json.load(open(mf))
    m['snapshots'][1]['parent'] = 99
    json.dump(m, open(mf, 'w'))
    assert not catalog.is_complete(path, 'fp3')


@pytest.mark.parametrize('rows', [5, 0], ids=['rows', 'empty'])
def test_publish_and_read_table_launch_no_schema_jobs(spark, tmp_path, rows):
    """A publish reads its schema from the parquet footers and a plain
    table reads back with the manifest's schema: the same schema and rows
    as a bare parquet read (non-null, nested, map and annotated fields
    included), and no Spark job besides the write (a bare read launches a
    schema-inference job per call)."""
    from pyspark.sql import functions as F

    from jionlp_spark.sources import catalog

    path = str(tmp_path / 'tbl')
    df = spark.range(rows).select(
        F.col('id').alias('id', metadata={'unit': 'row'}),
        F.expr('cast(id as string)').alias('s'),
        F.expr("array(named_struct('k', id, 'v', cast(null as string)))")
        .alias('a'),
        F.expr("map('k', id)").alias('m'),
        F.expr("timestamp'2020-01-01'").alias('ts'))
    sc = spark.sparkContext
    group = f'catalog_probe_{rows}'
    sc.setJobGroup(group, 'publish + read_table')
    try:
        catalog.run_stage(spark, path, 'stage', lambda: df,
                          input_fingerprint='fp1')
        got = catalog.read_table(spark, path)
    finally:
        sc.setLocalProperty('spark.jobGroup.id', None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    bare = spark.read.parquet(path)
    assert got.schema == bare.schema
    assert got.schema.fields[0].metadata == {'unit': 'row'}
    assert sorted(got.collect()) == sorted(bare.collect())


def test_catalog_v1_manifest_compat(spark, tmp_path):
    """A format_version-1 manifest (pre-history) resumes and upgrades in
    place on the next publish."""
    import json

    from jionlp_spark.sources import catalog

    path = str(tmp_path / 'tbl')
    catalog.run_stage(spark, path, 'stage',
                      lambda: spark.range(4).selectExpr('id'),
                      input_fingerprint='fp1')
    # rewrite the manifest as v1 (no snapshot fields)
    mf = os.path.join(path, catalog.MANIFEST)
    m = json.load(open(mf))
    for k in ('current_snapshot_id', 'parent_snapshot_id', 'snapshots'):
        m.pop(k)
    m['format_version'] = 1
    json.dump(m, open(mf, 'w'))

    assert catalog.is_complete(path, 'fp1')
    catalog.run_stage(spark, path, 'stage',
                      lambda: spark.range(6).selectExpr('id'),
                      input_fingerprint='fp2')
    snaps = catalog.validate_lineage(path)
    assert [s['id'] for s in snaps] == [1, 2]
    assert catalog.read_snapshot(spark, path, 1).count() == 4


def test_catalog_100_publish_chain_flat_cost(spark, tmp_path):
    """Snapshot chain at depth (r6 verdict #7): 100 sequential
    publishes with the production expire policy (keep_last=5 after
    each) keep per-publish cost flat — the publish relinks the
    retained snapshot store, so an UNBOUNDED chain grows per-publish
    link work linearly with history; expiry is what bounds it.  The
    lineage record survives every expiry (100 history entries),
    validate_lineage stays correct queried MID-chain, time travel
    reads retained snapshots with their own row counts and refuses
    expired ones."""
    import time as _time

    from jionlp_spark.sources import catalog

    path = str(tmp_path / 'tbl')
    per_publish = []
    for k in range(1, 101):
        t0 = _time.time()
        catalog.run_stage(
            spark, path, 'stage',
            # one output file per snapshot: the cost under test is the
            # publish machinery, not a 32-file write fan-out
            lambda k=k: spark.range(k).coalesce(1).selectExpr('id'),
            input_fingerprint=f'fp{k}')
        catalog.expire_snapshots(path, keep_last=5)
        per_publish.append(_time.time() - t0)
        if k == 50:      # lineage valid when queried mid-chain
            snaps = catalog.validate_lineage(path)
            assert [s['id'] for s in snaps] == list(range(1, 51))
            assert catalog.read_snapshot(spark, path, 47).count() == 47

    m = catalog.read_manifest(path)
    assert m['current_snapshot_id'] == 100
    snaps = catalog.validate_lineage(path)
    assert [s['id'] for s in snaps] == list(range(1, 101))
    assert [s['rows'] for s in snaps] == list(range(1, 101))

    # retained = the last keep_last retired + current; older are
    # expired records whose lineage entry survives
    assert catalog.read_snapshot(spark, path, 100).count() == 100
    assert catalog.read_snapshot(spark, path, 97).count() == 97
    with pytest.raises(ValueError, match='expired'):
        catalog.read_snapshot(spark, path, 50)

    # flat cost: the median of the last 10 publishes must not drift
    # away from the first 10's (bounded store ⇒ bounded relink work;
    # 3x headroom for box noise — an unbounded chain's link work grows
    # ~10x over this range)
    import statistics
    first = statistics.median(per_publish[5:15])   # skip warmup runs
    last = statistics.median(per_publish[-10:])
    assert last <= 3 * first, (first, last, per_publish)

    # resume against the 100-deep chain still short-circuits
    def must_not_run():
        raise AssertionError('recomputed')
    catalog.run_stage(spark, path, 'stage', must_not_run,
                      input_fingerprint='fp100')


def test_catalog_publish_crash_windows(spark, tmp_path):
    """The publish must be non-destructive until its commit (review
    finding r5): a partially-staged tmp never costs retired snapshots,
    and a crash between rmtree(path) and rename(tmp) leaves a committed
    tmp that the next call finishes instead of discarding."""
    import json

    from jionlp_spark.sources import catalog

    path = str(tmp_path / 'tbl')

    def pub(n, fp):
        return catalog.run_stage(
            spark, path, 'stage', lambda: spark.range(n),
            input_fingerprint=fp)

    pub(3, 'fp1')
    pub(5, 'fp2')
    snap1_rows = catalog.read_snapshot(spark, path, 1).count()

    # crash window A: a stale partial tmp (no manifest) exists; the next
    # publish discards it and the retired snapshot survives intact
    os.makedirs(path + '.tmp/junk')
    pub(7, 'fp3')
    assert catalog.read_snapshot(spark, path, 1).count() == snap1_rows
    assert catalog.read_snapshot(spark, path, 2).count() == 5

    # crash window B: simulate dying between rmtree(path) and
    # rename(tmp, path) — stage a fully-committed state into tmp, then
    # remove the table
    shutil.move(path, path + '.tmp')
    assert not os.path.exists(path)

    def must_not_run():
        raise AssertionError('recovery failed — stage recomputed')

    out = catalog.run_stage(spark, path, 'stage', must_not_run,
                            input_fingerprint='fp3')
    assert out.count() == 7
    assert catalog.read_manifest(path)['current_snapshot_id'] == 3
    assert catalog.read_snapshot(spark, path, 1).count() == snap1_rows
