"""Plan-shape regression guards: filter pushdown and column pruning must
reach the parquet scan (the BENCH/PLANS.md audit, protected by CI), and
the bench/oracle registries must stay complete."""

import os
import re
import shutil

import pytest


@pytest.fixture(autouse=True)
def _cold_cache(spark):
    """Plan guards pin the COLD plan shape.  Earlier tests (the oracle
    replay especially) leave operator-internal persist()s in the
    CacheManager; a matching subtree then plans as InMemoryRelation,
    whose toString EMBEDS the cached plan (with AQE Initial+Final
    duplication) — the regex node counts below would read the embedded
    text, not the executed plan."""
    spark.catalog.clearCache()
    yield


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    """tpch_pricing_summary's shipdate filter must appear in
    PushedFilters, and the scan must NOT read unprojected columns
    (l_comment etc.) — a scan reading all columns for an aggregation
    projection is wrong at any scale."""
    import __spark_entry__ as entry
    df = entry.queries()['tpch_pricing_summary'](
        spark, '/root/testdata/sf0.01')
    plan = _plan(df)
    m = re.search(r'PushedFilters: \[([^\]]*)\]', plan)
    assert m, 'no PushedFilters in the scan node'
    assert 'l_shipdate' in m.group(1), m.group(1)
    m = re.search(r'FileScan parquet \[([^\]]*)\]', plan)
    assert m, 'no FileScan node'
    read_cols = {c.split('#')[0] for c in m.group(1).split(',')}
    assert 'l_comment' not in read_cols
    assert 'l_orderkey' not in read_cols
    assert 'l_extendedprice' in read_cols


def test_partition_column_pruning_events(spark):
    """events_daily reads only the columns its rollup needs."""
    import __spark_entry__ as entry
    df = entry.queries()['events_daily'](spark, '/root/testdata/sf0.01')
    plan = _plan(df)
    m = re.search(r'FileScan parquet \[([^\]]*)\]', plan)
    assert m
    read_cols = {c.split('#')[0] for c in m.group(1).split(',')}
    # events carries a wide props string column the rollup never touches
    assert 'props' not in read_cols, read_cols
    assert 'event_id' not in read_cols, read_cols


def test_bench_and_oracle_registries_complete():
    """Every queries() entry is benched and has an oracle — drift guard
    (two queries sat unbenched for four rounds before this existed)."""
    import __spark_entry__ as entry
    import bench
    qs = set(entry.queries())
    assert qs <= set(bench.HEADLINE), qs - set(bench.HEADLINE)
    assert qs == set(entry.oracle_sql()), \
        qs ^ set(entry.oracle_sql())


def test_incremental_index_join_history_side_exchange_free(spark, tmp_path):
    """The incremental-dedup snapshot index is published BUCKETED on the
    join key (band_id, band_hash): the history side of the per-batch
    equi-join must scan `Bucketed: true` with NO Exchange — only the new
    batch shuffles (into the bucket distribution).  Guards the r5
    PLANS.md note ('would be exchange-free with the index bucketed')
    now that it is."""
    import pyspark.sql.functions as F

    from jionlp_spark.operators.dedup import (incremental_lsh_dedup,
                                              lsh_bands,
                                              minhash_signatures, shingles)
    from jionlp_spark.sources import catalog

    idx_path = str(tmp_path / 'lsh_index')
    docs1 = spark.createDataFrame(
        [(i, f'alpha beta gamma delta epsilon zeta doc{i}')
         for i in range(30)], 'doc_id long, text string')
    incremental_lsh_dedup(spark, idx_path, docs1, batch_id='b1')

    docs2 = spark.createDataFrame(
        [(100 + i, f'eta theta iota kappa lambda mu doc{i}')
         for i in range(10)], 'doc_id long, text string')
    new_banded = lsh_bands(minhash_signatures(shingles(docs2)))
    idx = catalog.read_table(spark, idx_path)

    old_aqe = spark.conf.get('spark.sql.adaptive.enabled')
    old_bc = spark.conf.get('spark.sql.autoBroadcastJoinThreshold')
    try:
        # pin SMJ so the guard checks the at-scale plan (AQE would
        # broadcast the tiny test index and hide the exchange question)
        spark.conf.set('spark.sql.adaptive.enabled', 'false')
        spark.conf.set('spark.sql.autoBroadcastJoinThreshold', '-1')
        j = (new_banded.alias('n')
             .join(idx.alias('i'), ['band_id', 'band_hash'])
             .filter(F.col('n.doc_id') != F.col('i.doc_id')))
        plan = _plan(j)
    finally:
        spark.conf.set('spark.sql.adaptive.enabled', old_aqe)
        spark.conf.set('spark.sql.autoBroadcastJoinThreshold', old_bc)
    assert 'Bucketed: true' in plan, plan
    assert len(re.findall(r'\bExchange\b', plan)) == 1, plan


def test_topic_plan_widths_hold(spark):
    """r5 audit pinned the fused topic plans to baseline width
    (summary_top_topic 15 exchanges, keyphrase_topk_topic 8 — the
    pre-fusion regression was 23).  Assert the audited widths with one
    exchange of slack so a refactor can't silently reintroduce the wide
    plan the way r4's did."""
    import __spark_entry__ as entry_mod

    budgets = {'summary_top_topic': 15, 'summary_top_sentence': 13,
               'keyphrase_topk_topic': 8, 'keyphrase_topk': 8,
               # staged tables persisted/checkpointed — the first cut
               # re-derived every stage subtree (36 exchanges, 21 scans)
               'curate_corpus': 8}
    qs = entry_mod.queries()
    for name, budget in budgets.items():
        plan = _plan(qs[name](spark, '/root/testdata/sf0.001'))
        got = len(re.findall(r'\bExchange\b', plan))
        assert got <= budget + 1, (name, got, budget)


def test_ann_index_query_scan_is_bucketed(spark, tmp_path):
    """The published ANN index's assignments table is bucketed on the IVF
    bucket id: a query batch joining it at scale (SMJ pinned — AQE would
    broadcast the tiny test batch) must scan `Bucketed: true` with the
    single Exchange on the QUERY side, never the index side."""
    import pyspark.sql.functions as F

    from jionlp_spark.operators.ann import _assign, publish_ann_index
    from jionlp_spark.sources import catalog

    emb = spark.createDataFrame(
        [(i, [float(i % 7 + 1), float(i % 3 + 1), 1.0]) for i in range(40)],
        'vec_id long, embedding array<float>')
    base = str(tmp_path / 'annidx')
    publish_ann_index(spark, base, emb, n_centroids=4, iters=0,
                      input_fingerprint='t')
    idx = catalog.read_table(spark, f'{base}/assignments')
    cents = catalog.read_table(spark, f'{base}/centroids')
    q = _assign(emb.filter('vec_id < 3'), cents, probes=2,
                vec_col='embedding', id_col='vec_id')

    old_aqe = spark.conf.get('spark.sql.adaptive.enabled')
    old_bc = spark.conf.get('spark.sql.autoBroadcastJoinThreshold')
    try:
        spark.conf.set('spark.sql.adaptive.enabled', 'false')
        spark.conf.set('spark.sql.autoBroadcastJoinThreshold', '-1')
        j = (q.alias('q').join(idx.alias('e'), 'bucket')
             .filter(F.col('q.vec_id') != F.col('e.vec_id')))
        plan = _plan(j)
    finally:
        spark.conf.set('spark.sql.adaptive.enabled', old_aqe)
        spark.conf.set('spark.sql.autoBroadcastJoinThreshold', old_bc)
    assert 'Bucketed: true' in plan, plan
    assert len(re.findall(r'\bExchange\b', plan)) == 1, plan


def test_text_index_df_agg_is_exchange_free(spark, tmp_path):
    """The published inverted index's postings table is bucketed on
    token: the per-token document-frequency aggregate (the first thing
    every index query computes) must scan `Bucketed: true` and need NO
    Exchange — the groupBy key IS the bucket key."""
    import pyspark.sql.functions as F

    from jionlp_spark.operators.retrieval import publish_text_index
    from jionlp_spark.sources import catalog

    docs = spark.createDataFrame(
        [(i, f'tok{i % 5} tok{i % 3} common') for i in range(40)],
        'doc_id long, text string')
    base = str(tmp_path / 'textidx')
    publish_text_index(spark, base, docs, input_fingerprint='t')
    posts = catalog.read_table(spark, f'{base}/postings')
    agg = posts.groupBy('token').agg(F.count('*').alias('df'))
    plan = _plan(agg)
    assert 'Bucketed: true' in plan, plan
    assert len(re.findall(r'\bExchange\b', plan)) == 0, plan


def test_edge_index_merge_is_exchange_free(spark, tmp_path):
    """The published KG edge table is bucketed on (ent_a, ent_b): the
    reader's per-pair merge aggregation must scan `Bucketed: true` and
    need NO Exchange — the groupBy key IS the bucket key."""
    from jionlp_spark.operators.graph import (publish_edge_index,
                                              read_edge_index)

    m = spark.createDataFrame(
        [(i, f'e{j}') for i in range(20) for j in (i % 4, i % 5, 9)],
        'doc_id long, obj string')
    base = str(tmp_path / 'edgeidx')
    publish_edge_index(spark, f'{base}/kg', m, input_fingerprint='t')
    plan = _plan(read_edge_index(spark, f'{base}/kg'))
    assert 'Bucketed: true' in plan, plan
    assert len(re.findall(r'\bExchange\b', plan)) == 0, plan


def test_round_close_query_plan_shapes(spark):
    """r6-close plan guards: the WARC/robots adapters must stay ONE
    Python node with ZERO exchanges (the mapInPandas black-box rule —
    a column-append UDF re-evaluates around downstream exchanges);
    pack_plan_bfd is one shard exchange into one Python greedy;
    politeness_schedule must BROADCAST the hosts-sized delay table
    (a shuffle join on the URL-sized plan side would be wrong at any
    scale) and add no Python."""
    import __spark_entry__ as entry
    sf = '/root/testdata/sf0.01'

    def counts(name):
        p = _plan(entry.queries()[name](spark, sf))
        return (len(re.findall(r'Exchange', p)),
                len(re.findall(r'BroadcastExchange', p)),
                len(re.findall(
                    r'ArrowEvalPython|FlatMapGroupsInPandas'
                    r'|MapInPandas', p)))

    ex, _bc, py = counts('web_warc_records')
    assert (ex, py) == (0, 1), (ex, py)
    ex, _bc, py = counts('web_robots_directives')
    assert (ex, py) == (0, 1), (ex, py)
    ex, _bc, py = counts('pack_plan_bfd')
    assert py == 1 and ex <= 2, (ex, py)
    ex, bc, py = counts('web_politeness_schedule')
    assert bc >= 1 and py == 0 and ex <= 5, (ex, bc, py)


def test_r7_operator_plan_shapes(spark):
    """r7 operator plan guards.  fuzzy_decontam: the corpus side must
    never shuffle — the only exchanges are the two BENCH-bounded
    aggregations (candidate distinct + intersection groupBy) and the
    only sort-merge join is the bench-bounded cands⋈inter pairing;
    the corpus-sized shingle/size tables reach the output exclusively
    through broadcast joins (the r7 scale bench caught an unhinted
    verdict join shuffling 500k corpus records at 100× for a
    134-row output — this pins the fix).  asof_join: ONE window
    exchange + the snapshot reduce, zero Python, zero SMJ.
    training_shards: exactly one exchange (shard) — a global sort
    appearing here would be the orderBy(rand()) anti-pattern."""
    import __spark_entry__ as entry
    sf = '/root/testdata/sf0.01'

    def counts(name):
        p = _plan(entry.queries()[name](spark, sf))
        return (len(re.findall(r'Exchange hashpartitioning', p)),
                len(re.findall(r'SortMergeJoin', p)),
                len(re.findall(r'BroadcastHashJoin', p)),
                len(re.findall(
                    r'ArrowEvalPython|FlatMapGroupsInPandas'
                    r'|MapInPandas', p)))

    ex, smj, bhj, py = counts('fuzzy_decontam')
    # r8: the minhash signature stage is an Arrow pass (one
    # ArrowEvalPython per side — corpus and bench); the shuffle
    # contract is unchanged: the corpus never shuffles, the only
    # exchanges are the bench-bounded aggregations
    assert ex <= 2 and smj <= 1 and bhj >= 3 and py <= 2, \
        (ex, smj, bhj, py)
    ex, smj, _bhj, py = counts('event_asof_features')
    assert ex <= 2 and smj == 0 and py == 0, (ex, smj, py)
    ex, smj, _bhj, py = counts('training_shards')
    assert ex == 1 and smj == 0 and py == 0, (ex, smj, py)

    # neighbor_agg at the operator grain (the gated query's extra
    # exchanges belong to its mention-graph construction): the window
    # and the mean groupBy must share ONE partitioning.
    from pyspark.sql import functions as F
    from jionlp_spark.operators.graph import neighbor_agg
    edges = spark.createDataFrame(
        [('a', 'b', 2), ('b', 'a', 2), ('a', 'c', 1), ('c', 'a', 1)],
        'src string, dst string, w long').localCheckpoint()
    p = _plan(neighbor_agg(edges, weight_col='w'))
    ex = len(re.findall(r'Exchange hashpartitioning', p))
    py = len(re.findall(
        r'ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas', p))
    assert ex == 1 and py == 0, (ex, py)


def test_temporal_scoping_single_hash_exchange(spark):
    """temporal_scoping's cascade (lag window → run reduction → lead
    window, all on (pred, subj)) must plan exactly ONE hash Exchange —
    the partitioning is reused across all three stages (the
    PLANS.md claim); and the plan carries no Python node."""
    import __spark_entry__ as entry
    df = entry.queries()['kg_fact_intervals'](spark,
                                              '/root/testdata/sf0.01')
    plan = _plan(df)
    n_hash = len(re.findall(r'Exchange hashpartitioning', plan))
    assert n_hash == 1, f'{n_hash} hash exchanges (want 1)'
    assert 'EvalPython' not in plan


def test_rule_mining_broadcast_and_no_python(spark):
    """mine_path_rules joins the pred²-sized body-size table as a
    BROADCAST (never a shuffled join on rule keys), and the whole
    AMIE tier plans zero Python nodes."""
    import __spark_entry__ as entry
    for name in ('kg_rule_mining', 'kg_rule_mining3', 'kg_rule_infer',
                 'kg_align', 'kg_align_iterated', 'kg_truth_discovery'):
        plan = _plan(entry.queries()[name](spark,
                                           '/root/testdata/sf0.01'))
        assert 'EvalPython' not in plan, name
    plan = _plan(entry.queries()['kg_rule_mining'](
        spark, '/root/testdata/sf0.01'))
    assert 'BroadcastHashJoin' in plan or 'BroadcastExchange' in plan


def _python_nodes(df):
    return re.findall(r'ArrowEvalPython \[([^\]]*)\]', _plan(df))


@pytest.mark.parametrize('use_html', [True, False], ids=['html', 'plain'])
def test_lazy_pipeline_is_one_fused_python_pass(spark, use_html):
    """The lazy pipeline exists to run normalization, the mention kernel
    and the linker as ONE Python pass straight off the page column: its
    triples plan has exactly one ArrowEvalPython node, the fused
    linked_mentions_udf, and no stage-1 clean UDF (the redaction chain
    behind the `clean` column never runs in a triples-only plan)."""
    from jionlp_spark.plans.pipeline import run_pipeline
    from jionlp_spark.sources.pages import generate_pages
    pages = generate_pages(spark, 20, num_partitions=2)
    nodes = _python_nodes(
        run_pipeline(spark, pages, use_html=use_html)['triples'])
    assert len(nodes) == 1, nodes
    assert nodes[0].startswith('linked_mentions_udf('), nodes
    assert 'clean' not in nodes[0], nodes


def test_extract_mentions_adds_one_python_node(spark):
    """The reference chain (clean_pages → extract_mentions, kept for
    perfbench's correctness check and the tests) stacks one mentions UDF
    on the clean UDF: it adds exactly one ArrowEvalPython node to the
    plan (the clean UDF's own node stays separate, because the mention
    UDF reads a field of its struct)."""
    from jionlp_spark.functions.udfs import build_location_trie
    from jionlp_spark.operators.clean import clean_pages
    from jionlp_spark.operators.mentions import extract_mentions
    from jionlp_spark.sources.pages import generate_pages
    clean_df = clean_pages(generate_pages(spark, 20, num_partitions=2))
    before = _python_nodes(clean_df)
    after = _python_nodes(extract_mentions(
        clean_df, lexicon_trie_broadcast=build_location_trie(spark)))
    assert len(before) == 1, before
    assert len(after) == 2, after
    assert sum(n.startswith('mentions_udf(') for n in after) == 1, after


def test_streaming_mentions_is_the_lazy_python_pass(spark):
    """The mention stream is the lazy pipeline's plan: over a batch page
    frame it has exactly one ArrowEvalPython node, the fused
    linked_mentions_udf, not the clean → mentions reference chain."""
    from jionlp_spark.sources.pages import generate_pages
    from jionlp_spark.streaming.stream import streaming_mentions
    nodes = _python_nodes(streaming_mentions(
        generate_pages(spark, 20, num_partitions=2)))
    assert len(nodes) == 1, nodes
    assert nodes[0].startswith('linked_mentions_udf('), nodes


def _python_nodes_run(df):
    """Names of the ArrowEvalPython nodes a job over ``df`` runs: its
    executed plan, read through an adaptive wrapper, and through a cached
    relation only while that cache is not yet built (a built cache is a
    column-buffer scan, whatever plan produced it)."""
    def walk(p):
        name = p.nodeName()
        if name == 'AdaptiveSparkPlan':
            return walk(p.executedPlan())
        if name == 'InMemoryTableScan':
            rel = p.relation()
            return [] if rel.cacheBuilder().isCachedColumnBuffersLoaded() \
                else walk(rel.cachedPlan())
        out = [p.simpleString(1000)] if name == 'ArrowEvalPython' else []
        kids = p.children()
        for i in range(kids.size()):
            out += walk(kids.apply(i))
        return out
    return walk(df._jdf.queryExecution().executedPlan())


def _spy_stage_builds(monkeypatch):
    """Record, per stage that catalog.run_stage BUILDS (a complete stage it
    reads back is not recorded), the ArrowEvalPython nodes its write
    runs → the dict that fills."""
    from jionlp_spark.sources import catalog
    inner = catalog.run_stage
    nodes = {}

    def spy(spark_, path, stage, build, *a, **kw):
        def traced():
            df = build()
            nodes[stage] = _python_nodes_run(df)
            return df
        return inner(spark_, path, stage, traced, *a, **kw)

    monkeypatch.setattr(catalog, 'run_stage', spy)
    return nodes


@pytest.mark.parametrize('use_html', [True, False], ids=['html', 'plain'])
def test_published_pipeline_is_one_python_pass(spark, tmp_path,
                                               monkeypatch, use_html):
    """A fresh published run pays ONE Python pass per page: the s1 write
    runs the page UDF (clean, extract_text, meta and the linked
    mentions together), and the s2 and s3 writes are projections of that
    persisted frame with no Python node of their own.  s4 is Catalyst
    only, as ever."""
    from jionlp_spark.plans.pipeline import run_pipeline
    from jionlp_spark.sources.pages import generate_pages

    nodes = _spy_stage_builds(monkeypatch)
    pages = generate_pages(spark, 20, num_partitions=2)
    run_pipeline(spark, pages, use_html=use_html,
                 out_dir=str(tmp_path / 'kg'), input_fingerprint='guard')
    assert sorted(nodes) == ['s1_clean', 's2_mentions', 's3_entities',
                             's4_triples'], nodes
    assert len(nodes['s1_clean']) == 1, nodes
    assert nodes['s2_mentions'] == [] and nodes['s3_entities'] == [], nodes
    assert nodes['s4_triples'] == [], nodes


def test_resume_with_s1_to_s3_complete_builds_only_s4(spark, tmp_path,
                                                      monkeypatch):
    """A resume whose S1-S3 are complete and S4 missing builds s4_triples
    alone, with no Python node: the page frame is never computed."""
    from jionlp_spark.plans.pipeline import run_pipeline
    from jionlp_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 20, num_partitions=2)
    out = str(tmp_path / 'kg')
    run_pipeline(spark, pages, out_dir=out, input_fingerprint='guard')
    shutil.rmtree(os.path.join(out, 's4_triples'))
    nodes = _spy_stage_builds(monkeypatch)
    run_pipeline(spark, pages, out_dir=out, input_fingerprint='guard')
    assert nodes == {'s4_triples': []}, nodes
