"""Per-layer probes, each calling one layer's public functions from
outside the program: the driver-side kernel split, the fused UDF alone,
the forced scan, plan building, triple building over cached entities,
catalog publishes (by wrapping ``catalog.run_stage``) and the graph and
curation operators."""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from jionlp_spark.functions.udfs import make_linked_mentions_udf
from jionlp_spark.kernels.cleaner import get_cleaner
from jionlp_spark.kernels.extractors import get_extractor
from jionlp_spark.kernels.html_clean import clean_html
from jionlp_spark.kernels.money_extract import get_money_extractor
from jionlp_spark.kernels.time_extract import get_time_extractor
from jionlp_spark.operators.curate import incremental_curate
from jionlp_spark.operators.graph import (edge_confidence, pagerank,
                                          pagerank_warm)
from jionlp_spark.operators.triples import build_triples
from jionlp_spark.plans.pipeline import run_pipeline
from jionlp_spark.sources import catalog
from perfbench.harness import digest_df

KERNELS = ('html_clean', 'normalize', 'sweep', 'money_extract',
           'time_extract', 'trie_fmm', 'link')
STAGES = ('s1_clean', 's2_mentions', 's3_entities', 's4_triples')
GRAPH_OPS = ('graph.pagerank', 'graph.pagerank_warm', 'graph.edge_confidence',
             'curate.incremental_curate')
WARM_ITERS = 2


# ---------------------------------------------------------------- kernels

class _Counted:
    """Counts calls of one bound method, and the items the calls return,
    by shadowing the method on the instance."""

    def __init__(self, obj, name: str) -> None:
        self.obj, self.name, self.calls, self.items = obj, name, 0, 0
        inner = getattr(obj, name)

        def wrapper(*a, **kw):
            self.calls += 1
            res = inner(*a, **kw)
            if isinstance(res, list):
                self.items += len(res)
            return res
        setattr(obj, name, wrapper)

    def restore(self) -> None:
        delattr(self.obj, self.name)


class KernelSplit:
    """Times each public kernel of the fused pass separately, in the
    driver process, over pages collected from a slice table."""

    def __init__(self, bundle, trie) -> None:
        self.bundle, self.trie = bundle, trie
        self.cleaner = get_cleaner()
        self.ex = get_extractor()
        self.mex = get_money_extractor()
        self.tex = get_time_extractor()

    def _link(self, mentions) -> None:
        b = self.bundle
        for mtype, text in mentions:
            if mtype in ('cell_phone', 'landline_phone'):
                b.phone.locate(text)
                b.phone.canonical_number(text)
            elif mtype == 'id_card':
                b.idcard.parse(text)
            elif mtype == 'lexicon:location':
                b.location.parse(text)

    def run(self, pages) -> dict:
        """pages: [(html bytes, warc_ts datetime)] → kernel → seconds, plus
        extraction counts under 'counts'."""
        secs = dict.fromkeys(KERNELS, 0.0)
        n_money = n_time = 0
        clock = time.perf_counter
        for html, ts in pages:
            t0 = clock()
            body, _meta = clean_html(html.decode('utf-8', errors='replace'))
            t1 = clock()
            text = self.cleaner.clean_text(
                body, remove_html_tag=False, remove_parentheses=False,
                remove_url=False, remove_email=False,
                remove_phone_number=False)
            t2 = clock()
            sweep = self.ex.sweep(text)
            t3 = clock()
            money = self.mex.extract(text, with_parsing=True)
            t4 = clock()
            times = self.tex.extract(text, ts, with_parsing=True)
            t5 = clock()
            hits = self.trie.scan_fmm(text)
            t6 = clock()
            self._link([(m['type'], m['text']) for m in sweep]
                       + [('lexicon:' + h['type'], h['text']) for h in hits])
            t7 = clock()
            for k, a, b in zip(KERNELS, (t0, t1, t2, t3, t4, t5, t6),
                               (t1, t2, t3, t4, t5, t6, t7)):
                secs[k] += b - a
            n_money += len(money)
            n_time += len(times)
        secs['counts'] = {'money_extract': n_money, 'time_extract': n_time}
        return secs

    def counts(self, pages) -> dict:
        """candidates / grid_calls / mentions of the two grid-search
        extractors over ``pages`` (a separate, untimed pass)."""
        wraps = {name: (_Counted(ex, 'candidates'), _Counted(ex, 'grid_search'))
                 for name, ex in (('money_extract', self.mex),
                                  ('time_extract', self.tex))}
        try:
            res = self.run(pages)
        finally:
            for cand, grid in wraps.values():
                cand.restore()
                grid.restore()
        out = {}
        for name, (cand, grid) in wraps.items():
            mentions = res['counts'][name]
            out[name] = {'candidates': cand.items, 'grid_calls': grid.calls,
                         'mentions': mentions,
                         'hit_ratio': mentions / max(grid.calls, 1)}
        return out


def kernel_metrics(split: KernelSplit, pages) -> dict:
    """kernels.* metrics: a fresh pass, a replay pass over the same pages
    (kernels.replay_ratio) and a counting pass."""
    n = len(pages)
    first = split.run(pages)
    replay = split.run(pages)
    counts = split.counts(pages)
    out = {}
    total = 0.0
    for k in KERNELS:
        out[f'kernels.{k}.ms_per_page'] = first[k] * 1e3 / n
        total += first[k]
    out['kernels.total.ms_per_page'] = total * 1e3 / n
    out['kernels.replay_ratio'] = sum(replay[k] for k in KERNELS) / total
    for name, c in counts.items():
        for field, v in c.items():
            out[f'kernels.{name}.{field}'] = v
    return out


def collect_pages(df, limit: int) -> list:
    rows = (df.filter(F.col('lang') == 'zh').select('html', 'warc_ts')
            .limit(limit).collect())
    return [(bytes(r['html']), r['warc_ts']) for r in rows]


# ---------------------------------------------------------------- spark

def udf_pass(tracer, pages_df, bundle, trie) -> dict:
    """The fused linked-mentions UDF alone over a page table."""
    udf = make_linked_mentions_udf(bundle, trie, source='html')
    src = pages_df.filter(F.col('lang') == 'zh')
    with tracer.span('functions.udf_pass') as sp:
        # summing the array sizes keeps the UDF column from being pruned
        row = src.select(F.size(udf(F.col('html'), F.col('warc_ts')))
                         .alias('n')).agg(F.count(F.lit(1)).alias('pages'),
                                          F.sum('n')).first()
    return {'span': sp, 'pages': row['pages']}


def scan(tracer, pages_df) -> dict:
    """Forced read of the columns the pipeline reads."""
    with tracer.span('sources.scan') as sp:
        (pages_df.filter(F.col('lang') == 'zh')
         .agg(F.sum(F.length('html')), F.count('url'), F.max('warc_ts'))
         .first())
    return {'span': sp}


def plan_build_s(spark, pages_df, repeats: int = 3) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        run_pipeline(spark, pages_df)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def triples_over(tracer, entities) -> dict:
    """build_triples forced over an already cached entities table."""
    with tracer.span('operators.triples') as sp:
        d = digest_df(build_triples(entities))
    return {'span': sp, 'triples': d['rows']}


@contextmanager
def traced_publishes(tracer):
    """Wrap ``catalog.run_stage`` so every traced publish is one span, and
    record its manifest (rows, files, bytes) as soon as it is written;
    yields the list of records."""
    inner = catalog.run_stage
    records = []

    def wrapped(spark, path, stage, *a, **kw):
        with tracer.span(f'sources.catalog.{stage}') as sp:
            out = inner(spark, path, stage, *a, **kw)
        if sp is not None and stage in STAGES:
            m = catalog.read_manifest(path)
            records.append({'stage': stage, 'span': sp, 'rows': m['rows'],
                            'files': len(m['files']),
                            'bytes': sum(f['bytes'] for f in m['files'])})
        return out
    catalog.run_stage = wrapped
    try:
        yield records
    finally:
        catalog.run_stage = inner


def publish_metrics(tracer, rest, records) -> dict:
    """sources.catalog.* per pipeline stage, median over the publishes of
    that stage: the span's wall and jobs, and the manifest's rows, files
    and bytes."""
    out = {}
    for stage in STAGES:
        recs = [r for r in records if r['stage'] == stage]
        for field in ('publish_s', 'rows', 'files', 'bytes', 'jobs'):
            if field == 'publish_s':
                vals = [r['span']['end'] - r['span']['start'] for r in recs]
            elif field == 'jobs':
                vals = [rest.for_span(tracer, r['span'])['jobs'] for r in recs]
            else:
                vals = [r[field] for r in recs]
            out[f'sources.catalog.{field}.{stage}'] = statistics.median(vals)
    return out


# ---------------------------------------------------------------- graph

def cooc_edges(mentions):
    """Symmetrized weighted co-occurrence edges (src, dst, w) of a
    (doc_id, obj) mention table; w = distinct supporting docs."""
    a, b = mentions.alias('a'), mentions.alias('b')
    prs = (a.join(b, 'doc_id')
           .filter(F.col('a.obj') < F.col('b.obj'))
           .groupBy(F.col('a.obj').alias('ea'), F.col('b.obj').alias('eb'))
           .agg(F.countDistinct('doc_id').cast('long').alias('w')))
    return (prs.select(F.col('ea').alias('src'), F.col('eb').alias('dst'), 'w')
            .union(prs.select(F.col('eb').alias('src'),
                              F.col('ea').alias('dst'), 'w')))


def graph_pass(spark, tracer, mentions, docs, state_dir: str) -> list:
    """One kg_graph_iterative pass: cold PageRank over the even-doc graph,
    warm PageRank over the full graph from it, edge confidence, then
    incremental curation of two batches into fresh state.  Each call and
    its forcing digest is one span.  → [(op, digest dict, span)]."""
    out = []

    def call(op, build, extra=None):
        with tracer.span(f'operators.{op}') as sp:
            df = build()
            with tracer.span('spark.action'):
                d = digest_df(df, extra)
        out.append((op, d, sp))
        return df

    prior = call('graph.pagerank', lambda: pagerank(
        cooc_edges(mentions.filter(F.col('doc_id') % 2 == 0)),
        iters=2, weight_col='w'))
    call('graph.pagerank_warm', lambda: pagerank_warm(
        cooc_edges(mentions), prior, iters=WARM_ITERS, weight_col='w'))
    call('graph.edge_confidence',
         lambda: edge_confidence(mentions, iters=2))
    kept = {'admitted': F.sum(F.when(F.col('status') == 'kept', 1)
                              .otherwise(0))}
    b1 = docs.filter(F.col('doc_id') % 2 == 0)
    # every tenth odd doc repeats its even predecessor's text, so batch 2
    # has exact duplicates of admitted history
    prev = docs.select((F.col('doc_id') + 1).alias('doc_id'),
                       F.col('text').alias('prev_text'))
    b2 = (docs.filter(F.col('doc_id') % 2 == 1).join(prev, 'doc_id', 'left')
          .select('doc_id', F.when(F.col('doc_id') % 10 == 1, F.col('prev_text'))
                  .otherwise(F.col('text')).alias('text'), 'lang'))
    for batch_id, batch in (('b1', b1), ('b2', b2)):
        call('curate.incremental_curate', lambda: incremental_curate(
            spark, state_dir, batch, batch_id=batch_id,
            langs=('zh',))['verdict'], kept)
    return out


def graph_metrics(tracer, rest, passes) -> dict:
    """operators.* per graph op, median over traced passes (the two curate
    batches of one pass are summed)."""
    per: dict = {}
    for calls in passes:
        acc: dict = {}
        for op, d, sp in calls:
            m = rest.for_span(tracer, sp)
            a = acc.setdefault(op, {'wall_s': 0.0, 'jobs': 0, 'tasks': 0,
                                    'shuffle_bytes': 0, 'admitted': 0})
            a['wall_s'] += sp['end'] - sp['start']
            a['jobs'] += m['jobs']
            a['tasks'] += m['tasks']
            a['shuffle_bytes'] += m['shuffle_write_bytes']
            a['admitted'] += d.get('admitted') or 0
        for op, a in acc.items():
            per.setdefault(op, []).append(a)
    out = {}
    for op in GRAPH_OPS:
        for field in ('wall_s', 'jobs', 'tasks', 'shuffle_bytes'):
            out[f'operators.{op}.{field}'] = statistics.median(
                a[field] for a in per[op])
    out['operators.graph.pagerank_warm.jobs_per_iter'] = \
        out['operators.graph.pagerank_warm.jobs'] / WARM_ITERS
    out['operators.curate.incremental_curate.admitted'] = statistics.median(
        a['admitted'] for a in per['curate.incremental_curate'])
    return out


def graph_digests(calls) -> list:
    return [json.dumps([op, d['rows'], d['digest']]) for op, d, _sp in calls]
