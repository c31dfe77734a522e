"""The three benchmark workloads over pages generated from one seed.

Page ids are cut into slices of ``PAGES_PER_SLICE``.  Every run of a
pipeline workload reads a slice no warm-up or earlier run of the process
has read, so worker-side memos only ever help the way they would on new
crawl data.  All slices a process needs are written as parquet during
set-up, before timing starts.  Fixed per-run costs (jobs, tasks, catalog
manifests and files) weigh more in a 2,000-page slice than at the
40,000-page headline scale: the catalog path cost 2.1x the lazy path's
core time at 2,000 pages, 1.15x at 40,000 and 3.1x at 1,000.  Larger
slices do not fit the run budget of about a minute per process (set-up,
a warm-up, three runs and the check).

Every run's output is checked on the pages whose id is a multiple of
``CHECK_EVERY``: the run's (rows, digest) of their triples against the
other pipeline shape's over those pages only.  Triples depend on their
own page alone, so the check is exact for those pages, and it costs a
quarter of a full second pass, which would not fit the run budget.

Most end-to-end metrics count core-seconds: the CPU time (user + system)
of the whole process tree, driver, JVM and Python workers, per run and
for set-up.  On a shared virtual host the hypervisor steals part of the
guest's CPU time, varying from minute to minute, and raw wall time per
run follows it; CPU time leaves the stolen time out.  CPU time cannot see
a loss of parallelism, though (a serial stage or a wait uses no more
core-seconds but takes longer), so ``cores_busy.p50`` is the median of
run CPU time over the run's wall time less the share of the host's CPU
time stolen during it (``run_adj_s``): about 3.6 of the 4 pinned cores
on the lazy path.  Wall times are reported among the per-layer
metrics.

Set-up runs once per process.  Stopping and restarting the session
inside one process would leave the program's module-level pandas UDFs
bound to the stopped context's accumulator server (every task of the
catalog path then logs a failed accumulator update), so ``setup_s`` is
one sample per process and its steadiness comes from the median across
processes.

- ``kg_fresh_html``: ``run_pipeline(spark, pages)``, the lazy fused path.
- ``kg_catalog_publish``: ``run_pipeline(spark, pages, out_dir=...)``, four
  catalog publishes per run into a fresh directory.
- ``kg_graph_iterative``: PageRank cold and warm, edge confidence and
  two-batch incremental curation over the seed's own KG (built during
  set-up from the first slice).  End-to-end metrics only: its operators'
  per-layer metrics come from the pipeline workloads' traced probe, which
  runs the same graph pass.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

from pyspark.sql import functions as F

from jionlp_spark.functions.udfs import build_location_trie
from jionlp_spark.operators.clean import clean_pages
from jionlp_spark.operators.link import build_bundle, link_mentions
from jionlp_spark.operators.mentions import extract_mentions
from jionlp_spark.operators.triples import build_triples
from jionlp_spark.plans.pipeline import run_pipeline
from jionlp_spark.sources.pages import generate_pages
from perfbench import layers
from perfbench.harness import (RestMetrics, Tracer, digest_df, host_cpu_ticks,
                               jit_cpu_s, load_1m, log, mismatches, rmtree,
                               slice_digests, start_session, summarize,
                               tree_cpu_s)

PAGES_PER_SLICE = 2000
CHECK_EVERY = 4
KG_TYPES = ('location', 'phone', 'id_card')
KERNEL_SAMPLE = 300
MAX_RUNS = {'kg_fresh_html': 3, 'kg_catalog_publish': 3,
            'kg_graph_iterative': 5}
# a pipeline process makes exactly three runs: the median is then always
# the middle run, never the mean of the first run (the slowest) and the
# next, and three runs already fill the measuring time; one graph pass
# takes longer than the whole measuring time
MIN_RUNS = {'kg_fresh_html': 3, 'kg_catalog_publish': 3,
            'kg_graph_iterative': 1}
WORKLOADS = tuple(MAX_RUNS)
SELF_LAYERS = ('bench', 'sources', 'plans', 'spark', 'operators')
ATTR_LAYERS = ('kernels', 'functions', 'sources', 'plans', 'operators')


def page_id():
    return F.regexp_extract('url', r'/a/(\d+)$', 1).cast('long')


def slice_of_url():
    return F.floor(page_id() / PAGES_PER_SLICE)


def checked_page():
    return page_id() % CHECK_EVERY == 0


class Bench:
    def __init__(self, workload: str, seed: int, trace: bool, cores: int,
                 scratch: str) -> None:
        self.workload, self.seed, self.trace = workload, seed, trace
        self.cores, self.scratch = cores, scratch
        self.pages_dir = os.path.join(scratch, 'pages')
        self.kg_dir = os.path.join(scratch, 'kg')
        self.graph = workload == 'kg_graph_iterative'
        if self.graph and trace:
            raise ValueError('kg_graph_iterative has end-to-end metrics '
                             'only; the pipeline workloads trace its '
                             'operators')
        # slices: the runs' (or the KG's), the warm-up slice, then probe
        # slices A = udf pass, scan, plans, triples and the probe KG;
        # B = catalog probe and the driver-side kernel sample (the driver's
        # kernels have not seen it: the catalog probe ran on the workers)
        n_run = 1 if self.graph else MAX_RUNS[workload]
        self.run_slices = list(range(n_run))
        self.warm_slice = None if self.graph else n_run
        p = n_run + (not self.graph)
        self.probe = dict(A=p, B=p + 1) if trace else {}
        self.n_slices = p + len(self.probe)
        self.spark = None
        self.tracer = None
        self.probes = {'attempted': 0, 'failed': 0}

    # ------------------------------------------------------------ set-up

    def slice_df(self, k: int):
        return self.spark.read.parquet(os.path.join(self.pages_dir,
                                                    f'slice={k}'))

    def pages_in(self, slices: list):
        return (self.spark.read.parquet(self.pages_dir)
                .filter(F.col('slice').isin(slices)).drop('slice'))

    def _materialize(self) -> None:
        sid = slice_of_url()
        # one generator task per slice; the file cap then splits a slice
        # into one file per core, and every run scans its slice in
        # `cores` tasks
        pages = generate_pages(self.spark, self.n_slices * PAGES_PER_SLICE,
                               seed=self.seed, num_partitions=self.n_slices)
        (pages.withColumn('slice', sid)
         .write.option('maxRecordsPerFile',
                       -(-PAGES_PER_SLICE // self.cores))
         .partitionBy('slice').parquet(self.pages_dir))

    def setup(self) -> None:
        """Session start, lexicon and trie broadcasts, every slice the
        process reads written as parquet, then a Python-worker warm-up
        (pipeline workloads) or the KG build (graph workload)."""
        c0, t0 = tree_cpu_s(), time.perf_counter()
        self.spark = start_session(self.cores, self.scratch)
        self.tracer = Tracer(self.spark, enabled=False)
        self.bundle = build_bundle(self.spark)
        self.trie = build_location_trie(self.spark)
        t1 = time.perf_counter()
        self._materialize()
        t2 = time.perf_counter()
        if self.graph:
            (run_pipeline(self.spark, self.pages_in(self.run_slices))
             ['entities']
             .withColumn('doc_id', page_id())
             .write.parquet(self.kg_dir))
        else:
            # a run of the workload itself over the warm-up slice starts
            # the Python workers, compiles the run's plan and fills the
            # workers' memos before timing starts
            self._pipeline_run(self.slice_df(self.warm_slice), 'warm-up')
            self._cleanup('warm-up')
        self.setup_wall_s = time.perf_counter() - t0
        self.setup_cpu_s = tree_cpu_s() - c0
        log(f'setup: session {t1 - t0:.2f}s, materialize {t2 - t1:.2f}s, '
            f'{"KG build" if self.graph else "warm-up"} '
            f'{time.perf_counter() - t2:.2f}s, {self.setup_cpu_s:.1f} '
            'core-s')
        if self.graph:
            self._graph_inputs()

    def _graph_inputs(self) -> None:
        kg = self.spark.read.parquet(self.kg_dir)
        self.kg_triples = build_triples(kg).count()
        self.mentions = (kg.filter(F.col('obj_type').isin(*KG_TYPES))
                         .select('doc_id', 'obj').distinct().persist())
        self.docs = (self.pages_in(self.run_slices)
                     .select(page_id().alias('doc_id'), 'text', 'lang')
                     .persist())
        self.mentions.count()
        self.docs.count()
        # reference pass: every later pass must reproduce these digests
        state = os.path.join(self.scratch, 'curate-ref')
        self.graph_ref = layers.graph_digests(layers.graph_pass(
            self.spark, self.tracer, self.mentions, self.docs, state))
        rmtree(state)

    # ------------------------------------------------------------ runs

    def _pipeline_run(self, pages, tag) -> dict:
        tr = self.tracer
        out_dir = None
        if self.workload == 'kg_catalog_publish':
            out_dir = os.path.join(self.scratch, 'catalog', f'run-{tag}')
        with tr.span('plans.run_pipeline'):
            res = run_pipeline(self.spark, pages, out_dir=out_dir,
                               input_fingerprint=f'{self.seed}/{tag}')
        with tr.span('spark.action'):
            return digest_df(res['triples'], where=checked_page())

    def _graph_run(self, k: int) -> list:
        state = os.path.join(self.scratch, 'curate', f'run-{k}')
        return layers.graph_pass(self.spark, self.tracer, self.mentions,
                                 self.docs, state)

    def _cleanup(self, tag) -> None:
        rmtree(os.path.join(self.scratch, 'catalog', f'run-{tag}'))
        rmtree(os.path.join(self.scratch, 'curate', f'run-{tag}'))

    def loop(self, seconds: float) -> dict:
        """Closed loop: one run at a time until ``seconds`` have passed
        (at least ``MIN_RUNS``).  Traced mode alternates traced and untraced
        runs.  Outputs are checked afterwards, by ``check``."""
        tr = self.tracer
        runs = []
        stolen0, total0 = host_cpu_ticks()
        deadline = time.perf_counter() + seconds
        k = 0
        with layers.traced_publishes(tr) as publishes:
            while k < MAX_RUNS[self.workload] and \
                    (k < MIN_RUNS[self.workload]
                     or time.perf_counter() < deadline):
                runs.append(self._one_run(k))
                k += 1
        stolen1, total1 = host_cpu_ticks()
        steal = (stolen1 - stolen0) / max(total1 - total0, 1)
        log(f'loop: {len(runs)} runs, {steal:.0%} of CPU time stolen')
        return {'runs': runs, 'publishes': publishes, 'steal_share': steal}

    def _one_run(self, k: int) -> dict:
        tr = self.tracer
        tr.enabled = self.trace and k % 2 == 0
        tr.run_id = k
        rec = {'k': k, 'load_1m': load_1m(), 'traced': tr.enabled}
        stolen0, total0 = host_cpu_ticks()
        c0, t0, j0 = tree_cpu_s(), time.perf_counter(), jit_cpu_s()
        try:
            with tr.span('bench.run') as root:
                if self.graph:
                    rec['out'] = self._graph_run(k)
                else:
                    with tr.span('sources.read'):
                        pages = self.slice_df(k)
                    rec['out'] = self._pipeline_run(pages, k)
            rec['run_s'] = time.perf_counter() - t0
            rec['run_cpu_s'] = tree_cpu_s() - c0
            rec['jit_cpu_s'] = jit_cpu_s() - j0
            stolen1, total1 = host_cpu_ticks()
            # the run's wall time less the share the hypervisor stole,
            # and the cores the run kept busy over that time
            rec['run_adj_s'] = rec['run_s'] * (
                1 - (stolen1 - stolen0) / max(total1 - total0, 1))
            rec['cores_busy'] = rec['run_cpu_s'] / rec['run_adj_s']
            rec['root'] = root
        except Exception:   # noqa: BLE001 — a failed run is counted
            traceback.print_exc(file=sys.stderr)
            rec['error'] = True
        tr.enabled = False
        self._cleanup(k)
        return rec

    # ------------------------------------------------------------ checks

    def check(self, result: dict) -> None:
        """Adds attempted / failed / triples to a ``loop`` result."""
        result.update(self._check(result['runs']))
        log(f'checks: {result["failed"]} of {result["attempted"]} failed')

    def _check(self, runs: list) -> dict:
        ok = [r for r in runs if not r.get('error')]
        if self.graph:
            attempted = failed = 0
            for r in runs:
                got = layers.graph_digests(r['out']) if 'out' in r else []
                attempted += len(self.graph_ref)
                failed += sum(1 for i, ref in enumerate(self.graph_ref)
                              if i >= len(got) or got[i] != ref)
            return {'attempted': attempted, 'failed': failed,
                    'triples': self.kg_triples}
        got = {r['k']: (r['out']['checked_rows'], r['out']['checked_digest'])
               for r in ok}
        ref = self.reference(sorted(got))
        bad = mismatches(got, ref)
        for k in bad:
            print(f'check: slice {k} got {got[k]} reference {ref.get(k)}',
                  file=sys.stderr)
        return {'attempted': len(runs),
                'failed': len(runs) - len(ok) + len(bad),
                'triples': statistics.median(r['out']['rows'] for r in ok)
                if ok else 0}

    def reference(self, slices: list) -> dict:
        """Per-slice (rows, digest) of the checked pages' triples computed
        by the other pipeline shape, in one job over every run's slice:
        the chained-UDF operator path for the lazy workload, the fused
        lazy path for the catalog workload."""
        if not slices:
            return {}
        pages = self.pages_in(slices).filter(checked_page())
        if self.workload == 'kg_catalog_publish':
            triples = run_pipeline(self.spark, pages)['triples']
        else:
            mentions = extract_mentions(clean_pages(pages),
                                        lexicon_trie_broadcast=self.trie)
            triples = build_triples(link_mentions(mentions, self.bundle))
        return slice_digests(triples, slice_of_url())

    # ------------------------------------------------------------ metrics

    def end_to_end(self, result: dict) -> tuple:
        """The end-to-end metrics (core-seconds, and the cores a run kept
        busy) and the summaries of the runs' CPU and wall times."""
        done = [r for r in result['runs'] if 'run_s' in r]
        cpu = summarize([r['run_cpu_s'] for r in done])
        wall = summarize([r['run_s'] for r in done])
        adj = summarize([r['run_adj_s'] for r in done])
        busy = summarize([r['cores_busy'] for r in done])
        return {'setup_s': self.setup_cpu_s, 'run_cpu_s.p50': cpu['p50'],
                'cores_busy.p50': busy['p50'],
                'triples_per_cpu_s': result['triples'] / cpu['p50']}, \
            {'run_cpu_s': cpu, 'run_s': wall, 'run_adj_s': adj,
             'cores_busy': busy}

    def per_layer(self, result: dict) -> dict:
        """Every per-layer metric: the traced runs of the loop plus the
        layer probes on fresh probe slices."""
        spark, tr = self.spark, self.tracer
        tr.enabled = True
        tr.run_id = 'probe'
        out = {}
        probe = self._probe
        # --- probes (fresh slices, after the loop)
        a_df = self.slice_df(self.probe['A'])
        udf = probe('udf_pass', lambda: layers.udf_pass(
            tr, a_df, self.bundle, self.trie))
        scan = probe('scan', lambda: layers.scan(tr, a_df))
        out['plans.build_s'] = probe(
            'plan_build', lambda: layers.plan_build_s(spark, a_df))
        ents = run_pipeline(spark, a_df)['entities'].persist()
        n_ents = probe('entities', ents.count)
        tri = probe('triples', lambda: layers.triples_over(tr, ents))
        out['operators.triples_per_mention'] = tri['triples'] / max(n_ents, 1)
        cat_dir = os.path.join(self.scratch, 'probe-cat')
        state = os.path.join(self.scratch, 'probe-curate')
        kg_m = (ents.withColumn('doc_id', page_id())
                .filter(F.col('obj_type').isin(*KG_TYPES))
                .select('doc_id', 'obj').distinct())
        docs = a_df.select(page_id().alias('doc_id'), 'text', 'lang')

        def catalog_run():
            rmtree(cat_dir)     # a retried call starts from nothing
            run_pipeline(spark, self.slice_df(self.probe['B']),
                         out_dir=cat_dir, input_fingerprint='probe')

        def graph_run():
            rmtree(state)
            return layers.graph_pass(spark, tr, kg_m, docs, state)

        with layers.traced_publishes(tr) as publishes:
            if self.workload != 'kg_catalog_publish':
                probe('catalog', catalog_run)
            graph = probe('graph_pass', graph_run)
        ents.unpersist()
        split = layers.KernelSplit(self.bundle.value, self.trie.value)
        split.run(layers.collect_pages(self.slice_df(self.warm_slice), 50))
        sample = layers.collect_pages(self.slice_df(self.probe['B']),
                                      KERNEL_SAMPLE)
        out.update(probe('kernels', lambda: layers.kernel_metrics(
            split, sample)))
        tr.enabled = False

        rest = RestMetrics(spark)
        rest.collect()
        udf_m = rest.for_span(tr, udf['span'])
        out['functions.udf_pass_s'] = udf['span']['end'] - udf['span']['start']
        # the UDF pass's tasks also scan the slice: take the scan out
        scan_m = rest.for_span(tr, scan['span'])
        out['functions.handoff_ms_per_page'] = (
            (udf_m['executor_run_s'] - scan_m['executor_run_s']) * 1e3
            / max(udf['pages'], 1) - out['kernels.total.ms_per_page'])
        out['sources.scan_s'] = scan['span']['end'] - scan['span']['start']
        out['operators.triples_s'] = tri['span']['end'] - tri['span']['start']

        traced = [r for r in result['runs'] if r.get('traced') and 'root' in r]
        out.update(layers.graph_metrics(tr, rest, [graph]))
        out.update(layers.publish_metrics(
            tr, rest, result['publishes'] + publishes))

        # --- the loop's traced runs
        per_run = [(r, rest.for_span(tr, r['root']),
                    self._self_times(r['root'])) for r in traced]
        med = lambda xs: statistics.median(list(xs))  # noqa: E731
        for f in ('jobs', 'stages', 'tasks', 'executor_run_s',
                  'executor_cpu_s', 'shuffle_write_bytes', 'spill_bytes',
                  'gc_s'):
            out[f'spark.{f}'] = med(m[f] for _r, m, _s in per_run)
        out['spark.ms_per_job'] = med(r['run_s'] * 1e3 / max(m['jobs'], 1)
                                      for r, m, _s in per_run)
        for layer in SELF_LAYERS:
            out[f'self_s.{layer}'] = med(s[layer] for _r, _m, s in per_run)

        # --- attribution of one run's core time to the layers
        core = med(m['executor_run_s'] + s['plans'] for _r, m, s in per_run)
        pages = udf['pages']
        parts = {
            'kernels': out['kernels.total.ms_per_page'] * pages / 1e3,
            'functions': out['functions.handoff_ms_per_page'] * pages / 1e3,
            'sources': scan_m['executor_run_s'],
            'plans': med(s['plans'] for _r, _m, s in per_run),
            'operators': rest.for_span(tr, tri['span'])['executor_run_s'],
        }
        for layer in ATTR_LAYERS:
            out[f'attribution.{layer}.core_s'] = parts[layer]
        out['attribution.remainder.core_s'] = core - sum(parts.values())
        out['attribution.remainder_share'] = \
            out['attribution.remainder.core_s'] / core

        # --- loop summary: wall times of the untraced runs (of the traced
        # ones if every untraced run failed)
        traced_r = [r for r in result['runs']
                    if r.get('traced') and 'run_s' in r]
        plain_r = [r for r in result['runs']
                   if not r.get('traced') and 'run_s' in r]
        traced_t = [r['run_s'] for r in traced_r]
        plain_t = [r['run_s'] for r in plain_r]
        s = summarize(plain_t or traced_t)
        for q in ('p50', 'tail', 'q1', 'q3'):
            out[f'run_s.{q}'] = s[q]
        out['run_adj_s.p50'] = med(r['run_adj_s']
                                   for r in plain_r or traced_r)
        out['triples_per_s'] = result['triples'] / s['p50']
        out['setup_wall_s'] = self.setup_wall_s
        out['runs.count'] = len(traced_t) + len(plain_t)
        out['trace.overhead_s'] = (med(traced_t) - med(plain_t)
                                   if traced_t and plain_t else 0.0)
        out['host.steal_share'] = result['steal_share']
        out['host.load_1m'] = med(r['load_1m'] for r in result['runs'])
        out['host.pinned_cores'] = len(os.sched_getaffinity(0))
        # a probe call that raised counts like a failed run
        result['attempted'] += self.probes['attempted']
        result['failed'] += self.probes['failed']
        out['error_rate'] = result['failed'] / result['attempted']
        rmtree(os.path.join(self.scratch, 'probe-cat'))
        rmtree(os.path.join(self.scratch, 'probe-curate'))
        return out

    def _probe(self, name: str, call):
        """One probe call, counted in ``self.probes``.  A call that raises
        is counted as failed and made once more, so one failure shows in
        ``error_rate`` instead of ending the process without a result."""
        for _attempt in range(2):
            self.probes['attempted'] += 1
            t0 = time.perf_counter()
            try:
                out = call()
                log(f'probe {name}: {time.perf_counter() - t0:.1f}s')
                return out
            except Exception:   # noqa: BLE001 — a failed call is counted
                traceback.print_exc(file=sys.stderr)
                log(f'probe {name} failed')
                self.probes['failed'] += 1
        raise RuntimeError(f'probe {name} failed twice')

    def _self_times(self, root) -> dict:
        """Layer → summed self time of the spans under ``root``."""
        tr = self.tracer
        selfs = dict.fromkeys(SELF_LAYERS, 0.0)
        for sp in [root] + tr.subtree(root['id']):
            layer = sp['name'].split('.')[0]
            selfs[layer] = selfs.get(layer, 0.0) + tr.self_time(sp)
        return selfs
