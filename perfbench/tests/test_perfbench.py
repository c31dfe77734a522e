"""Self-tests of the benchmark.

    python -m pytest perfbench/tests -q

The contract tests start the benchmark itself, for every workload of
BENCHMARK.json with and without tracing, and for ``kg_graph_iterative``
without; the Spark tests share one local session.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, 'BENCHMARK.json'), encoding='utf-8') as _f:
    SPEC = json.load(_f)

NAME = re.compile(r'^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$')
UNIT = re.compile(r'^[A-Za-z0-9_/%.-]{1,16}$')


# ---------------------------------------------------------------- contract

def test_benchmark_json_shape():
    assert set(SPEC) == {'command', 'paths', 'run_seconds', 'workloads',
                         'end_to_end', 'per_layer'}
    assert 2 <= len(SPEC['workloads']) <= 8
    assert 1 <= SPEC['run_seconds'] <= 60
    names = []
    for w in SPEC['workloads']:
        assert set(w) == {'name', 'why'} and len(w['why']) <= 200
        names.append(w['name'])
    for m in SPEC['end_to_end']:
        assert set(m) == {'name', 'unit', 'better', 'bound'}
        assert 0 < m['bound'] <= 0.25
    for m in SPEC['per_layer']:
        assert set(m) == {'name', 'unit', 'better'}
    for m in SPEC['end_to_end'] + SPEC['per_layer']:
        assert NAME.match(m['name']) and UNIT.match(m['unit'])
        assert m['better'] in ('lower', 'higher')
        names.append(m['name'])
    assert len(names) == len(set(names))
    setup = [m for m in SPEC['end_to_end'] if m['name'] == 'setup_s']
    assert setup and setup[0]['unit'] == 's' and \
        setup[0]['better'] == 'lower' and \
        setup[0]['bound'] == max(m['bound'] for m in SPEC['end_to_end'])


@pytest.mark.parametrize('workload,trace', [
    (w['name'], t) for w in SPEC['workloads'] for t in (0, 1)]
    + [('kg_graph_iterative', 0)])
def test_printed_metrics_match_benchmark_json(workload, trace):
    """Every metric printed appears in BENCHMARK.json with its unit, and
    every listed metric is printed."""
    assert workload in WORKLOADS
    cmd = SPEC['command'] + ['--workload', workload, '--seed', '7',
                             '--seconds', '1', '--trace', str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {'correct', 'attempted', 'failed', 'metrics'}
    assert res['correct'] and res['failed'] == 0 and res['attempted'] >= 1
    listed = {m['name']: m['unit']
              for m in SPEC['per_layer' if trace else 'end_to_end']}
    printed = {k: v['unit'] for k, v in res['metrics'].items()}
    assert printed == listed
    assert all(isinstance(v['value'], (int, float))
               for v in res['metrics'].values())


# ---------------------------------------------------------------- pure

def test_tail_is_highest_percentile_with_ten_runs_beyond():
    xs = [float(i) for i in range(1, 61)]          # 60 runs
    assert harness.summarize(xs)['tail'] == 50.0    # ten runs above it
    assert harness.summarize(xs[:20])['tail'] == 15.0   # a quarter above
    s = harness.summarize([3.0, 1.0, 2.0])
    assert (s['p50'], s['n']) == (2.0, 3)


def test_mismatches_flags_changed_and_missing_slices():
    ref = {0: (10, 111), 1: (12, 222)}
    assert harness.mismatches({0: (10, 111), 1: (12, 222)}, ref) == []
    assert harness.mismatches({0: (10, 112), 1: (12, 222)}, ref) == [0]
    assert harness.mismatches({2: (1, 1)}, ref) == [2]


def test_a_failed_probe_call_is_counted_and_made_again():
    from perfbench.workloads import Bench
    bench = Bench('kg_fresh_html', 1, True, 4, 'unused')
    calls = []

    def flaky():
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError('first call fails')
        return 'ok'
    assert bench._probe('flaky', flaky) == 'ok'
    assert bench.probes == {'attempted': 2, 'failed': 1}
    with pytest.raises(RuntimeError):
        bench._probe('broken', lambda: 1 / 0)
    assert bench.probes == {'attempted': 4, 'failed': 3}


# ---------------------------------------------------------------- spark

@pytest.fixture(scope='module')
def spark():
    harness.pin_cores(4)
    scratch = harness.work_dir('tests')
    s = harness.start_session(4, scratch)
    yield s
    harness.stop_jvm(s)
    harness.rmtree(scratch)


def test_digest_catches_a_corrupted_triple(spark):
    from pyspark.sql import functions as F

    from jionlp_spark.plans.pipeline import run_pipeline
    from jionlp_spark.sources.pages import generate_pages
    from perfbench.workloads import checked_page
    triples = run_pipeline(spark, generate_pages(spark, 40, seed=3))[
        'triples'].localCheckpoint()
    good = harness.digest_df(triples, where=checked_page())
    # order-independent: a reshuffled copy digests the same
    assert harness.digest_df(triples.orderBy(F.desc('obj')),
                             where=checked_page()) == good
    victim = (triples.filter(checked_page())
              .orderBy('url', 'offset_start', 'pred').first())
    bad = triples.withColumn(
        'obj', F.when((F.col('url') == victim['url'])
                      & (F.col('offset_start') == victim['offset_start'])
                      & (F.col('pred') == victim['pred']),
                      F.concat(F.col('obj'), F.lit('x')))
        .otherwise(F.col('obj')))
    corrupted = harness.digest_df(bad, where=checked_page())
    assert corrupted['checked_rows'] == good['checked_rows'] > 0
    got = {0: (corrupted['checked_rows'], corrupted['checked_digest'])}
    ref = {0: (good['checked_rows'], good['checked_digest'])}
    assert harness.mismatches(got, ref) == [0]


def test_kernel_split_agrees_on_two_disjoint_id_ranges(spark):
    """Driver-side kernel ms/page on two disjoint page ranges, measured in
    interleaved chunks so machine speed drifts hit both alike."""
    from perfbench import layers
    from perfbench.workloads import page_id
    from jionlp_spark.functions.udfs import build_location_trie
    from jionlp_spark.operators.link import build_bundle
    from jionlp_spark.sources.pages import generate_pages
    pages = generate_pages(spark, 1800, seed=42).withColumn('id', page_id())
    split = layers.KernelSplit(build_bundle(spark).value,
                               build_location_trie(spark).value)
    split.run(layers.collect_pages(pages.filter('id < 200'), 200))
    a = layers.collect_pages(pages.filter('id >= 200 and id < 1000')
                             .orderBy('id'), 800)
    b = layers.collect_pages(pages.filter('id >= 1000').orderBy('id'), 800)
    total = {'a': 0.0, 'b': 0.0}
    for i in range(0, 800, 50):
        for name, chunk in (('a', a[i:i + 50]), ('b', b[i:i + 50])):
            res = split.run(chunk)
            total[name] += sum(res[k] for k in layers.KERNELS)
    ms_a = total['a'] * 1e3 / len(a)
    ms_b = total['b'] * 1e3 / len(b)
    assert abs(ms_a - ms_b) / min(ms_a, ms_b) < 0.10, (ms_a, ms_b)


def test_seed42_first_40k_pages_give_the_pinned_triple_count(spark):
    from jionlp_spark.plans.pipeline import run_pipeline
    from jionlp_spark.sources.pages import generate_pages
    triples = run_pipeline(spark, generate_pages(spark, 40000, seed=42))[
        'triples']
    assert triples.count() == 220570
