"""KG-pipeline benchmark: one closed-loop benchmark process per call.

    python3 perfbench/run.py --workload kg_fresh_html --seed 1 \\
        --seconds 12 --trace 0

Run from the repository root.  The process pins itself (and so the JVM
and every Python worker it starts) to at most four cores, runs
``local[N]`` on them, sets up once, runs the workload
one run at a time for ``--seconds``, checks every run's output, stops the
JVM and its workers, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json
(core-seconds, and the cores a run kept busy over its steal-adjusted wall
time; see ``perfbench/workloads.py``), ``--trace 1`` its per-layer
metrics (traced runs interleaved with untraced ones, then layer probes
on fresh page slices; pipeline workloads only).  Spans are written to
``.perfbench_work/spans-<workload>-<seed>.json``.  The line before the
last holds the quartiles of the runs' CPU and wall times, every run's
times, the sample count, the pinned cores, the load recorded before each
run and the share of CPU time the host stole during the runs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402
from perfbench.workloads import WORKLOADS, Bench  # noqa: E402

BENCHMARK_JSON = os.path.join(harness.REPO_ROOT, 'BENCHMARK.json')


def metric_units(trace: bool) -> dict:
    with open(BENCHMARK_JSON, encoding='utf-8') as f:
        spec = json.load(f)
    key = 'per_layer' if trace else 'end_to_end'
    return {m['name']: m['unit'] for m in spec[key]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    units = metric_units(bool(args.trace))
    cores = harness.pin_cores(4)
    scratch = harness.work_dir(
        f'{args.workload}-{args.seed}-{os.getpid()}')
    bench = Bench(args.workload, args.seed, bool(args.trace), len(cores),
                  scratch)
    try:
        # peak RSS covers set-up and the runs, not the checks and probes
        with harness.RssSampler() as rss:
            bench.setup()
            result = bench.loop(args.seconds)
        bench.check(result)
        e2e, summary = bench.end_to_end(result)
        metrics = bench.per_layer(result) if args.trace else e2e
        if args.trace:
            bench.tracer.dump(os.path.join(
                harness.WORK_ROOT, f'spans-{args.workload}-{args.seed}.json'))
            metrics['peak_rss_mb'] = rss.peak_mb
    finally:
        if bench.spark is not None:
            harness.stop_jvm(bench.spark)
        harness.rmtree(scratch)

    if set(metrics) != set(units):
        raise SystemExit(f'metric set differs from BENCHMARK.json: '
                         f'{sorted(set(metrics) ^ set(units))}')
    print(json.dumps({
        'workload': args.workload, 'seed': args.seed,
        'pinned_cores': cores, 'runs': summary['run_s']['n'],
        **{name: {k: s[k] for k in ('q1', 'p50', 'q3', 'tail')}
           for name, s in summary.items()},
        **{f'{name}_each': [r.get(name) for r in result['runs']]
           for name in (*summary, 'jit_cpu_s')},
        'load_1m_before_runs': [round(r['load_1m'], 2)
                                for r in result['runs']],
        'steal_share': result['steal_share'],
        'setup_s': bench.setup_wall_s, 'setup_cpu_s': bench.setup_cpu_s}))
    print(json.dumps({
        'correct': result['failed'] == 0,
        'attempted': result['attempted'],
        'failed': result['failed'],
        'metrics': {name: {'value': value, 'unit': units[name]}
                    for name, value in sorted(metrics.items())}}))
    return 0


if __name__ == '__main__':
    sys.exit(main())
