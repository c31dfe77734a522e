"""Measurement plumbing shared by the workloads: the Spark session and its
work directory, CPU pinning and load, process-tree RSS sampling, span
tracing with Spark job-group attribution, the driver's REST metrics, the
order-independent triple digest, and summary statistics.

Nothing here imports pyspark at module load, so the statistics and the
digest comparison can be tested without a JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(os.getcwd(), '.perfbench_work')


# ---------------------------------------------------------------- host

def pin_cores(max_cores: int = 4) -> list:
    """Pin this process to at most ``max_cores`` of its allowed CPUs.

    The JVM and every Python UDF worker it forks inherit the affinity, so
    the whole process tree runs on exactly the cores ``local[N]`` is
    sized for (``local[N]`` alone bounds task slots, not worker CPUs)."""
    allowed = sorted(os.sched_getaffinity(0))
    cores = allowed[:max(1, min(max_cores, len(allowed)))]
    os.sched_setaffinity(0, cores)
    return cores


def log(msg: str) -> None:
    """Progress line on stderr (stdout carries only the results)."""
    print(f'[perfbench {time.strftime("%H:%M:%S")}] {msg}', file=sys.stderr,
          flush=True)


def load_1m() -> float:
    return os.getloadavg()[0]


def host_cpu_ticks() -> tuple:
    """(stolen, total) clock ticks of all CPUs since boot, from /proc/stat:
    stolen is the time the hypervisor ran something else while this guest
    had work."""
    with open('/proc/stat') as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _children_map() -> dict:
    kids: dict = {}
    for d in os.listdir('/proc'):
        if not d.isdigit():
            continue
        try:
            with open(f'/proc/{d}/stat', 'rb') as f:
                stat = f.read()
        except OSError:
            continue
        # ppid is the 2nd field after the parenthesised command name
        ppid = int(stat[stat.rindex(b')') + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants, with the exited children they have waited for.  Time the
    hypervisor steals from the guest is not in it, so on a shared host it
    varies far less from run to run than wall time does."""
    ticks = 0
    me = os.getpid()
    for pid in [me] + descendants(me):
        try:
            with open(f'/proc/{pid}/stat', 'rb') as f:
                stat = f.read()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17
        ticks += sum(int(x) for x in stat[stat.rindex(b')') + 2:].split()[11:15])
    return ticks / os.sysconf('SC_CLK_TCK')


def jit_cpu_s() -> float:
    """CPU seconds used so far by the JIT compiler threads of this
    process's descendants (the driver JVM)."""
    ticks = 0
    for pid in descendants(os.getpid()):
        try:
            tids = os.listdir(f'/proc/{pid}/task')
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f'/proc/{pid}/task/{tid}/stat', 'rb') as f:
                    stat = f.read()
            except OSError:
                continue
            comm = stat[stat.index(b'(') + 1:stat.rindex(b')')]
            if b'CompilerThre' in comm:
                ticks += sum(int(x) for x in
                             stat[stat.rindex(b')') + 2:].split()[11:13])
    return ticks / os.sysconf('SC_CLK_TCK')


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes sharing it."""
    try:
        with open(f'/proc/{pid}/smaps_rollup') as f:
            for line in f:
                if line.startswith('Pss:'):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver, JVM, Python daemon and workers), sampled on a background
    thread.  Summed PSS, not RSS: forked workers share the daemon's pages
    and the JVM forks short-lived helpers (``chmod``) that briefly map
    its whole heap, so summed RSS counts the same pages several times."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_pss_kb(p) for p in [me] + descendants(me))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> 'RssSampler':
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------- spark

def work_dir(*parts: str) -> str:
    path = os.path.join(WORK_ROOT, *parts)
    os.makedirs(path, exist_ok=True)
    return path


def start_session(cores: int, scratch: str):
    """The program's own ``get_spark`` session at local[cores], with its
    default heap, shuffle partitions and JIT.  Only file locations are
    overridden, so temp, spill and warehouse files stay under ``scratch``
    (inside the checkout), and the UI keeps every job for the REST
    metrics."""
    tmp = os.path.join(scratch, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    os.environ['TMPDIR'] = tmp
    # the environment's local dirs would override spark.local.dir
    os.environ['SPARK_LOCAL_DIRS'] = os.path.join(scratch, 'spark-local')
    # no hsperfdata files under /tmp from the launcher or the driver JVM
    os.environ['SPARK_LAUNCHER_OPTS'] = '-XX:-UsePerfData'
    from jionlp_spark.config import get_spark
    spark = get_spark(
        'perfbench', master=f'local[{cores}]',
        extra_conf={
            'spark.local.dir': os.path.join(scratch, 'spark-local'),
            'spark.sql.warehouse.dir': os.path.join(scratch, 'warehouse'),
            'spark.driver.extraJavaOptions':
                f'-Djava.io.tmpdir={tmp} -XX:-UsePerfData',
            'spark.ui.retainedJobs': '100000',
            'spark.ui.retainedStages': '100000',
        })
    spark.sparkContext.setLogLevel('ERROR')
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for the whole
    process tree (JVM, Python daemon, workers) to exit."""
    from pyspark import SparkContext
    # jobs AQE abandoned (unused broadcasts) may still be running; let
    # them finish so none reports to an already closed accumulator server
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + 30
    while tracker.getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.1)
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, 'proc', None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:   # noqa: BLE001 — the JVM may already be gone
            pass
    if proc is not None:
        # the gateway server exits on EOF of its stdin
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    reap_children()


def reap_children(timeout_s: float = 30.0) -> None:
    import signal
    deadline = time.monotonic() + timeout_s
    left = descendants(os.getpid())
    while left and time.monotonic() < deadline:
        time.sleep(0.2)
        left = descendants(os.getpid())
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except OSError:
            pass   # not our direct child; killed above


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------- digest

def _digest_aggs(df, where=None, prefix: str = '') -> list:
    """Row count plus an order-independent digest of the rows (of those
    matching ``where``, if given): the sum of 32-bit row hashes, which a
    corrupted, lost or duplicated row changes."""
    from pyspark.sql import functions as F
    one = F.lit(1)
    h = F.pmod(F.xxhash64(*df.columns), F.lit(1 << 32))
    if where is not None:
        one, h = F.when(where, one), F.when(where, h)
    return [F.count(one).alias(prefix + 'rows'),
            F.sum(h).alias(prefix + 'digest')]


def digest_df(df, extra=None, where=None) -> dict:
    """(rows, digest) of ``df`` in one Spark job; with ``where``, also
    (checked_rows, checked_digest) of the rows matching it.  ``extra``
    maps names to more aggregate columns evaluated in the same job."""
    aggs = _digest_aggs(df) + [col.alias(name)
                               for name, col in (extra or {}).items()]
    if where is not None:
        aggs += _digest_aggs(df, where, 'checked_')
    row = df.agg(*aggs).first().asDict()
    for k in ('digest', 'checked_digest'):
        if k in row:
            row[k] = int(row[k] or 0)
    return row


def slice_digests(df, slice_col) -> dict:
    """slice id → (rows, digest) for a table carrying every run's rows."""
    rows = df.groupBy(slice_col.alias('slice')).agg(*_digest_aggs(df)) \
        .collect()
    return {r['slice']: (r['rows'], int(r['digest'])) for r in rows}


def mismatches(got: dict, ref: dict) -> list:
    """Keys whose (rows, digest) differ from the reference, or are
    missing from it."""
    return sorted(k for k, v in got.items() if ref.get(k) != v)


# ---------------------------------------------------------------- stats

def summarize(samples: list) -> dict:
    """Median, quartiles, tail and count of a list of run times.

    ``tail`` is the highest percentile with at least ten runs beyond it;
    with fewer than 40 runs that would fall below the upper quartile, so
    it is the highest one with a quarter of the runs beyond it."""
    xs = sorted(samples)
    n = len(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4) if n > 1 else (xs[0],) * 3
    tail = xs[n - 1 - min(10, n // 4)]
    return {'p50': statistics.median(xs), 'q1': q1, 'q3': q3,
            'tail': tail, 'n': n}


# ---------------------------------------------------------------- tracing

class Tracer:
    """In-memory spans (name, start, end, parent, run id), each tagged
    with its own Spark job group so the driver's REST API attributes
    every job to the innermost open span.  Disabled, ``span`` is a bare
    yield: no job groups, no clock reads."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list = []
        self.run_id = None
        self._stack: list = []
        self._seq = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        self._seq += 1
        sp = {'id': self._seq, 'name': name, 'run': self.run_id,
              'parent': self._stack[-1]['id'] if self._stack else None,
              'group': f'pb-{self._seq}'}
        self._stack.append(sp)
        self.sc.setJobGroup(sp['group'], name)
        sp['start'] = time.perf_counter()
        try:
            yield sp
        finally:
            sp['end'] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]['group'],
                                    self._stack[-1]['name'])
            else:
                self.sc.setLocalProperty('spark.jobGroup.id', None)
            self.spans.append(sp)

    def children(self, span_id) -> list:
        return [s for s in self.spans if s['parent'] == span_id]

    def subtree(self, span_id) -> list:
        out, todo = [], [span_id]
        while todo:
            sid = todo.pop()
            for c in self.children(sid):
                out.append(c)
                todo.append(c['id'])
        return out

    def self_time(self, sp) -> float:
        """Span duration minus the time its child spans cover."""
        covered = sum(c['end'] - c['start'] for c in self.children(sp['id']))
        return (sp['end'] - sp['start']) - covered

    def dump(self, path: str) -> None:
        with open(path, 'w', encoding='utf-8') as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------- REST

def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


class RestMetrics:
    """Job and stage metrics from the driver's local status REST API,
    grouped by job group (one group per traced span)."""

    def __init__(self, spark) -> None:
        self.base = spark.sparkContext.uiWebUrl
        self.app = spark.sparkContext.applicationId
        self.jobs_by_group: dict = {}
        self.stages: dict = {}

    def collect(self, settle_s: float = 10.0) -> None:
        """Fetch every job and stage once the listener has caught up (no
        job still running and the job count stable across two polls)."""
        url = f'{self.base}/api/v1/applications/{self.app}'
        deadline = time.monotonic() + settle_s
        prev = -1
        while True:
            jobs = _get(f'{url}/jobs')
            running = any(j['status'] == 'RUNNING' for j in jobs)
            if (not running and len(jobs) == prev) or \
                    time.monotonic() > deadline:
                break
            prev = len(jobs)
            time.sleep(0.3)
        self.jobs_by_group = {}
        for j in jobs:
            self.jobs_by_group.setdefault(j.get('jobGroup'), []).append(j)
        self.stages = {}
        for s in _get(f'{url}/stages'):
            self.stages.setdefault(s['stageId'], []).append(s)

    def for_groups(self, groups) -> dict:
        jobs = [j for g in groups for j in self.jobs_by_group.get(g, ())]
        stage_ids = {sid for j in jobs for sid in j.get('stageIds', ())}
        out = {'jobs': len(jobs), 'stages': 0, 'tasks': 0,
               'executor_run_s': 0.0, 'executor_cpu_s': 0.0,
               'shuffle_write_bytes': 0, 'spill_bytes': 0, 'gc_s': 0.0}
        for sid in stage_ids:
            for s in self.stages.get(sid, ()):
                if s.get('status') == 'SKIPPED':
                    continue
                out['stages'] += 1
                out['tasks'] += s.get('numCompleteTasks', 0)
                out['executor_run_s'] += s.get('executorRunTime', 0) / 1e3
                out['executor_cpu_s'] += s.get('executorCpuTime', 0) / 1e9
                out['shuffle_write_bytes'] += s.get('shuffleWriteBytes', 0)
                out['spill_bytes'] += (s.get('memoryBytesSpilled', 0)
                                       + s.get('diskBytesSpilled', 0))
                out['gc_s'] += s.get('jvmGcTime', 0) / 1e3
        return out

    def for_span(self, tracer: Tracer, sp) -> dict:
        """Metrics of every job launched inside ``sp`` or its children."""
        groups = [sp['group']] + [c['group'] for c in tracer.subtree(sp['id'])]
        return self.for_groups(groups)
