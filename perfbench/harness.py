"""Run plumbing shared by the workloads: per-run scratch space, the Spark
session's lifetime, span recording, the host-noise probe and latency
statistics."""
from __future__ import annotations

import contextlib
import itertools
import math
import os
import shutil
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH_PARENT = os.path.join(ROOT, '.perfbench_scratch')


class Scratch:
    """A directory the run owns for everything it writes: TMPDIR (the
    contract queries' ``tempfile.mkdtemp`` calls), the Spark local dir, the
    warehouse, checkpoints, table roots, generated inputs and the event log.
    Removed by :meth:`close`, so repeated runs neither grow the disk nor read
    each other's tables."""

    def __init__(self):
        os.makedirs(SCRATCH_PARENT, exist_ok=True)
        self.root = tempfile.mkdtemp(prefix=f'run-{os.getpid()}-', dir=SCRATCH_PARENT)
        self._saved_env = {k: os.environ.get(k) for k in ('TMPDIR', 'SPARK_LOCAL_DIRS')}
        self._saved_tempdir = tempfile.tempdir
        tmp = self.path('tmp')
        os.environ['TMPDIR'] = tmp
        os.environ['SPARK_LOCAL_DIRS'] = self.path('spark-local')
        tempfile.tempdir = tmp

    def path(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        tempfile.tempdir = self._saved_tempdir
        for k, v in self._saved_env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        shutil.rmtree(self.root, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(SCRATCH_PARENT)


def start_session(scratch: Scratch, cpus: int, event_log: bool = False):
    """Engine-default session on ``local[cpus]`` with every Spark directory
    inside ``scratch``.  A second call after ``spark.stop()`` reuses the
    running JVM, so only the first call pays the JVM launch."""
    from changepoynt_spark.session import get_spark
    # Python workers import the engine from the checkout, whatever the cwd
    paths = os.environ.get('PYTHONPATH', '').split(os.pathsep)
    if ROOT not in paths:
        os.environ['PYTHONPATH'] = os.pathsep.join([ROOT] + [p for p in paths if p])
    conf = {
        'spark.local.dir': scratch.path('spark-local'),
        'spark.sql.warehouse.dir': scratch.path('warehouse'),
        'spark.driver.extraJavaOptions': f'-Djava.io.tmpdir={scratch.path("tmp")}',
        'spark.ui.showConsoleProgress': 'false',
        'spark.eventLog.enabled': 'true' if event_log else 'false',
    }
    if event_log:
        conf.update({'spark.eventLog.dir': scratch.path('eventlog'),
                     'spark.eventLog.compress': 'false',
                     'spark.eventLog.rolling.enabled': 'false'})
    spark = get_spark(app_name='perfbench', master=f'local[{cpus}]',
                      shuffle_partitions=max(2 * cpus, 8), extra_conf=conf)
    spark.sparkContext.setLogLevel('ERROR')
    spark.sparkContext.setCheckpointDir(scratch.path('checkpoints'))
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM (and with it the Python worker daemons it
    forked) and wait until it has exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, 'proc', None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def host_probe_s() -> float:
    """bench.py's fixed single-thread numpy loop, in seconds.  Recorded next
    to the metrics as a host-noise witness; never used to rescale them."""
    import bench
    return bench._hw_probe_work(None)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile, n)``; ``(None, None, n)`` below 11 samples."""
    n = len(xs)
    if n < 11:
        return None, None, n
    k = n - 11                     # 0-based rank with exactly 10 above it
    return sorted(xs)[k], math.floor(100 * (k + 1) / n), n


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans around the benchmark's calls into the engine: name,
    layer, role, start, end, parent and run id.  Written out only when the
    run ends.  ``enabled=False`` records nothing (the untraced runs)."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, layer: str, role: str):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append({'id': sid, 'parent': parent, 'name': name,
                               'layer': layer, 'role': role, 'start': start,
                               'end': end, 'run': self.run_id})

    def self_times(self) -> list:
        """Each span with ``self_s``: its duration minus the time its child
        spans cover (children of one span never overlap: one thread)."""
        child = {}
        for s in self.spans:
            if s['parent'] is not None:
                child[s['parent']] = child.get(s['parent'], 0.0) + s['end'] - s['start']
        return [dict(s, self_s=s['end'] - s['start'] - child.get(s['id'], 0.0))
                for s in self.spans]

    def self_by(self, key: str) -> dict:
        out: dict = {}
        for s in self.self_times():
            out[s[key]] = out.get(s[key], 0.0) + s['self_s']
        return out


@contextlib.contextmanager
def job_group(spark, tracer: Tracer, sid):
    """Tag the Spark jobs started inside the block with the op's span id, so
    the event log attributes tasks to ops.  The tag is removed on exit: the
    untimed work between ops (output checks, collects) belongs to no op."""
    if not tracer.enabled or sid is None:
        yield
        return
    sc = spark.sparkContext
    sc.setJobGroup(f'op-{sid}', f'perfbench op {sid}')
    try:
        yield
    finally:
        for key in ('spark.jobGroup.id', 'spark.job.description',
                    'spark.job.interruptOnCancel'):
            sc.setLocalProperty(key, None)
