#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload score_rollup --seed 1 --seconds 15 --trace 0

Workloads: ``score_rollup``, ``table_ingest``, ``query_mix`` (see each
module's docstring).  The load runs in this one process (Spark local mode,
``local[<cpus>]``) with one closed-loop client: the next op starts when the
previous one returns.

A run starts the session once (JVM launch included), then generates its
inputs and warms up ``SETUPS`` times; ``setup_s`` is the session start plus
the median of those set-ups.  It then measures for ``--seconds`` and checks
every op's output.  ``--trace 1`` adds a second, traced phase in a fresh
session with Spark's event log on and spans recorded around each engine
call; it reports the per-layer metrics, including the traced phase's
throughput cost against the untraced phase as ``trace.overhead_share``.

Every metric is printed as ``<name> <value> <unit>``; the last stdout line
is one JSON object ``{"correct", "attempted", "failed", "metrics"}`` whose
metrics are the ``end_to_end`` (``--trace 0``) or ``per_layer``
(``--trace 1``) entries of ``BENCHMARK.json``.  ``--out PATH`` also writes
everything measured, with the spans, to PATH; nothing else is written
outside the run's scratch directory, which is removed on exit.
"""
from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time
import traceback

for _var in ('OMP_NUM_THREADS', 'OPENBLAS_NUM_THREADS', 'MKL_NUM_THREADS',
             'VECLIB_MAXIMUM_THREADS', 'NUMEXPR_NUM_THREADS'):
    os.environ.setdefault(_var, '1')      # before numpy loads: one BLAS thread

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)
SETUPS = 3                                # set-ups per run; setup_s is their median
CPUS = len(os.sched_getaffinity(0))       # local[$(nproc)]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('--workload', required=True,
                    choices=('score_rollup', 'table_ingest', 'query_mix'))
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    ap.add_argument('--out', help='write every measurement and the spans here (JSON)')
    ap.add_argument('--tiny', action='store_true', help='smoke-test input sizes')
    return ap.parse_args(argv)


def engine_present() -> bool:
    return all(os.path.exists(os.path.join(ROOT, p))
               for p in ('changepoynt_spark', '__spark_entry__.py', 'bench.py'))


def make_workload(name: str, seed: int, tiny: bool):
    if name == 'score_rollup':
        from perfbench.score_rollup import ScoreRollup
        return ScoreRollup(seed, tiny)
    if name == 'table_ingest':
        from perfbench.table_ingest import TableIngest
        return TableIngest(seed, tiny)
    from perfbench.query_mix import QueryMix
    return QueryMix(seed, tiny)


def measure_run(args) -> dict:
    """Set up, measure, check; returns every number the run produced."""
    from perfbench import eventlog
    from perfbench.harness import Scratch, Tracer, host_probe_s, shutdown_jvm, start_session
    run_id = f'{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}'
    wl = make_workload(args.workload, args.seed, args.tiny)
    scratch = Scratch()
    spark = None
    try:
        probe_before = host_probe_s()
        t0 = time.perf_counter()
        spark = start_session(scratch, CPUS)
        session_s = time.perf_counter() - t0
        setup_s = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            wl.setup(spark, scratch)
            setup_s.append(time.perf_counter() - t0)
        print(f'set-up: session {session_s:.2f} s, inputs + warm-up '
              f'{[round(s, 2) for s in setup_s]} s', file=sys.stderr, flush=True)
        plain = wl.measure(spark, args.seconds, Tracer(run_id, False), False)
        checks = wl.check(spark, plain)
        attempted = len(plain['ops'])
        if args.trace:
            # traced phase in its own session: the event log is a context
            # setting.  The JVM keeps warming up, so this later phase runs a
            # little faster and the overhead reads low by that gain.
            tracer = Tracer(run_id, True)
            spark.stop()
            spark = start_session(scratch, CPUS, event_log=True)
            wl.setup(spark, scratch)
            traced = wl.measure(spark, args.seconds, tracer, True)
            checks += [(f'traced.{n}', ok, d) for n, ok, d in wl.check(spark, traced)]
            attempted += len(traced['ops'])
        spark.stop()
        spark = None
        shutdown_jvm()
        probe_after = host_probe_s()
        spark_ops = eventlog.per_op(scratch.path('eventlog')) if args.trace else {}
    finally:
        if spark is not None:
            with contextlib.suppress(Exception):      # keep cleaning up
                spark.stop()
        shutdown_jvm()
        scratch.close()

    failed = [c for c in checks if not c[1]]
    for name, _, detail in failed:
        print(f'CHECK FAILED {name}: {detail}', file=sys.stderr)
    attempted += len(checks)
    e2e = wl.end_to_end(plain)
    values = {'setup_s': session_s + statistics.median(setup_s),
              'work_per_s': e2e['work_per_s']}
    detail = dict(e2e['detail'])
    detail['failed_op_share'] = (len(failed) / attempted, 'ratio')
    detail['host.probe_before_s'] = (probe_before, 's')
    detail['host.probe_after_s'] = (probe_after, 's')
    out = {'workload': args.workload, 'seed': args.seed, 'seconds': args.seconds,
           'cpus': CPUS, 'run_id': run_id, 'scratch': scratch.root,
           'session_start_s': session_s, 'setup_runs_s': setup_s,
           'attempted': attempted, 'failed': len(failed),
           'checks': [{'name': n, 'ok': ok, 'detail': d} for n, ok, d in checks],
           'ops': plain['ops']}
    if args.trace:
        from perfbench.score_rollup import kernel_codec_probe
        n_ops = len(traced['ops'])
        walls = {o['sid']: o['wall_s'] for o in traced['ops']}
        layer = eventlog.spark_metrics(spark_ops, walls, CPUS)
        detail['spark.spill_bytes_per_op'] = (layer.pop('spark.spill_bytes_per_op'), 'B')
        role = tracer.self_by('role')
        layer.update({
            'trace.overhead_share': e2e['work_per_s'] / wl.end_to_end(traced)['work_per_s'] - 1,
            'client.build_s_per_op': role.get('build', 0.0) / n_ops,
            'client.action_s_per_op': role.get('action', 0.0) / n_ops,
            'host.probe_before_s': probe_before,
            'host.probe_after_s': probe_after,
        })
        layer.update(getattr(wl, 'probe', None) or kernel_codec_probe(args.seed))
        for k, v in tracer.self_by('layer').items():
            detail[f'self_s.{k}'] = (v / n_ops, 's/op')
        detail.update(wl.layer_detail(traced, spark_ops))
        values.update(layer)
        out['spans'] = tracer.self_times()
        out['traced_ops'] = [dict(o, spark_jobs=spark_ops.get(o['sid'], {}).get('jobs', 0))
                             for o in traced['ops']]
    out['values'] = values
    out['detail'] = {k: {'value': v, 'unit': u} for k, (v, u) in detail.items()}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not engine_present():
        print('perfbench: engine sources (changepoynt_spark/, __spark_entry__.py, bench.py) '
              f'not found under {ROOT}', file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        spec = json.load(f)
    try:
        res = measure_run(args)
    except Exception:
        traceback.print_exc()
        return 1
    wanted = spec['per_layer'] if args.trace else spec['end_to_end']
    metrics = {m['name']: {'value': float(res['values'][m['name']]), 'unit': m['unit']}
               for m in wanted}
    for name, m in metrics.items():
        print(f'{name} {m["value"]:.6g} {m["unit"]}')
    for name, m in sorted(res['detail'].items()):
        print(f'{args.workload}.{name} {m["value"]:.6g} {m["unit"]}')
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, 'w') as f:
            json.dump(dict(res, metrics=metrics), f, indent=1, sort_keys=True, default=str)
    print(json.dumps({'correct': res['failed'] == 0, 'attempted': res['attempted'],
                      'failed': res['failed'], 'metrics': metrics}))
    return 0


if __name__ == '__main__':
    sys.exit(main())
