"""Per-op task statistics from Spark's event log.

The traced phase runs with ``spark.eventLog.enabled`` and tags each op's jobs
with the job group ``op-<span id>`` (:func:`harness.job_group`).  After the
session stops, the log is complete and this module folds its task-end events
into per-op totals: jobs, stages, task run time, skew, shuffle and spill.
"""
from __future__ import annotations

import json
import os
import statistics


def read_events(log_dir: str):
    for name in sorted(os.listdir(log_dir)):
        if name.startswith('.') or name.endswith('.crc'):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                yield json.loads(line)


def per_op(log_dir: str) -> dict:
    """``{op span id: {'jobs', 'stages', 'task_s', 'task_times',
    'stage_skew', 'shuffle_write_bytes', 'shuffle_read_bytes',
    'spill_bytes'}}`` for every job group ``op-<id>`` in the log."""
    stage_op: dict = {}
    ops: dict = {}
    stage_tasks: dict = {}
    for e in read_events(log_dir):
        kind = e.get('Event')
        if kind == 'SparkListenerJobStart':
            group = (e.get('Properties') or {}).get('spark.jobGroup.id', '')
            if not group.startswith('op-'):
                continue
            op = int(group[3:])
            d = ops.setdefault(op, _empty())
            d['jobs'] += 1
            for sid in e.get('Stage IDs', []):
                stage_op[sid] = op
        elif kind == 'SparkListenerTaskEnd':
            op = stage_op.get(e.get('Stage ID'))
            m = e.get('Task Metrics')
            if op is None or not m:
                continue
            d = ops[op]
            run_s = m.get('Executor Run Time', 0) / 1000.0
            d['task_s'] += run_s
            d['task_times'].append(run_s)
            stage_tasks.setdefault(e['Stage ID'], []).append(run_s)
            sw = m.get('Shuffle Write Metrics') or {}
            sr = m.get('Shuffle Read Metrics') or {}
            d['shuffle_write_bytes'] += sw.get('Shuffle Bytes Written', 0)
            d['shuffle_read_bytes'] += (sr.get('Remote Bytes Read', 0)
                                        + sr.get('Local Bytes Read', 0))
            d['spill_bytes'] += (m.get('Memory Bytes Spilled', 0)
                                 + m.get('Disk Bytes Spilled', 0))
    for sid, times in stage_tasks.items():
        d = ops[stage_op[sid]]
        d['stages'] += 1
        med = statistics.median(times)
        if len(times) >= 2 and med > 0:
            d['stage_skew'].append(max(times) / med)
    return ops


def _empty() -> dict:
    return {'jobs': 0, 'stages': 0, 'task_s': 0.0, 'task_times': [],
            'stage_skew': [], 'shuffle_write_bytes': 0,
            'shuffle_read_bytes': 0, 'spill_bytes': 0}


def spark_metrics(ops: dict, op_walls: dict, cores: int) -> dict:
    """Scheduler-layer metrics over the traced ops (``op_walls``: span id ->
    wall seconds).  Ops without any Spark job count with zero jobs."""
    n = max(len(op_walls), 1)
    rows = [ops.get(i, _empty()) for i in op_walls]
    task_s = sum(r['task_s'] for r in rows)
    skew = [s for r in rows for s in r['stage_skew']]
    return {
        'spark.task_busy_share': task_s / max(sum(op_walls.values()) * cores, 1e-9),
        'spark.task_max_over_median': statistics.median(skew) if skew else 1.0,
        'spark.jobs_per_op': sum(r['jobs'] for r in rows) / n,
        'spark.task_s_per_op': task_s / n,
        'spark.shuffle_bytes_per_op': sum(r['shuffle_write_bytes'] for r in rows) / n,
        'spark.spill_bytes_per_op': sum(r['spill_bytes'] for r in rows) / n,
    }
