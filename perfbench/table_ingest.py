"""table_ingest: the only workload with writes beside reads.

Events-shaped micro-batches (advancing timestamps plus a share of late rows)
land in an ``IcebergishTable``.  Their columns follow the sf0.1 ``events``
table: five equally likely event types, and values drawn from an
exponential with mean 50 rounded to cents (sf0.1: mean 49.9, median 34.8;
the exponential's median is 34.7).  Each cycle runs, in order:

1. ``IcebergishTable.append`` with ``bloom_cols=['event_id']``;
2. ``ContinuousAggregate.refresh`` of a 1m tier, then of a hierarchical 1h
   tier (``source_kind='partial'``) fed by the 1m tier;
3. a time-range ``read_realtime`` of the 1m tier, materialized with a
   ``noop`` sink;
4. a bloom point lookup through ``IcebergishTable.scan``;

and every ``PERIOD`` cycles ``expire_before`` (retention) on the raw
table.  Almost no kernel work: this exercises ``sources.tables``,
``sources.continuous``, the rollup partial merges, retention and per-job
Spark latency.

``AUTO_COMPACT`` (the public ``auto_compact_snapshots`` argument) is 2, not
the default 64: a tier read costs more with every live tier snapshot, and at
~2-3 s per cycle a run measures only a handful of cycles, so the default
would never compact and would hide compaction stalls.  At 2 both tiers
compact every second refresh, so every run spans several compaction
cycles.  ``RETAIN_MS`` is two cycles of event time, so the first expiry
already drops whole snapshots and rewrites the ones late rows straddle.

Compaction and expiry both recur every ``PERIOD`` (2) cycles, and a run
measures whole periods only, at least ``MIN_PERIODS`` (3, ~13 s on 4
cores) and more while ``--seconds`` has not passed, so every run has the
same mix of ops.  Throughput is the median over the measured periods of
rows appended per second of period wall: the JVM's JIT compilers are still
busy while a run measures (their threads used ~7 CPU-s of a 12 s window
half a minute into a run), and the median keeps a run's figure from
hinging on one slow period.  The warm-up is one cycle per set-up: a whole period per set-up
cost ~8 s more per run, which the benchmark's time budget does not have.

Checks: every point lookup must return exactly the generated rows, the raw
table must hold exactly the appended rows that retention kept, and both
tiers must equal a one-shot rollup (computed here, in pandas) of every row
ever appended -- the tiers keep history that retention dropped from raw.
"""
from __future__ import annotations

import os
import time
from decimal import Decimal

import numpy as np
import pandas as pd

from perfbench.harness import Tracer, job_group

EPOCH = np.datetime64('2024-01-01T00:00:00', 'us')
EVENT_TYPES = ('click', 'error', 'purchase', 'signup', 'view')
BATCH_ROWS = 2000
USERS = 50
LATE_SHARE = 0.1
CYCLE_MS = 30 * 60_000          # event time covered by one micro-batch
LATE_WINDOWS = 3                # late rows reach back this many batches
PERIOD = 2                      # cycles between expiries (and compactions)
MIN_PERIODS = 3                 # measured per run, at least
RETAIN_MS = 2 * CYCLE_MS
AUTO_COMPACT = 2
LOOKUP_IDS = 4
COLS = ['event_id', 'ts', 'user_id', 'event_type', 'value']


def make_batch(rng: np.random.Generator, cycle: int, first_id: int, rows: int) -> pd.DataFrame:
    """One micro-batch.  Timestamps are unique across the whole run: whole
    milliseconds drawn without replacement inside the cycle, plus the cycle
    number (mod 1000) in microseconds."""
    back = min(cycle, LATE_WINDOWS)
    n_late = int(rows * LATE_SHARE) if back else 0
    start = cycle * CYCLE_MS
    on_ms = start + rng.choice(CYCLE_MS, size=rows - n_late, replace=False)
    late_ms = start - back * CYCLE_MS + rng.choice(back * CYCLE_MS, size=n_late,
                                                   replace=False)
    ms = np.concatenate([np.sort(on_ms), late_ms]).astype(np.int64)
    return pd.DataFrame({
        'event_id': np.arange(first_id, first_id + rows, dtype=np.int64),
        'ts': EPOCH + (ms * 1000 + cycle % 1000).astype('timedelta64[us]'),
        'user_id': rng.integers(0, USERS, size=rows).astype(np.int64),
        'event_type': np.asarray(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), size=rows)],
        'value': np.round(rng.exponential(50.0, size=rows), 2) + 0.01,
    })


def oneshot_rollup(rows: pd.DataFrame, freq: str) -> pd.DataFrame:
    """Reference tier: per (user_id, bucket) count, exact sum (cents),
    min, max, first/last value and their timestamps."""
    df = rows.assign(bucket_start=rows['ts'].dt.floor(freq),
                     cents=np.round(rows['value'] * 100).astype(np.int64))
    df = df.sort_values('ts')
    g = df.groupby(['user_id', 'bucket_start'], sort=True)
    return pd.DataFrame({
        'cnt_points': g.size(),
        'sum_cents': g['cents'].sum(),
        'min_value': g['value'].min(),
        'max_value': g['value'].max(),
        'first_value': g['value'].first(),
        'first_ts': g['ts'].first(),
        'last_value': g['value'].last(),
        'last_ts': g['ts'].last(),
    }).reset_index()


def check_tier(tier: pd.DataFrame, rows: pd.DataFrame, freq: str) -> list:
    """Errors for a collected tier (``read_partial`` form) against the
    one-shot rollup of ``rows``."""
    want = oneshot_rollup(rows, freq)
    got = tier.copy()
    got['sum_cents'] = [int(Decimal(v) * 100) for v in got['sum_value']]
    cols = list(want.columns)
    got = got[cols].sort_values(['user_id', 'bucket_start']).reset_index(drop=True)
    for c in ('bucket_start', 'first_ts', 'last_ts'):
        got[c] = got[c].astype('datetime64[us]')
        want[c] = want[c].astype('datetime64[us]')
    if len(got) != len(want):
        return [f'{freq} tier has {len(got)} rows, one-shot rollup {len(want)}']
    bad = [c for c in cols if not got[c].astype(want[c].dtype).equals(want[c])]
    return [f'{freq} tier differs from the one-shot rollup in {bad}'] if bad else []


def check_rows(got: pd.DataFrame, want: pd.DataFrame, what: str) -> list:
    g = got[COLS].sort_values('event_id').reset_index(drop=True)
    w = want[COLS].sort_values('event_id').reset_index(drop=True)
    g['ts'] = g['ts'].astype('datetime64[us]')
    w['ts'] = w['ts'].astype('datetime64[us]')
    if len(g) != len(w):
        return [f'{what}: {len(g)} rows, expected {len(w)}']
    return [] if g.equals(w.astype(g.dtypes.to_dict())) else [f'{what}: rows differ']


def live_tier_snapshots(table) -> int:
    """Data snapshots a merge-on-read of the tier unions: those committed
    since the newest snapshot that replaced everything before it."""
    n = 0
    for snap in sorted(table.history(), key=lambda s: -s['snapshot_id']):
        props = snap['manifest']['properties']
        if snap['manifest']['entries']:
            n += 1
        if props.get('lineage_barrier') or props.get('operation') == 'tier-compact':
            break
    return n


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class TableIngest:
    name = 'table_ingest'

    def __init__(self, seed: int, tiny: bool = False):
        self.seed = seed
        self.batch_rows = 200 if tiny else BATCH_ROWS
        self.n_setup = 0

    def setup(self, spark, scratch) -> None:
        """Fresh tables, then their first cycle as the warm-up: the first
        refresh into an empty tier runs plans no later cycle repeats."""
        from changepoynt_spark.sources.continuous import ContinuousAggregate
        from changepoynt_spark.sources.tables import IcebergishTable
        self.spark = spark
        self.n_setup += 1
        self.root = scratch.path(f'tables-{self.n_setup}')
        self.rng = np.random.default_rng([self.seed, 2])
        self.raw = IcebergishTable(os.path.join(self.root, 'raw'))
        self.ca_1m = ContinuousAggregate(self.raw, os.path.join(self.root, 't1m'), ['user_id'],
                                         interval='1 minute', partition_by=(),
                                         auto_compact_snapshots=AUTO_COMPACT)
        self.ca_1h = ContinuousAggregate(self.ca_1m.tier, os.path.join(self.root, 't1h'),
                                         ['user_id'], interval='1 hour', partition_by=(),
                                         source_kind='partial',
                                         auto_compact_snapshots=AUTO_COMPACT)
        self.appended = []          # every generated batch, in order
        self.cutoff = None          # last retention cutoff (datetime64)
        self.expired_before = 0     # batches appended before that cutoff
        self.cycle = 0
        self.next_id = 0
        self.input_bytes = 0
        warm = self._record()
        self._cycle(spark, Tracer('warm-up', False), False, warm)
        self.lookups = warm['lookups']

    def _frame(self, pdf: pd.DataFrame):
        from pyspark.sql import types as T
        schema = T.StructType([T.StructField('event_id', T.LongType()),
                               T.StructField('ts', T.TimestampType()),
                               T.StructField('user_id', T.LongType()),
                               T.StructField('event_type', T.StringType()),
                               T.StructField('value', T.DoubleType())])
        return self.spark.createDataFrame(pdf, schema=schema)

    def _surviving(self) -> pd.DataFrame:
        rows = pd.concat(self.appended, ignore_index=True)
        if self.cutoff is None:
            return rows
        old = rows.index < sum(len(b) for b in self.appended[:self.expired_before])
        return rows[~old | (rows['ts'] >= self.cutoff)]

    # -- measure -------------------------------------------------------------

    @staticmethod
    def _record() -> dict:
        return {k: [] for k in ('ops', 'cycles', 'lookups', 'refreshes', 'reads', 'plans')}

    def measure(self, spark, seconds: float, tracer: Tracer, detail: bool) -> dict:
        rec = self._record()
        rec['lookups'] = list(self.lookups)        # the set-up cycle's lookup counts too
        t_end = time.perf_counter() + seconds
        while len(rec['cycles']) < MIN_PERIODS * PERIOD or time.perf_counter() < t_end:
            for _ in range(PERIOD):
                self._cycle(spark, tracer, detail, rec)
        rec['input_bytes'] = self.input_bytes
        return rec

    def _cycle(self, spark, tracer: Tracer, detail: bool, rec: dict) -> None:
        from pyspark.sql import functions as F

        def op(kind, fn, layer, name):
            with tracer.span(kind, 'bench', 'op') as sid, job_group(spark, tracer, sid):
                t0 = time.perf_counter()
                out = fn(layer, name)
                wall = time.perf_counter() - t0
            rec['ops'].append({'kind': kind, 'sid': sid, 'wall_s': wall})
            return out, wall

        t_cycle = time.perf_counter()
        batch = make_batch(self.rng, self.cycle, self.next_id, self.batch_rows)
        self.next_id += len(batch)
        self.appended.append(batch)
        self.input_bytes += int(batch.memory_usage(deep=True).sum())

        def append(layer, name):
            with tracer.span(name, layer, 'action'):
                return self.raw.append(self._frame(batch), partition_by=(),
                                       bloom_cols=['event_id'])
        op('append', append, 'sources.tables', 'append')

        for tier, ca in (('1m', self.ca_1m), ('1h', self.ca_1h)):
            def refresh(layer, name, ca=ca):
                with tracer.span(name, layer, 'action'):
                    return ca.refresh(spark)
            rep, wall = op('refresh', refresh, 'sources.continuous', f'refresh_{tier}')
            rec['refreshes'].append({'tier': tier, 'wall_s': wall, 'mode': rep.get('mode'),
                                     'compacted': 'compacted' in rep})

        hi = EPOCH + np.timedelta64((self.cycle + 1) * CYCLE_MS, 'ms')
        lo = hi - np.timedelta64(2 * CYCLE_MS, 'ms')
        t0 = time.perf_counter()
        live = live_tier_snapshots(self.ca_1m.tier) if detail else None
        untimed = time.perf_counter() - t0      # detail-only work, not in the cycle wall

        def read(layer, name):
            t0 = time.perf_counter()
            with tracer.span('read_realtime', layer, 'build'):
                df = self.ca_1m.read_realtime(spark).filter(
                    (F.col('bucket_start') >= F.lit(pd.Timestamp(lo)))
                    & (F.col('bucket_start') < F.lit(pd.Timestamp(hi))))
            t1 = time.perf_counter()
            with tracer.span('noop', 'spark.action', 'action'):
                df.write.format('noop').mode('overwrite').save()
            rec['reads'].append({'build_s': t1 - t0, 'exec_s': time.perf_counter() - t1,
                                 'live_snapshots': live})
        op('tier_read', read, 'sources.continuous', 'read_realtime')

        surviving = self._surviving()
        pick = self.rng.choice(len(surviving), size=min(LOOKUP_IDS, len(surviving)),
                               replace=False)
        want = surviving.iloc[np.sort(pick)]
        preds = [('event_id', 'in', [int(i) for i in want['event_id']])]

        def lookup(layer, name):
            with tracer.span('scan', layer, 'build'):
                df = self.raw.scan(spark, preds).select(*COLS)
            with tracer.span('toPandas', 'spark.action', 'action'):
                return df.toPandas()
        got, _ = op('point_lookup', lookup, 'sources.tables', 'scan')
        rec['lookups'].append(check_rows(got, want, f'lookup cycle {self.cycle}'))
        if detail:                  # scan() plans the same files itself, inside the op
            t0 = time.perf_counter()
            plan = self.raw.plan_files(preds)
            rec['plans'].append({'s': time.perf_counter() - t0,
                                 'kept': plan['n_kept'], 'total': plan['n_total']})
            untimed += rec['plans'][-1]['s']

        self.cycle += 1
        if self.cycle % PERIOD == 0:
            cutoff = EPOCH + np.timedelta64(self.cycle * CYCLE_MS - RETAIN_MS, 'ms')

            def expire(layer, name):
                with tracer.span(name, layer, 'action'):
                    return self.raw.expire_before(spark, pd.Timestamp(cutoff).to_pydatetime())
            op('expire', expire, 'sources.tables', 'expire_before')
            self.cutoff, self.expired_before = cutoff, len(self.appended)
        rec['cycles'].append({'wall_s': time.perf_counter() - t_cycle - untimed,
                              'rows': len(batch)})

    # -- checks --------------------------------------------------------------

    def collect_state(self, spark) -> dict:
        """Untimed collect of what the checks compare: the raw table and the
        merged 1m and 1h tiers."""
        return {'raw': self.raw.read(spark).select(*COLS).toPandas(),
                '1min': self.ca_1m.read_partial(spark).toPandas(),
                '1h': self.ca_1h.read_partial(spark).toPandas()}

    def check(self, spark, phase: dict) -> list:
        results = [(f'lookup{i}', not e, '; '.join(e)) for i, e in enumerate(phase['lookups'])]
        state = self.collect_state(spark)
        every = pd.concat(self.appended, ignore_index=True)
        results.append(('raw', *_verdict(check_rows(state['raw'], self._surviving(),
                                                    'raw table'))))
        for freq in ('1min', '1h'):
            results.append((f'tier_{freq}', *_verdict(check_tier(state[freq], every, freq))))
        phase['stored_bytes'] = dir_bytes(self.root)
        phase['raw_bytes'] = dir_bytes(os.path.join(self.root, 'raw'))
        phase['live_rows'] = len(state['raw'])
        return results

    # -- metrics -------------------------------------------------------------

    def end_to_end(self, phase: dict) -> dict:
        from perfbench.harness import tail
        ops, cycles = phase['ops'], phase['cycles']
        detail = {}
        for kind in ('append', 'refresh', 'tier_read', 'point_lookup', 'expire'):
            walls = [1000 * o['wall_s'] for o in ops if o['kind'] == kind]
            if not walls:
                continue
            detail[f'{kind}_p50_ms'] = (float(np.median(walls)), 'ms')
            value, pct, n = tail(walls)
            if value is not None:
                detail[f'{kind}_tail_ms'] = (value, f'ms@p{pct}')
            detail[f'{kind}_samples'] = (n, 'count')
        detail['stored_bytes_per_row'] = (phase['stored_bytes'] / max(phase['live_rows'], 1), 'B')
        detail['cycles'] = (len(cycles), 'count')
        periods = [cycles[i:i + PERIOD] for i in range(0, len(cycles), PERIOD)]
        return {
            'work_per_s': float(np.median([sum(c['rows'] for c in p) / sum(c['wall_s'] for c in p)
                                           for p in periods])),
            'detail': detail,
        }

    def layer_detail(self, phase: dict, spark_ops: dict) -> dict:
        def mean(xs):
            return float(np.mean(xs)) if xs else 0.0
        ops = phase['ops']
        walls = {k: [o['wall_s'] for o in ops if o['kind'] == k]
                 for k in ('append', 'point_lookup', 'expire')}
        ref, reads, plans = phase['refreshes'], phase['reads'], phase['plans']
        compacting = [r['wall_s'] for r in ref if r['compacted']]
        return {
            'tables.append_s': (mean(walls['append']), 's'),
            'tables.plan_files_s': (mean([p['s'] for p in plans]), 's'),
            'tables.plan_kept_ratio': (sum(p['kept'] for p in plans)
                                       / max(sum(p['total'] for p in plans), 1), 'ratio'),
            'tables.scan_s': (mean(walls['point_lookup']), 's'),
            'tables.expire_s': (mean(walls['expire']), 's'),
            'tables.bytes_written_per_input_byte': (phase['raw_bytes'] / phase['input_bytes'],
                                                    'ratio'),
            'continuous.refresh_s': (mean([r['wall_s'] for r in ref]), 's'),
            'continuous.refresh_full_share': (sum(r['mode'] == 'full' for r in ref)
                                              / max(len(ref), 1), 'ratio'),
            'continuous.compact_s': (mean(compacting), 's'),
            'continuous.compactions': (len(compacting), 'count'),
            'continuous.live_tier_snapshots': (mean([r['live_snapshots'] for r in reads]),
                                               'count'),
            'continuous.read_build_s': (mean([r['build_s'] for r in reads]), 's'),
            'continuous.read_exec_s': (mean([r['exec_s'] for r in reads]), 's'),
        }


def _verdict(errors: list) -> tuple:
    return not errors, '; '.join(errors[:3])
