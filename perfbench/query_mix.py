"""query_mix: the planner- and shuffle-heavy operator families.

A fixed set of ``__spark_entry__.queries()`` entries over seeded row
samples of the contract's sf0.1 tables (``perfbench.inputs``).  Each op is
one query, timed from the query function call through a ``noop``-sink
write; the seed fixes the order.  ``queries()`` is called again for every
pass, so memoized state (the windowed-BPE vocabulary) is learned again each
pass.  The set-up's warm-up runs two cheap queries, which start the Python
workers; warming every query up as well would cost a run ~10-15 s more
than its share of the benchmark's time budget.

The set keeps one or more queries per operator family that neither other
workload runs -- dedup (the ``ngram_jaccard_pairs`` posting lists and the
exact-substring ranges), windowed BPE (learning + tokenizing), PII scrub,
gap fill (null and linear), as-of join, rolling autocorrelation and IVF
top-k -- and leaves out ``kliep_scores`` (one kernel query would dominate
the mix) and five queries whose families are already covered
(``doc_dup_clusters``, ``simhash_dup_pairs``, ``events_rollup_1d_cascade``,
``moving_window_meanvar``, ``events_tier_routed_6h``): with them a cold
pass took ~40 s, more than a run's share of the benchmark's time budget.
The sample sizes (90 users' events, ~300 documents, 400 vectors) are set by
the same budget: a pass of the nine queries takes 11-20 s on 4 cores.

Check: one query per run, chosen by the seed (consecutive seeds walk
``CHECKED``), is collected once per phase, untimed, right after its timed
op; its value hash (``scripts/correctness_report.py`` normalization) must
equal that of the DuckDB ``oracle_sql()`` result.  Every other op counts as
failed only if it raises.  Checking every query in every run would add
~10 s of collects and DuckDB work to each run.  ``gap_fill_linear_values``
is not in the rotation: it returns one row per user-minute (~3.8M rows
here, as sf0.1 users have about two events a day), and normalizing and
hashing that on both sides takes ~80 s, more than a whole run.
"""
from __future__ import annotations

import os
import sys
import time

import numpy as np

from perfbench.harness import ROOT, Tracer, job_group
from perfbench.inputs import DATA_DIR, sample_tables

QUERIES = ('ngram_jaccard_dups', 'doc_dedup_ranges', 'doc_bpe_tokens_1k',
           'doc_pii_scrub', 'events_gapfill_1m', 'gap_fill_linear_values',
           'events_asof_join', 'events_autocorr', 'embedding_ivf_topk')
LAYER = {'ngram_jaccard_dups': 'operators.dedup', 'doc_dedup_ranges': 'operators.dedup',
         'doc_bpe_tokens_1k': 'operators.bpe', 'doc_pii_scrub': 'operators.text',
         'events_gapfill_1m': 'operators.rollup', 'gap_fill_linear_values': 'operators.rollup',
         'events_asof_join': 'operators.asof', 'events_autocorr': 'operators.window_ops',
         'embedding_ivf_topk': 'operators.similarity'}
CHECKED = tuple(q for q in QUERIES if q != 'gap_fill_linear_values')
SIZES = {'full': dict(n_users=90, n_docs=300, n_vecs=400),
         'tiny': dict(n_users=8, n_docs=40, n_vecs=60)}


def _report_module():
    sys.path.insert(0, os.path.join(ROOT, 'scripts'))
    import correctness_report
    return correctness_report


def value_hash(pdf) -> str:
    cr = _report_module()
    return cr._value_hash(cr._normalize(pdf))


def oracle_hash(sf_dir: str, name: str) -> str:
    import __spark_entry__ as entry
    con = _report_module()._duck(sf_dir)
    try:
        return value_hash(con.execute(entry.oracle_sql()[name]).df())
    finally:
        con.close()


class QueryMix:
    name = 'query_mix'

    def __init__(self, seed: int, tiny: bool = False):
        self.seed = seed
        self.size = SIZES['tiny' if tiny else 'full']
        perm = np.random.default_rng([seed, 4]).permutation(len(QUERIES))
        self.order = [QUERIES[i] for i in perm]
        self.checked = CHECKED[seed % len(CHECKED)]
        self.oracle = None
        self.n_setup = 0

    def setup(self, spark, scratch) -> None:
        import __spark_entry__ as entry
        self.n_setup += 1
        self.sf_dir = scratch.path(f'tables-{self.n_setup}')
        sample_tables(DATA_DIR, self.sf_dir, self.seed, **self.size)
        qs = entry.queries()
        for q in ('doc_pii_scrub', 'events_asof_join'):
            qs[q](spark, self.sf_dir).write.format('noop').mode('overwrite').save()

    def measure(self, spark, seconds: float, tracer: Tracer, detail: bool) -> dict:
        import __spark_entry__ as entry
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        ops, collected = [], {}
        t_end = time.perf_counter() + seconds
        passes = 0
        while passes < 1 or time.perf_counter() < t_end:
            qs = entry.queries()             # fresh memoized state every pass
            for name in self.order:
                with tracer.span(name, 'bench', 'op') as sid, job_group(spark, tracer, sid):
                    t0 = time.perf_counter()
                    with tracer.span(name, LAYER[name], 'build'):
                        df = qs[name](spark, self.sf_dir)
                    t1 = time.perf_counter()
                    if detail:                   # rows out, counted by the write job
                        obs = Observation()
                        df = df.observe(obs, F.count(F.lit(1)).alias('rows'))
                    with tracer.span('noop', 'spark.action', 'action'):
                        df.write.format('noop').mode('overwrite').save()
                    t2 = time.perf_counter()
                ops.append({'kind': name, 'sid': sid, 'wall_s': t2 - t0,
                            'build_s': t1 - t0, 'exec_s': t2 - t1,
                            'rows_out': obs.get['rows'] if detail else None})
                if passes == 0 and name == self.checked:
                    collected[name] = df.toPandas()      # untimed
            passes += 1
        return {'ops': ops, 'passes': passes, 'collected': collected}

    def check(self, spark, phase: dict) -> list:
        pdf = phase['collected'][self.checked]
        if self.oracle is None:              # same seed, same tables: once per run
            self.oracle = oracle_hash(self.sf_dir, self.checked)
        ok = value_hash(pdf) == self.oracle
        return [(self.checked, ok, '' if ok else f'{len(pdf)} rows; hash differs from oracle')]

    def end_to_end(self, phase: dict) -> dict:
        ops = phase['ops']
        per_pass = sum(o['wall_s'] for o in ops) / phase['passes']
        return {
            'work_per_s': len(QUERIES) / per_pass,
            'detail': {'mix_wall_s': (per_pass, 's'),
                       'passes': (phase['passes'], 'count')},
        }

    def layer_detail(self, phase: dict, spark_ops: dict) -> dict:
        out = {}
        for name in QUERIES:
            mine = [o for o in phase['ops'] if o['kind'] == name]
            n = len(mine)
            sp = [spark_ops.get(o['sid'], {}) for o in mine]
            out[f'{name}.build_s'] = (sum(o['build_s'] for o in mine) / n, 's')
            out[f'{name}.exec_s'] = (sum(o['exec_s'] for o in mine) / n, 's')
            out[f'{name}.shuffle_bytes'] = (sum(s.get('shuffle_write_bytes', 0) for s in sp) / n,
                                            'B')
            out[f'{name}.spill_bytes'] = (sum(s.get('spill_bytes', 0) for s in sp) / n, 'B')
            out[f'{name}.rows_out'] = (sum(o['rows_out'] for o in mine) / n, 'count')
        return out
