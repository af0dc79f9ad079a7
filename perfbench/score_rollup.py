"""score_rollup: the north-star job.

``sources.datagen.tokens_table_distributed`` makes token series with
heavy-tailed lengths; the first of them that hold ``TOKENS`` tokens are
cached, so every seed scores the same amount of work.  Each op is one pass of
``operators.fused.score_rollup(algorithm='sst', params=bench.SST_PARAMS,
output='blocks')`` over it, collected into this process.  The ``kernels`` layer
(SST-IKA) is nearly all of its CPU; it uses no shuffle and no tables, so a
kernel change shows here and a table or planner change should not.

A run measures at least ``MIN_PASSES`` passes (4, ~12 s on 4 cores) and
more while ``--seconds`` has not passed; throughput is the median of the
passes' rolled points per second.  The first pass is often the slowest
(by up to ~40 %), and with four or more the median leaves it out, so a
run's figure does not hinge on whether a fourth pass fit in.

Every pass is checked: the rolled-point count of each doc must equal the
count its ``n_tok`` implies, every pass must return the same blocks, and
for a seeded sample of docs the benchmark recomputes the blocks with the public
SST kernel, ``series_seed`` and ``codecs`` -- they must match byte for byte
and decode back to the tier averages and bucket timestamps.
"""
from __future__ import annotations

import time

import numpy as np

from perfbench.harness import Tracer, job_group

TIER_SECONDS = (('1m', 60), ('1h', 3600), ('1d', 86400))
BLOCK_SECONDS = 86400
MAX_LEN = 8000
TOKENS = 150_000            # tokens scored per pass, ~65 docs
MIN_PASSES = 4              # measured per run, at least
SAMPLE_DOCS = 6


def sst_params() -> dict:
    import bench
    return dict(bench.SST_PARAMS)


def expected_rolled_points(n_tok: int, min_len: int) -> int:
    """Rolled points of one doc: one per 1m/1h/1d bucket of its score series
    (one score per token at a 1 s tick), or 0 below the kernel's minimum."""
    if n_tok < min_len:
        return 0
    m = -(-n_tok // 60)
    h = -(-m // 60)
    return m + h + -(-h // 24)


def recompute_blocks(doc_id: str, tokens: np.ndarray, params: dict, epoch_s: int) -> tuple:
    """In-process reference for one doc's blocks from the public kernel and
    codecs: ``[(tier, block_start_s, n_points, ts_blob, value_blob)]`` plus
    (points scored, kernel seconds, encode seconds)."""
    from changepoynt_spark.codecs import encode_timestamps, encode_values
    from changepoynt_spark.kernels import SST
    from changepoynt_spark.operators.scoring import series_seed
    from changepoynt_spark.sources.datagen import QUANT_SCALE
    t0 = time.perf_counter()
    np.random.seed(series_seed(doc_id))
    score = np.asarray(SST(**params).transform(np.asarray(tokens, dtype=np.float64)
                                                 / QUANT_SCALE), dtype=np.float64)
    kernel_s = time.perf_counter() - t0
    # hierarchical tiers: 1m sums of the scores, 1h sums of the 1m sums, ...
    cnt, tot = np.ones_like(score, dtype=np.int64), score
    width = 1
    out, enc_s = [], 0.0
    for tier, step in TIER_SECONDS:
        starts = np.arange(0, cnt.shape[0], step // width)
        cnt, tot = np.add.reduceat(cnt, starts), np.add.reduceat(tot, starts)
        width = step
        avg = tot / cnt
        ts = epoch_s + np.arange(cnt.shape[0], dtype=np.int64) * step
        per_block = max(1, BLOCK_SECONDS // step)
        for s in range(0, ts.shape[0], per_block):
            e = min(ts.shape[0], s + per_block)
            t1 = time.perf_counter()
            blobs = (encode_timestamps(ts[s:e] * 1_000_000), encode_values(avg[s:e]))
            enc_s += time.perf_counter() - t1
            out.append((tier, int(ts[s]), e - s) + blobs)
    return out, score.shape[0], kernel_s, enc_s


def recompute_sample(rows, params: dict, min_len: int) -> tuple:
    """Recompute the blocks of the docs in ``rows`` (a tokens-schema pandas
    frame).  Returns (doc -> block list, single-core kernel and codec
    numbers measured on the way)."""
    from changepoynt_spark.operators.fused import DEFAULT_EPOCH_S
    ref, pts, kern, enc, n_enc, ts_b, val_b = {}, 0, 0.0, 0.0, 0, 0, 0
    for r in rows.itertuples():
        if r.n_tok < min_len:
            ref[r.doc_id] = []
            continue
        blocks, n, ks, es = recompute_blocks(r.doc_id, r.tokens, params, DEFAULT_EPOCH_S)
        ref[r.doc_id] = blocks
        pts, kern, enc = pts + n, kern + ks, enc + es
        n_enc += sum(b[2] for b in blocks)
        ts_b += sum(len(b[3]) for b in blocks)
        val_b += sum(len(b[4]) for b in blocks)
    probe = {
        'kernels.sst_ika.pts_per_core_s': pts / max(kern, 1e-9),
        'codecs.gorilla.bytes_per_pt': val_b / max(n_enc, 1),
        'codecs.dod.bytes_per_pt': ts_b / max(n_enc, 1),
        'codecs.encode_pts_per_s': n_enc / max(enc, 1e-9),
    }
    return ref, probe


def kernel_codec_probe(seed: int) -> dict:
    """The kernel and codec numbers on a seeded sample made by the same
    recipe as the score_rollup docs (for workloads that score nothing)."""
    from changepoynt_spark.operators.scoring import min_required_length
    from changepoynt_spark.sources.datagen import make_tokens_pdf
    params = sst_params()
    rows = make_tokens_pdf(n_docs=SAMPLE_DOCS, seed=seed * 1_000_003, max_len=MAX_LEN,
                           include_golden=False)
    return recompute_sample(rows, params, min_required_length('sst', params))[1]


def check_blocks(blocks, n_tok: dict, min_len: int, reference: dict) -> list:
    """Errors (empty list = correct) for one pass's collected blocks:
    ``blocks`` a pandas frame of the BLOCKS schema, ``n_tok`` doc -> length,
    ``reference`` doc -> recomputed block list."""
    from changepoynt_spark.codecs import decode_timestamps, decode_values
    errors = []
    got = blocks.groupby('doc_id')['n_points'].sum().to_dict()
    for doc, n in n_tok.items():
        want = expected_rolled_points(n, min_len)
        if got.get(doc, 0) != want:
            errors.append(f'{doc}: {got.get(doc, 0)} rolled points, expected {want}')
    for doc in set(got) - set(n_tok):
        errors.append(f'{doc}: blocks for an unknown doc')
    for doc, ref in reference.items():
        rows = blocks[blocks['doc_id'] == doc]
        mine = sorted((r.tier, int(r.block_start.value // 10**9), int(r.n_points),
                       bytes(r.ts_blob), bytes(r.value_blob))
                      for r in rows.itertuples())
        if mine != sorted(ref):
            errors.append(f'{doc}: blocks differ from the recompute')
            continue
        for tier, start, n, ts_blob, value_blob in mine:
            step = dict(TIER_SECONDS)[tier]
            ts = decode_timestamps(ts_blob)
            if (len(decode_values(value_blob)) != n or
                    not np.array_equal(ts, (start + np.arange(n) * step) * 1_000_000)):
                errors.append(f'{doc}/{tier}@{start}: blob does not decode back')
    return errors


class ScoreRollup:
    name = 'score_rollup'

    def __init__(self, seed: int, tiny: bool = False):
        self.seed = seed
        self.n_docs = 8 if tiny else 200          # candidates for the token budget
        self.budget = 10_000 if tiny else TOKENS
        self.params = sst_params()
        self.tokens = None
        self.reference = None
        self.probe = None           # kernel/codec numbers, set by the check

    # -- setup ---------------------------------------------------------------

    def setup(self, spark, scratch) -> None:
        from pyspark.sql import functions as F
        from changepoynt_spark.operators.fused import score_rollup
        from changepoynt_spark.operators.scoring import min_required_length
        from changepoynt_spark.sources.datagen import tokens_table_distributed
        par = spark.sparkContext.defaultParallelism
        # seed spacing keeps different seeds' doc sets disjoint (doc i's
        # stream is default_rng(seed + i))
        base = self.seed * 1_000_003
        if self.tokens is not None and self.tokens.sparkSession is spark:
            self.tokens.unpersist()              # an earlier set-up in this session
        # generated on one task per core, scored over 6 partitions per core
        # (load balance over the heavy-tailed lengths, as bench.py does)
        docs = tokens_table_distributed(spark, n_docs=self.n_docs, seed=base,
                                        max_len=MAX_LEN, partitions=par)
        # the first docs that together hold the token budget: every seed
        # scores the same amount of work (doc_id order is generation order)
        lengths = docs.select('doc_id', 'n_tok').toPandas().sort_values('doc_id')
        before = lengths['n_tok'].cumsum() - lengths['n_tok']
        lengths = lengths[before < self.budget]
        self.n_tok = dict(zip(lengths['doc_id'], lengths['n_tok'].astype(int)))
        self.tokens = docs.filter(F.col('doc_id').isin(list(self.n_tok))) \
                          .repartition(par * 6).cache()
        self.tokens.count()                      # build the cache here, not in a pass
        self.min_len = min_required_length('sst', self.params)
        # warm-up: start the Python workers and import the kernel stack
        warm = tokens_table_distributed(spark, n_docs=par, seed=base + self.n_docs,
                                        max_len=1500, partitions=par)
        score_rollup(warm, algorithm='sst', params=self.params,
                     output='blocks').agg(F.sum('n_points')).first()

    # -- measure -------------------------------------------------------------

    def measure(self, spark, seconds: float, tracer: Tracer, detail: bool) -> dict:
        from changepoynt_spark.operators.fused import score_rollup
        acc = None
        if detail:                       # per-stage CPU from the public stage_acc
            acc = {k: spark.sparkContext.accumulator(0.0)
                   for k in ('score', 'bucket', 'encode', 'assemble')}
        ops, outputs = [], []
        t_end = time.perf_counter() + seconds
        while len(ops) < MIN_PASSES or time.perf_counter() < t_end:
            with tracer.span('pass', 'bench', 'op') as sid, job_group(spark, tracer, sid):
                t0 = time.perf_counter()
                with tracer.span('score_rollup', 'operators.fused', 'build'):
                    blocks = score_rollup(self.tokens, algorithm='sst', params=self.params,
                                          output='blocks', stage_acc=acc)
                with tracer.span('toPandas', 'spark.action', 'action'):
                    pdf = blocks.toPandas()
                wall = time.perf_counter() - t0
            outputs.append(pdf)
            ops.append({'kind': 'pass', 'sid': sid, 'wall_s': wall,
                        'items': int(pdf['n_points'].sum()),
                        'bytes': int(pdf['ts_blob'].map(len).sum()
                                     + pdf['value_blob'].map(len).sum())})
        stages = {k: v.value for k, v in acc.items()} if acc else None
        return {'ops': ops, 'outputs': outputs, 'stage_cpu_s': stages}

    # -- checks --------------------------------------------------------------

    def _reference(self) -> dict:
        """Seeded sample of docs recomputed in this process, once per run."""
        if self.reference is None:
            from pyspark.sql import functions as F
            rng = np.random.default_rng([self.seed, 1])
            docs = sorted(self.n_tok)
            pick = [docs[i] for i in rng.choice(len(docs), size=min(SAMPLE_DOCS, len(docs)),
                                                replace=False)]
            rows = self.tokens.filter(F.col('doc_id').isin(pick)).toPandas()
            self.reference, self.probe = recompute_sample(rows, self.params, self.min_len)
        return self.reference

    def check(self, spark, phase: dict) -> list:
        """One (name, ok, detail) entry per pass."""
        ref = self._reference()
        first = phase['outputs'][0]
        key = ['doc_id', 'tier', 'block_start']
        first_sorted = first.sort_values(key).reset_index(drop=True)
        results = []
        for i, pdf in enumerate(phase['outputs']):
            errors = check_blocks(pdf, self.n_tok, self.min_len, ref)
            if i and not pdf.sort_values(key).reset_index(drop=True).equals(first_sorted):
                errors.append('pass output differs from the first pass')
            results.append((f'pass{i}', not errors, '; '.join(errors[:3])))
        return results

    # -- metrics -------------------------------------------------------------

    def end_to_end(self, phase: dict) -> dict:
        ops = phase['ops']
        rates = [o['items'] / o['wall_s'] for o in ops]
        items = sum(o['items'] for o in ops)
        return {
            'work_per_s': float(np.median(rates)),
            'detail': {
                'rolled_pts_per_s': (float(np.median(rates)), 'pts/s'),
                'bytes_per_rolled_pt': (sum(o['bytes'] for o in ops) / max(items, 1), 'B'),
                'passes': (len(ops), 'count'),
                'rolled_pts_per_pass': (items / len(ops), 'count'),
                'docs': (len(self.n_tok), 'count'),
                'tokens_in': (int(sum(self.n_tok.values())), 'count'),
            },
        }

    def layer_detail(self, phase: dict, spark_ops: dict) -> dict:
        stages = phase['stage_cpu_s'] or {}
        n = len(phase['ops'])
        task_s = sum(spark_ops.get(o['sid'], {}).get('task_s', 0.0) for o in phase['ops'])
        out = {f'fused.{k}_cpu_s': (v / n, 's') for k, v in stages.items()}
        out['fused.boundary_cpu_s'] = ((task_s - sum(stages.values())) / n, 's')
        return out
