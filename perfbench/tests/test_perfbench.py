"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The output checks must catch corruption (no Spark needed), and a tiny-input
run of every workload must print every metric named in BENCHMARK.json.
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from decimal import Decimal

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import score_rollup as sr  # noqa: E402
from perfbench import table_ingest as ti  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, 'BENCHMARK.json')))


# -- score_rollup output check ------------------------------------------------

@pytest.fixture(scope='module')
def one_doc():
    from changepoynt_spark.operators.fused import DEFAULT_EPOCH_S
    from changepoynt_spark.operators.scoring import min_required_length
    from changepoynt_spark.sources.datagen import make_tokens_pdf
    params = sr.sst_params()
    row = make_tokens_pdf(n_docs=1, seed=5, max_len=1500, include_golden=False).iloc[0]
    blocks, _, _, _ = sr.recompute_blocks(row.doc_id, row.tokens, params, DEFAULT_EPOCH_S)
    frame = pd.DataFrame({
        'doc_id': row.doc_id, 'source': row.source,
        'tier': [b[0] for b in blocks],
        'block_start': pd.to_datetime([b[1] for b in blocks], unit='s'),
        'n_points': [b[2] for b in blocks],
        'ts_blob': [b[3] for b in blocks], 'value_blob': [b[4] for b in blocks]})
    return frame, {row.doc_id: int(row.n_tok)}, min_required_length('sst', params), \
        {row.doc_id: blocks}


def test_blocks_check_accepts_the_recompute(one_doc):
    frame, n_tok, min_len, ref = one_doc
    assert sr.check_blocks(frame, n_tok, min_len, ref) == []


@pytest.mark.parametrize('col', ['value_blob', 'ts_blob'])
def test_one_flipped_blob_byte_fails_the_check(one_doc, col):
    frame, n_tok, min_len, ref = one_doc
    bad = frame.copy()
    blob = bytearray(bad.at[0, col])
    blob[len(blob) // 2] ^= 0x01
    bad.at[0, col] = bytes(blob)
    assert sr.check_blocks(bad, n_tok, min_len, ref)


def test_a_missing_block_fails_the_count_check(one_doc):
    frame, n_tok, min_len, _ = one_doc
    assert sr.check_blocks(frame.iloc[1:], n_tok, min_len, {})


# -- table_ingest output checks -----------------------------------------------

@pytest.fixture(scope='module')
def ingested():
    rng = np.random.default_rng(7)
    batches, first = [], 0
    for cycle in range(4):
        b = ti.make_batch(rng, cycle, first, 300)
        first += len(b)
        batches.append(b)
    rows = pd.concat(batches, ignore_index=True)
    assert rows['ts'].is_unique
    return rows


def _tier_from(rows, freq):
    ref = ti.oneshot_rollup(rows, freq)
    return ref.assign(sum_value=[Decimal(int(c)) / 100 for c in ref['sum_cents']]) \
              .drop(columns='sum_cents')


@pytest.mark.parametrize('freq', ['1min', '1h'])
def test_tier_check_accepts_the_oneshot_rollup(ingested, freq):
    assert ti.check_tier(_tier_from(ingested, freq), ingested, freq) == []


@pytest.mark.parametrize('freq', ['1min', '1h'])
def test_one_dropped_tier_row_fails_the_check(ingested, freq):
    tier = _tier_from(ingested, freq)
    assert ti.check_tier(tier.drop(index=len(tier) // 2), ingested, freq)


def test_one_changed_tier_value_fails_the_check(ingested):
    tier = _tier_from(ingested, '1h')
    tier.loc[3, 'max_value'] += 0.01
    assert ti.check_tier(tier, ingested, '1h')


def test_lookup_check_needs_exactly_the_generated_rows(ingested):
    want = ingested.iloc[[3, 50, 400]]
    assert ti.check_rows(want.copy(), want, 'lookup') == []
    assert ti.check_rows(want.iloc[:2], want, 'lookup')
    changed = want.copy()
    changed.iloc[1, changed.columns.get_loc('value')] += 1.0
    assert ti.check_rows(changed, want, 'lookup')


# -- whole runs ---------------------------------------------------------------

def _run(cwd, *args, timeout=600):
    return subprocess.run([sys.executable, 'perfbench/run.py', *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize('workload', [w['name'] for w in SPEC['workloads']])
def test_tiny_traced_run_prints_every_metric(workload, tmp_path):
    out = tmp_path / 'result.json'
    res = _result(_run(ROOT, '--workload', workload, '--seed', '3', '--seconds', '1',
                       '--trace', '1', '--tiny', '--out', str(out)))
    assert res['correct'] and res['failed'] == 0 and res['attempted'] >= 1
    assert set(res['metrics']) == {m['name'] for m in SPEC['per_layer']}
    saved = json.loads(out.read_text())
    assert {m['name'] for m in SPEC['end_to_end']} <= set(saved['values'])
    assert saved['spans'] and not os.path.exists(saved['scratch'])
    # the untimed check after the traced phase must not land on its last op
    ops = saved['traced_ops']
    jobs = [o['spark_jobs'] for o in ops if o['kind'] == ops[-1]['kind']]
    if workload != 'query_mix':              # one op per query there
        assert len(jobs) >= 2 and jobs[-1] <= max(jobs[:-1]), jobs


def test_untraced_run_prints_the_end_to_end_metrics():
    proc = _run(ROOT, '--workload', 'table_ingest', '--seed', '4', '--seconds', '1',
                '--trace', '0', '--tiny')
    res = _result(proc)
    assert set(res['metrics']) == {m['name'] for m in SPEC['end_to_end']}
    for m in SPEC['end_to_end']:
        assert f"\n{m['name']} " in '\n' + proc.stdout
        assert res['metrics'][m['name']]['value'] > 0


def test_run_without_the_engine_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, 'BENCHMARK.json'), tmp_path)
    shutil.copytree(os.path.join(ROOT, 'perfbench'), tmp_path / 'perfbench',
                    ignore=shutil.ignore_patterns('__pycache__'))
    proc = _run(tmp_path, '--workload', 'score_rollup', '--seed', '1', '--seconds', '1',
                '--trace', '0', timeout=120)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
