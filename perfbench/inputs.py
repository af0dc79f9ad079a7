"""query_mix inputs: seeded row samples of the contract's sf0.1 tables.

``perfbench/data`` holds a fixed sample of the sf0.1 ``events``,
``documents`` and ``embeddings`` tables (same columns, types and values; the
other sf0.1 rows left out).  Each run draws its own smaller sample from it
with :func:`sample_tables`, seeded by ``--seed``, and writes it as parquet
into the run's scratch directory.  Both samples keep the structure the
queries depend on:

- ``events``: every event of a sample of users, so each user keeps its whole
  30-day history at the real event density (the gap-fill spines, as-of
  matches and rolling windows are those of sf0.1 users);
- ``documents``: whole duplicate clusters (a doc, its copies with ``' dup'``
  appended and exact copies), so the near-duplicate share stays that of
  sf0.1 instead of falling with the square of the sampling rate;
- ``embeddings``: the query vector (``vec_id = 0``) and a uniform sample
  of the others.

The committed sample was made from the sf0.1 tables with::

    python3 perfbench/inputs.py --sf <dir with sf0.1 parquet files>
"""
from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), 'data')
POOL = dict(n_users=300, n_docs=1000, n_vecs=800)     # the committed sample's size
TABLES = ('events', 'documents', 'embeddings')


def sample_events(table: pa.Table, rng: np.random.Generator, n_users: int) -> pa.Table:
    users = np.unique(table.column('user_id').to_numpy())
    pick = rng.choice(users, size=min(n_users, len(users)), replace=False)
    return table.filter(pc.is_in(table.column('user_id'), pa.array(pick))).sort_by('event_id')


def sample_documents(table: pa.Table, rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Whole clusters, in seeded order, until there are ``n_docs`` docs."""
    texts = table.column('text').to_pylist()
    base = [t[:-4] if t.endswith(' dup') else t for t in texts]
    clusters: dict = {}
    for i, b in enumerate(base):
        clusters.setdefault(b, []).append(i)
    groups = list(clusters.values())
    rows: list = []
    for g in rng.permutation(len(groups)):
        if len(rows) >= n_docs:
            break
        rows += groups[g]
    return table.take(pa.array(sorted(rows))).sort_by('doc_id')


def sample_embeddings(table: pa.Table, rng: np.random.Generator, n_vecs: int) -> pa.Table:
    """Vector 0 (the contract queries' query vector) and a uniform sample
    of the others."""
    ids = table.column('vec_id').to_numpy()
    rest = np.flatnonzero(ids != 0)
    rows = np.concatenate([np.flatnonzero(ids == 0),
                           rng.choice(rest, size=min(n_vecs - 1, len(rest)), replace=False)])
    return table.take(pa.array(np.sort(rows))).sort_by('vec_id')


def sample_tables(src_dir: str, out_dir: str, seed: int, n_users: int, n_docs: int,
                  n_vecs: int) -> None:
    """Write ``events``/``documents``/``embeddings`` parquet files sampled
    from ``src_dir`` (one file, one split each, like the contract tables)."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    src = {t: pq.read_table(os.path.join(src_dir, f'{t}.parquet')) for t in TABLES}
    out = {'events': sample_events(src['events'], rng, n_users),
           'documents': sample_documents(src['documents'], rng, n_docs),
           'embeddings': sample_embeddings(src['embeddings'], rng, n_vecs)}
    for name, table in out.items():
        pq.write_table(table, os.path.join(out_dir, f'{name}.parquet'))


if __name__ == '__main__':
    ap = argparse.ArgumentParser(description='Make perfbench/data from the sf0.1 tables.')
    ap.add_argument('--sf', required=True, help='directory with the sf0.1 parquet tables')
    sample_tables(ap.parse_args().sf, DATA_DIR, 0, **POOL)
