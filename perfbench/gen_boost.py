"""Seeded input generator for the boost_fit_score workload.

Writes one parquet frame with a planted signal: feature `f0` dominates
every label, so the held-out quality gates in check.py hold by
construction on any seed and any partition layout.

Columns:
  id          row id (int64)
  f0 .. f7    float64 features; f3, f4 and f5 carry ~10% NaN markers
  label       binary label (int32), sign of a logit dominated by f0
  cls         4-class label (int32), the quartile bucket of f0
  y           regression target (float64), linear in f0 and f1 plus noise
  cnt         count label (int32), Poisson with log-rate linear in f0
  mu          the true Poisson rate of `cnt` (never a feature)
  qid         query-group id (int64), 16 rows per group
  rel         graded relevance (int32) for ranking, the f0 bucket again
  is_test     held-out flag (bool), every fifth row after a seeded shuffle
"""
import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NUM_FEATURES = 8
NAN_FEATURES = (3, 4, 5)
NAN_SHARE = 0.10
GROUP_SIZE = 16


def make_table(seed: int, rows: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    f = rng.standard_normal((rows, NUM_FEATURES))
    f0, f1 = f[:, 0], f[:, 1]
    logit = 4.0 * f0 + 0.5 * f1 + 0.5 * rng.standard_normal(rows)
    label = (logit > 0).astype(np.int32)
    cls = np.digitize(f0, [-0.6745, 0.0, 0.6745]).astype(np.int32)
    y = 3.0 * f0 + 0.5 * f1 + 0.3 * rng.standard_normal(rows)
    mu = np.exp(0.8 * f0 + 0.1 * f1 + 0.5)
    cnt = rng.poisson(mu).astype(np.int32)
    for j in NAN_FEATURES:
        f[rng.random(rows) < NAN_SHARE, j] = np.nan
    is_test = np.zeros(rows, dtype=bool)
    is_test[rng.permutation(rows)[: rows // 5]] = True
    cols = {"id": np.arange(rows, dtype=np.int64)}
    cols.update({f"f{j}": f[:, j] for j in range(NUM_FEATURES)})
    cols.update({
        "label": label, "cls": cls, "y": y, "cnt": cnt, "mu": mu,
        "qid": np.arange(rows, dtype=np.int64) // GROUP_SIZE,
        "rel": cls.copy(), "is_test": is_test,
    })
    return pa.table(cols)


def digest(table: pa.Table) -> str:
    """SHA-256 over every column's values in row order."""
    h = hashlib.sha256()
    for name in table.column_names:
        h.update(name.encode())
        h.update(table.column(name).to_numpy(zero_copy_only=False).tobytes())
    return h.hexdigest()


def write(seed: int, rows: int, path: str) -> pa.Table:
    table = make_table(seed, rows)
    # several row groups, so the engine's scan can split the file
    pq.write_table(table, path, row_group_size=max(1, rows // 8))
    return table
