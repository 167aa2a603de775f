"""Output checks for the benchmark, run after every timed interval.

Query rows are compared against their DuckDB oracle SQL on the same
parquet tables, canonicalized exactly as tools/check_oracle.py does.
Fitted models are held to quality gates that are structural on the
planted signal of gen_boost.py: the dominant feature f0 decides every
label, so the gates hold with wide slack on any seed and any layout.
"""
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _canon():
    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    sys.path.insert(0, tools)
    try:
        from check_oracle import canon
    finally:
        sys.path.remove(tools)
    return canon


def _same(a: pd.DataFrame, b: pd.DataFrame):
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs oracle {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows vs oracle {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype != bv.dtype:
            try:
                bv = bv.astype(av.dtype)
            except Exception:
                return f"column {c}: dtype {av.dtype} vs oracle {bv.dtype}"
        eq = (av == bv) | (av.isna() & bv.isna())
        if not eq.all():
            i = (~eq).idxmax()
            return f"column {c}: {av[i]!r} vs oracle {bv[i]!r}"
    return None


def check_queries(data_dir: str, dump_dir: str, names):
    """[(name, error or None)] for every query row in `names`."""
    canon = _canon()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t + '.parquet')}'")
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    out = []
    for name in names:
        path = os.path.join(dump_dir, name)
        if not os.path.isdir(path):
            out.append((name, "no output written"))
            continue
        got = pd.read_parquet(path)
        if name not in oracles:
            out.append((name, None if len(got) > 0 else "empty result"))
            continue
        want = con.execute(oracles[name]).df()
        out.append((name, _same(canon(got), canon(want))))
    con.close()
    return out


def _corr(a, b):
    return float(np.corrcoef(a, b)[0, 1])


def _proba_ok(proba, k):
    p = np.stack(proba.to_numpy())
    return p.shape[1] == k and np.all(p >= 0) and np.all(p <= 1) and \
        np.allclose(p.sum(axis=1), 1.0, atol=1e-6)


def _pair_concordance(df, score):
    """Share of same-group pairs with different relevance that `score` orders right."""
    good = total = 0
    for _, g in df.groupby("qid"):
        r = g["rel"].to_numpy()
        s = g[score].to_numpy()
        dr = np.sign(r[:, None] - r[None, :])
        ds = np.sign(s[:, None] - s[None, :])
        mask = dr > 0
        total += int(mask.sum())
        good += int((ds[mask] > 0).sum())
    return good / max(total, 1)


# path -> (gate description, predicate over the joined test frame)
GATES = {
    "native_binary": ("accuracy >= 0.85, 2-class proba",
                      lambda d: (d.prediction == d.label).mean() >= 0.85 and _proba_ok(d.proba, 2)),
    "mllib_binary": ("accuracy >= 0.85, 2-class proba",
                     lambda d: (d.prediction == d.label).mean() >= 0.85 and _proba_ok(d.proba, 2)),
    "mllib_regression": ("corr(pred, y) >= 0.8", lambda d: _corr(d.prediction, d.y) >= 0.8),
    "softprob": ("accuracy >= 0.7, 4-class proba",
                 lambda d: (d.prediction == d.cls).mean() >= 0.7 and _proba_ok(d.proba, 4)),
    "quantile": ("corr(pred, y) >= 0.8", lambda d: _corr(d.prediction, d.y) >= 0.8),
    "poisson": ("pred > 0, corr(log pred, log mu) >= 0.8",
                lambda d: (d.prediction > 0).all() and
                _corr(np.log(d.prediction), np.log(d.mu)) >= 0.8),
    "rank_pairwise": ("within-group pair concordance >= 0.8",
                      lambda d: _pair_concordance(d, "prediction") >= 0.8),
    "gblinear": ("corr(pred, y) >= 0.8", lambda d: _corr(d.prediction, d.y) >= 0.8),
}


def check_boost(frame: pd.DataFrame, dump_dir: str):
    """[(path, error or None)] for every training path."""
    test = frame[frame.is_test]
    out = []
    for name, (desc, gate) in GATES.items():
        path = os.path.join(dump_dir, name)
        if not os.path.isdir(path):
            out.append((name, "no predictions written"))
            continue
        d = pd.read_parquet(path).merge(test, on="id")
        if len(d) != len(test):
            out.append((name, f"{len(d)} scored test rows, want {len(test)}"))
        elif not gate(d):
            out.append((name, f"gate failed: {desc}"))
        else:
            out.append((name, None))
    return out
