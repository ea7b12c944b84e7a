"""Correctness gates. Each returns a list of problems; empty means pass."""

from __future__ import annotations

from collections import Counter

import numpy as np

from kgspark import golden
from kgspark.constants import (
    BASE,
    CLS_PATIENT,
    P_AGE,
    P_CONDITION,
    P_LOCATED_AT,
    P_NAME,
    P_SPECIALIZES_IN,
    P_TREATS,
    RDF_TYPE,
    TRIPLE_COLUMNS,
)
from tools.check_oracles import canon, df_hash


def rows_key(rows, cols=None) -> Counter:
    """Order-insensitive multiset of canonicalized rows."""
    out: Counter = Counter()
    for r in rows:
        vals = [r[c] for c in cols] if cols else list(r)
        out[tuple(canon(v) for v in vals)] += 1
    return out


# --------------------------------------------------------------------------
# construct
# --------------------------------------------------------------------------

def golden_triples(triples_df, expected: set) -> tuple[list[str], tuple[float, float]]:
    got = {tuple(r) for r in triples_df.select(*TRIPLE_COLUMNS).collect()}
    p, r = golden.precision_recall(got, expected)
    problems = [] if (p, r) == (1.0, 1.0) else [f"golden triple P/R = {p:.4f}/{r:.4f}"]
    return problems, (p, r)


def dangling_endpoints(nodes, edges) -> list[str]:
    from pyspark.sql import functions as F

    n = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select("dst"))
        .distinct()
        .join(nodes.select("id"), "id", "left_anti")
        .count()
    )
    return [] if n == 0 else [f"{n} dangling edge endpoints"]


def _by_pred(triples: set) -> dict[str, list]:
    out: dict[str, list] = {}
    for t in triples:
        out.setdefault(t[1], []).append(t)
    return out


def _try_int(s: str):
    try:
        return int(s.strip())
    except ValueError:
        return None


def sparql_expected(name: str, triples: set, args: dict) -> Counter:
    """Pure-Python evaluation of kg_queries.sparql_q1..q3 over the
    golden triple set (bag semantics, like the DataFrame joins)."""
    by = _by_pred(triples)

    def pairs(pred):
        return [(t[0], t[2]) for t in by.get(pred, [])]

    def index(pred):
        d: dict[str, list[str]] = {}
        for s, o in pairs(pred):
            d.setdefault(s, []).append(o)
        return d

    names, rows = index(P_NAME), []
    if name == "sparql_q1":
        conds = index(P_CONDITION)
        prov = BASE + args["provider_slug"]
        for s, p in pairs(P_TREATS):
            if s == prov:
                rows += [(n, c) for n in names.get(p, []) for c in conds.get(p, [])]
    elif name == "sparql_q2":
        specs = index(P_SPECIALIZES_IN)
        loc = BASE + args["location_slug"]
        for doc, o in pairs(P_LOCATED_AT):
            if o == loc:
                rows += [(doc, n) for sp in specs.get(doc, []) for n in names.get(sp, [])]
    elif name == "sparql_q3":
        ages, conds = index(P_AGE), index(P_CONDITION)
        pats = [s for s, o in pairs(RDF_TYPE) if o == CLS_PATIENT]
        for p in pats:
            for n in names.get(p, []):
                for a in ages.get(p, []):
                    for c in conds.get(p, []):
                        ai = _try_int(a)
                        if ai is not None and ai >= args["min_age"] and c.lower() == args["condition"].lower():
                            rows.append((n, a, c))
    else:
        raise ValueError(name)
    return rows_key(rows)


# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------

def oracle_match(con, sql: str, cols: list[str], rows: list[tuple]) -> list[str]:
    """tools/check_oracles.py's comparison: schema, row count, value hash."""
    import pandas as pd

    ddf = con.execute(sql).fetchdf()
    d_cols = list(ddf.columns)
    d_rows = [
        tuple(None if v is pd.NaT else v for v in r)
        for r in ddf.itertuples(index=False, name=None)
    ]
    if sorted(cols) != sorted(d_cols):
        return [f"schema {sorted(cols)} != {sorted(d_cols)}"]
    if len(rows) != len(d_rows):
        return [f"rows {len(rows)} != {len(d_rows)}"]
    if df_hash(rows, cols) != df_hash(d_rows, d_cols):
        return ["value-hash mismatch"]
    return []


def exact_cosine_pairs(vecs: np.ndarray, threshold: float) -> set[tuple[int, int]]:
    """Brute-force (a < b) pairs with round(cos, 6) >= threshold."""
    v = vecs.astype(np.float64)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = np.round(v @ v.T, 6)
    a, b = np.nonzero(np.triu(sims >= threshold, k=1))
    return set(zip(a.tolist(), b.tolist()))


def lsh_pairs_exact(vecs: np.ndarray, pairs: list[tuple], threshold: float) -> tuple[list[str], int, int]:
    """Every returned pair's exact float64 cosine must reach the
    threshold (after the operator's 6-decimal rounding). Returns
    (problems, pairs found, brute-force pairs) for the recall count."""
    v = vecs.astype(np.float64)
    norms = np.linalg.norm(v, axis=1)
    bad = 0
    for a, b, _ in pairs:
        cos = float(v[a] @ v[b]) / (norms[a] * norms[b])
        if round(cos, 6) < threshold:
            bad += 1
    brute = exact_cosine_pairs(vecs, threshold)
    found = len({(a, b) for a, b, _ in pairs} & brute)
    problems = [f"{bad} returned pairs below cosine {threshold}"] if bad else []
    return problems, found, len(brute)
