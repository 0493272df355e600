"""Independent references the benchmark checks the engine's outputs against.

* LinkRank and HostRank: the unrolled DuckDB oracle
  ``queries.graph.linkrank_oracle_sql`` over the generator's expected clean
  edge set (not over the engine's own cleaned edges).
* TrustRank: a numpy power iteration written from the algorithm's
  definition (seeds, dangling mass to trusted vertices, Normal-CDF squash).
* Near-duplicate clusters: recall of the planted pairs and a fingerprint of
  the whole output.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pyarrow as pa

SCORE_TOL = 1e-6

# Abramowitz & Stegun 7.1.26: the erf the engine's Normal-CDF epilogue uses
_P = 0.3275911
_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)


def _erf(x: np.ndarray) -> np.ndarray:
    t = 1.0 / (1.0 + _P * np.abs(x))
    poly = ((((_A[4] * t + _A[3]) * t + _A[2]) * t + _A[1]) * t + _A[0]) * t
    return np.where(x >= 0, 1.0, -1.0) * (1.0 - poly * np.exp(-(x * x)))


def _cdf_squash(score: np.ndarray, scale: float) -> np.ndarray:
    lx = np.log(score)
    mu = lx.mean()
    sigma = lx.std() or 1e-10
    return 0.5 * (1.0 + _erf((lx - mu) / (sigma * math.sqrt(2.0)))) * scale


def linkrank_scores(edges: pa.Table, cfg) -> dict[str, float]:
    """id -> LinkRank score from the DuckDB oracle over ``edges``."""
    import duckdb

    from giranking_spark.queries.graph import linkrank_oracle_sql

    con = duckdb.connect()
    try:
        con.register("expected_edges", edges)
        rows = con.execute(
            linkrank_oracle_sql(cfg, "SELECT DISTINCT src, dst FROM expected_edges")
        ).fetchall()
    finally:
        con.close()
    return dict(rows)


def trustrank_scores(
    edges: pa.Table, crawled: list[str], trusted: list[str], cfg
) -> dict[str, float]:
    """id -> TrustRank score by power iteration. Vertices are the crawled
    hosts and every edge endpoint; crawled hosts flagged trusted start at
    1.0, all others at 0.0. Each update sends score/outdeg along out-edges
    and hands the dangling mass to trusted vertices only."""
    src = edges.column("src").to_pylist()
    dst = edges.column("dst").to_pylist()
    ids = sorted(set(crawled) | set(src) | set(dst))
    index = {v: i for i, v in enumerate(ids)}
    s = np.array([index[v] for v in src], dtype=np.int64)
    t = np.array([index[v] for v in dst], dtype=np.int64)
    n = len(ids)
    seed = np.zeros(n, dtype=bool)
    seed[[index[v] for v in trusted]] = True
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    score = seed.astype(np.float64)
    n_trusted = int(seed.sum())
    for _ in range(cfg.num_updates):
        msg = np.bincount(t, weights=score[s] / outdeg[s], minlength=n)
        dangling = score[outdeg == 0].sum()
        share = np.where(seed, dangling / n_trusted, 0.0) if n_trusted else 0.0
        score = cfg.teleport / n + cfg.damping * (msg + share)
    return dict(zip(ids, _cdf_squash(score, cfg.scale).tolist()))


def score_mismatches(got: dict[str, float], want: dict[str, float], what: str) -> list[str]:
    """Failures (at most a few, named) when ``got`` differs from ``want``."""
    if got.keys() != want.keys():
        extra = sorted(got.keys() - want.keys())[:3]
        missing = sorted(want.keys() - got.keys())[:3]
        return [f"{what}: {len(got)} ids, want {len(want)} (extra {extra}, missing {missing})"]
    bad = [k for k, v in want.items() if not abs(got[k] - v) <= SCORE_TOL]
    if bad:
        k = bad[0]
        return [f"{what}: {len(bad)} scores off by > {SCORE_TOL} (e.g. {k}: {got[k]} vs {want[k]})"]
    return []


def planted_pairs(base_of: np.ndarray, doc_ids: np.ndarray) -> set[tuple[int, int]]:
    """Every (a, b), a < b, of documents planted in the same cluster."""
    groups: dict[int, list[int]] = {}
    for d, b in zip(doc_ids.tolist(), base_of.tolist()):
        groups.setdefault(b, []).append(d)
    pairs = set()
    for members in groups.values():
        members.sort()
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                pairs.add((a, b))
    return pairs


def cluster_recall(clusters: dict[int, int], pairs: set[tuple[int, int]]) -> float:
    """Share of planted pairs whose two documents share an output cluster."""
    if not pairs:
        return 1.0
    return sum(clusters.get(a) == clusters.get(b) for a, b in pairs) / len(pairs)


def fingerprint(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]
