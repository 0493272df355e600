"""Smoke test of the benchmark at its smallest size.

    python3 -m pytest perfbench/test_smoke.py -q

The generator and reference tests need no Spark and take a second; the
end-to-end test runs all three workloads traced at the ``smoke`` size
(about three minutes on 4 cores).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pyarrow as pa

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gen  # noqa: E402
import layers  # noqa: E402
import reference  # noqa: E402
import workloads  # noqa: E402


def test_generators_are_seeded():
    a, ta = gen.make_crawl(7, 50, 5, 4)
    b, tb = gen.make_crawl(7, 50, 5, 4)
    c, _ = gen.make_crawl(8, 50, 5, 4)
    assert a.equals(b) and ta["edges"].equals(tb["edges"])
    assert not a.equals(c)
    d1, _ = gen.make_corpus(7, 40, 500, (20, 30), 0.2, 0.05)
    d2, _ = gen.make_corpus(7, 40, 500, (20, 30), 0.2, 0.05)
    assert d1.equals(d2)


def test_crawl_truth_counts_planted_dirt():
    table, truth = gen.make_crawl(3, 200, 20, 6)
    keys = [k for links in table.column("outlinks").to_pylist() for k, _ in links]
    fragments = sum("#" in k for k in keys)
    assert truth["outlinks"] == len(keys)
    assert truth["scan_edges"] == truth["edges"].num_rows + fragments
    assert all(s != d for s, d in zip(truth["edges"]["src"].to_pylist(), truth["edges"]["dst"].to_pylist()))


def test_trustrank_reference_on_a_triangle():
    # a->b, b->c, c->a with only `a` trusted: every vertex gets a score
    # inside the squash range
    edges = pa.table({"src": ["a", "b", "c"], "dst": ["b", "c", "a"]})
    cfg = workloads._trust_cfg()
    scores = reference.trustrank_scores(edges, ["a", "b", "c"], ["a"], cfg)
    assert set(scores) == {"a", "b", "c"}
    assert all(0.0 <= v <= cfg.scale for v in scores.values())


def test_benchmark_end_to_end_smoke():
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", "all", "--size", "smoke",
         "--seed", "1", "--seconds", "1", "--trace", "1"],
        capture_output=True, text=True, timeout=900, cwd=str(HERE.parent),
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 3, p.stdout
    want = {f"{w}.{m}" for w in workloads.WORKLOADS for m in layers.ROLE_METRICS}
    assert set(result["metrics"]) == want
