"""Checks of the benchmark itself (slow: each case starts Spark twice).

    python3 -m pytest perfbench/test_perfbench.py -q

Job, stage and task counts of a build or a single probe are a property of
the plan, not of timing, so two traced runs on the same seed must report
them identically.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from data import Mixture, exact_topk  # noqa: E402
from spans import Counters, Span  # noqa: E402

COUNTS = ("_jobs", "_stages", "_tasks")
EXACT_REPEAT = {
    "point_serve": ("ivfflat.build", "hnsw.build", "sql.read", "ivfflat.read", "hnsw.read"),
    "batch_ingest": ("ivfflat.build", "hnsw.build"),
}


def traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "2", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0
    return {k: v["value"] for k, v in res["metrics"].items()}


@pytest.mark.parametrize("workload", sorted(EXACT_REPEAT))
def test_counts_repeat_exactly(workload):
    a, b = traced(workload, 7), traced(workload, 7)
    for layer in EXACT_REPEAT[workload]:
        for suffix in COUNTS:
            name = layer + suffix
            assert a[name] == b[name], (name, a[name], b[name])
            assert a[name] > 0 or layer == "hnsw.read", name


def test_inputs_follow_the_seed():
    a, b, c = Mixture(3), Mixture(3), Mixture(4)
    assert np.array_equal(a.draw("corpus", 50), b.draw("corpus", 50))
    assert not np.array_equal(Mixture(3).draw("corpus", 50), c.draw("corpus", 50))
    # streams are independent: drawing queries does not shift the corpus
    d = Mixture(3)
    d.draw("queries", 10)
    assert np.array_equal(d.draw("corpus", 50), Mixture(3).draw("corpus", 50))


def test_exact_topk_matches_brute_force():
    m = Mixture(5)
    corpus, queries = m.draw("corpus", 300), m.draw("queries", 7)
    got = exact_topk(corpus, queries, 10)
    for q, row in zip(queries, got):
        want = np.argsort(((corpus - q) ** 2).sum(1), kind="stable")[:10]
        assert row.tolist() == want.tolist()


def test_driver_only_time_subtracts_the_union_of_jobs():
    span = Span(0, "x", 1, None, start_ns=0, end_ns=100_000_000)  # 100 ms
    c = Counters(job_spans=[(10, 30), (20, 40), (90, 150)])  # ms, overlapping
    assert c.driver_only_ms(span) == pytest.approx(100 - 30 - 10)
