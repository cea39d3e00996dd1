"""The benchmark's own tests: generator determinism, and a short run of
each workload at its benchmark size with every check on.

    python3 -m pytest perfbench/test_perfbench.py -q

The workload runs start a Spark session each (about half a minute apiece).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

from perfbench import gen
from perfbench.run import END_TO_END, PER_LAYER

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=600
    )


def test_same_seed_same_inputs():
    def make(seed):
        rng = np.random.default_rng(seed)
        ctr = gen.centres(rng)
        return gen.clustered(rng, ctr, 500), gen.queries(rng, ctr, 8), gen.corpus(rng, 120, 6, 3)

    (p1, q1, c1), (p2, q2, c2), (p3, _, c3) = make(7), make(7), make(8)
    assert np.array_equal(p1.vectors, p2.vectors) and p1.labels == p2.labels and q1 == q2
    assert c1 == c2
    assert not np.array_equal(p1.vectors, p3.vectors) and c1.docs != c3.docs


def test_planted_pairs_are_near_duplicates():
    c = gen.corpus(np.random.default_rng(3), 200, 10, 5)
    assert len(c.neardup_pairs) == 10
    for a, b, j in c.neardup_pairs:
        assert j == gen.jaccard(c.docs[a], c.docs[b]) and 0.5 <= j < 1.0
    assert all(c.docs[a] == c.docs[b] for a, b in c.exact_copies)


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", ["curate", "ingest", "serve"])
def test_workload_smoke(workload, trace):
    # the benchmark's own input sizes; a short window still runs each
    # workload's minimum (one ingest segment, three curate passes)
    p = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1", "--trace", trace)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result, record = json.loads(lines[-1]), json.loads(lines[-2])["run_record"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = PER_LAYER if trace == "1" else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if trace == "0":
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert record["master"] == f"local[{record['nproc']}]"
    assert record["named"]["error_rate"]["value"] == 0.0


def test_refuses_without_library(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = _run(str(tmp_path), "--workload", "ingest", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0 and p.stdout == ""
