"""Fast self-check of the benchmark at tiny input sizes.

    python3 -m pytest perfbench -q

For each workload: a traced run must pass its output checks and emit
every per-layer metric BENCHMARK.json names; an untraced run whose
output is deliberately corrupted before the check must emit every
end-to-end metric and report the corruption as a failed operation.
The generators must be deterministic in their seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, *flags: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "0.1", "--scale", "0.02", *flags]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _assert_metrics(result: dict, spec: list[dict]) -> None:
    assert sorted(result["metrics"]) == sorted(m["name"] for m in spec)
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


def test_benchmark_lists_known_workloads():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_emits_every_per_layer_metric(workload):
    r = _run(workload, "--trace", "1")
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    _assert_metrics(r, SPEC["per_layer"])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_corrupted_output_raises_error_rate(workload):
    r = _run(workload, "--trace", "0", "--corrupt")
    _assert_metrics(r, SPEC["end_to_end"])
    assert r["failed"] >= 1 and not r["correct"]
    assert all(v["value"] > 0 for v in r["metrics"].values())


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_generators_are_deterministic(tmp_path):
    digests = []
    for run in range(2):
        out = tmp_path / str(run)
        gen.fixture_dir(np.random.default_rng(5), str(out / "sf"), 0.0005)
        corpus = gen.documents(np.random.default_rng(5), 400)
        gen.write(corpus.table, str(out / "docs.parquet"))
        rng = np.random.default_rng(5)
        gen.write(gen.locations(rng, 3000, gen.cities()), str(out / "loc.parquet"))
        digests.append(sorted(_digest(str(p)) for p in out.rglob("*.parquet")))
    assert digests[0] == digests[1]


def test_planted_corpus_expectation():
    c = gen.documents(np.random.default_rng(7), 2000)
    n_bench = len(range(0, 2000, gen.BENCH_EVERY))
    assert c.n_bench == n_bench
    assert c.expected_kept == 2000 - n_bench - c.n_contaminated - c.n_dup_removed
    # every planted pair whose members both survive decontamination loses one
    assert c.n_dup_removed >= len(range(gen.DUP_EVERY, 2000, gen.DUP_EVERY)) - 2 * n_bench
