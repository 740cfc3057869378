"""Smoke test of the benchmark: every workload at tiny size, with every
correctness check, in a fresh process each. Run from the repository root:

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from gen import ProductGenerator, make_documents  # noqa: E402


def _run(cwd: str, workload: str, trace: int, seed: int = 1) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_generators_are_seeded():
    a, b = ProductGenerator(5), ProductGenerator(5)
    assert [a.page()[1] for _ in range(3)] == [b.page()[1] for _ in range(3)]
    assert ProductGenerator(6).page()[1] != ProductGenerator(5).page()[1]
    assert make_documents(5, 50) == make_documents(5, 50)


def test_generator_keeps_fixture_edge_cases():
    gen = ProductGenerator(3)
    products = [p for _ in range(20) for p in gen.page()[0]]
    grades = {p["nutriscore_grade"] for p in products}
    assert {None, "", "unknown"} <= grades and "B" in grades
    assert any(p["categories_tags"] is None for p in products)
    assert any(p["categories_tags"] == [] for p in products)
    assert any(p["additives_tags"] is None for p in products)
    assert any(not any(e["lang"] == "main" for e in p["product_name"]) for p in products)
    brands = {p["brands_tags"][0] for p in products if p["brands_tags"]}
    assert len(brands) > 200  # long-tail vocabulary, not a handful of keys


@pytest.mark.parametrize("workload", ["stream", "batch_llm"])
def test_tiny_run_is_correct(workload):
    spec = _spec()
    assert workload in {w["name"] for w in spec["workloads"]}
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        proc = _run(ROOT, workload, trace)
        assert proc.returncode == 0, proc.stderr[-3000:]
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
        assert result["attempted"] >= 1
        names = {m["name"]: m["unit"] for m in spec[key]}
        assert set(result["metrics"]) >= set(names)
        for name, unit in names.items():
            assert result["metrics"][name]["unit"] == unit
        if trace == 0:
            assert all(result["metrics"][n]["value"] > 0 for n in names)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "batch_llm", 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
