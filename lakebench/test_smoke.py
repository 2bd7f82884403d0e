"""Smoke tests of the benchmark itself (not of the program it measures).

    python -m pytest lakebench -q

The two end-to-end tests run each workload at ``--size tiny`` in a
subprocess (about a minute each on 4 cores).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

from lakebench import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _tree(root: str) -> dict[str, tuple[bytes, int]]:
    out = {}
    for base, _dirs, names in os.walk(root):
        for n in names:
            path = os.path.join(base, n)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = (fh.read(), int(os.path.getmtime(path)))
    return out


def test_same_seed_same_corpus(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    ma, mb = gen.make_corpus(a, 7, 120), gen.make_corpus(b, 7, 120)
    assert ma == mb
    assert gen.mutate_corpus(a, ma, 7, 0) == gen.mutate_corpus(b, mb, 7, 0)
    assert ma == mb
    assert _tree(a) == _tree(b)
    other = gen.make_corpus(str(tmp_path / "c"), 8, 120)
    assert other != ma


def test_corpus_shape(tmp_path):
    m = gen.make_corpus(str(tmp_path), 3, 2000)
    sizes = sorted(e["size"] for e in m.values())
    assert max(sizes) <= gen.SIZE_CAP
    assert 500 < sizes[len(sizes) // 2] < 2000  # median ~1 KB
    empties = sum(1 for s in sizes if s == 0)
    assert 5 <= empties <= 50  # ~1%
    assert {k.rsplit(".", 1)[1] for k in m} == set(gen.EXTENSIONS)
    assert any(k.count("/") >= 3 for k in m)  # nested dirs


def test_same_seed_same_tables(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    assert gen.make_tables(a, 5, scale=0.1) == gen.make_tables(b, 5, scale=0.1)
    assert {k: v for k, (v, _) in _tree(a).items()} == {
        k: v for k, (v, _) in _tree(b).items()
    }


def test_same_seed_same_schedule():
    keys = [("ds", f"k{i}") for i in range(50)]
    one = gen.make_schedule(9, keys, 25.0, 20.0)
    assert one == gen.make_schedule(9, keys, 25.0, 20.0)
    assert one != gen.make_schedule(10, keys, 25.0, 20.0)
    kinds = [r["kind"] for r in one]
    assert 350 < len(one) < 650  # ~25 req/s for 20 s
    assert 0.05 < kinds.count("missing") / len(kinds) < 0.15
    # Zipf: the most requested key takes a large share
    top = max(kinds.count(k) for k in set(kinds))
    assert top / len(one) > 0.2


def test_benchmark_json_names():
    spec = _spec()
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.fullmatch(m["name"]), m["name"]
    for w in spec["workloads"]:
        assert NAME.fullmatch(w["name"]), w["name"]


def _run(tmp_root: str, workload: str, trace: int) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "lakebench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "3", "--trace", str(trace), "--size", "tiny"],
        cwd=tmp_root, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


@pytest.mark.parametrize("workload", ["analytics", "lake"])
def test_tiny_run_is_clean(workload):
    spec = _spec()
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        code, lines = _run(ROOT, workload, trace)
        assert code == 0
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] is True
        assert result["failed"] == 0 and result["attempted"] >= 1
        assert set(result["metrics"]) == {m["name"] for m in spec[key]}
        for name, m in result["metrics"].items():
            assert NAME.fullmatch(name)
            assert isinstance(m["value"], (int, float))
        detail = json.loads(lines[-2])["detail"]
        assert detail["ops_failed_ratio"] == 0
        assert all(NAME.fullmatch(k) for k in detail)


def test_refuses_without_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "lakebench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    code, lines = _run(str(tmp_path), "lake", 0)
    assert code != 0
    assert not any(line.startswith('{"correct"') for line in lines)
