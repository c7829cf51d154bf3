"""Tests of the benchmark itself.

    python -m pytest perfbench -q

The reference tests need only numpy and pyarrow. The run tests start
``perfbench/run.py`` on a tiny input (``--scale``) for every workload,
untraced and traced, and take a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest

from perfbench import reference as ref
from perfbench.workloads import WORKLOADS

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _graph(pairs):
    src = np.array([p[0] for p in pairs], np.int64)
    dst = np.array([p[1] for p in pairs], np.int64)
    return ref.Graph(src, dst, np.ones(len(pairs)))


def test_reference_components_and_triangles():
    # triangle 1-2-3 with a tail 3-4, and a separate edge 10-11
    g = _graph([(1, 2), (2, 3), (3, 1), (4, 3), (11, 10)])
    assert list(g.ids) == [1, 2, 3, 4, 10, 11]
    assert list(ref.components(g)) == [1, 1, 1, 1, 10, 10]
    assert list(ref.triangles(g)) == [1, 1, 1, 0, 0, 0]


def test_reference_lpa_ties_go_to_lowest_label():
    # path 1-2-3: vertex 2 sees labels {1, 3} and takes 1; the ends
    # each see only 2
    g = _graph([(1, 2), (2, 3)])
    labels, rounds = ref.label_propagation(g, max_rounds=1)
    assert list(labels) == [2, 1, 2] and rounds == 1


def test_reference_pagerank_sums_to_one_and_stops_on_l1():
    g = _graph([(1, 2), (2, 3), (3, 1), (3, 4)])  # 4 is dangling
    rank, steps = ref.pagerank(g, tol=1e-9, max_iter=500)
    assert abs(rank.sum() - 1.0) < 1e-12
    assert 1 < steps < 500
    fixed, k = ref.pagerank(g, tol=0.0, max_iter=3)
    assert k == 3


def test_reference_edges_pair_consecutive_turns_and_tools():
    t = pa.table(
        {
            "conv_id": ["b", "a", "a", "a"],
            "turn_idx": [0, 2, 0, 5],
            "tool": [None, "x", "", None],
        }
    )
    got = ref.canonical(ref.edge_rows(t))
    want = ref.canonical(
        pa.table(
            {
                "src_key": ["a#2", "a#5", "a#2"],
                "dst_key": ["a#0", "a#2", "tool:x"],
                "type": ["replies_to", "replies_to", "invokes"],
            }
        )
    )
    assert ref.same_rows(got, want)


def test_benchmark_json_matches_the_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


def _run(args, cwd):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    return proc


@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_run_prints_every_metric(workload, trace):
    proc = _run(
        ["--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--scale", "0.02"],
        ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in spec}
    for m in spec:
        assert metrics[m["name"]]["unit"] == m["unit"]
        assert isinstance(metrics[m["name"]]["value"], float)
    if not trace:
        assert all(metrics[m["name"]]["value"] > 0 for m in spec)
        return
    for layer in WORKLOADS[workload].layers:
        assert metrics[f"{layer}.wall_s"]["value"] > 0, layer
        assert metrics[f"{layer}.jobs"]["value"] > 0, layer
        assert metrics[f"{layer}.tasks"]["value"] > 0, layer


def test_run_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(["--workload", "ingest", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], tmp_path)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
