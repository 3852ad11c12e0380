"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke tests start Spark once per workload and trace mode on a tiny
corpus (a few minutes in total on 4 cores).
"""

from __future__ import annotations

import contextlib
import dataclasses
import io
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run, status, workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

# tiny corpora: a few hundred pages, enough for every layer to do some work
TINY = {"crawl-dense": 90, "crawl-incremental": 320}


def _bytes(workload: str, seed: int, out: str) -> dict[str, bytes]:
    paths = workloads.write_parquet(workloads.generate(workload, seed), out)
    return {k: open(p, "rb").read() for k, p in paths.items()}


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_inputs_are_a_function_of_the_seed(workload, tmp_path, monkeypatch):
    monkeypatch.setitem(workloads.SHAPES, workload, dataclasses.replace(
        workloads.SHAPES[workload], n_base=TINY[workload]))
    a = _bytes(workload, 7, str(tmp_path / "a"))
    b = _bytes(workload, 7, str(tmp_path / "b"))
    c = _bytes(workload, 8, str(tmp_path / "c"))
    assert a == b
    assert all(a[k] != c[k] for k in a)


def test_spec_names_the_workloads_and_units():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    assert "setup_s" in e2e
    assert all(m["better"] in ("higher", "lower") for m in SPEC["end_to_end"] + SPEC["per_layer"])


_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (7)
+- == Final Plan ==
   ResultQueryStage (4)
   +- ShuffleQueryStage (3)
      +- Exchange (2)
         +- Scan parquet  (1)
+- == Initial Plan ==
   Sort (6)
   +- Exchange (5)
      +- Scan parquet  (1)


(1) Scan parquet
Output [2]: [doc_id#1L, sketch#2]

(2) Exchange
Input [2]: [doc_id#1L, sketch#2]
Arguments: hashpartitioning(doc_id#1L, 8)

(3) ShuffleQueryStage
Output [2]: [doc_id#1L, sketch#2]

(4) ResultQueryStage
Output [2]: [doc_id#1L, sketch#2]

(5) Exchange
Input [2]: [doc_id#1L, sketch#2]

(6) Sort
Input [2]: [doc_id#1L, sketch#2]

(7) AdaptiveSparkPlan
Output [2]: [doc_id#1L, sketch#2]
"""


def test_plan_counts_read_only_the_final_plan():
    assert status.plan_counts([_PLAN]) == {
        "exchanges": 1, "sketch_exchanges": 1, "sorts": 0, "broadcasts": 0}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_smoke_run_is_correct_and_prints_the_spec(workload, trace, monkeypatch):
    monkeypatch.setitem(workloads.SHAPES, workload, dataclasses.replace(
        workloads.SHAPES[workload], n_base=TINY[workload]))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = run.main(["--workload", workload, "--seed", "3", "--seconds", "1",
                       "--trace", str(trace)])
    assert rc == 0
    result = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl-dense",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout == ""
