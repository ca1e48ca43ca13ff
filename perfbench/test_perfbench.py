"""Toy-size self-test of the benchmark harness (a few minutes; not part of
the tier-1 suite):

    python3 -m pytest perfbench -q -p no:cacheprovider

It runs perfbench/run.py on tiny corpora and checks the result line against
BENCHMARK.json: every metric is emitted with its unit, every ``kg:`` phase
that launches jobs is attributed in the traced run, and another seed
changes the inputs but not the metric set.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: the run_pipeline phases that launch Spark jobs
KG_PHASES = (
    "stage_a",
    "stage_b_linking",
    "stage_c_components",
    "stage_e_entities_write",
    "stage_e_triples_write",
    "stage_e_metrics_small_tables",
)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, seed: int, trace: int):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def _units(result):
    return {name: m["unit"] for name, m in result["metrics"].items()}


@pytest.fixture(scope="module")
def traced():
    return {seed: _run("kg_batch", seed, 1) for seed in (1, 2)}


def test_untraced_run_emits_every_end_to_end_metric():
    _report, result = _run("kg_wide_vocab", 1, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert _units(result) == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_traced_run_emits_every_per_layer_metric(traced):
    for _report, result in traced.values():
        assert result["correct"] and result["failed"] == 0
        assert _units(result) == {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def test_traced_run_attributes_every_kg_phase(traced):
    for report, _result in traced.values():
        phases = {m.group(1) for line in report
                  if (m := re.match(r"phase kg:(\S+):", line))}
        assert set(KG_PHASES) <= phases, phases
        assert "unlabelled" not in phases


def test_other_seed_changes_inputs_not_metric_set(traced):
    (rep1, res1), (rep2, res2) = traced[1], traced[2]
    inputs1 = [line for line in rep1 if line.startswith("inputs:")]
    inputs2 = [line for line in rep2 if line.startswith("inputs:")]
    assert inputs1 and inputs1 != inputs2
    assert _units(res1) == _units(res2)
