"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -m "" -q

The repository's pytest.ini selects the ``core`` marker by default; the
empty ``-m`` expression lifts that filter for these tests. The smoke
test starts one Spark session per workload and trace mode, so it takes
several minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    BATCH_QUERIES,
    NEW_PER_BLOCK,
    batch_order,
    cypher_blocks,
    cypher_plan,
    write_plan,
)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_same_seed_same_operations():
    assert cypher_plan(7, 1500, 15000, 3) == cypher_plan(7, 1500, 15000, 3)
    assert write_plan(7, 1500, 15000, 2) == write_plan(7, 1500, 15000, 2)
    assert batch_order(7) == batch_order(7)


def test_other_seed_other_operations():
    assert cypher_plan(7, 1500, 15000, 3) != cypher_plan(8, 1500, 15000, 3)
    assert write_plan(7, 1500, 15000, 2) != write_plan(8, 1500, 15000, 2)
    assert batch_order(7) != batch_order(8)
    assert sorted(batch_order(8)) == sorted(BATCH_QUERIES)


def test_cypher_blocks_share_one_composition():
    hot, plan = cypher_plan(3, 1500, 15000, 3)
    names = sorted(n for n, _k in hot)
    seen = set(hot)
    for block in plan:
        assert sorted(n for n, _k, _r in block) == sorted(names * (1 + NEW_PER_BLOCK))
        assert sum(r for _n, _k, r in block) == len(names)
        for name, k, repeat in block:
            # a repeat is a warmed text; a new text never occurred before
            assert ((name, k) in hot) if repeat else ((name, k) not in seen)
            seen.add((name, k))
    assert plan[0] != cypher_plan(4, 1500, 15000, 3)[1][0]


def test_cypher_window_is_a_block_count():
    assert [cypher_blocks(s) for s in (1, 12, 60)] == [1, 3, 15]


def test_write_blocks_touch_distinct_new_and_deleted_keys():
    warm, measured = write_plan(3, 1500, 15000, 2)
    assert [kind for kind, _k, _v in warm] == [kind for kind, _k, _v in measured]
    once = [(kind, k) for kind, k, _v in warm + measured
            if kind in ("create", "merge_miss", "delete")]
    assert len(set(once)) == len(once)


def test_inputs_follow_the_seed():
    a, b, c = datagen.generate(5, 0.001), datagen.generate(5, 0.001), datagen.generate(6, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["orders"].equals(c["orders"])
    assert a["customer"].num_rows == datagen.rows_at(0.001)["customer"]


def run_bench(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert report["metrics"]["error_rate"]["value"] == 0
    assert {"cores", "driver_heap_mb", "sf"} <= set(report)
    return result, report


def assert_metrics(result: dict, wanted: list[dict]) -> None:
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_prints_every_metric_with_unit(workload, trace):
    result, _report = run_bench(workload, trace)
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    assert_metrics(result, wanted)


def test_smoke_corpus_batch():
    """The by-hand batch workload: end-to-end metrics plus its own
    per-query layer figures in the report of a traced run."""
    result, report = run_bench("corpus_batch", 0)
    assert_metrics(result, SPEC["end_to_end"])
    assert report["metrics"]["batch_wall_s"]["value"] > 0
    result, _report = run_bench("corpus_batch", 1)
    assert_metrics(result, SPEC["per_layer"])
    for q in BATCH_QUERIES:
        assert result["metrics"][f"corpus.{q}.exec_s"]["value"] > 0
