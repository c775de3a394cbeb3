"""Tests of the benchmark itself: workload partition, metric names and
units, counter determinism, and its input generator and parsers.

    python3 -m pytest perfbench/tests -q

The end-to-end tests start the benchmark as a subprocess (a few minutes).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
import ledger  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

# Counters that must repeat exactly from one traced run to the next, and
# those of them that do not, with the reason (also in perfbench/README.md).
DETERMINISTIC = [
    "queries.jobs", "queries.tasks", "crossing.py_rows_out",
    "streaming.batches", "ops.snapshot.commit_calls",
]
NONDETERMINISTIC: dict[str, str] = {}


def test_workloads_partition_the_declared_entries():
    from e02_spark.queries import all_queries

    names = sorted(all_queries())
    grouped = [p for prefixes in workloads.GROUPS.values() for p in prefixes]
    assert sorted(grouped) == sorted(n.split("_", 1)[0] for n in names)
    full = workloads.resolve(names)
    assert sorted(full.values()) == names
    declared = sorted(w["name"] for w in SPEC["workloads"])
    for picked in (workloads.GROUPS, workloads.TIMED, workloads.TRACE_ONLY, workloads.PASSES):
        assert sorted(picked) == declared
    assert all(workloads.TIMED.values())


def test_partition_rejects_new_renamed_and_misplaced_entries(monkeypatch):
    from e02_spark.queries import all_queries

    names = sorted(all_queries())
    with pytest.raises(ValueError, match="in no workload"):
        workloads.resolve(names + ["q999_new_entry"])
    renamed = [n for n in names if not n.startswith("q01_")] + ["q001_pricing"]
    with pytest.raises(ValueError):
        workloads.resolve(renamed)
    for picked in ("TIMED", "TRACE_ONLY"):
        stray = {w: list(p) for w, p in getattr(workloads, picked).items()}
        stray["mart_text"].append("q86")
        with monkeypatch.context() as m:
            m.setattr(workloads, picked, stray)
            with pytest.raises(ValueError, match="outside its group"):
                workloads.resolve(names)
    groups = {w: list(p) for w, p in workloads.GROUPS.items()}
    groups["lakehouse_stream"].append("q01")
    monkeypatch.setattr(workloads, "GROUPS", groups)
    with pytest.raises(ValueError, match="is in"):
        workloads.resolve(names)


def test_datagen_is_a_function_of_sf_and_seed():
    a = datagen.build_tables(0.001, 7)
    b = datagen.build_tables(0.001, 7)
    c = datagen.build_tables(0.001, 8)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    from e02_spark.io import TABLES

    assert sorted(a) == sorted(TABLES)


def test_python_node_metrics_are_parsed_from_the_plan_dump():
    dot = (
        '  7 [id="node7" labelType="html" label="<b>MapInPandas</b><br><br>'
        "time to run Python workers total (min, med, max (stageId: taskId))<br>"
        "4.0 s (210 ms, 1.7 s, 1.8 s (stage 3.0: task 1))<br>"
        "data sent to Python workers total (min, med, max (stageId: taskId))<br>"
        "8.0 KiB (2.0 KiB, 2.0 KiB, 2.0 KiB (stage 3.0: task 1))<br>"
        'number of output rows: 1,000" tooltip="MapInPandas"];\n'
        '  8 [id="node8" labelType="html" label="<b>Project</b><br><br>'
        'number of output rows: 5" tooltip="Project"];\n'
    )
    nodes = list(ledger._python_nodes(dot))
    assert len(nodes) == 1
    node = nodes[0]
    assert node["run"] == (4.0, 1.8, (3, 0))
    assert node["sent"][0] == 8 * 1024
    assert node["rows"][0] == 1000
    # one task: Spark prints the bare total, which is also the task's max
    one_task = (
        '  8 [id="node8" labelType="html" label="<b>BatchEvalPythonUDTF</b><br><br>'
        "time to run Python workers: 1.5 s<br>"
        "data returned from Python workers: 318.1 KiB<br>"
        'number of output rows: 27,621" tooltip="BatchEvalPythonUDTF"];\n'
    )
    (node,) = ledger._python_nodes(one_task)
    assert node["run"] == (1.5, 1.5, None)
    assert node["recv"][0] == 318.1 * 1024
    assert node["rows"][0] == 27621


def _run(workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_declared(result: dict, kind: str) -> None:
    declared = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == declared
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_emits_every_end_to_end_metric(workload):
    result = _run(workload, seed=3, trace=0)
    _assert_declared(result, "end_to_end")
    for v in result["metrics"].values():
        assert v["value"] > 0


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_counters_repeat_exactly(workload):
    first = _run(workload, seed=5, trace=1)
    second = _run(workload, seed=6, trace=1)
    _assert_declared(first, "per_layer")
    _assert_declared(second, "per_layer")
    for name in DETERMINISTIC:
        if name in NONDETERMINISTIC:
            continue
        assert first["metrics"][name]["value"] == second["metrics"][name]["value"], name
