"""The benchmark's own tests: metric lists, input generation, the event-log
parser, the refusal to run without the program, and one smoke run per
workload (tiny inputs; each starts a JVM, so the file takes a few minutes).

    python3 -m pytest perfbench -q
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
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_benchmark_json_lists_the_printed_metrics():
    spec = _bench_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for w in spec["workloads"]:
        assert per_layer == run.per_layer_units(w["name"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_writer_inputs_follow_the_seed(tmp_path):
    tables = gen.make_tables(str(tmp_path / "data"), 0.001)
    assert gen.make_tables(str(tmp_path / "data"), 0.001) == tables  # cached

    def incr(seed: int, name: str) -> list[bytes]:
        inputs = gen.make_writer_inputs(tables, str(tmp_path / "data"), str(tmp_path / name), seed)
        assert inputs["rows_updated"] == inputs["rows_full"] // 10
        out = []
        for p in inputs["incr_slices"]:
            with open(p, "rb") as fh:
                out.append(fh.read())
        return out

    assert incr(3, "a") == incr(3, "b")
    assert incr(3, "c") != incr(4, "d")


def test_make_tables_regenerates_a_corrupted_cache(tmp_path):
    tables = gen.make_tables(str(tmp_path), 0.001)
    with open(os.path.join(tables, "region.parquet"), "ab") as fh:
        fh.write(b"x")
    assert not gen._verified(tables)
    gen.make_tables(str(tmp_path), 0.001)
    assert gen._verified(tables)


def test_eventlog_groups_and_engine_metrics(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "t0/q/exec"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
    ]
    for stage, dur in ((0, 100), (0, 300), (1, 50), (2, 10)):
        events.append(
            {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
             "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + dur, "Accumulables": [
                 {"Name": "data sent to Python workers", "Update": 7}]},
             "Task Metrics": {"Executor Run Time": dur, "Executor CPU Time": dur * 10**6,
                              "Shuffle Write Metrics": {"Shuffle Bytes Written": 5}}}
        )
    for stage, wall in ((0, 400), (1, 50), (2, 10)):
        events.append({"Event": "SparkListenerStageCompleted",
                       "Stage Info": {"Stage ID": stage, "Submission Time": 0, "Completion Time": wall}})
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    groups = tracing.parse_eventlog(str(tmp_path))
    assert groups["untagged"].jobs == 1 and groups["untagged"].tasks == 1
    g = tracing.merged(groups, "t0")
    assert (g.jobs, g.tasks, g.shuffle_write, g.python_bytes) == (1, 3, 15, 21)
    m = tracing.engine_metrics(g, wall_s=1.0, cores=4)
    assert m["spark.executor_cpu_s"] == pytest.approx(0.45)
    assert m["spark.stage_tail_frac"] == pytest.approx((300 + 50) / 450)
    assert m["spark.stage_parallelism"] == pytest.approx(450 / 450)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_lsh", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.mark.parametrize(
    "workload,trace",
    [("writer_cycle", 0), ("writer_cycle", 1), ("query_lsh", 1), ("query_relational", 0)],
)
def test_smoke(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=170,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    want = run.per_layer_units(workload) if trace else run.END_TO_END
    assert set(result["metrics"]) == set(want)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    if trace and workload == "writer_cycle":
        assert result["metrics"]["retry.attempts"]["value"] == 2
    if trace and workload == "query_lsh":
        # every eager build-phase job of the LSH queries runs at smoke size too
        assert result["metrics"]["plan.build_jobs"]["value"] == 8
