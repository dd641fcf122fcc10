"""Traced-run instrumentation: spans around the program's public functions,
Spark job groups, and the event-log parser.

Spans live only in the traced run. ``Tracer.install`` swaps wrappers onto
the module attributes the program looks up at call time, and
``Tracer.uninstall`` puts the originals back; no program file is edited.
Each span also names the Spark job group, ``<label>/<layer>``, so every job
in the event log can be attributed to the pass, phase and layer that
started it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.label = "untagged"
        self.spans: list[tuple[str, str, float]] = []  # (label, layer, seconds)
        self.counts: dict[tuple[str, str], int] = defaultdict(int)
        self._saved: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, layer: str):
        prev = self.sc.getLocalProperty(_GROUP)
        group = f"{self.label}/{layer}"
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((self.label, layer, time.perf_counter() - t0))
            self.sc.setLocalProperty(_GROUP, prev)

    def seconds(self, label: str, layer: str) -> float:
        return sum(s for lb, ly, s in self.spans if lb == label and ly == layer)

    def _wrap(self, module, attr: str, layer: str) -> None:
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(layer):
                return orig(*args, **kwargs)

        self._saved.append((module, attr, orig))
        setattr(module, attr, traced)

    def install(self) -> None:
        """Wrap the writer path's public functions (where the program looks
        them up: ``app`` imported ``ingest_table`` and ``run_with_retry`` by
        name, the rest are called through their modules)."""
        from db_writer_redshift_spark import app
        from db_writer_redshift_spark.operators import catalog, writer
        from db_writer_redshift_spark.sources import csv_ingest

        self._wrap(app, "ingest_table", "csv_ingest")
        self._wrap(csv_ingest, "validate_load", "validate")
        self._wrap(writer, "load_full", "writer")
        self._wrap(writer, "load_incremental", "writer")
        self._wrap(catalog, "analyze_table", "analyze")
        self._wrap(catalog, "drop_table", "drop")

        orig_retry = app.run_with_retry

        @functools.wraps(orig_retry)
        def traced_retry(fn, *args, **kwargs):
            label = self.label

            def attempt():
                self.counts[(label, "retry.attempts")] += 1
                return fn()

            self.counts[(label, "retry.calls")] += 1
            return orig_retry(attempt, *args, **kwargs)

        self._saved.append((app, "run_with_retry", orig_retry))
        app.run_with_retry = traced_retry

    def uninstall(self) -> None:
        while self._saved:
            module, attr, orig = self._saved.pop()
            setattr(module, attr, orig)


# -- event log -----------------------------------------------------------------


class StageStats:
    __slots__ = ("wall_ms", "task_ms_max", "task_ms_sum")

    def __init__(self) -> None:
        self.wall_ms = 0
        self.task_ms_max = 0
        self.task_ms_sum = 0


class GroupStats:
    """Task metrics summed over the jobs of one job group."""

    def __init__(self) -> None:
        self.jobs = 0
        self.tasks = 0
        self.run_ms = 0
        self.cpu_ns = 0
        self.gc_ms = 0
        self.shuffle_read = 0
        self.shuffle_write = 0
        self.spill = 0
        self.output_bytes = 0
        self.python_bytes = 0
        self.stages: dict[int, StageStats] = {}

    def add(self, other: GroupStats) -> None:
        for k in (
            "jobs tasks run_ms cpu_ns gc_ms shuffle_read shuffle_write spill "
            "output_bytes python_bytes"
        ).split():
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.stages.update(other.stages)


def parse_eventlog(log_dir: str) -> dict[str, GroupStats]:
    """Job group id → summed task metrics, from an uncompressed,
    non-rolling Spark event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get(_GROUP) or "untagged"
                    out[group].jobs += 1
                    for sid in e.get("Stage IDs", ()):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    g = out[stage_group.get(e["Stage ID"], "untagged")]
                    m = e.get("Task Metrics") or {}
                    info = e["Task Info"]
                    g.tasks += 1
                    g.run_ms += m.get("Executor Run Time", 0)
                    g.cpu_ns += m.get("Executor CPU Time", 0)
                    g.gc_ms += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    g.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    g.shuffle_write += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g.spill += m.get("Disk Bytes Spilled", 0)
                    g.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
                    for acc in info.get("Accumulables", ()):
                        name = acc.get("Name") or ""
                        if "Python" in name and "data" in name:
                            g.python_bytes += int(acc.get("Update") or 0)
                    st = g.stages.setdefault(e["Stage ID"], StageStats())
                    dur = info["Finish Time"] - info["Launch Time"]
                    st.task_ms_max = max(st.task_ms_max, dur)
                    st.task_ms_sum += dur
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    g = out[stage_group.get(si["Stage ID"], "untagged")]
                    st = g.stages.setdefault(si["Stage ID"], StageStats())
                    st.wall_ms = si.get("Completion Time", 0) - si.get("Submission Time", 0)
    return dict(out)


def merged(groups: dict[str, GroupStats], prefix: str, layers=None) -> GroupStats:
    """Sum the groups ``<prefix>/<layer>`` (any layer when ``layers`` is
    None)."""
    total = GroupStats()
    for name, g in groups.items():
        if not name.startswith(prefix + "/"):
            continue
        if layers is None or name[len(prefix) + 1 :] in layers:
            total.add(g)
    return total


def engine_metrics(g: GroupStats, wall_s: float, cores: int) -> dict[str, float]:
    stages = [s for s in g.stages.values() if s.wall_ms > 0]
    wall = sum(s.wall_ms for s in stages)
    return {
        "spark.jobs": g.jobs,
        "spark.stages": len(g.stages),
        "spark.tasks": g.tasks,
        "spark.executor_run_s": g.run_ms / 1e3,
        "spark.executor_cpu_s": g.cpu_ns / 1e9,
        "spark.cpu_util": g.cpu_ns / 1e9 / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.shuffle_read_bytes": g.shuffle_read,
        "spark.shuffle_write_bytes": g.shuffle_write,
        "spark.spill_bytes": g.spill,
        "spark.gc_s": g.gc_ms / 1e3,
        # wall-weighted over stages: longest task ÷ stage wall time
        "spark.stage_tail_frac": (
            sum(min(1.0, s.task_ms_max / s.wall_ms) * s.wall_ms for s in stages) / wall
            if wall
            else 0.0
        ),
        # busy task time ÷ stage wall time: 1 when a stage ran on one task
        "spark.stage_parallelism": (sum(s.task_ms_sum for s in stages) / wall if wall else 0.0),
        "python.udf_bytes": g.python_bytes,
    }
