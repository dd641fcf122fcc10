#!/usr/bin/env python3
"""Benchmark entry point: the writer cycle and the headline queries, end to
end and layer by layer.

    python3 perfbench/run.py --workload writer_cycle --seed 1 --seconds 12 --trace 0

Run it from the repository root. It generates its inputs from the seed
(``perfbench/gen.py``; the seed-independent tables are cached under
``perfbench/.work``), starts the program several times to time set-up, runs
one workload in a fresh ``local[4]`` session as one closed-loop client, checks
every output against an oracle outside the timed region, and prints one JSON
object as the last line of standard output. With ``--trace 0`` it holds the
end-to-end metrics; with ``--trace 1`` the per-layer metrics of a separate
traced run. ``--smoke`` runs the same code on tiny inputs, once.
``perfbench/README.md`` defines every metric.

Process layout: this process generates inputs and then starts child
processes of itself. Each child starts the program (Spark session, query
registry, staged inputs) and reports ready; the set-up probes stop there,
and the last child goes on to run the workload.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

CORES = 4
SCALE = 0.02
SMOKE_SCALE = 0.001
SETUP_SAMPLES = 2  # set-up probes, the workload's own start included
#: --seconds buys one timed pass per PASS_BUDGET_S. The count depends only
#: on the argument, never on how fast the program runs, so that pass_s is
#: always a statistic of the same sample size.
PASS_BUDGET_S = 6.0
PASSES_CAP_S = 100.0  # timed passes stop here even on a very slow box
DEADLINE_S = 170.0

READY = "PERFBENCH_READY"
RESULT = "PERFBENCH_RESULT "

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}

WRITER_LAYER = {
    "csv_ingest.full.s": "s",
    "csv_ingest.incremental.s": "s",
    "csv_ingest.validate_s": "s",
    "csv_ingest.jobs": "count",
    "csv_ingest.rows_per_s": "rows/s",
    "writer.full.s": "s",
    "writer.incremental.s": "s",
    "writer.jobs": "count",
    "writer.bytes_written": "bytes",
    "writer.write_amp": "ratio",
    "merge.shuffle_write_bytes": "bytes",
    "catalog.analyze_s": "s",
    "catalog.drop_s": "s",
    "retry.attempts": "count",
    "retry.useful_frac": "frac",
    "app.full.s": "s",
    "app.incremental.s": "s",
    "app.self_s": "s",
    "readback.s": "s",
}
ENGINE_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.cpu_util": "frac",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.stage_tail_frac": "frac",
    "spark.stage_parallelism": "tasks",
    "python.udf_bytes": "bytes",
}
COMMON_LAYER = {
    "session.get_spark_s": "s",
    "registry.import_s": "s",
    "plan.build_s": "s",
    "plan.build_jobs": "count",
    "cache.persisted_rdds": "count",
    "ops.failed_frac": "frac",
    "env.calib_s": "s",
    "env.steal_per_s": "ticks/s",
    "env.loadavg_start": "load",
    "env.foreign_spark_procs": "count",
    "trace.overhead_frac": "frac",
}


def workload_queries(workload: str) -> list[str]:
    from workloads import HEADLINE_LSH, HEADLINE_RELATIONAL

    return {"query_lsh": HEADLINE_LSH, "query_relational": HEADLINE_RELATIONAL}.get(workload, [])


def query_layer(queries: list[str]) -> dict[str, str]:
    return {f"{q}.{k}": "s" for q in queries for k in ("build_s", "exec_s")}


def per_layer_units(workload: str) -> dict[str, str]:
    """The traced run's metrics. Every gated workload prints the same set
    (``BENCHMARK.json``), zero where it does not exercise a layer;
    ``query_relational`` adds its own per-query timings."""
    from workloads import HEADLINE_LSH

    units = {**COMMON_LAYER, **WRITER_LAYER, **ENGINE_LAYER, **query_layer(HEADLINE_LSH)}
    units.update(query_layer(workload_queries(workload)))
    return units


# -- child: set-up probe and workload runner -------------------------------------


def _session(proc_dir: str, trace: bool):
    from db_writer_redshift_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "1g",
        # keep the JVM's scratch files inside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={proc_dir}/tmp -XX:-UsePerfData",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(proc_dir, "eventlog"),
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        warehouse_dir=os.path.join(proc_dir, "warehouse"),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def child(args) -> int:
    """Start the program and report ready; a probe then stops, the runner
    goes on to run the workload."""
    proc_dir = os.path.join(args.run_dir, f"proc{os.getpid()}")
    for sub in ("tmp", "eventlog", "warehouse"):
        os.makedirs(os.path.join(proc_dir, sub), exist_ok=True)
    t0 = time.perf_counter()
    spark = _session(proc_dir, args.trace == 1)
    t1 = time.perf_counter()
    import __spark_entry__ as entry

    entry.queries()
    t2 = time.perf_counter()
    with open(os.path.join(args.run_dir, "inputs.json"), encoding="utf-8") as fh:
        staged = json.load(fh)
    missing = [p for p in staged["paths"] if not os.path.exists(p)]
    if missing:
        raise FileNotFoundError(f"inputs not staged: {missing[:3]}")
    print(READY, flush=True)
    try:
        if args.role == "probe":
            return 0
        setup = {"session.get_spark_s": t1 - t0, "registry.import_s": t2 - t1}
        result = run_workload(spark, args, staged, proc_dir, setup)
        print(RESULT + json.dumps(result), flush=True)
        return 0
    finally:
        spark.stop()


def _make_workload(spark, args, staged: dict):
    import workloads

    if args.workload == "writer_cycle":
        from gen import WRITER_COLUMNS, WRITER_TABLE

        return workloads.WriterCycle(
            spark, staged["writer"], staged["expected"], WRITER_COLUMNS, WRITER_TABLE
        )
    digests = None if args.record_digests else staged["digests"]
    return workloads.QueryWorkload(spark, staged["order"], staged["tables"], digests)


def run_workload(spark, args, staged: dict, proc_dir: str, setup: dict) -> dict:
    from envctx import RssSampler

    trace = args.trace == 1
    tracer = None
    if trace:
        from tracing import Tracer

        tracer = Tracer(spark)
    wl = _make_workload(spark, args, staged)
    timed = 1 if args.smoke else max(1, round(args.seconds / PASS_BUDGET_S))
    with RssSampler() as rss:
        # The cold pass is the only warm-up: a longer one does not fit the
        # run-time budget. For the same reason only the cold pass and the
        # last timed pass of each kind check their outputs in full: that
        # covers the first call and the later ones.
        cold = wl.run_pass("cold")
        plain: list[float] = []
        traced: dict[str, float] = {}
        hard_end = time.monotonic() + PASSES_CAP_S
        # the traced run interleaves untraced and traced passes in ABBA
        # order (p t t p ...), so that a steady warm-up trend cancels out of
        # trace.overhead_frac
        while time.monotonic() < hard_end and (
            len(plain) < timed or (trace and len(traced) < timed)
        ):
            step = len(plain) + len(traced)
            if trace and (step % 2 == 1) != (step // 2 % 2 == 1):
                label = f"t{len(traced)}"
                tracer.install()
                try:
                    traced[label] = wl.run_pass(label, tracer, len(traced) == timed - 1)
                finally:
                    tracer.uninstall()
            else:
                plain.append(wl.run_pass(f"p{len(plain)}", None, len(plain) == timed - 1))
        live = {}
        if trace and args.workload == "writer_cycle":
            live["cache.persisted_rdds"] = wl.persisted_rdds()
    wl.close()
    out = {
        "attempted": wl.ops.attempted,
        "failed": wl.ops.failed,
        "errors": wl.ops.errors[:10],
        "passes": {"cold": cold, "timed": plain, "traced": traced},
        "setup": setup,
        "digests": getattr(wl, "seen", {}),
        "peak_rss_parts_mb": {k: v / 2**20 for k, v in rss.peak_parts.items()},
    }
    if not trace:
        out["metrics"] = {
            "cold_pass_s": cold,
            # best of the timed passes, as bench.py takes: the passes after
            # the cold one are still falling as the JIT warms, and the first
            # of them carries most of the run-to-run noise
            "pass_s": min(plain),
            "peak_rss_mb": rss.peak / 2**20,
        }
        return out
    spark.stop()  # flushes and closes the event log
    from tracing import parse_eventlog

    groups = parse_eventlog(os.path.join(proc_dir, "eventlog"))
    layer = layer_metrics(args.workload, wl, tracer, groups, traced, staged)
    layer.update(live)
    layer.update(setup)
    # best against best, as pass_s is taken; in ABBA order the best untraced
    # pass is the last one, so any warm-up left biases this figure upward
    layer["trace.overhead_frac"] = min(traced.values()) / min(plain) - 1.0
    out["metrics"] = layer
    return out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def layer_metrics(workload, wl, tracer, groups, traced: dict, staged: dict) -> dict:
    """Per-layer metrics: the median over the traced passes of each pass's
    value."""
    from tracing import engine_metrics, merged

    per_pass: list[dict[str, float]] = []
    if workload == "writer_cycle":
        table_bytes = _dir_bytes(wl.table_dir)  # the merged table every pass leaves
    for label, wall in traced.items():
        m = engine_metrics(merged(groups, label), wall, CORES)
        if workload == "writer_cycle":
            m.update(_writer_pass(tracer, groups, label, staged["writer"], table_bytes))
        else:
            build = build_jobs = 0.0
            for q in wl.order:
                b = tracer.seconds(f"{label}/{q}", "build")
                m[f"{q}.build_s"] = b
                m[f"{q}.exec_s"] = tracer.seconds(f"{label}/{q}", "exec")
                build += b
                build_jobs += merged(groups, f"{label}/{q}", {"build"}).jobs
            m["plan.build_s"] = build
            m["plan.build_jobs"] = build_jobs
        per_pass.append(m)
    out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    if workload != "writer_cycle":
        out["cache.persisted_rdds"] = statistics.median(wl.persisted)
    return out


def _writer_pass(
    tracer, groups, label: str, inputs: dict, table_bytes: int
) -> dict[str, float]:
    from tracing import GroupStats, merged

    full, incr = f"{label}/full", f"{label}/incremental"

    def secs(layer: str) -> float:
        return tracer.seconds(full, layer) + tracer.seconds(incr, layer)

    def stats(phases, layers):
        total = GroupStats()
        for p in phases:
            total.add(merged(groups, p, layers))
        return total

    ingest = secs("csv_ingest")
    attempts = tracer.counts[(full, "retry.attempts")] + tracer.counts[(incr, "retry.attempts")]
    calls = tracer.counts[(full, "retry.calls")] + tracer.counts[(incr, "retry.calls")]
    app_s = secs("app")
    return {
        "csv_ingest.full.s": tracer.seconds(full, "csv_ingest"),
        "csv_ingest.incremental.s": tracer.seconds(incr, "csv_ingest"),
        "csv_ingest.validate_s": secs("validate"),
        "csv_ingest.jobs": stats((full, incr), {"csv_ingest", "validate"}).jobs,
        "csv_ingest.rows_per_s": (
            (inputs["rows_full"] + inputs["rows_updated"] + inputs["rows_new"]) / ingest
            if ingest
            else 0.0
        ),
        "writer.full.s": tracer.seconds(full, "writer"),
        "writer.incremental.s": tracer.seconds(incr, "writer"),
        "writer.jobs": stats((full, incr), {"writer", "drop"}).jobs,
        "writer.bytes_written": stats((full, incr), {"writer", "drop"}).output_bytes,
        "writer.write_amp": stats((incr,), {"writer", "drop"}).output_bytes / table_bytes,
        "merge.shuffle_write_bytes": stats((incr,), {"writer", "drop"}).shuffle_write,
        "catalog.analyze_s": secs("analyze"),
        "catalog.drop_s": secs("drop"),
        "retry.attempts": attempts,
        "retry.useful_frac": calls / attempts if attempts else 0.0,
        "app.full.s": tracer.seconds(full, "app"),
        "app.incremental.s": tracer.seconds(incr, "app"),
        "app.self_s": app_s - ingest - secs("writer") - secs("analyze"),
        "readback.s": tracer.seconds(f"{label}/readback", "readback"),
    }


# -- parent: inputs, set-up probes, result ---------------------------------------------


def _child_env(run_dir: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        {
            "PYTHONPATH": os.pathsep.join([HERE, ROOT, env.get("PYTHONPATH", "")]).rstrip(
                os.pathsep
            ),
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "tmp"),
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    return env


def _kill(proc: subprocess.Popen) -> None:
    """Kill the child's process group (the child, its JVM and the Python
    workers), reap the child and wait until no member of the group is left."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(200):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def spawn(role: str, args, run_dir: str, deadline: float) -> tuple[float, dict | None]:
    """Start one child; return (seconds from spawn to ready, its result)."""
    cmd = [
        sys.executable,
        os.path.abspath(__file__),
        "--role",
        role,
        "--run-dir",
        run_dir,
        "--workload",
        args.workload,
        "--seed",
        str(args.seed),
        "--seconds",
        str(args.seconds),
        "--trace",
        str(args.trace),
    ] + [f"--{f.replace('_', '-')}" for f in ("smoke", "record_digests") if getattr(args, f)]
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        cmd,
        cwd=ROOT,
        env=_child_env(run_dir),
        stdout=subprocess.PIPE,
        text=True,
        start_new_session=True,  # one process group: the JVM and workers too
    )
    ready = None
    result = None
    timer = None
    try:
        timer = threading.Timer(max(1.0, deadline - time.monotonic()), _kill, (proc,))
        timer.start()
        for line in proc.stdout:
            if line.startswith(READY) and ready is None:
                ready = time.perf_counter() - t0
                if role == "probe":
                    break  # its set-up is timed; the kill below stops it
            elif line.startswith(RESULT):
                result = json.loads(line[len(RESULT) :])
                break  # the runner has nothing left to report
    finally:
        if timer is not None:
            timer.cancel()
        _kill(proc)  # the process group, in case a JVM outlived its driver
    if ready is None or (role == "runner" and result is None):
        raise RuntimeError(f"{role} exited with {proc.returncode} before finishing")
    return ready, result


def stage_inputs(args, run_dir: str) -> dict:
    """Generate (or verify cached) inputs and precompute the oracles.
    Runs before any set-up timer starts."""
    import gen

    scale = SMOKE_SCALE if args.smoke else SCALE
    cache = os.path.join(WORK, "data")
    tables = gen.make_tables(cache, scale)
    staged: dict = {"tables": tables, "scale": scale}
    paths = [os.path.join(tables, f"{t}.parquet") for t in gen.TABLES]
    if args.workload == "writer_cycle":
        import workloads

        inputs = gen.make_writer_inputs(tables, cache, run_dir, args.seed)
        staged["writer"] = inputs
        staged["expected"] = workloads.writer_expected(
            inputs, gen.WRITER_COLUMNS, inputs["lookup_key"]
        )
        paths += inputs["full_slices"] + inputs["incr_slices"]
    else:
        order = list(workload_queries(args.workload))
        random.Random(args.seed).shuffle(order)
        staged["order"] = order
        with open(os.path.join(HERE, "expected.json"), encoding="utf-8") as fh:
            recorded = json.load(fh)
        staged["digests"] = recorded.get(staged_key(args), {})
    staged["paths"] = paths
    with open(os.path.join(run_dir, "inputs.json"), "w", encoding="utf-8") as fh:
        json.dump(staged, fh)
    return staged


def staged_key(args) -> str:
    import gen

    return f"v{gen.GEN_VERSION}-sf{(SMOKE_SCALE if args.smoke else SCALE):g}"


def _record_digests(key: str, digests: dict) -> None:
    path = os.path.join(HERE, "expected.json")
    with open(path, encoding="utf-8") as fh:
        recorded = json.load(fh)
    recorded.setdefault(key, {}).update(digests)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(recorded, fh, indent=1, sort_keys=True)
        fh.write("\n")


def parent(args) -> int:
    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "db_writer_redshift_spark"))
    ):
        print("perfbench: the program is not beside perfbench/ (run from a checkout)", file=sys.stderr)
        return 2
    deadline = time.monotonic() + DEADLINE_S
    # a terminated parent still runs spawn()'s cleanup of the child's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path[:0] = [HERE, ROOT]
    from envctx import context

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    os.makedirs(run_dir)
    try:
        stage_inputs(args, run_dir)
        env = context()
        probes = 1 if args.smoke or args.trace else SETUP_SAMPLES
        setup = [spawn("probe", args, run_dir, deadline)[0] for _ in range(probes - 1)]
        ready, result = spawn("runner", args, run_dir, deadline)
        setup.append(ready)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    metrics = result["metrics"]
    if args.trace:
        metrics.update(
            {
                "env.calib_s": env["calib_s"],
                "env.steal_per_s": env["steal_per_s"],
                "env.loadavg_start": env["loadavg"][0],
                "env.foreign_spark_procs": len(env["foreign_spark_procs"]),
                "ops.failed_frac": result["failed"] / result["attempted"],
            }
        )
        units = per_layer_units(args.workload)
    else:
        metrics["setup_s"] = statistics.median(setup)
        units = END_TO_END
    if args.record_digests:
        _record_digests(staged_key(args), result["digests"])
    record = {
        "run": run_id,
        "env": env,
        "setup_samples_s": setup,
        "failed_frac": result["failed"] / result["attempted"],
        **{k: result[k] for k in ("attempted", "failed", "errors", "passes", "setup", "peak_rss_parts_mb")},
    }
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", run_id + ".json"), "w", encoding="utf-8") as fh:
        json.dump({**record, "metrics": metrics}, fh, indent=1)
    print(json.dumps(record), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {
                    k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()
                },
            }
        )
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--workload", required=True, choices=["writer_cycle", "query_lsh", "query_relational"]
    )
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument(
        "--seconds",
        type=float,
        default=12.0,
        help=f"length of the timed phase: one timed pass per {PASS_BUDGET_S:g} s",
    )
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, one pass of each kind")
    ap.add_argument(
        "--record-digests",
        action="store_true",
        help="record the result digests of the queries without an oracle",
    )
    ap.add_argument("--role", choices=["probe", "runner"], help=argparse.SUPPRESS)
    ap.add_argument("--run-dir", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.role:
        return child(args)
    return parent(args)


if __name__ == "__main__":
    raise SystemExit(main())
