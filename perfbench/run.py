"""End-to-end and per-layer benchmark of the flirt_consume_spark engine.

    python3 perfbench/run.py --workload scan_query --seed 1 --seconds 20 --trace 0

One Spark driver process at ``local[<cores>]`` runs one workload (see
``workloads.py`` and ``BENCHMARK.json``) from inputs generated from
``--seed``. Set-up writes the inputs, starts Spark, runs every
operation once, untimed and checked, and then runs ``warmup_passes``
untimed passes: the JVM's compiled code still speeds up for tens of
seconds after start, and the warm-up keeps the steepest part of that out
of the timed passes. The timed phase then repeats the workload's fixed
set of operations a fixed number of times (``passes`` in
``workloads.py``); the count does not depend on host speed, so every run
has the same samples and its tail sits at the same percentile.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` traces every
second pass and reports the per-layer metrics of the traced passes, with
the tracer's overhead on ``wall_s`` against the untraced passes; the
spans go to ``perfbench/out/``.

Stdout ends with a provenance line and then the result line
``{"correct", "attempted", "failed", "metrics"}``. Every file the run
writes lives under ``perfbench/_run/<run>/`` and is deleted at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("scan_query", "consume_ingest")
#: The tail is the sample with 10 beyond it, never reported below the
#: median; MIN_SAMPLES samples put it at p75 or above.
MIN_SAMPLES = 40
TAIL_BEYOND = 10
DRIVER_MEMORY = "1g"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "ingest_rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}
#: Operator modules the kept workloads reach (the shapes and relational
#: keys call operators.scale); dedup, similarity and retrieval are only
#: reached by the dedup keys, which no workload runs.
OPERATOR_MODULES = ("scale",)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def isolate(run_dir: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``run_dir``; must run before pyspark starts the JVM."""
    tmp, local, warehouse = (os.path.join(run_dir, d)
                             for d in ("tmp", "local", "warehouse"))
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={warehouse}"),
        "--driver-java-options",
        # A fixed-size heap keeps the JVM's resident peak from depending
        # on when the collector chose to grow the heap.
        shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}"),
        "pyspark-shell",
    ])


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tail(samples: list[float]) -> tuple[float, float, float]:
    """(median, tail, tail percentile): the tail is the highest sample
    with ``TAIL_BEYOND`` samples above it."""
    s = sorted(samples)
    if len(s) < MIN_SAMPLES:
        raise RuntimeError(f"{len(s)} samples; the tail needs {MIN_SAMPLES}")
    k = len(s) - TAIL_BEYOND
    p50 = statistics.median(s)
    return p50, max(s[k - 1], p50), 100.0 * k / len(s)


def timed_passes(workload, ctx, trace: bool) -> list[dict]:
    """Run the workload's fixed set of operations ``workload.passes``
    times. With ``trace``, every second pass is traced."""
    passes: list[dict] = []
    for i in range(workload.passes):
        traced = trace and i % 2 == 1
        if traced:
            ctx.set_traced(True)
        try:
            p = workload.run_pass(ctx)
        finally:
            if traced:
                ctx.set_traced(False)
        p["traced"] = traced
        passes.append(p)
    return passes


def end_to_end(passes: list[dict], setup_s: float, rss_mb: float) -> tuple[dict, dict]:
    p50, tail_s, pct = tail([x for p in passes for x in p["samples"]])
    values = {
        "setup_s": setup_s,
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "query_p50_s": p50,
        "query_tail_s": tail_s,
        "ingest_rows_per_s": statistics.median(p["rows"] / p["rows_s"] for p in passes),
        "peak_rss_mb": rss_mb,
    }
    return values, {"query_tail_percentile": round(pct, 2),
                    "query_tail_beyond": TAIL_BEYOND}


def per_layer(all_passes: list[dict], tracer, stream_probe,
              get_spark_s: float) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of the traced passes, each per pass."""
    passes = [p for p in all_passes if p["traced"]]
    untraced = [p for p in all_passes if not p["traced"]]
    n = len(passes)
    ops = [o for p in passes for o in p["ops"]]
    selfs = tracer.self_times()
    spans = [(s[1], s[3] - s[2], selfs[s[0]]) for s in tracer.spans]

    def calls(name):
        return [d for nm, d, _ in spans if nm == name]

    def layer_self(prefix):
        return [st for nm, _, st in spans if nm.startswith(prefix + ".")]

    def spark_sum(field):
        return sum(o.get("spark", {}).get(field, 0) for o in ops) / n

    def stream_sum(phase):
        return sum(p["duration_ms"].get(phase, 0)
                   for p in stream_probe.progress) / n

    wall = statistics.median(p["wall_s"] for p in passes)
    wall_untraced = statistics.median(p["wall_s"] for p in untraced)
    load = calls("io.load_table")
    build = sum(o.get("build_s", 0) for o in ops) / n
    execute = sum(o.get("execute_s", 0) for o in ops) / n
    build_jobs = sum(o.get("build_jobs", 0) for o in ops)
    m = {
        "io.load_table.calls": (len(load) / n, "count"),
        "io.load_table.busy_s": (sum(load) / n, "s"),
        "io.load_table.p50_ms": (statistics.median(load) * 1e3 if load else 0.0, "ms"),
        "io.load_table.wall_share": (sum(load) / n / wall, "ratio"),
        "queries.build_s": (build, "s"),
        "queries.execute_s": (execute, "s"),
        "queries.build_share": (build / (build + execute) if build else 0.0, "ratio"),
        "spark.build_jobs": (build_jobs / n, "count"),
        "spark.build_jobs_per_op": (build_jobs / len(ops), "count"),
    }
    for mod in OPERATOR_MODULES:
        st = layer_self(f"operators.{mod}")
        m[f"operators.{mod}.self_s"] = (sum(st) / n, "s")
        m[f"operators.{mod}.calls"] = (len(st) / n, "count")
    m["operators.self_s"] = (sum(layer_self("operators")) / n, "s")
    for field, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                        ("sql_executions", "count"), ("executor_run_s", "s"),
                        ("executor_cpu_s", "s"), ("jvm_gc_s", "s"),
                        ("shuffle_write_bytes", "bytes"),
                        ("shuffle_read_bytes", "bytes"), ("spill_bytes", "bytes")):
        m[f"spark.{field}"] = (spark_sum(field), unit)
    m.update({
        "io.write_partitioned.busy_s": (sum(calls("io.write_partitioned")) / n, "s"),
        "io.sink.files": (statistics.median(p.get("sink_files", 0) for p in passes), "count"),
        "io.sink.bytes_per_row": (
            statistics.median(p.get("sink_bytes_per_row", 0) for p in passes), "bytes"),
        "plans.consume_schedules.busy_s": (
            sum(calls("plans.consume_schedules")) / n, "s"),
        "plans.destination_distribution.busy_s": (
            sum(calls("plans.destination_distribution")) / n, "s"),
        "streaming.batches": (len(stream_probe.progress) / n, "count"),
        "streaming.input_rows": (
            sum(p["rows"] for p in stream_probe.progress) / n, "count"),
        "streaming.add_batch_ms": (stream_sum("addBatch"), "ms"),
        "streaming.query_planning_ms": (stream_sum("queryPlanning"), "ms"),
        "streaming.wal_commit_ms": (stream_sum("walCommit"), "ms"),
        "streaming.trigger_ms": (stream_sum("triggerExecution"), "ms"),
        "session.get_spark_s": (get_spark_s, "s"),
        "trace.spans": (len(spans) / n, "count"),
        "trace.traced_wall_s": (wall, "s"),
        "trace.overhead_share": (wall / wall_untraced - 1.0, "ratio"),
    })
    return m


def run(args: argparse.Namespace, run_dir: str) -> tuple[dict, dict]:
    isolate(run_dir)
    sys.path[:0] = [ROOT, HERE]
    import workloads as wl
    from flirt_consume_spark.session import get_spark

    load_start = os.getloadavg()
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - t0
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    gateway, jvm_pid = sc._gateway, sc._jvm.java.lang.ProcessHandle.current().pid()
    try:
        ctx = wl.Ctx(spark, run_dir, args.seed, bool(args.trace))
        workload = wl.WORKLOADS[args.workload]()
        inputs = workload.setup(ctx)
        for _ in range(workload.warmup_passes):
            workload.run_pass(ctx)
        setup_s = time.perf_counter() - T_START
        passes = timed_passes(workload, ctx, bool(args.trace))
        rss = {"jvm_hwm_mb": vm_hwm_mb(jvm_pid), "python_hwm_mb": vm_hwm_mb("self")}
        rss_mb = sum(rss.values())
        provenance = {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": DRIVER_MEMORY,
            "clear_cache": True,
            **rss,
        }
    finally:
        proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    ops = [o for p in passes for o in p["ops"]]
    failed = sum(not o["ok"] for o in ops)
    summary = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, **provenance,
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "inputs": inputs, "passes": len(passes),
        "ops_per_pass": len(passes[0]["ops"]),
        "pass_wall_s": [round(p["wall_s"], 3) for p in passes],
        "pass_rows_s": [round(p["rows_s"], 3) for p in passes],
        "error_rate": failed / len(ops),
    }
    if args.trace:
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        ctx.tracer.write(os.path.join(
            HERE, "out", f"trace-{args.workload}-seed{args.seed}.jsonl"))
        metrics = per_layer(passes, ctx.tracer, ctx.stream_probe, get_spark_s)
    else:
        values, tail_info = end_to_end(passes, setup_s, rss_mb)
        metrics = {k: (v, END_TO_END[k]) for k, v in values.items()}
        summary.update(samples=sum(len(p["samples"]) for p in passes),
                       **tail_info, end_to_end=values)
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return summary, result


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "flirt_consume_spark")):
        print("perfbench: the engine package flirt_consume_spark is not next "
              "to perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    run_dir = os.path.join(HERE, "_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        summary, result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(run_dir))
    print(json.dumps({"perfbench": summary}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
