"""The benchmark's workloads.

Each workload has a ``setup`` that writes its seeded inputs, and a
``run_pass`` that runs its fixed set of operations once as a closed loop
with one client: each operation starts after the previous one has
finished, and its output is checked, untimed. Set-up also runs every
operation once, checked: the scan set-up checks every key against
DuckDB, and the consume set-up runs its first pass. ``warmup_passes``
untimed passes follow set-up. The CacheManager is cleared before every
operation, so every timed operation computes from the inputs.
``passes`` is the fixed number of timed passes: enough latency samples
that the tail, the sample with ten beyond it, sits at p75 or above.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time
import traceback

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from flirt_consume_spark import io as fio
from flirt_consume_spark import schemas, session
from flirt_consume_spark.operators import (
    dedup,
    multimodal,
    observe,
    relational,
    retrieval,
    scale,
    similarity,
    sketch,
    spatial,
    temporal,
    text,
    windows,
)
from flirt_consume_spark.plans import consume
from flirt_consume_spark.queries import REGISTRY
from flirt_consume_spark.streaming import jobs
from flirt_consume_spark.testing import check_key, duck_connect

import datagen
import tracing

#: Span prefix → engine module whose public functions the tracer wraps.
LAYERS = {
    "io": fio,
    "session": session,
    "plans": consume,
    "streaming": jobs,
    **{
        f"operators.{m.__name__.rsplit('.', 1)[1]}": m
        for m in (dedup, multimodal, observe, relational, retrieval, scale,
                  similarity, sketch, spatial, temporal, text, windows)
    },
}

#: Eight of the 68 keys of the registry modules relational, shapes,
#: tpch_tail, windows, scalar, temporal and analytics, at least one per
#: module, taken from each module's cheaper keys: the workload measures
#: per-call fixed cost. Where a module's keys call the operators layer,
#: the key is one of those, so that layer is measured too.
SCAN_KEYS = (
    "sort_global", "filter_predicates", "shape_priority_shipping",
    "shape_forecast_revenue", "win_rolling", "array_ops", "time_normalize",
    "profile_table",
)


def _log(msg: str) -> None:
    print(f"# perfbench: {msg}", file=sys.stderr, flush=True)


class Ctx:
    """Per-run state shared by the workloads. With ``trace``, the tracer
    and the Spark and streaming probes are built, and ``set_traced``
    switches them on for a pass and off again."""

    def __init__(self, spark, run_dir: str, seed: int, trace: bool) -> None:
        self.spark = spark
        self.run_dir = run_dir
        self.rng = np.random.default_rng([seed, 0])
        self.traced = False
        if trace:
            self.tracer = tracing.Tracer()
            self.probe = tracing.SparkProbe(spark)
            self.stream_probe = tracing.StreamProbe()

    def set_traced(self, on: bool) -> None:
        if on:
            self.tracer.install(LAYERS)
            self.spark.streams.addListener(self.stream_probe)
        else:
            self.tracer.uninstall()
            self.spark.streams.removeListener(self.stream_probe)
        self.traced = on

    def span(self, name: str):
        return self.tracer.span(name) if self.traced else contextlib.nullcontext()

    def begin(self, op: str) -> dict | None:
        """Clear the CacheManager; when traced, tag the operation and
        mark the status stores."""
        self.spark.catalog.clearCache()
        if not self.traced:
            return None
        self.tracer.op = op
        self.spark.sparkContext.setJobGroup(op, op)
        return self.probe.mark()

    def end(self, mark: dict | None, rec: dict) -> dict:
        if mark is not None:
            rec["spark"] = self.probe.delta(mark, self.probe.mark())
        return rec


class ScanWorkload:
    """Registry keys: build (``spec.fn``) then execute (noop write)."""

    warmup_passes = 3
    passes = 5

    def __init__(self) -> None:
        self.rows: dict[str, int] = {}
        self.wrong: set[str] = set()

    def setup(self, ctx: Ctx) -> dict:
        self.sf_dir = os.path.join(ctx.run_dir, "tables")
        datagen.write_tables(self.sf_dir, int(ctx.rng.integers(2**31)))
        con = duck_connect(self.sf_dir)
        loaded: list[str] = []

        def load_table(spark, sf_dir, name):
            loaded.append(name)
            return real_load_table(spark, sf_dir, name)

        real_load_table = fio.load_table
        try:
            for key in SCAN_KEYS:
                ctx.spark.catalog.clearCache()
                loaded.clear()
                try:
                    with tracing.patched(real_load_table, load_table):
                        res = check_key(ctx.spark, con, REGISTRY[key], self.sf_dir)
                except Exception:  # noqa: BLE001 - a failing key is a result
                    res = {"status": "EXCEPTION", "error": traceback.format_exc()}
                if res["status"] not in ("OK", "ROWS_ONLY"):
                    self.wrong.add(key)
                    _log(f"check failed: {key}: {res}")
                self.rows[key] = sum(pq.read_metadata(os.path.join(
                    self.sf_dir, f"{t}.parquet")).num_rows for t in loaded)
        finally:
            con.close()
        return {"keys": len(SCAN_KEYS), "table_rows": datagen.ROWS}

    def run_pass(self, ctx: Ctx) -> dict:
        order = list(SCAN_KEYS)
        ctx.rng.shuffle(order)
        ops = []
        for key in order:
            spec = REGISTRY[key]
            mark = ctx.begin(key)
            t0 = time.perf_counter()
            ok = key not in self.wrong
            try:
                with ctx.span("queries.build"):
                    df = spec.fn(ctx.spark, self.sf_dir)
                t1 = time.perf_counter()
                build_jobs = ctx.probe.mark()["job"] - mark["job"] if mark else 0
                with ctx.span("queries.execute"):
                    df.write.mode("overwrite").format("noop").save()
            except Exception:  # noqa: BLE001 - a failing key is a result
                _log(f"{key} raised:\n{traceback.format_exc()}")
                ok, t1, build_jobs = False, time.perf_counter(), 0
            t2 = time.perf_counter()
            ops.append(ctx.end(mark, {
                "op": key, "s": t2 - t0, "ok": ok, "build_s": t1 - t0,
                "execute_s": t2 - t1, "build_jobs": build_jobs,
            }))
        wall = sum(o["s"] for o in ops)
        return {
            "ops": ops,
            "samples": [o["s"] for o in ops],
            "wall_s": wall,
            # Table rows the keys load through io.load_table, per second
            # of the pass.
            "rows": sum(self.rows[k] for k in order),
            "rows_s": wall,
        }


def _op(ctx: Ctx, name: str, fn):
    """Time ``fn()`` as one operation; an exception fails the operation."""
    mark = ctx.begin(name)
    t0 = time.perf_counter()
    try:
        result, ok = fn(), True
    except Exception:  # noqa: BLE001 - a failing operation is a result
        _log(f"{name} raised:\n{traceback.format_exc()}")
        result, ok = None, False
    return ctx.end(mark, {"op": name, "s": time.perf_counter() - t0, "ok": ok}), result


class ConsumeWorkload:
    """The monthly consume: ingest a schedule extract and an event
    stream into month-partitioned sinks, then serve destination
    distributions from the legs sink."""

    LOOKUPS = 10
    warmup_passes = 1
    passes = 4
    REDO_MONTHS = 2

    def setup(self, ctx: Ctx) -> dict:
        self.src = os.path.join(ctx.run_dir, "consume")
        info = datagen.write_consume_inputs(self.src, int(ctx.rng.integers(2**31)))
        legs = info.pop("legs")
        self.legs_by_month = legs.groupby("month").size().to_dict()
        self.events_by_month = info["event_rows_by_month"]
        months = sorted(self.events_by_month)
        self.redo = sorted(ctx.rng.choice(months, self.REDO_MONTHS, replace=False))
        self.rows_landed = (
            len(legs)
            + sum(self.legs_by_month.get(m, 0) for m in self.redo)
            + info["event_rows"]
        )
        self.lookups = []
        for i in ctx.rng.choice(len(legs), self.LOOKUPS, replace=False):
            leg = legs.iloc[int(i)]
            start = np.datetime64(leg.leg_date) - int(ctx.rng.integers(0, 10))
            end = start + int(ctx.rng.integers(7, 29))
            start, end = str(start), str(end)
            window = legs[(legs.orig == leg.orig) & legs.leg_date.between(start, end)]
            self.lookups.append((
                leg.orig, start, end,
                {d: int(s) for d, s in window.groupby("dest").seats.sum().items()},
            ))
        self.duck = duckdb.connect()
        self.pass_no = 0
        self.run_pass(ctx)  # first pass, untimed
        return {
            **info,
            "legs": len(legs),
            "redo_months": self.redo,
            "lookups": self.LOOKUPS,
        }

    def run_pass(self, ctx: Ctx) -> dict:
        spark = ctx.spark
        self.pass_no += 1
        out = os.path.join(ctx.run_dir, f"pass{self.pass_no}")
        legs_path = os.path.join(out, "legs.parquet")
        events_path = os.path.join(out, "events")

        seen = ctx.stream_probe.terminated if ctx.traced else 0
        ingest, _ = _op(ctx, "ingest", lambda: self._ingest(spark, out))
        if ingest["ok"]:
            if ctx.traced:
                ctx.stream_probe.wait_terminated(seen + 1)
            ingest["ok"] = self._check_sinks(legs_path, events_path)
        opened, sink = _op(ctx, "open_sink", lambda: fio.load_table(spark, out, "legs"))
        ops = [ingest, opened]
        for origin, start, end, want in self.lookups:
            rec, rows = _op(ctx, "lookup", lambda: consume.destination_distribution(
                sink, origin, start, end).collect())
            if rec["ok"]:
                got = {r.dest: r.seats for r in rows}
                total = sum(r.probability for r in rows)
                rec["ok"] = got == want and abs(total - 1.0) <= 5e-7 * len(rows) + 1e-12
                if not rec["ok"]:
                    _log(f"lookup {origin} {start}..{end}: got {got} p={total}, "
                         f"want {want}")
            ops.append(rec)

        files, nbytes = 0, 0
        for path in (legs_path, events_path):
            for dirpath, _dirs, names in os.walk(path):
                for name in names:
                    if name.endswith(".parquet"):
                        files += 1
                        nbytes += os.path.getsize(os.path.join(dirpath, name))
        shutil.rmtree(out, ignore_errors=True)
        return {
            "ops": ops,
            "samples": [o["s"] for o in ops[2:]],
            "wall_s": sum(o["s"] for o in ops),
            "rows": self.rows_landed,
            "rows_s": ingest["s"],
            "sink_files": files,
            "sink_bytes_per_row": nbytes / self.rows_landed,
        }

    def _ingest(self, spark, out: str) -> None:
        """Consume the extract into the legs sink, re-consume the redo
        months, and drain the event files into the events sink."""
        sched = fio.read_csv(spark, os.path.join(self.src, "schedules.csv"),
                             schemas.SCHEDULES)
        airports = fio.read_jsonl(spark, os.path.join(self.src, "airports.jsonl"),
                                  schemas.AIRPORTS)
        legs, _unknown = consume.consume_schedules(sched, airports)
        legs_path = os.path.join(out, "legs.parquet")
        fio.write_partitioned(legs, legs_path, ("month_key",))
        fio.write_partitioned(legs.filter(F.col("month_key").isin(self.redo)),
                              legs_path, ("month_key",))
        events_path = os.path.join(out, "events")

        def append_batch(batch, _batch_id: int) -> None:
            fio.write_partitioned(fio.with_month_key(batch, "ts"), events_path,
                                  ("month_key",), mode="append")

        # Not jobs.write_monthly_sink: it dynamic-overwrites each
        # micro-batch's months, so when a month's events span two
        # triggers the later batch erases the earlier batch's rows. This
        # append sink keeps them, and _check_sinks holds it to every event.
        events = jobs.read_events_stream(spark, os.path.join(self.src, "events"))
        (events.writeStream.foreachBatch(append_batch)
         .option("checkpointLocation", os.path.join(out, "checkpoint"))
         .trigger(availableNow=True)
         .start()
         .awaitTermination())

    def _month_counts(self, path: str) -> dict[str, int]:
        return dict(self.duck.execute(
            "SELECT month_key::VARCHAR, count(*) FROM read_parquet("
            f"'{path}/*/*.parquet', hive_partitioning = true) GROUP BY 1"
        ).fetchall())

    def _check_sinks(self, legs_path: str, events_path: str) -> bool:
        """Both sinks hold exactly the expected rows per month: the
        re-consumed months replaced their rows instead of adding to them,
        and no micro-batch of the event stream dropped the rows an
        earlier batch wrote for the same month."""
        legs, events = self._month_counts(legs_path), self._month_counts(events_path)
        ok = legs == self.legs_by_month and events == self.events_by_month
        if not ok:
            _log(f"sink mismatch: legs {legs} vs {self.legs_by_month}, "
                 f"events {events} vs {self.events_by_month}")
        return ok


WORKLOADS = {
    "scan_query": ScanWorkload,
    "consume_ingest": ConsumeWorkload,
}
