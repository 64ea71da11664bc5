"""``window_upsert_bulk``: per-user activity served from an upsert table.

A generated Delta table of Zipf-keyed, out-of-order events is drained
through ``StreamingApp.run`` with the package's ``delta_log`` source, one
commit version per trigger, into a 10-minute tumbling count per
``user_id`` under a 10-minute watermark in update mode. The sink is an
``UpsertTable`` keyed on (user_id, window start) with the count as the
sequence column, behind ``IdempotentForeachBatchSink``.

The query runs with the default trigger, then ``processAllAvailable()``
and ``stop()``. (``run(available_now=True)``, the default, drains only the
first admission-control slice of the package's Python stream sources.)
Set-up drains a short input of the same shape first, untimed. After the
timed drain the sink's contents are compared with DuckDB over the
generated parquet files.

In a traced run every even micro-batch is traced: its sink function gets a
span with real start and end times and the sink directory is listed
before and after it. Odd micro-batches run bare, and the trigger times of
the two halves give the tracing overhead.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter
from dataclasses import replace
from typing import Dict, List

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_streaming_base_spark.app import StreamingApp
from pyspark_streaming_base_spark.sinks import IdempotentForeachBatchSink
from pyspark_streaming_base_spark.sinks.upsert import UpsertTable
from pyspark_streaming_base_spark.sources.base import StreamingSource
from pyspark_streaming_base_spark.sources.delta_log_stream import DeltaLogStreamDataSource

import inputs
import sparkstats
from inputs import EventLogShape
from tracing import Tracer

NAME = "window_upsert_bulk"
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

#: input shape; ``versions`` is set per run from ``TRIGGERS_PER_S``
SHAPE = EventLogShape(
    versions=0, rows_per_version=3_000, users=20_000, zipf_a=1.2,
    seconds_per_version=240.0, jitter_s=300.0,
)
#: commits per second of ``--seconds``: the drain is sized to last about
#: that long on a 4-core host, so every run does the same work
TRIGGERS_PER_S = 0.6
#: commits of the untimed warm-up drain
WARMUP_VERSIONS = 6

#: the sink's contents must equal this DuckDB query over ``{src}`` (the
#: input's parquet files)
EXPECTED_SQL = """
    SELECT user_id, epoch_us(ts) // 600000000 * 600000000 AS ws_us,
           count(*) AS n, sum(value) AS total
    FROM read_parquet('{src}/*.parquet') GROUP BY ALL
"""


class DeltaLogSource(StreamingSource):
    """``format("delta_log")`` as a StreamingApp source."""

    FORMAT = "delta_log"


def _transform(df: DataFrame) -> DataFrame:
    return (
        df.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .select("user_id", F.col("w.start").alias("window_start"), "n", "total")
    )


def _upsert_table(out: str) -> UpsertTable:
    return UpsertTable(out, key_cols=["user_id", "window_start"], seq_col="n")


def _listing(root: str) -> Dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for name in files:
            p = os.path.join(d, name)
            out[p] = os.path.getsize(p)
    return out


class _TracedSink:
    """Wraps a batch function; even batches get timed and the sink
    directory diffed around them. Runs on Spark's stream thread, so it
    only appends to lists; spans are built after the query stops."""

    def __init__(self, inner, out: str) -> None:
        self.inner, self.out = inner, out
        self.calls: List[tuple] = []  # (batch_id, start, end, files, bytes)

    def __call__(self, df: DataFrame, batch_id: int) -> None:
        if batch_id % 2:
            return self.inner(df, batch_id)
        before = _listing(self.out)
        t0 = time.time()
        self.inner(df, batch_id)
        t1 = time.time()
        new = {p: s for p, s in _listing(self.out).items() if before.get(p) != s}
        self.calls.append((batch_id, t0, t1, len(new), sum(new.values())))


class WindowUpsertBulk:
    def __init__(self, spark, work_dir: str, seed: int, seconds: float, tracer: Tracer) -> None:
        self.spark, self.work_dir, self.seed, self.tracer = spark, work_dir, seed, tracer
        self.shape = replace(SHAPE, versions=max(2, round(seconds * TRIGGERS_PER_S)))
        self.setup_times: Dict[str, float] = {}
        self.listener = sparkstats.ProgressLog()
        self.src = os.path.join(work_dir, "input")
        self.out = os.path.join(work_dir, "output")

    # -- set-up -----------------------------------------------------------------
    def setup(self) -> None:
        self.spark.dataSource.register(DeltaLogStreamDataSource)
        self.spark.streams.addListener(self.listener)
        t0 = time.perf_counter()
        inputs.write_event_log(self.src, self.shape, self.seed)
        warm = os.path.join(self.work_dir, "warmup")
        warm_shape = replace(self.shape, versions=WARMUP_VERSIONS)
        inputs.write_event_log(os.path.join(warm, "input"), warm_shape, self.seed + 1)
        t1 = time.perf_counter()
        self._drain(os.path.join(warm, "input"), os.path.join(warm, "output"), "warmup", False)
        self.setup_times = {"inputs_s": t1 - t0, "warmup_s": time.perf_counter() - t1}

    def _drain(self, src: str, out: str, app_name: str, traced: bool):
        spark = self.spark
        batch_fn = _upsert_table(out).foreach_batch()
        if traced:
            batch_fn = _TracedSink(batch_fn, out)
        app = StreamingApp(session=spark).with_config({
            "spark.app.name": app_name,
            "spark.app.checkpoints.path": os.path.join(self.work_dir, "checkpoints"),
        }).initialize()
        app.with_source(DeltaLogSource(config={"path": src, "max_versions_per_batch": "1"}, app=app))
        app.with_sink(IdempotentForeachBatchSink(
            config={"outputMode": "update", "queryName": f"{NAME}-{app_name}"},
            app=app,
            batch_fn=batch_fn,
        ))
        t_run = time.time()
        query = app.run(transform=_transform, available_now=False)
        t_started = time.time()
        try:
            query.processAllAvailable()
        finally:
            query.stop()
        progress = self.listener.wait_terminated(str(query.id))
        return query, t_run, t_started, progress, batch_fn

    # -- timed ------------------------------------------------------------------
    def run(self, seconds: float) -> dict:
        """One drain of the whole input. Its size is fixed by the shape, so
        every run does the same work; ``seconds`` is what it is sized for."""
        tr = self.tracer
        with tr.span("workload", workload=NAME) as wl:
            query, t_run, t_started, progress, sink = self._drain(
                self.src, self.out, "main", tr.enabled
            )
        data = [q for q in progress if q["numInputRows"] > 0]
        last_commit = max(
            sparkstats.progress_start(q) + q["durationMs"]["triggerExecution"] / 1000.0
            for q in data
        )
        r = {
            "run_id": str(query.runId),
            "t_run": t_run,
            "t_started": t_started,
            "wall_s": last_commit - t_run,
            "progress": data,
            "input_rows": sum(q["numInputRows"] for q in data),
            "sink_calls": sink.calls if tr.enabled else [],
        }
        if tr.enabled:
            self._record_spans(wl, r, last_commit)
        return r

    def _record_spans(self, workload_span, r: dict, last_commit: float) -> None:
        tr = self.tracer
        run = tr.add("app.run", r["t_run"], last_commit, parent=workload_span.id)
        tr.add("app.run.start", r["t_run"], r["t_started"], parent=run.id)
        add_batch = {}
        for q in r["progress"]:
            start = sparkstats.progress_start(q)
            d = q["durationMs"]
            sp = tr.add("trigger", start, start + d["triggerExecution"] / 1000.0,
                        parent=run.id, batch_id=q["batchId"], rows=q["numInputRows"])
            # Spark reports phase durations only: lay them end to end from
            # the trigger start, in the order a micro-batch runs them
            t = start
            for phase in PHASES:
                ph = tr.add(f"spark.{phase}", t, t + d.get(phase, 0) / 1000.0, parent=sp.id)
                t = ph.end
            add_batch[q["batchId"]] = tr.named("spark.addBatch")[-1]
        for batch_id, t0, t1, files, nbytes in r["sink_calls"]:
            if batch_id in add_batch:
                tr.add("sinks.batch_fn", t0, t1, parent=add_batch[batch_id].id)
                tr.count("sinks.files", files)
                tr.count("sinks.bytes", nbytes)
        sparkstats.drain_listener_bus(self.spark)
        for k, v in sparkstats.job_totals(self.spark, r["run_id"]).items():
            tr.count(f"spark.{k}", v)

    # -- results ----------------------------------------------------------------
    def check(self, r: dict) -> list:
        """Names of the failed checks (empty when the output is right)."""
        bad = []
        if r["input_rows"] != self.shape.rows:
            bad.append("input rows")
        got_df = _upsert_table(self.out).read(self.spark).select(
            "user_id", F.unix_micros("window_start").alias("ws_us"), "n", "total"
        )
        got = Counter(tuple(row) for row in got_df.collect())
        con = duckdb.connect()
        want = Counter(con.sql(EXPECTED_SQL.format(src=self.src)).fetchall())
        con.close()
        if got != want:
            bad.append("sink contents")
        return bad

    def ops(self, r: dict):
        """(non-empty triggers, 0): a trigger that raises stops the query,
        and the run with it."""
        return len(r["progress"]), 0

    def detail(self, r: dict) -> dict:
        return {
            "rows_per_s": r["input_rows"] / r["wall_s"],
            "trigger_ms": [q["durationMs"]["triggerExecution"] for q in r["progress"]],
        }

    def end_to_end(self, r: dict) -> dict:
        trig = [q["durationMs"]["triggerExecution"] for q in r["progress"]]
        return {
            "wall_s": (r["wall_s"], 1),
            "op_ms": (statistics.median(trig), len(trig)),
        }

    def per_layer(self, r: dict, cores: int):
        tr, prog = self.tracer, r["progress"]
        n = len(prog)

        def p50(key):
            return statistics.median(q["durationMs"].get(key, 0) for q in prog)

        def state(key):
            return [sum(s.get(key, 0) for s in q.get("stateOperators", [])) for q in prog]

        fn_ms = [1000 * s.duration for s in tr.named("sinks.batch_fn")]
        trig_t = [q["durationMs"]["triggerExecution"] for q in prog if q["batchId"] % 2 == 0]
        trig_u = [q["durationMs"]["triggerExecution"] for q in prog if q["batchId"] % 2 == 1]
        totals = {k: sum(v) for k, v in tr.counters.items()}
        out = {
            "app.run_start_ms": 1000 * (r["t_started"] - r["t_run"]),
            "sources.latest_offset_ms_p50": p50("latestOffset"),
            "sources.get_batch_ms_p50": p50("getBatch"),
            "spark.query_planning_ms_p50": p50("queryPlanning"),
            "spark.wal_commit_ms_p50": p50("walCommit"),
            "spark.commit_offsets_ms_p50": p50("commitOffsets"),
            "sinks.batch_fn_ms_p50": statistics.median(fn_ms),
            "sinks.batch_fn_ms_p90": statistics.quantiles(fn_ms, n=10)[-1] if len(fn_ms) > 1 else fn_ms[0],
            "sinks.files_per_trigger": totals.get("sinks.files", 0) / len(fn_ms),
            "sinks.bytes_written_per_trigger": totals.get("sinks.bytes", 0) / len(fn_ms),
            "streaming.state_rows": state("numRowsTotal")[-1],
            "streaming.state_memory_bytes": state("memoryUsedBytes")[-1],
            "streaming.state_commit_ms_p50": statistics.median(state("commitTimeMs")),
            "spark.core_busy_ratio": totals.get("spark.executor_run_s", 0.0) / (r["wall_s"] * cores),
            "trace.overhead_pct": 100.0 * (statistics.median(trig_t) / statistics.median(trig_u) - 1.0),
        }
        for k in sparkstats.JOB_FIELDS:
            out[f"spark.{k}"] = totals.get(f"spark.{k}", 0.0) / n
        bases = {
            "spark.*": f"per trigger, {n} non-empty triggers",
            "sinks.*_per_trigger": f"{len(fn_ms)} traced triggers of {r['input_rows'] / n:.0f} input rows",
            "spark.core_busy_ratio": f"executor_run_s / ({r['wall_s']:.3f} s wall x {cores} cores)",
            "trace.overhead_pct": f"median trigger, {len(trig_t)} traced vs {len(trig_u)} untraced",
        }
        return out, bases
