"""``batch_headline``: the 12 headline registry queries, materialized
through the ``noop`` sink, in a seeded order per pass.

Untimed set-up generates the tables and runs two warm-up passes: the
first collects every query's rows, the second materializes them like a
timed pass. After the timed passes the collected rows are compared with
each query's DuckDB oracle (exact multiset), or checked to be non-empty
for the two rows-only queries. The timed passes themselves write to the
``noop`` sink, so their rows are not checked.

A traced pass runs every query twice, traced and untraced in alternating
order, so the same pass yields the per-layer split (build, plan, exec and
the query's jobs) and the tracing overhead.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time

import duckdb

from pyspark_streaming_base_spark.queries import load_all
from tools.check_correctness import norm_rows

import inputs
import sparkstats
from tracing import Tracer

#: nominal seconds of one warm pass on a 4-core host
PASS_S = 10.0

HEADLINE = [
    "q01_pricing_summary",
    "q04_revenue_by_nation",
    "q08_late_ship_priority",
    "q21_explode_terms",
    "q30_topk_per_group",
    "q31_running_total",
    "q41_minhash_lsh_pairs",
    "q60_knn_bruteforce",
    "q61_ann_lsh",
    "q70_tumbling_window",
    "q72_session_window",
    "q74_event_dedup",
]


def check_outputs(data_dir: str, tables, registry, outputs) -> list:
    """Names of queries whose collected rows differ from their oracle (exact
    multiset, the comparison of ``tools/check_correctness.py``), or that
    returned no rows when they have no oracle."""
    con = duckdb.connect()
    for tbl in tables:
        con.sql(f"CREATE VIEW {tbl} AS SELECT * FROM read_parquet('{data_dir}/{tbl}.parquet')")
    bad = []
    for name, (cols, rows) in outputs.items():
        oracle = registry[name].oracle
        if oracle is None:
            ok = len(rows) > 0
        else:
            rel = con.sql(oracle)
            scols = [c.lower() for c in cols]
            dcols = [c.lower() for c in rel.columns]
            ok = sorted(scols) == sorted(dcols) and (
                norm_rows(scols, rows) == norm_rows(dcols, rel.fetchall())
            )
        if not ok:
            bad.append(name)
    con.close()
    return bad


class BatchHeadline:
    def __init__(self, spark, work_dir: str, seed: int, tracer: Tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.data_dir = os.path.join(work_dir, "tables")
        self.registry = load_all()
        self.outputs = {}

    # -- set-up -----------------------------------------------------------------
    def setup(self) -> None:
        """Generate the tables, then warm up with two untimed passes: one
        that collects every query's rows for the output check, and one
        like a timed pass (the first pass in a JVM is 2-3x slower than a
        warm one, the second still about 15 %)."""
        t0 = time.perf_counter()
        self.table_rows = inputs.write_batch_tables(self.data_dir, self.seed)
        t1 = time.perf_counter()
        for name in HEADLINE:
            df = self.registry[name].fn(self.spark, self.data_dir)
            self.outputs[name] = (df.columns, [tuple(r) for r in df.collect()])
            self.spark.catalog.clearCache()
        for name in HEADLINE:
            self._materialize(name)
        self.setup_times = {"inputs_s": t1 - t0, "warmup_s": time.perf_counter() - t1}

    # -- timed ------------------------------------------------------------------
    def _materialize(self, name: str) -> float:
        t0 = time.perf_counter()
        self.registry[name].fn(self.spark, self.data_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        took = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        return took

    def _materialize_traced(self, name: str, group: str) -> float:
        tr, spark = self.tracer, self.spark
        spark.sparkContext.setJobGroup(group, name)
        t0 = time.perf_counter()
        with tr.span("query", query=name):
            with tr.span("queries.build"):
                df = self.registry[name].fn(spark, self.data_dir)
            with tr.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
            with tr.span("spark.exec"):
                df.write.format("noop").mode("overwrite").save()
        took = time.perf_counter() - t0
        spark.sparkContext.setJobGroup("perfbench-untraced", "")
        spark.catalog.clearCache()
        sparkstats.drain_listener_bus(spark)
        for k, v in sparkstats.job_totals(spark, group).items():
            tr.count(f"spark.{k}", v)
        return took

    def run(self, seconds: float) -> dict:
        """``seconds / PASS_S`` passes (at least one): a fixed amount of work
        per run, sized to last about ``seconds`` on a 4-core host."""
        tr = self.tracer
        rng = random.Random(self.seed)
        passes, by_query, traced_s, untraced_s, raised = [], {}, [], [], 0
        with tr.span("workload", workload="batch_headline"):
            for index in range(max(1, round(seconds / PASS_S))):
                t0 = time.perf_counter()
                with tr.span("pass", index=index):
                    for i, name in enumerate(rng.sample(HEADLINE, len(HEADLINE))):
                        try:
                            if tr.enabled:
                                # a traced and an untraced run of each query,
                                # which first alternating across queries
                                for traced in (i % 2 == 0, i % 2 == 1):
                                    if traced:
                                        group = f"perfbench-{index}-{name}"
                                        traced_s.append(self._materialize_traced(name, group))
                                    else:
                                        untraced_s.append(self._materialize(name))
                                took = traced_s[-1]
                            else:
                                took = self._materialize(name)
                        except Exception as e:  # noqa: BLE001 — a failed query is a failed op
                            print(f"query {name} failed: {e!r}", file=sys.stderr, flush=True)
                            raised += 1
                        else:
                            by_query.setdefault(name, []).append(took)
                passes.append(time.perf_counter() - t0)
        return {
            "passes": passes,
            "by_query": by_query,
            "query_s": [t for ts in by_query.values() for t in ts],
            "traced_s": traced_s,
            "untraced_s": untraced_s,
            "raised": raised,
        }

    # -- results ----------------------------------------------------------------
    def check(self, r: dict) -> list:
        return check_outputs(self.data_dir, self.table_rows, self.registry, self.outputs)

    def ops(self, r: dict):
        """(queries attempted, queries that raised) in the timed passes."""
        return len(r["query_s"]) + r["raised"], r["raised"]

    def detail(self, r: dict) -> dict:
        return {"passes_s": r["passes"], "query_s": r["by_query"]}

    def end_to_end(self, r: dict) -> dict:
        return {
            "wall_s": (statistics.median(r["passes"]), len(r["passes"])),
            # geometric mean of the query times, as in the TPC-H power
            # test: the median of 12 unlike queries is whichever two sit in
            # the middle, and which two that is changes from run to run
            "op_ms": (1000 * statistics.geometric_mean(r["query_s"]), len(r["query_s"])),
        }

    def per_layer(self, r: dict, cores: int):
        tr = self.tracer
        n = len(r["passes"])
        by_query = {q: 0.0 for q in HEADLINE}
        for sp in tr.named("query"):
            by_query[sp.attrs["query"]] += sp.duration / n
        totals = {k: sum(v) / n for k, v in tr.counters.items()}
        exec_s = sum(s.duration for s in tr.named("spark.exec")) / n
        traced_wall = sum(r["traced_s"]) / n
        out = {
            "queries.build_s": sum(s.duration for s in tr.named("queries.build")) / n,
            "spark.plan_s": sum(s.duration for s in tr.named("spark.plan")) / n,
            "spark.exec_s": exec_s,
            "spark.core_busy_ratio": totals.get("spark.executor_run_s", 0.0)
            / (traced_wall * cores),
            "trace.overhead_pct": 100.0 * (sum(r["traced_s"]) / sum(r["untraced_s"]) - 1.0),
        }
        out.update({f"queries.{q}_s": v for q, v in by_query.items()})
        for k in sparkstats.JOB_FIELDS:
            out[f"spark.{k}"] = totals.get(f"spark.{k}", 0.0)
        bases = {
            "spark.*": f"per pass, {n} traced pass(es)",
            "spark.core_busy_ratio": f"executor_run_s / ({traced_wall:.3f} s traced wall x {cores} cores)",
            "trace.overhead_pct": f"{len(r['traced_s'])} traced vs {len(r['untraced_s'])} untraced query runs",
        }
        return out, bases
