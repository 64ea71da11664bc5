"""Repository benchmark: one workload per process, one JSON result line.

    python3 perfbench/run.py --workload batch_headline --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: ``batch_headline`` and
``window_upsert_bulk``, closed loops on ``local[4]`` in one process;
inputs come only from ``--seed``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans and counters recorded around each call into the
package, prints the per-layer metrics and writes the spans to
``.perfbench/<workload>-seed<seed>-trace.json``. The line before the result
carries sample counts, ratio bases and host annotations (cores, 1-minute
load, CPU steal over the run). Scratch files live in ``.perfbench/`` under
the working directory and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

import sparkstats
from tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
HEAP = "2g"
WORKLOADS = ("batch_headline", "window_upsert_bulk")


def _args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _session(work: str):
    """``local[4]`` session whose files all stay under ``work``."""
    from pyspark_streaming_base_spark.session import SessionFactory

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # JVM temp files go under work, and no perf-data file goes to /tmp
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update(
        TZ="UTC",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_LAUNCHER_OPTS=jvm_opts,
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_DRIVER_MEM=HEAP,
    )
    time.tzset()
    return SessionFactory.local(
        app_name="perfbench",
        cores=CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed-size heap: peak RSS and GC work then do not depend on
            # when the JVM happened to grow its heap
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} {jvm_opts}",
        },
    )


def _stop(spark) -> None:
    """Stop Spark, then wait for the JVM and every process under it (its
    Python workers exit once the JVM has gone); kill what outlives 30 s."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = sparkstats.descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in started:
        while sparkstats.running(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if sparkstats.running(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:  # ended after the check
                pass


def main() -> int:
    args = _args()
    sys.path.insert(0, ROOT)
    # fail before any set-up when the package is not in the working tree
    import pyspark_streaming_base_spark as package

    if not os.path.abspath(package.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"package imported from {package.__file__}, not from {ROOT}")

    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        spark = _session(work)
        session_s = sparkstats.process_age_s()
        tracer = Tracer(bool(args.trace), f"{args.workload}-seed{args.seed}-{os.getpid()}")
        if args.workload == "batch_headline":
            from batch import BatchHeadline

            wl = BatchHeadline(spark, work, args.seed, tracer)
        else:
            from streams import WindowUpsertBulk

            wl = WindowUpsertBulk(spark, work, args.seed, args.seconds, tracer)
        wl.setup()
        setup_s = sparkstats.process_age_s()
        sparkstats.reset_peak_rss(spark)
        cpu0, load0 = sparkstats.cpu_times(), sparkstats.load_avg_1m()
        proc0 = sparkstats.tree_cpu_s(os.getpid())
        r = wl.run(args.seconds)
        cpu_s = sparkstats.tree_cpu_s(os.getpid()) - proc0
        steal = sparkstats.steal_pct(cpu0, sparkstats.cpu_times())
        rss = sparkstats.peak_rss_mb(spark)
        bad = wl.check(r)

        attempted, raised = wl.ops(r)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "failed_checks": bad,
            "setup": {"session_s": session_s, **wl.setup_times},
            "host": {
                "nproc": os.cpu_count(),
                "load_avg_1m": [load0, sparkstats.load_avg_1m()],
                "steal_pct": steal,
            },
            **wl.detail(r),
        }
        if args.trace:
            metrics, detail["bases"] = wl.per_layer(r, CORES)
            tracer.write(
                os.path.join(base, f"{args.workload}-seed{args.seed}-trace.json"), metrics
            )
            spec = _spec("per_layer")
            unknown = set(metrics) - set(spec)
            if unknown:
                raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
            # a layer the workload never calls reports 0
            metrics = {k: (metrics.get(k, 0.0), 1) for k in spec}
        else:
            metrics = wl.end_to_end(r)
            metrics.update(setup_s=(setup_s, 1), cpu_s=(cpu_s, 1), peak_rss_mb=(rss, 1))
            spec = _spec("end_to_end")
            detail["samples"] = {k: metrics[k][1] for k in spec}
        print(json.dumps({"detail": detail}), flush=True)
        print(json.dumps({
            "correct": not bad and raised == 0,
            "attempted": attempted,
            # an op fails if it raised or if its run's output check failed
            "failed": attempted if bad else raised,
            "metrics": {k: {"value": float(metrics[k][0]), "unit": u} for k, u in spec.items()},
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def _spec(kind: str) -> dict:
    """name -> unit of the ``kind`` metrics in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


if __name__ == "__main__":
    sys.exit(main())
