"""Benchmark of the decisions_kinesis_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Workloads (see BENCHMARK.json for
why each is there):

- ``batch_tpch``      the 22 TPC-H-style queries, closed loop, 1 client
- ``batch_iterative`` the iterative/composition queries, closed loop
- ``stream_steady``   open-loop shard-log generator → consume pipeline
- ``stream_drain``    a seeded backlog drained with ``availableNow``

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The batch tables are the engine's seed-42 fixture tables at sf0.01,
kept as byte copies under ``perfbench/data/``.  Everything the run
writes (shard logs, checkpoints, Spark scratch, the span file) lives
under ``.perfbench_work/`` in the checkout.  The run exits non-zero
without a result when the engine cannot be imported or no operation
completed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

import batch  # the benchmark's own modules: this file's directory is on sys.path
import stream
from layers import TRACE_CONF, Spans, heap_after_gc_mb

#: the fixture tables at sf0.01 (60k lineitem rows), the scale the
#: engine's DuckDB oracle sweep uses
FIXTURE_DIR = os.path.join(HERE, "data", "sf0.01")
#: the sf0.1 fixture tables (600k lineitem rows) are too large to keep in
#: the benchmark; ``batch_tpch`` reads them from where ``bench.py`` does
TPCH_DIR_ENV = "SPARK_GRAFT_SF_DIR"

WORKLOADS = {
    # sf0.1: execution outweighs frame construction
    "batch_tpch": lambda ctx, seed, seconds, trace: batch.run(
        ctx, batch.tpch_queries(), os.environ[TPCH_DIR_ENV], seed, seconds, trace
    ),
    # sf0.01: these queries are bound by job scheduling at any scale, and a pass at
    # sf0.1 takes 21-23 s instead of ~18 s
    "batch_iterative": lambda ctx, seed, seconds, trace: batch.run(
        ctx, batch.iterative_queries(), FIXTURE_DIR, seed, seconds, trace
    ),
    "stream_steady": stream.run_steady,
    "stream_drain": stream.run_drain,
}

#: per-layer metrics of a traced run; a layer a workload never enters
#: reads 0
PER_LAYER = {
    "session.start_s": "s",
    "operators.build_s": "s",
    "operators.build_py_s": "s",
    "operators.build_jobs": "count",
    "operators.build_job_s": "s",
    "operators.build_job_overlap": "ratio",
    "operators.build_share": "ratio",
    "catalyst.plan_s": "s",
    "exec.exec_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_s": "s",
    "exec.occupancy": "ratio",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.gc_s": "s",
    "sources.pyds.latest_offset_ms": "ms",
    "sources.pyds.backlog_records": "count",
    "sources.pyds.backlog_growth_rps": "1/s",
    "streaming.plan_ms": "ms",
    "streaming.wal_ms": "ms",
    "streaming.batches": "count",
    "streaming.records_per_batch": "count",
    "streaming.runtime.add_batch_ms": "ms",
    "streaming.runtime.handler_ms": "ms",
    "streaming.runtime.retries": "count",
    "streaming.runtime.duplicate_ratio": "ratio",
    "streaming.add_batch_growth": "ratio",
    "functions.filters.pass_ratio": "ratio",
    "generator.lateness_p99_s": "s",
    "exec.core_scaling": "ratio",
    "trace.overhead_frac": "ratio",
}

END_TO_END = {
    "setup_s": "s",
    "latency_mean_s": "s",
    "latency_p90_s": "s",
    "throughput_per_s": "1/s",
    "heap_after_gc_mb": "MB",
}


class Context:
    """Paths, environment and the Spark session of one run."""

    def __init__(self):
        self.cores = len(os.sched_getaffinity(0))  # what nproc reports
        self.spark = None
        self._t0 = time.perf_counter()
        self.spans = Spans()

    def log(self, msg: str) -> None:
        dt = time.perf_counter() - self._t0
        print(f"perfbench {dt:7.2f}s: {msg}", file=sys.stderr, flush=True)

    def scratch(self, name: str) -> str:
        """A fresh directory under the run's scratch area."""
        path = os.path.join(WORK, "run", name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def cache(self, name: str) -> str:
        """A path under the checkout's cache, kept from run to run."""
        os.makedirs(os.path.join(WORK, "cache"), exist_ok=True)
        return os.path.join(WORK, "cache", name)

    def start_session(self, trace: bool, master: str | None = None):
        from decisions_kinesis_spark.session import get_session

        self.spark = get_session(
            app_name="perfbench",
            master=master,
            extra_conf=TRACE_CONF if trace else None,
        )
        self.spark.range(1).collect()  # first job: executor and codegen up
        return self.spark

    def heap_after_gc_mb(self) -> float:
        return heap_after_gc_mb(self.spark)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM it launched to exit."""
        self.stop_session()
        from pyspark import SparkContext

        gw = SparkContext._gateway  # noqa: SLF001 - the launched JVM
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001


def _environment(cores: int) -> None:
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    # Python workers import the engine by module path (dks_kinesis
    # source classes are pickled by name)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # -UsePerfData: no hsperfdata file, which the JVM writes under /tmp
    # whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # the engine's default JVM heap ceiling (32g) exceeds small hosts
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    os.environ.setdefault("SPARK_GRAFT_QUIET_WINDOWEXEC", "1")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # The JVM writes to fd 1; keep stdout for the result line only.
    real_stdout = os.fdopen(os.dup(1), "w")
    sys.stdout.flush()
    os.dup2(2, 1)

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    try:
        import decisions_kinesis_spark.session  # noqa: F401
        import oracle_check  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.workload == "batch_tpch" and not os.environ.get(TPCH_DIR_ENV):
        print(f"perfbench: batch_tpch needs {TPCH_DIR_ENV} set to the sf0.1 "
              "fixture tables", file=sys.stderr)
        return 2

    ctx = Context()
    _environment(ctx.cores)
    root = ctx.spans.open("workload", workload=args.workload, seed=args.seed)
    try:
        out = WORKLOADS[args.workload](ctx, args.seed, args.seconds, bool(args.trace))
    finally:
        ctx.shutdown()
    ctx.spans.close(root)
    if not out["samples"]:
        print("perfbench: no operation completed, so there is no metric", file=sys.stderr)
        return 1
    metrics, wanted = out["metrics"], END_TO_END
    if args.trace:
        wanted = PER_LAYER
        # a layer the workload never enters did no work: it reads 0
        metrics = {k: metrics.get(k, 0.0) for k in wanted}
        for k, u in wanted.items():
            print(f"{k:34s} {metrics[k]:14.6g} {u}", file=sys.stderr)
        path = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": ctx.spans.rows}, f)
        ctx.log(f"spans written to {path}")
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in wanted.items()},
    }
    print(json.dumps(result, allow_nan=False), file=real_stdout, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
