"""Per-query profiling harness (optimization round): decomposes one
query's wall time into plan-construction (Python + analysis), and
execution (noop sink), and counts the Spark jobs/stages/tasks the run
launched.  Usage:

    python tools/profile_query.py q1_pricing_summary ann_recall_at_k ...
    python tools/profile_query.py --all          # every registered query
    python tools/profile_query.py --repeat 3 name

Prints one line per query:
    name  build_s  exec_cold_s  exec_warm_s  jobs  stages  tasks

Methodology follows the bench: memo caches cleared before every pass so
the numbers measure operators, not memos; noop sink per guide §1.4.
Jobs are counted by job-id range with the bench's ``JobLedger``
(construction-time jobs from pool threads included), over the cold pass
only, read right after it runs.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.layers import TRACE_CONF, JobLedger  # noqa: E402

#: untimed warm-up at the smallest fixture (the bench protocol):
#: JIT/codegen/Arrow/worker-pool costs stay out of the timed passes
WARM_DIR = "/root/testdata/sf0.001"


def _clear_memos() -> None:
    from decisions_kinesis_spark.operators import stage_cache
    from decisions_kinesis_spark.operators.clustering import _KM_LOOP_CACHE

    stage_cache.clear()
    _KM_LOOP_CACHE.clear()


def _run(spark, fn, sf_dir: str) -> tuple[float, float]:
    """(build_s, exec_s) of one memo-cleared pass."""
    _clear_memos()
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return t1 - t0, time.perf_counter() - t1


def profile(spark, ledger: JobLedger, fn, sf_dir: str, repeat: int = 1) -> dict:
    """One query's row: the cold pass's build/exec seconds and job
    counts, then the best build+exec seconds of ``repeat`` warm passes."""
    lo = ledger.mark()
    build, cold = _run(spark, fn, sf_dir)
    stats = ledger.stats(lo, ledger.mark())
    warm = min(sum(_run(spark, fn, sf_dir)) for _ in range(repeat))
    return {
        "build": round(build, 3),
        "cold": round(cold, 3),
        "warm": round(warm, 3),
        "jobs": stats.jobs,
        "stages": stats.stages,
        "tasks": stats.tasks,
    }


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    do_all = "--all" in sys.argv
    repeat = 1
    if "--repeat" in sys.argv:
        repeat = int(sys.argv[sys.argv.index("--repeat") + 1])
        args.remove(str(repeat))

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_QUIET_WINDOWEXEC", "1")

    import __spark_entry__ as entry_mod
    from decisions_kinesis_spark.session import get_session

    spark = get_session(app_name="dks-profile", extra_conf=TRACE_CONF)
    spark.range(1000).selectExpr("sum(id)").collect()
    ledger = JobLedger(spark)

    qs = entry_mod.queries()
    names = list(qs) if do_all else args

    # stream-bandwidth gauge (bench.py's certifying probe): prints with
    # every row so stall-poisoned measurements are visible
    _n = 64 * 1024 * 1024
    _src = bytes(_n)
    _dst = memoryview(bytearray(_n))
    _dst[:] = _src

    def _bw() -> float:
        t0 = time.perf_counter()
        for _ in range(3):
            _dst[:] = _src
        return round(3 * 2 * _n / (time.perf_counter() - t0) / 1e9, 1)

    print(
        f"{'query':44s} {'build':>7} {'cold':>7} {'warm':>7}"
        f" {'jobs':>5} {'stage':>5} {'tasks':>6}"
    )
    results = {}
    for name in names:
        fn = qs[name]
        try:
            if os.path.isdir(WARM_DIR) and os.path.abspath(
                WARM_DIR
            ) != os.path.abspath(sf_dir):
                try:
                    _run(spark, fn, WARM_DIR)
                except Exception:  # noqa: BLE001 - warm-up must never sink
                    pass
            row = profile(spark, ledger, fn, sf_dir, repeat)
        except Exception as exc:  # noqa: BLE001
            print(f"{name:44s} ERROR {type(exc).__name__}: {exc}", flush=True)
            continue
        print(
            f"{name:44s} {row['build']:7.3f} {row['cold']:7.3f} {row['warm']:7.3f}"
            f" {row['jobs']:5d} {row['stages']:5d} {row['tasks']:6d}  bw={_bw()}",
            flush=True,
        )
        results[name] = row
    with open("/tmp/profile_results.json", "w") as f:
        json.dump(results, f, indent=1)


if __name__ == "__main__":
    main()
