"""Self-test of the benchmark's job attribution.

    python3 perfbench/selftest.py

Materialises three frames on Python pool threads, once through
``operators.stage_cache.build_many`` and once from a plain
``ThreadPoolExecutor``, and checks that the job-id range around each
call counts every frame's job.  It also prints how many of those jobs
carry the caller's job group, the attribution the range replaces (a
plain pool thread does not inherit it).  Exits 0 when the range counts
them all, 1 otherwise.
"""

from __future__ import annotations

import os
import sys
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path[:0] = [ROOT, HERE]
    from run import Context, _environment

    from decisions_kinesis_spark.operators import stage_cache
    from layers import JobLedger

    ctx = Context()
    _environment(ctx.cores)
    ok = True
    try:
        spark = ctx.start_session(trace=True)
        ledger = JobLedger(spark)

        frames = [
            lambda i=i: spark.range(1000 * (i + 1)).localCheckpoint(eager=True)
            for i in range(3)
        ]

        def engine_pool():
            specs = [(f"perfbench_selftest_{i}", "k", b) for i, b in enumerate(frames)]
            stage_cache.build_many(spark, specs)
            stage_cache.clear()

        def plain_pool():
            with ThreadPoolExecutor(max_workers=3) as pool:
                for f in [pool.submit(b) for b in frames]:
                    f.result()

        for label, run_pool in (("stage_cache.build_many", engine_pool),
                                ("plain ThreadPoolExecutor", plain_pool)):
            group = f"perfbench-selftest-{label}"
            spark.sparkContext.setJobGroup(group, "job attribution check")
            j0 = ledger.mark()
            run_pool()
            by_range = ledger.stats(j0, ledger.mark()).jobs
            by_group = len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
            good = by_range >= 3 and by_range >= by_group
            ok = ok and good
            print(f"{label}, 3 frames: {by_range} jobs by id range, "
                  f"{by_group} by job group -> {'ok' if good else 'FAIL'}")
    finally:
        ctx.shutdown()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
