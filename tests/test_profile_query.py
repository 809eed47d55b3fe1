"""tools/profile_query.py counts the cold pass's jobs even when the
warm passes launch more jobs than the session retains."""

from __future__ import annotations

import json
import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in its own process: the profiler's job ledger needs a session
# whose job history is intact from job 0, which the shared test session
# is not.  The engine's default 100-job retention is kept, so the two
# warm passes (120 jobs) evict the cold pass's jobs unless they are read
# before the warm passes run.
_SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[1])
import profile_query as pq
from decisions_kinesis_spark.session import get_session

def sixty_jobs(spark, sf_dir):
    for _ in range(59):
        spark.range(1).collect()
    return spark.range(10)  # + 1 noop-write job

spark = get_session(app_name="profile-test")
print(json.dumps(pq.profile(spark, pq.JobLedger(spark), sixty_jobs, "", repeat=2)))
"""


def test_profile_counts_cold_jobs_past_warm_passes():
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, os.path.join(_REPO, "tools")],
        cwd=_REPO,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    row = json.loads(out.strip().splitlines()[-1])
    assert row["jobs"] == 60, row
    assert row["stages"] == 60 and row["tasks"] >= 60, row
