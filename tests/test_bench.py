"""bench.py as the per-key harness: the profile each timed key gets from
the status store, and the `--keys` check that runs before any session."""

from __future__ import annotations

import os
import subprocess
import sys

import bench

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROFILE_FIELDS = {
    "build_s",
    "jobs",
    "stages",
    "stages_skipped",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "residue_s",
    "jit_s",
    "top_stages",
}
STAGE_FIELDS = {
    "stage", "tasks", "run_s", "cpu_s", "shuffle_read_mb", "shuffle_write_mb",
}


def test_time_key_profiles_a_cheap_key(spark, sf_dir):
    from fintech_data_lake_as_code_spark.registry import all_queries
    from perfbench.tracing import StatusReader

    guard = bench.LeakGuard(spark)
    reader = StatusReader(spark)
    # the reader finds its first job by walking ids up from 0, which stops
    # early once a long session has evicted its oldest jobs: start it after
    # the newest job instead (a job just run here has the newest id)
    spark.range(1).count()
    reader.next_job = 1 + max(spark.sparkContext.statusTracker().getJobIdsForGroup())
    fn = all_queries()["scan_parquet"]
    runs, prof = bench.time_key(spark, sf_dir, "scan_parquet", fn, guard, reader)
    assert len(runs) == bench.N_RUNS
    assert set(prof) == PROFILE_FIELDS
    assert prof["jobs"] >= 1
    assert prof["tasks"] >= 1
    assert 0 <= prof["build_s"]
    assert 0 <= prof["residue_s"]
    assert 0 <= prof["jit_s"]
    # the build is part of the rep it was split from
    assert prof["build_s"] <= sorted(runs)[-1]
    assert 1 <= len(prof["top_stages"]) <= 3
    for stage in prof["top_stages"]:
        assert set(stage) == STAGE_FIELDS
    assert guard.cache_leaks == {}


def test_unknown_key_is_rejected_before_a_session_starts(tmp_path):
    # JAVA_HOME points at an empty directory, so a session start would fail
    # with a gateway error instead of naming the key
    env = dict(os.environ, JAVA_HOME=str(tmp_path))
    r = subprocess.run(
        [sys.executable, "bench.py", "--keys", "scan_parquet,no_such_key"],
        cwd=REPO_ROOT, env=env, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0
    assert "no_such_key" in r.stderr
    assert "scan_parquet" not in r.stderr.split("unknown keys:")[-1]
