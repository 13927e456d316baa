"""Tests of the benchmark that need Spark: job counting on a streaming
query, the traced run's metric set, and where a full run writes."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import run
import tracing


def _group_jobs(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_stream_jobs_counted_application_wide(bench_session, small_data):
    """Micro-batch jobs run on the stream's own thread and escape the
    caller's job group; the id-range delta counts them."""
    spark, entry = bench_session
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-agg-stream", "agg_stream build")
    try:
        j0 = tracing.next_job_id(spark)
        df = entry.queries()["agg_stream"](spark, small_data)
        j1 = tracing.next_job_id(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    counted = tracing.phase_counters(spark, [("build", j0, j1)])
    assert counted["build.jobs"] == j1 - j0
    assert counted["build.jobs"] > _group_jobs(spark, "perfbench-agg-stream")
    assert counted["build.stages"] > 0 and counted["build.tasks"] > 0
    assert df.count() > 0


def test_traced_pass_reports_every_per_layer_metric(bench_session, small_data):
    spark, entry = bench_session
    inst = run.Instruments(spark, entry)
    try:
        records, wall = run.timed_pass(spark, entry, ["pricing_summary"],
                                       small_data, 600, inst)
    finally:
        inst.close()
    assert "error" not in records[0] and wall > 0
    m = inst.metrics(records)
    assert set(run.per_layer_units()) <= set(m)
    assert m["exec.jobs"] >= 1 and m["exec.tasks"] >= 1
    assert m["registry.calls"] == 1
    assert m["sources.load_table.calls"] >= 1
    # the harness's own actions after the pass are not build-time
    # materializations
    before = inst.materialized.calls
    records[0]["df"].toPandas()
    assert inst.materialized.calls == before


def _snapshot(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames
                       if not os.path.join(dirpath, d).endswith(
                           os.path.join("perfbench", ".work"))
                       and d != "__pycache__"]
        for f in filenames:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _spark_tmp_entries() -> set[str]:
    tmp = "/tmp"
    return {n for n in os.listdir(tmp)
            if n.startswith(("spark-", "blockmgr-", "hsperfdata", "pyspark",
                             "c360-", "temporary-"))}


def test_a_run_writes_only_inside_its_own_directory():
    before, tmp_before = _snapshot(run.ROOT), _spark_tmp_entries()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "relational",
         "--seed", "3", "--seconds", "30", "--trace", "0"],
        cwd=run.ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(run.END_TO_END)
    assert _snapshot(run.ROOT) == before          # BENCH_FULL.json included
    assert _spark_tmp_entries() <= tmp_before
    assert not os.listdir(os.path.join(run.WORK, "tmp"))


def test_a_bare_benchmark_directory_fails_without_a_result(tmp_path):
    import shutil

    shutil.copytree(run.HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "relational",
         "--seed", "1", "--seconds", "30", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
