"""Cold-query benchmark of the c360 registry: one workload per run, each
query once, cold, in a fresh process (see ``perfbench/README.md``).

Usage::

    python3 perfbench/run.py --workload relational --seed 1 --seconds 30 --trace 0

A run generates the input tables once per checkout (``perfbench/.work``),
starts a ``local[4]`` session, warms it up, runs the workload's queries in
the order ``--seed`` picks, timing each in three phases (build, plan,
exec), then verifies every output outside the timed region. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the per-layer
metrics of a traced run). ``--seconds`` is the time budget: no query is
started after three times that many seconds, and a query not started
counts as failed.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CORES = 4
# the JVM heap is committed whole at launch (-Xms = -Xmx) and its young
# generation is fixed: a heap that grows on demand, with G1 sizing the young
# generation to its pause target, puts 300-400 MB between the peak resident
# sizes of two runs of the same work; fixed, the heap's high-water mark
# moves with what the old generation holds
JVM_HEAP, YOUNG_GEN = "2g", "512m"
DATA_SF, DATA_SEED = 0.1, 42
REQUIRED = ("__spark_entry__.py", "bigdata_etl_customer360_spark",
            os.path.join("tests", "oracle_check.py"))

sys.path[:0] = [ROOT, HERE]

from workloads import WORKLOADS, query_order  # noqa: E402

# the end-to-end metrics a run reports; query_p50_s and failed_frac are
# printed on the summary line only (see README.md, "Scope")
END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def ensure_data() -> str:
    """The input tables, generated on first use; the directory name carries
    the generator's content hash, so a changed generator writes anew."""
    with open(os.path.join(HERE, "gendata.py"), "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:12]
    sf_dir = os.path.join(WORK, "data", f"sf{DATA_SF}-seed{DATA_SEED}-{tag}")
    if not os.path.isdir(sf_dir):
        subprocess.run([sys.executable, os.path.join(HERE, "gendata.py"),
                        sf_dir, "--sf", str(DATA_SF), "--seed", str(DATA_SEED)],
                       check=True)
    return sf_dir


def confine_temp_files(run_tmp: str) -> None:
    """Points every temp-file user (Python, the JVM, Spark's local dirs) at
    this run's directory inside the checkout."""
    os.environ["TMPDIR"] = run_tmp
    tempfile.tempdir = run_tmp
    os.environ["SPARK_LOCAL_DIRS"] = run_tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} -XX:-UsePerfData "
        f"-Djava.io.tmpdir={run_tmp}").strip()


def start_session(run_tmp: str):
    """Imports, JVM launch, engine confs and an untimed warm-up that primes
    the JVM, the bucketed-table and partition-overwrite writers, one Arrow
    Python worker and one availableNow stream without touching any registry
    query, memo or ``sources`` call."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from bigdata_etl_customer360_spark.session import get_session

    spark = get_session(
        app_name="c360-perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": JVM_HEAP,
            "spark.driver.extraJavaOptions":
                f"-Xms{JVM_HEAP} -Xmn{YOUNG_GEN}",
            "spark.local.dir": run_tmp,
            "spark.sql.warehouse.dir": os.path.join(run_tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job and stage back from the store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # the JVM: a parquet scan, a broadcast and a sort-merge join, a window
    # and aggregations, and SQL text with decimal and date arithmetic, so
    # the first timed query does not pay their class loading and first
    # compilation
    base = os.path.join(run_tmp, "warmup-table")
    spark.range(0, 20_000, numPartitions=CORES).select(
        (F.col("id") % 1000).alias("k"), F.col("id").alias("v"),
        (F.col("id") / 7).cast("decimal(15,2)").alias("price"),
        F.date_add(F.lit("1995-01-01").cast("date"),
                   (F.col("id") % 365).cast("int")).alias("day"),
    ).write.parquet(base)
    t = spark.read.parquet(base)
    dim = t.groupBy("k").agg(F.sum("v").alias("s"))
    (t.join(F.broadcast(dim), "k")
     .join(t.withColumnRenamed("k", "k2").hint("merge"), "v")
     .withColumn("r", F.row_number().over(Window.partitionBy("k").orderBy("v")))
     .groupBy("k").agg(F.max("r")).collect())
    t.createOrReplaceTempView("perfbench_warmup_sql")
    spark.sql("""
        SELECT k, sum(price * (1 - price / 1000)) AS rev, count(*) AS n
        FROM perfbench_warmup_sql
        WHERE day < date '1995-06-01' AND year(day) = 1995
        GROUP BY k ORDER BY rev DESC LIMIT 10""").collect()
    spark.catalog.dropTempView("perfbench_warmup_sql")
    # the lake paths: cached string fingerprints in a bucketed external
    # catalog table folded by an anti-join append, and a dynamic
    # partition overwrite run twice
    fps = t.select(F.md5(F.regexp_replace(F.lower(F.trim(
        F.concat_ws(" ", "k", "v"))), r"\s+", " ")).alias("fp"), "k").cache()
    table = "perfbench_warmup_bucketed"
    (fps.filter(F.col("k") < 500).write.mode("overwrite").format("parquet")
     .bucketBy(CORES, "fp")
     .option("path", os.path.join(run_tmp, "warmup-bucketed"))
     .saveAsTable(table))
    (fps.join(spark.table(table), "fp", "left_anti")
     .write.mode("append").format("parquet").bucketBy(CORES, "fp")
     .saveAsTable(table))
    spark.sql(f"DROP TABLE {table}")
    fps.unpersist()
    days = os.path.join(run_tmp, "warmup-days")
    for keep in (3, 2):
        (t.filter(F.col("k") % keep == 0).withColumn("d", F.col("k") % 5)
         .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .partitionBy("d").parquet(days))
    spark.read.parquet(days).groupBy("d").count().collect()
    spark.range(0, 1000, numPartitions=1).mapInPandas(
        lambda it: it, "id long").collect()
    # a watermarked window aggregation over a parquet file source, one
    # file per trigger, drained availableNow into a memory sink
    src = os.path.join(run_tmp, "warmup-src")
    for day in (1, 2):
        spark.range(0, 100).select(
            F.timestamp_seconds(F.col("id") * 60 + day * 86400).alias("ts"),
            (F.col("id") % 4).alias("k"),
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema("ts timestamp, k long")
              .option("maxFilesPerTrigger", 1).parquet(src)
              .withWatermark("ts", "1 hour")
              .groupBy(F.window("ts", "1 day"), "k").count())
    (stream.writeStream.format("memory").queryName("perfbench_warmup")
     .outputMode("append").trigger(availableNow=True)
     .option("checkpointLocation", os.path.join(run_tmp, "warmup-ckpt"))
     .start().awaitTermination())
    spark.catalog.dropTempView("perfbench_warmup")
    return spark, entry


class Instruments:
    """The traced run's collectors, installed around the timed pass."""

    def __init__(self, spark, entry) -> None:
        import tracing

        self.t = tracing
        self.spark = spark
        self.tracer = tracing.Tracer()
        self.materialized = tracing.MaterializeCounter(self.tracer)
        self.stream = tracing.StreamStats()
        self.bounds: list[tuple[str, int, int]] = []
        self.exchanges = 0
        self._undo = tracing.instrument_modules(self.tracer, [vars(entry)])
        self.materialized.install()
        spark.streams.addListener(self.stream)

    def job_mark(self) -> int:
        return self.t.next_job_id(self.spark)

    @contextlib.contextmanager
    def phase(self, name: str, span: str):
        """A span around one phase; build-phase spans are the registry's."""
        self.tracer.phase = name
        idx = self.tracer.begin(span, "registry" if name == "build" else name)
        try:
            yield
        finally:
            self.tracer.end(idx)
            self.tracer.phase = ""

    def close(self) -> None:
        self.spark.streams.removeListener(self.stream)
        self.materialized.uninstall()
        self._undo()

    def metrics(self, records: list[dict]) -> dict[str, float]:
        t = self.t
        m = t.phase_counters(self.spark, self.bounds)
        ok = [r for r in records if "exec_s" in r]
        for phase in ("build", "plan", "exec"):
            m[f"{phase}.s"] = sum(r[f"{phase}_s"] for r in ok)
        total = m["build.s"] + m["plan.s"] + m["exec.s"]
        m["plan.exchanges"] = self.exchanges
        m["build.share"] = m["build.s"] / total if total else 0.0
        m["exec.slot_util"] = (m["exec.task_run_s"] / (m["exec.s"] * CORES)
                               if m["exec.s"] else 0.0)
        m["build.materialize_calls"] = self.materialized.calls
        m.update(self.stream.metrics())
        m.update(t.layer_metrics(self.tracer.spans,
                                 ["registry"] + t.REPORTED_LAYERS))
        return m


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    import tracing

    names = [f"{p}.{c}" for p in tracing.PHASES
             for c in ("s",) + tracing.PHASE_COUNTERS]
    names += ["plan.s", "plan.exchanges", "build.share", "exec.slot_util",
              "build.materialize_calls"]
    names += [f"stream.{c}" for c in tracing.STREAM_COUNTERS]
    names += [f"{lay}.{k}" for lay in ["registry"] + tracing.REPORTED_LAYERS
              for k in ("s", "calls")]

    def unit(n: str) -> str:
        if n.endswith((".s", "_s")):
            return "s"
        if n.endswith("_mb"):
            return "MB"
        if n.endswith((".share", ".slot_util")):
            return "ratio"
        return "count"
    return {n: unit(n) for n in names}


def timed_pass(spark, entry, order: list[str], sf_dir: str, budget_s: float,
               inst: Instruments | None) -> tuple[list[dict], float]:
    """Runs each query once: build (the q-body call), plan (forcing the
    executed plan), exec (the noop write). Returns per-query records and
    the wall time from the first q-body call to the last write's end."""
    registry = entry.queries()

    def phase(name: str, span: str):
        return inst.phase(name, span) if inst else contextlib.nullcontext()

    records = []
    start = time.perf_counter()
    end = start
    for name in order:
        rec: dict = {"name": name}
        records.append(rec)
        if time.perf_counter() - start > budget_s:
            rec["error"] = "not started: time budget spent"
            continue
        if inst:
            inst.tracer.query = name
            j0 = inst.job_mark()
        try:
            t0 = time.perf_counter()
            with phase("build", f"registry:{name}"):
                df = registry[name](spark, sf_dir)
            t1 = time.perf_counter()
            if inst:
                j1 = inst.job_mark()
            with phase("plan", "plan"):
                plan = df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with phase("exec", "exec"):
                df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
        except Exception:
            rec["error"] = traceback.format_exc()
            print(f"# {name} FAILED\n{rec['error']}", file=sys.stderr)
            continue
        end = t3
        rec.update(df=df, build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2)
        if inst:
            inst.bounds += [("build", j0, j1), ("exec", j1, inst.job_mark())]
            inst.exchanges += inst.t.count_exchanges(plan.toString())
        print(f"# {name}: build {t1 - t0:.3f}s plan {t2 - t1:.3f}s "
              f"exec {t3 - t2:.3f}s", file=sys.stderr)
        # operators cache twice-consumed intermediates; release them so the
        # pass does not accumulate storage blocks (as bench.py does)
        spark.catalog.clearCache()
    return records, end - start


def median_latency(records: list[dict]) -> float:
    """Median cold latency (build + plan + exec) of the queries that ran."""
    lat = [r["build_s"] + r["plan_s"] + r["exec_s"]
           for r in records if "exec_s" in r]
    return statistics.median(lat) if lat else 0.0


def verify_outputs(records: list[dict], entry, sf_dir: str) -> None:
    """Marks each record that ran with its verification problems, if any."""
    from verify import Verifier, load_digests

    verifier = Verifier(sf_dir, entry.oracle_sql(), load_digests())
    try:
        for rec in records:
            if "df" not in rec:
                continue
            try:
                t0 = time.perf_counter()
                pdf = rec["df"].toPandas()
                t1 = time.perf_counter()
                problems = verifier.check(rec["name"], pdf)
                print(f"# verify {rec['name']}: collect {t1 - t0:.3f}s "
                      f"check {time.perf_counter() - t1:.3f}s", file=sys.stderr)
            except Exception:
                problems = [traceback.format_exc()]
            if problems:
                rec["error"] = "verification: " + "; ".join(problems)
                print(f"# {rec['name']} WRONG: {rec['error']}", file=sys.stderr)
    finally:
        verifier.close()


def stop_session(spark) -> None:
    """Stops Spark, the JVM and every process they started, and waits for
    each to end."""
    import procstat
    from pyspark import SparkContext

    started = procstat.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    procstat.wait_ended(started)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {ROOT} is not a c360 checkout (missing "
              f"{', '.join(missing)})", file=sys.stderr)
        return 2
    sf_dir = ensure_data()
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    run_tmp = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-",
                               dir=os.path.join(WORK, "tmp"))
    try:
        return run(args, sf_dir, run_tmp)
    finally:
        shutil.rmtree(run_tmp, ignore_errors=True)


def run(args: argparse.Namespace, sf_dir: str, run_tmp: str) -> int:
    import procstat

    confine_temp_files(run_tmp)
    t0 = time.perf_counter()
    spark, entry = start_session(run_tmp)
    setup_s = time.perf_counter() - t0

    order = query_order(args.workload, args.seed)
    try:
        inst = Instruments(spark, entry) if args.trace else None
        sampler = procstat.TreeSampler()
        sampler.start()
        try:
            records, wall_s = timed_pass(spark, entry, order, sf_dir,
                                         3 * args.seconds, inst)
        finally:
            sampler.stop()
            if inst:
                inst.close()
        layer = inst.metrics(records) if inst else {}
        t1 = time.perf_counter()
        verify_outputs(records, entry, sf_dir)
        print(f"# verify: {time.perf_counter() - t1:.3f}s", file=sys.stderr)
    finally:
        t1 = time.perf_counter()
        stop_session(spark)
        print(f"# stop: {time.perf_counter() - t1:.3f}s", file=sys.stderr)

    failed = sum(1 for r in records if "error" in r)
    e2e = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "cpu_s": sampler.cpu_s,
        "peak_rss_mb": sampler.peak_rss / 2**20,
    }
    if inst:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        inst.tracer.dump(os.path.join(
            WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
    shown = {**e2e, "query_p50_s": median_latency(records),
             "failed_frac": failed / len(records)}
    units = {**END_TO_END, "query_p50_s": "s", "failed_frac": "ratio"}
    summary = " ".join(f"{k}={v:.4f} {units[k]}" for k, v in shown.items())
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"{summary} ({failed}/{len(records)} queries failed; order "
          f"{','.join(order)})")
    if inst:
        units = per_layer_units()
        metrics = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(records),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
