"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout of this repository. It generates the
corpus and the requests from the seed, starts a Spark session with the
engine's own factory (`session.get_spark`), runs one workload for
`--seconds` of timed work, checks the outputs, and prints two JSON lines:
the full report, then the result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

whose metrics are the BENCHMARK.json end-to-end metrics (`--trace 0`) or
its per-layer metrics (`--trace 1`). Everything the run writes stays in
`.perfbench_runs/<run>/` of the checkout; the report and the spans are
kept there, the run's index root, Spark scratch and corpus are deleted.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up time counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = os.path.join(ROOT, ".perfbench_runs")
# The engine's 16g default does not fit a 15 GB host shared with other
# work; 4g holds an sf0.1 serving session with room to spare.
DRIVER_MEM = "4g"
DEADLINE_S = 170  # a run that has not finished by then is killed

LOG4J = """\
rootLogger.level = warn
rootLogger.appenderRef.console.ref = console
rootLogger.appenderRef.file.ref = file
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n
appender.file.type = File
appender.file.name = file
appender.file.fileName = {path}
appender.file.layout.type = PatternLayout
appender.file.layout.pattern = %p %c{1}: %m%n
"""


def pin_env(run_dir: str) -> dict:
    """Pin the run environment before the JVM starts and return it."""
    paths = {k: os.path.join(run_dir, k)
             for k in ("index", "local", "tmp", "warehouse", "corpus")}
    for p in paths.values():
        os.makedirs(p)
    log_cfg = os.path.join(run_dir, "log4j2.properties")
    with open(log_cfg, "w") as f:
        f.write(LOG4J.replace("{path}", os.path.join(run_dir, "spark.log")))
    java_opts = " ".join([
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={paths['tmp']}",
        f"-Dlog4j2.configurationFile=file:{log_cfg}",
        f"-Dderby.system.home={paths['warehouse']}"])
    pythonpath = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_INDEX_ROOT": paths["index"],
        "SPARK_LOCAL_DIRS": paths["local"],
        "TMPDIR": paths["tmp"],
        # pandas UDF workers import the engine, so they need the repo too
        "PYTHONPATH": pythonpath,
        "PYSPARK_PYTHON": sys.executable,
        # spark-submit's launcher JVM: no hsperfdata or temp files outside
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={paths['tmp']}",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={shlex.quote(paths['warehouse'])}",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            f"--driver-java-options {shlex.quote(java_opts)}",
            "pyspark-shell"]),
    }
    os.environ.update(env)
    return {**env, "corpus_dir": paths["corpus"],
            "log": os.path.join(run_dir, "spark.log")}


def write_corpus(corpus_dir: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from perfbench import gen

    corpus = gen.make_corpus()
    pq.write_table(pa.table({
        "doc_id": pa.array(corpus["doc_id"], pa.int64()),
        "text": corpus["text"], "lang": corpus["lang"],
        "source": corpus["source"],
        "n_chars": pa.array(corpus["n_chars"], pa.int64()),
    }), os.path.join(corpus_dir, "documents.parquet"))
    return corpus


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def watchdog() -> None:
    """Kill the JVM and exit non-zero if the run overstays DEADLINE_S."""
    def fire():
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        print(f"perfbench: run exceeded {DEADLINE_S}s", file=sys.stderr)
        if proc is not None:
            proc.kill()
            proc.wait()
        os._exit(3)

    t = threading.Timer(DEADLINE_S, fire)
    t.daemon = True
    t.start()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "hadith_vector_search_spark")):
        print("perfbench: no engine package beside perfbench/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import SparkProbe
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    run_dir = os.path.join(RUNS, name)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = pin_env(run_dir)
    corpus = write_corpus(env["corpus_dir"])
    watchdog()

    import pyspark

    from hadith_vector_search_spark.session import get_spark

    spark = get_spark("perfbench")
    try:
        run = Run(spark, SparkProbe(spark), env["corpus_dir"], corpus, args.seed, args.seconds,
                  bool(args.trace), T_START,
                  int(env["SPARK_GRAFT_CPUS"]), env["log"])
        WORKLOADS[args.workload](run)
        result = run.finish()
        run.report["checked_at_s"] = time.perf_counter() - T_START
        java = spark._jvm.java.lang.System.getProperty("java.version")
    finally:
        stop_spark(spark)

    run.report["stopped_at_s"] = time.perf_counter() - T_START
    report = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "metrics": result["metrics"],
        "env": {**{k: v for k, v in env.items() if k != "corpus_dir"},
                "pyspark": pyspark.__version__, "java": java,
                "python": sys.version.split()[0],
                "nproc": int(env["SPARK_GRAFT_CPUS"])},
        **run.report,
    }
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    if run.tracer is not None:
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump(run.tracer.to_json(), f)
    for sub in ("index", "local", "tmp", "warehouse", "corpus"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)

    if args.trace:
        metrics = run.report["layers"]
    else:
        metrics = result["contract"]
    print(json.dumps({k: v for k, v in report.items()
                      if k not in ("ops", "lag_ms")}, default=str))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"], "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
