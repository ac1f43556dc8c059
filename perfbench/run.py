"""crawl4ai-spark benchmark.

    python3 perfbench/run.py --workload crawl_deep|crawl_wide|curate \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. One run starts a local[nproc] Spark
session from the checkout's own ``crawl4ai_spark`` package, sets up
(seeded inputs, warm-up passes), then repeats the workload until
``--seconds`` have passed (at least once), checking every repetition's
output. All files go to ``.perfbench_work/`` in the checkout and are
removed at the end. BENCHMARK.json lists the workloads the benchmark
gates on; crawl_deep runs the same way but is not among them.

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` untraced and traced repetitions alternate and the metrics
are the per-layer ones plus ``trace_overhead_frac`` (traced wall over
untraced wall). The line before the result is a full report: every
repetition with its 1-minute load average and nproc, quartiles, the
check results and, when traced, the per-round table.

The last line is the result: {"correct", "attempted", "failed",
"metrics"}. The exit code is 0 only when every check passed; it is 2
when the program under test cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {            # name -> unit
    "setup_s": "s",
    "pages_per_s": "1/s",
    "round_s_p50": "s",
}
PER_LAYER = {
    "engine.frontier.rounds": "count",
    "engine.frontier.plan_s": "s",
    "engine.frontier.job1_s": "s",
    "engine.frontier.job2_s": "s",
    "engine.frontier.job1_shuffle_mb": "MB",
    "engine.frontier.job2_shuffle_mb": "MB",
    "engine.frontier.init_s": "s",
    "engine.tables.read_s": "s",
    "engine.tables.reads": "count",
    "engine.tables.commit_s": "s",
    "engine.tables.written_mb": "MB",
    "engine.tables.files": "count",
    "engine.politeness.plan_s": "s",
    "engine.politeness.deferred_rows": "count",
    "engine.robots.denied_rows": "count",
    "engine.robots.plan_s": "s",
    "engine.fetch.rows": "count",
    "engine.fetch.ok_frac": "fraction",
    "extraction.extract.python_run_s": "s",
    "extraction.extract.python_start_s": "s",
    "extraction.extract.arrow_to_py_mb": "MB",
    "extraction.extract.arrow_from_py_mb": "MB",
    "extraction.extract.pages": "count",
    "extraction.extract.spans": "count",
    "engine.bloom.build_s": "s",
    "engine.bloom.add_s": "s",
    "engine.bloom.probe_s": "s",
    "engine.bloom.probed_rows": "count",
    "engine.bloom.maybe_seen_frac": "fraction",
    "ops.quality.gopher_s": "s",
    "ops.quality.decontam_s": "s",
    "ops.dedup.exact_s": "s",
    "ops.dedup.minhash_s": "s",
    "ops.dedup.lsh_pairs": "count",
    "ops.dedup.dup_groups": "count",
    "ops.shuffle_mb": "MB",
    "trace_overhead_frac": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["crawl_deep", "crawl_wide", "curate"])
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (0.0, 0.0)
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def start_spark(work: str, cores: int):
    from crawl4ai_spark.session import build_session

    spark = build_session(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()   # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def measure(spark, wl, seconds: float, traced: bool) -> dict:
    """Repeat the workload for `seconds`; with tracing, alternate
    untraced and traced repetitions (at least one of each)."""
    import layertrace

    plain, layered, tables = [], [], []
    t0 = time.perf_counter()
    while (not plain or (traced and not layered)
           or time.perf_counter() - t0 < seconds):
        load1 = os.getloadavg()[0]
        if traced and len(layered) < len(plain):
            after = layertrace.last_execution_id(spark)
            with layertrace.Tracer() as tracer:
                rep, wh, eng = wl.rep()
            execs = layertrace.sql_executions(spark, after)
            metrics, table = wl.layers(tracer, execs, rep, wh, eng)
            layered.append((rep, load1, metrics))
            tables.append(table)
        else:
            rep, wh, eng = wl.rep()
            plain.append((rep, load1))
        if wh is not None:
            shutil.rmtree(wh.root, ignore_errors=True)
    return {"plain": plain, "layered": layered, "tables": tables}


def run(args, work: str) -> tuple[dict, dict]:
    from workloads import WORKLOADS

    cores = nproc()
    t = time.perf_counter()
    spark = start_spark(work, cores)
    setup = {"session_s": time.perf_counter() - t}
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        t = time.perf_counter()
        wl.build()
        setup["input_build_s"] = time.perf_counter() - t
        t = time.perf_counter()
        for _ in range(wl.warm_up_passes):
            _, wh, _ = wl.rep(warm_up=True)
            if wh is not None:
                shutil.rmtree(wh.root, ignore_errors=True)
        setup["warm_up_s"] = time.perf_counter() - t
        runs = measure(spark, wl, args.seconds, bool(args.trace))
        peak_rss = jvm_peak_rss_mb(spark)
        wl.release()
    finally:
        stop_spark(spark)
    setup["setup_s"] = (setup["session_s"] + setup["input_build_s"]
                        + setup["warm_up_s"])
    return summarize(args, cores, setup, runs, peak_rss)


def summarize(args, cores, setup, runs, peak_rss) -> tuple[dict, dict]:
    plain = [r for r, _ in runs["plain"]]
    layered = [r for r, _, _ in runs["layered"]]
    every = plain + layered
    checks = [ok for r in every for ok in r.checks.values()]
    attempted = sum(r.attempted for r in every) + len(checks)
    failed = sum(r.failed for r in every) + checks.count(False)
    rates = [r.units / r.wall_s for r in plain]
    rounds = [w for r in plain for w in r.round_walls]
    walls = [r.wall_s for r in plain]
    e2e = {
        "setup_s": (setup["setup_s"], [setup["setup_s"]]),
        "pages_per_s": (statistics.median(rates), rates),
        "round_s_p50": (statistics.median(rounds), rounds),
    }
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": cores, "setup": setup,
        "reps": [{"wall_s": r.wall_s, "units": r.units, "load1": load,
                  "nproc": cores, "traced": traced, "checks": r.checks}
                 for runs_key, traced in (("plain", False), ("layered", True))
                 for r, load, *_ in runs[runs_key]],
        "end_to_end": {
            name: {"value": v, "unit": END_TO_END[name], "n": len(xs),
                   "q1": quartiles(xs)[0], "q3": quartiles(xs)[1]}
            for name, (v, xs) in e2e.items()},
        "failed_frac": failed / attempted,
        # VmHWM of the driver JVM: reported, not gated — G1's adaptive
        # heap sizing moves it by about 20% between identical runs
        "peak_rss_mb": peak_rss,
        "rep_wall_s": {"median": statistics.median(walls),
                       "q1": quartiles(walls)[0], "q3": quartiles(walls)[1]},
    }
    if args.workload == "curate":
        report["docs_per_s"] = statistics.median(rates)
    if plain and "warehouse_bytes" in plain[-1].extra:
        report["warehouse_mb"] = plain[-1].extra["warehouse_bytes"] / (1 << 20)
        report["warehouse_files"] = plain[-1].extra["warehouse_files"]
    if args.trace:
        per_rep = [m for _, _, m in runs["layered"]]
        values = {name: statistics.median([m.get(name, 0.0) for m in per_rep])
                  for name in PER_LAYER if name != "trace_overhead_frac"}
        values["trace_overhead_frac"] = (
            statistics.median([r.wall_s for r in layered])
            / statistics.median(walls))
        metrics = {n: {"value": float(v), "unit": PER_LAYER[n]}
                   for n, v in values.items()}
        report["per_round"] = runs["tables"][-1]
    else:
        metrics = {n: {"value": float(v), "unit": END_TO_END[n]}
                   for n, (v, _) in e2e.items()}
    report["metrics"] = metrics
    result = {"correct": bool(checks) and all(checks),
              "attempted": attempted, "failed": failed, "metrics": metrics}
    return report, result


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import crawl4ai_spark.engine.frontier  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: cannot import crawl4ai_spark from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = tmp
    try:
        report, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench report " + json.dumps(report, default=float))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
