"""Seeded end-to-end benchmark of the coastsat_spark engine.

    python3 perfbench/run.py --workload shoreline_full --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One driver process at local[<=4] sets
up (session, seeded inputs, untimed warm-up), then runs the workload as
a closed loop, one iteration after another, until `--seconds` have
passed and at least two iterations are made (one pair of untraced and
traced iterations with `--trace 1`), checking each iteration's output. The
last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics for `--trace 0` and the per-layer metrics for `--trace 1`.
`--report PATH` also writes the run's details (iteration walls, output
signatures, spans) as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEMORY = "2g"  # get_spark's 16g default overcommits a 15 GB host
MAX_CORES = 4


def _session(work: str, cores: int, trace: bool):
    from coastsat_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        # a fixed, pre-touched heap: resident memory then differs between
        # runs by what the program holds off-heap and in Python, not by
        # when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name="perfbench", cpus=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _stop(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes;
    the Python workers exit with it), and wait for it."""
    proc = spark.sparkContext._gateway.proc
    try:
        spark.stop()
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _check(wl, expected, first_sig) -> tuple[list, list[str]]:
    """The output check of one iteration: the workload's own invariants,
    the signature recorded for this seed (if any), and agreement with
    the run's first iteration."""
    try:
        sig, problems = wl.check()
    except Exception as e:  # noqa: BLE001 - a check that cannot run is a failed check
        traceback.print_exc()
        sig, problems = None, [f"output check raised {type(e).__name__}: {e}"]
    if expected is not None and sig != expected:
        problems.append(f"output {sig} != recorded {expected}")
    if first_sig is not None and sig != first_sig:
        problems.append(f"output {sig} differs from the first iteration's {first_sig}")
    for msg in problems:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    return sig, problems


def _measure(args, spark, wl, report: dict, tracer) -> tuple[int, int, float]:
    """The closed loop: iterations one after another until `--seconds`
    have passed and the minimum count is made. Returns (attempted,
    failed, peak resident MB)."""
    from perfbench import spans

    attempted = failed = 0
    first_sig = None
    # untraced runs make at least the workload's minimum number of
    # iterations, so run_s is a median; traced runs one (plain, traced) pair
    min_iter = 1 if args.trace else wl.min_iterations
    t_loop = time.perf_counter()
    with spans.RssSampler(_jvm_pid(spark)) as rss:
        while attempted < min_iter or time.perf_counter() - t_loop < args.seconds:
            rec: dict = {"i": attempted}
            attempted += 1
            if args.trace:
                # an untraced iteration under one job group gives the
                # plan-level counts and the same-process untraced wall
                spark.sparkContext.setJobGroup(f"plain{rec['i']}|plans", "plans")
                a, a_epoch = time.perf_counter(), time.time()
                wl.iterate(spans.NullTracer())
                rec["plain"] = {"start": a_epoch, "wall_s": time.perf_counter() - a}
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                wl.install(tracer)
            tracer.begin_iteration(f"trace{rec['i']}")
            a = time.perf_counter()
            try:
                docs = wl.iterate(tracer)
            except Exception:  # noqa: BLE001 - a failed iteration is counted, not fatal
                traceback.print_exc()
                failed += 1
                continue
            finally:
                tracer.end_iteration()
                tracer.unpatch()
            wall = time.perf_counter() - a
            sig, problems = _check(wl, report["expected"], first_sig)
            first_sig = first_sig or sig
            failed += bool(problems)
            rec.update(wall_s=wall, docs=docs, signature=sig, problems=problems,
                       rss_mb=rss.peak / 2**20, procs_at_peak=rss.procs_at_peak)
            report["iterations"].append(rec)
    return attempted, failed, rss.peak / 2**20


def run(args, work: str) -> tuple[dict, dict]:
    from perfbench import spans
    from perfbench.workloads import WORKLOADS, generate

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    wl = WORKLOADS[args.workload](work, args.seed)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f).get(args.workload, {}).get(str(args.seed))
    # inputs are generated in worker processes while the JVM starts
    procs = generate(*wl.inputs(), cores)
    try:
        t0 = time.perf_counter()
        spark = _session(work, cores, bool(args.trace))
        t1 = time.perf_counter()
    finally:
        codes = [p.wait() for p in procs]
    if any(codes):
        _stop(spark)
        raise RuntimeError(f"input generation failed: exit codes {codes}")
    try:
        t2 = time.perf_counter()
        wl.setup(spark)
        t3 = time.perf_counter()
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": cores,
            "driver_memory": DRIVER_MEMORY,
            "session_start_s": t1 - t0,
            "generate_wait_s": t2 - t1,
            "warmup_s": t3 - t2,
            "setup_s": t3 - T_PROCESS,
            "expected": expected,
            "iterations": [],
        }
        tracer = spans.Tracer(spark) if args.trace else spans.NullTracer()
        attempted, failed, peak_mb = _measure(args, spark, wl, report, tracer)
    finally:
        _stop(spark)
    if not report["iterations"]:
        raise RuntimeError("no iteration completed")
    run_s = statistics.median(r["wall_s"] for r in report["iterations"])
    report["peak_rss_mb"] = peak_mb
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": {}}
    if not args.trace:
        result["metrics"] = {
            "run_s": {"value": run_s, "unit": "s"},
            "docs_per_s": {"value": report["iterations"][0]["docs"] / run_s, "unit": "docs/s"},
            "setup_s": {"value": report["setup_s"], "unit": "s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }
    else:
        from perfbench.layers import layer_metrics

        log_dir = os.path.join(work, "events")
        (log_name,) = os.listdir(log_dir)
        log = spans.EventLog(os.path.join(log_dir, log_name))
        result["metrics"], report["spans"] = layer_metrics(log, tracer.spans, report)
    return result, report


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--report", help="write the run's details as JSON to this path")
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "coastsat_spark", "__init__.py")):
        print("perfbench: run from the root of a coastsat_spark checkout", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # the JVM and the Python workers write temp files and import the
    # engine from this checkout, nowhere else
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # the Python workers run this interpreter, whatever `python` is on PATH;
    # the JVM binds to loopback, whatever the host name resolves to
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    # every JVM, spark-submit's launcher included: temp files here, and no
    # /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    try:
        result, report = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.report:
        with open(args.report, "w") as f:
            json.dump(report, f, indent=1, default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path[0] = os.getcwd()  # the checkout root, not this directory
    raise SystemExit(main())
