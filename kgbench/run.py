#!/usr/bin/env python3
"""Knowledge-graph construction benchmark.

    python3 kgbench/run.py --workload crawl_short --seed 1 --seconds 5 \\
        --trace 0

builds the knowledge graph of one workload the way a user does
(`plans.pipeline.run_kg`, or for link_dense the `build_graph` and
`write_table` steps it runs). Set-up generates the inputs from the seed,
starts the session and runs one untimed warm-up pass; then whole passes
run until --seconds have gone by. Every pass's output is checked, and
the last stdout line is one JSON object {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end
ones; --trace 1 runs the traced passes of traced.py and prints the
per-layer ones. Everything the run writes goes under `.kgbench_work/`
at the repository root, which it removes on exit. See kgbench/README.md.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
# The package pins BLAS to one thread before numpy first loads, which
# the in-process decode needs to match the workers bit for bit. Outside
# a checkout this import fails, and the benchmark exits before any run.
import dygiepp_spark  # noqa: E402,F401

import proctree  # noqa: E402
import workload as W  # noqa: E402

HEAP_MB = 2048


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1])


def _prepare_env(trace: bool) -> None:
    """Point every scratch location of Spark, the JVM and Python at
    W.WORK, and size the heap to fit the host."""
    shutil.rmtree(W.WORK, ignore_errors=True)
    tmp = os.path.join(W.WORK, "tmp")
    os.makedirs(tmp)
    heap = min(HEAP_MB, _mem_total_kb() // 1024 // 4)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(W.WORK, "spark-local"),
        "SPARK_GRAFT_CPUS": str(W.K),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap}m",
    })
    conf = [f"spark.sql.warehouse.dir={os.path.join(W.WORK, 'warehouse')}",
            "spark.ui.showConsoleProgress=false"]
    if trace:
        log_dir = os.path.join(W.WORK, "eventlog")
        os.makedirs(log_dir)
        conf += ["spark.eventLog.enabled=true",
                 "spark.eventLog.compress=false",
                 f"spark.eventLog.dir=file:{log_dir}"]
    args = [a for c in conf for a in ("--conf", c)]
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    args += ["--driver-java-options",
             f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData", "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(proctree.tree()) > 1 and time.time() < deadline:
        time.sleep(0.2)


def _host() -> dict:
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True,
                             timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {"nproc": W.NPROC, "mem_total_kb": _mem_total_kb(),
            "git_sha": sha, "k": W.K,
            "utc": datetime.datetime.now(datetime.timezone.utc)
            .strftime("%Y-%m-%dT%H:%M:%SZ")}


def _measure(spark, wl: W.Workload, seconds: float, bad: list[str]
             ) -> tuple[dict, int, int]:
    """Whole passes until `seconds` have gone by; the median of each
    end-to-end figure over the passes that did not fail."""
    walls, cpus = [], []
    attempted = failed = 0
    begin = time.perf_counter()
    while attempted == 0 or time.perf_counter() - begin < seconds:
        attempted += 1
        try:
            wl.prepare(attempted)
            wall, cpu = W.run_pass(spark, wl, attempted)
            W.check_pass(wl, attempted, bad)
        except Exception:
            traceback.print_exc()
            failed += 1
            continue
        print(f"pass {attempted}: {wall:.3f} s, cpu {cpu:.2f} s",
              file=sys.stderr)
        walls.append(wall)
        cpus.append(cpu)
    metrics = {"kg_build_s": (statistics.median(walls), "s"),
               "cpu_s": (statistics.median(cpus), "s")} if walls else {}
    return metrics, attempted, failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    from dygiepp_spark.plans.session import get_spark

    _prepare_env(bool(args.trace))
    wl = W.Workload(args.workload, args.seed)
    bad: list[str] = []
    spark = None
    try:
        # set-up: inputs, session, one untimed warm-up pass
        wl.prepare(0)
        gen_end = proctree.process_age_s()
        spark = get_spark(app_name=f"kgbench-{args.workload}", cores=W.K)
        session_end = proctree.process_age_s()
        wl.build(spark, W.out_dir(0))
        setup_s = proctree.process_age_s()
        print(f"set-up {setup_s:.2f} s: inputs by {gen_end:.2f} s, "
              f"session by {session_end:.2f} s, warm-up pass "
              f"{setup_s - session_end:.2f} s", file=sys.stderr)
        W.check_pass(wl, 0, bad)

        if args.trace:
            import traced
            metrics, attempted, failed = traced.run(spark, wl, bad)
        else:
            metrics, attempted, failed = _measure(spark, wl, args.seconds,
                                                  bad)
            if metrics:
                metrics["setup_s"] = (setup_s, "s")
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(W.WORK, ignore_errors=True)

    for m in bad[:20]:
        print("CHECK FAILED:", m, file=sys.stderr)
    print(json.dumps({"host": _host()}))
    print(json.dumps({
        "correct": not bad and len(metrics) > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
