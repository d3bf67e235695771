"""The repository benchmark: one closed-loop client validating synthesized
audio tables with the engine, end to end.

    python3 perfbench/run.py --workload audio_payload --seed 1 --seconds 15 --trace 0

Run from the repository root. One process, one Spark session on
``local[nproc]``. Set-up (session start, then rounds of input synthesis, then
warm-up runs) is timed on its own; then the workload's unit of work runs
back to back for ``--seconds`` and every unit is checked against the truth
its seed implies. Times with a bound are CPU seconds of the whole process
tree (client, driver JVM, Python workers); wall times are in the detail
line. ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
re-runs the same loop with spans and Spark job tags and prints the per-layer
metrics instead. The last stdout line is the result object; the line before
it carries sample counts, percentiles and host diagnostics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_ROUNDS = 3
# warm-up runs before the window: the first run after the inputs exist is
# still compiling and costs about twice as much as the ones after it, the
# second still 10-20% more than the runs after it
WARM_UPS = 2
# the loop runs at least this many units, however long they take; on a
# 4-core host they alone fill a 10 s window, so the median always falls on
# the same units of a sequence whose cost still falls unit by unit
MIN_RUNS = {"audio_payload": 4, "metadata_dirty": 3}
# the engine's 16g default would exceed this class of host; recorded in
# every result because it shapes GC time and peak memory
DRIVER_MEM = "2g"


def percentiles(values: list[float]) -> dict[str, float]:
    """Median plus the highest of p75/p90/p95/p99 with >= 10 samples beyond it."""
    out = {"p50": statistics.median(values)}
    for p in (99, 95, 90, 75):
        if len(values) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = statistics.quantiles(values, n=100)[p - 1]
            break
    return out


def start_session(work: str, cores: int, trace: bool):
    from open_data_linter_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-Xlog:gc:file={os.path.join(work, 'gc.log')}",
    }
    if trace:
        from perfbench.trace import event_log_conf

        conf.update(event_log_conf(os.path.join(work, "events")))
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it every Python
    worker) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    SparkContext._gateway = SparkContext._jvm = None
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)


def run_benchmark(workload: str, seed: int, seconds: float, trace: bool, work: str,
                  sizes: dict | None = None) -> tuple[dict, dict]:
    """Set up, measure and check one workload; returns (detail, result)."""
    from perfbench import host
    from perfbench.workloads import SIZES, WORKLOADS, Timed

    size = (sizes or SIZES)[workload]
    cores = host.nproc()
    # peak memory from session start to the end of the measured loop
    mem = host.PssSampler()
    with Timed() as session:
        spark = start_session(work, cores, trace)
    try:
        wl = WORKLOADS[workload](spark, seed, os.path.join(work, "data"), size)
        rounds = []
        for _ in range(SETUP_ROUNDS):
            with Timed() as t:
                wl.build()
            rounds.append(t)
        mismatches = []
        with Timed() as warm:
            for _ in range(WARM_UPS):
                mismatches += wl.run_once().mismatches

        tracer = None
        if trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark, wl, cores)
        units, attempted, failed = [], 0, 0
        cpu0 = host.cpu_times()
        start = time.perf_counter()
        while True:
            attempted += 1
            try:
                s = tracer.measure() if tracer else wl.run_once()
            except Exception:  # a failed run is counted, the loop goes on
                traceback.print_exc(file=sys.stderr)
                failed += 1
            else:
                units.append(s)
                if s.mismatches:
                    failed += 1
                    mismatches += s.mismatches
            if time.perf_counter() - start >= seconds and attempted >= MIN_RUNS[workload]:
                break
        steal = host.steal_share(cpu0, host.cpu_times())
        mem.stop()
        non_heap = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
            .getMemoryMXBean().getNonHeapMemoryUsage().getCommitted()
        if tracer:
            tracer.after_loop()
            mismatches += tracer.mismatches
    finally:
        mem.stop()
        stop_session(spark)

    wall = [u.timed.wall for u in units]
    detail = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
        "nproc": cores, "driver_mem": DRIVER_MEM, "steal_share": round(steal, 4),
        "setup_wall_s": {"session": session.wall, "rounds": [r.wall for r in rounds],
                         "warm_up": warm.wall},
        "setup_cpu_s": {"session": session.cpu, "rounds": [r.cpu for r in rounds],
                        "warm_up": warm.cpu},
        "run_wall_s": {"n": len(wall), **(percentiles(wall) if wall else {}), "all": wall},
        "run_cpu_s": {"n": len(units), **(percentiles([u.timed.cpu for u in units])
                                          if units else {}),
                      "all": [u.timed.cpu for u in units]},
    }
    # memory the run needed: the driver's peak live heap and its non-heap
    # memory, plus the Python processes; the JVM's own footprint follows the
    # heap size the collector chose, and is in the detail line
    mem_mb = {"jvm_live_heap": host.gc_log_peak_live_bytes(os.path.join(work, "gc.log")),
              "jvm_non_heap": non_heap, "python_pss": mem.peak["python"],
              "jvm_pss": mem.peak["jvm"]}
    detail["peak_mem_mb"] = mem_mb = {k: v / 2**20 for k, v in mem_mb.items()}
    metrics = {}
    if tracer:
        out = os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-{seed}.jsonl")
        metrics = tracer.metrics(os.path.join(work, "events"), out)
        detail.update(spans=os.path.relpath(out, ROOT), not_measured=tracer.not_measured,
                      unit_shares=tracer.shares)
    elif wall:
        # CPU seconds, not wall: a co-tenant busy on half of a 4-vCPU host
        # stretches a unit's wall time by ~45% and leaves its CPU time as it
        # was; wall medians are in the detail line
        run_cpu = statistics.median(u.timed.cpu for u in units)
        metrics = {
            "clips_per_cpu_s": (units[0].clips / run_cpu, "1/s"),
            "run_cpu_s": (run_cpu, "s"),
            "setup_s": (session.cpu + statistics.median(r.cpu for r in rounds)
                        + warm.cpu, "s"),
            "peak_mem_mb": (mem_mb["jvm_live_heap"] + mem_mb["jvm_non_heap"]
                            + mem_mb["python_pss"], "MB"),
            "ok_frac": (1 - failed / attempted, "frac"),
        }
        detail["wall"] = {"run_s": statistics.median(wall),
                          "clips_per_s": units[0].clips / statistics.median(wall),
                          "setup_s": session.wall + statistics.median(r.wall for r in rounds)
                          + warm.wall}
    detail["mismatches"] = mismatches[:20]
    result = {
        "correct": not mismatches and failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return detail, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["audio_payload", "metadata_dirty"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "open_data_linter_spark", "plans", "run.py")):
        print(f"no open_data_linter_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # every temporary file, Spark's included, stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    try:
        detail, result = run_benchmark(args.workload, args.seed, args.seconds,
                                       bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
