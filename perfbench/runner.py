"""Run one workload in this process and write its result as JSON.

Started by run.py, one fresh process per workload, so that the
workload's set-up time and peak memory are its own. Not meant to be
run by hand; use run.py.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

import gen
from spans import Tracer
from workloads import WORKLOADS

MIN_OPS = 2


def vm_hwm_mb(pid: int | str) -> float:
    """The kernel's high-water mark of a process's resident set."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def log(workload: str, msg: str) -> None:
    print(f"[{workload}] {msg}", file=sys.stderr, flush=True)


def start_session(workload: str, run_dir: Path):
    from elb_log_to_mysql_spark.session import build_session

    java_opts = " ".join([
        f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        f"-Dderby.system.home={run_dir / 'derby'}",
        "-Duser.timezone=UTC",
        # A fixed-size, pre-touched heap: a heap grown at GC-timing-dependent
        # moments made the resident high-water mark vary by a third between
        # runs of one seed.
        f"-Xms{os.environ['SPARK_DRIVER_MEMORY']}",
        "-XX:+AlwaysPreTouch",
    ])
    spark = build_session(
        app_name=f"perfbench-{workload}",
        shuffle_partitions=2 * int(os.environ["SPARK_GRAFT_CPUS"]),
        extra_conf={
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": str(run_dir / "local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-out", required=True)
    args = ap.parse_args(argv)
    run_dir = Path(args.run_dir)
    for sub in ("tmp", "derby", "local"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)

    manifest = gen.GENERATORS[args.workload](args.seed, Path(args.cache) / gen.VERSION)
    w = WORKLOADS[args.workload](manifest, run_dir, nproc=int(os.environ["SPARK_GRAFT_CPUS"]))
    w.prepare()

    t0 = time.perf_counter()
    spark = start_session(args.workload, run_dir)
    t_session = time.perf_counter()
    tracer = Tracer(spark, bool(args.trace))
    w.bind(spark, tracer)
    problems: list[str] = []
    w.setup()
    t_setup = time.perf_counter()
    tracer.begin_op(0, "warmup")
    w.op(0)
    tracer.end_op(w.extra_groups())
    problems += w.check(0)
    setup_s = time.perf_counter() - t0
    log(args.workload, f"session {t_session - t0:.2f} s, workload set-up {t_setup - t_session:.2f} s, "
                       f"warm-up {t0 + setup_s - t_setup:.2f} s")

    latencies: list[float] = []
    items = 0
    failed = 0
    i = 0
    # Whole rounds only, so every run holds the same mix of operations, and
    # at least MIN_OPS of them: a run that stopped after one operation would
    # report the first, slowest one alone.
    while (sum(latencies) < args.seconds or len(latencies) < MIN_OPS) and not failed:
        for _ in range(w.round_ops):
            i += 1
            tracer.begin_op(i, args.workload)
            t = time.perf_counter()
            try:
                n = w.op(i)
            except Exception:  # counted; the round is finished, then the run ends
                traceback.print_exc()
                latencies.append(time.perf_counter() - t)
                failed += 1
                continue
            latencies.append(time.perf_counter() - t)
            log(args.workload, f"op {i}: {latencies[-1]:.3f} s, {n} items")
            items += n
            tracer.end_op(w.extra_groups())
            problems += [f"op {i}: {p}" for p in w.check(i)]
            if tracer.on:
                w.side(i)

    # Every attempt is timed, failed ones included.
    if args.trace:
        summary = tracer.op_summary()
        metrics = {
            **w.layer_metrics(),
            "spark.jobs_per_op": summary.get("jobs", 0.0),
            "spark.tasks_per_op": summary.get("tasks", 0.0),
            "driver.gap_s_per_op": summary.get("gap_s", 0.0),
            "spark.executor_cpu_s_per_op": summary.get("cpu_s", 0.0),
            "spark.shuffle_write_mb_per_op": summary.get("shuffle_write_mb", 0.0),
            "spark.spill_mb_per_op": summary.get("spill_mb", 0.0),
            "trace.span_coverage": summary.get("coverage", 0.0),
            "trace.latency_p50_s": statistics.median(latencies),
        }
    else:
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        metrics = {
            "setup_s": setup_s,
            "items_per_s": items / sum(latencies),
            "latency_p50_s": statistics.median(latencies),
            "peak_rss_mb": vm_hwm_mb(jvm_pid) + vm_hwm_mb("self"),
        }
    w.close()
    spark.stop()
    if args.trace:
        tracer.dump(Path(args.trace_out), {"workload": args.workload, "seed": args.seed, "metrics": metrics})
    for p in problems[:20]:
        print(f"CHECK FAILED [{args.workload}] {p}", file=sys.stderr)
    result = {
        "workload": args.workload,
        "correct": not problems,
        "attempted": len(latencies),
        "failed": failed,
        "latencies_s": latencies,
        "metrics": metrics,
    }
    Path(args.result).write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
