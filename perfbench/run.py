"""Benchmark command.

    python3 perfbench/run.py [--workload NAME|all] [--seed N] [--seconds S] [--trace 0|1]

Runs each named workload in a fresh child process (runner.py) on a
`local[nproc]` Spark session, one closed-loop client per workload, and
prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json,
with `--trace 1` its per-layer metrics (from a run with spans on). With
`--workload all` (the default) every workload runs in turn, a JSON line
per workload is printed, and the last line sums the counts and prefixes
each metric with its workload.

Inputs are generated from the seed and cached under .perfbench/cache;
every run gets its own Spark local, warehouse, Derby, checkpoint and
temp directories under .perfbench/, removed when the run ends. Trace
spans are written to .perfbench/traces/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "elb_log_to_mysql_spark"
WORK = ROOT / ".perfbench"
WORKLOADS = ["alb_ingest", "corpus_dedup", "vector_search", "stream_dedup"]
CHILD_TIMEOUT_S = 170
DRIVER_MEMORY = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def load_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def session_members(sid: int) -> list[int]:
    """Live processes of session `sid` (zombies count as ended)."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            stat = Path(f"/proc/{d}/stat").read_text()
        except OSError:
            continue
        fields = stat.rsplit(")", 1)[1].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(d))
    return out


def stop_session(sid: int) -> None:
    """Terminate whatever the child left running and wait for it to end."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = session_members(sid)
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while session_members(sid) and time.monotonic() < deadline:
            time.sleep(0.1)


def run_workload(name: str, seed: int, seconds: float, trace: int) -> dict | None:
    run_dir = WORK / f"run-{os.getpid()}-{name}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    result = run_dir / "result.json"
    cpus = nproc()
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "PYTHONPATH": os.pathsep.join([str(ROOT)] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "SPARK_GRAFT_WAREHOUSE": str(run_dir / "warehouse"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": str(run_dir / "tmp"),
        # Every JVM, spark-submit's launcher included: no hsperfdata files in /tmp.
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        # Python workers and numpy in this process use at most nproc threads.
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
    })
    (run_dir / "tmp").mkdir()
    cmd = [
        sys.executable, str(HERE / "runner.py"), "--workload", name, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--cache", str(WORK / "cache" / f"{name}-s{seed}"), "--run-dir", str(run_dir),
        "--result", str(result), "--trace-out", str(WORK / "traces" / f"{name}-s{seed}.json"),
    ]
    child = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True)
    out = None
    try:
        rc = child.wait(timeout=CHILD_TIMEOUT_S)
        if rc == 0 and result.exists():
            out = json.loads(result.read_text())
    except subprocess.TimeoutExpired:
        print(f"[{name}] timed out after {CHILD_TIMEOUT_S} s", file=sys.stderr)
        rc = None
    finally:
        stop_session(child.pid)
        if child.poll() is None:
            child.kill()
        child.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    if out is None:
        print(f"[{name}] failed (exit code {rc})", file=sys.stderr)
    return out


def with_units(metrics: dict, spec_metrics: list[dict], trace: int) -> dict:
    """Attach units. A per-layer metric of a layer the workload never
    calls reads 0 (no time spent there); a missing end-to-end metric is
    an error."""
    units = {m["name"]: m["unit"] for m in spec_metrics}
    missing = sorted(set(units) - set(metrics))
    if missing and not trace:
        raise SystemExit(f"workload did not report {missing}")
    return {n: {"value": float(metrics.get(n, 0.0)), "unit": units[n]} for n in units}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    # Part of the command's interface: a harness passes `--seconds <run_seconds>`.
    ap.add_argument("--seconds", type=float, default=None, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args(argv)
    # On SIGTERM unwind through run_workload's cleanup of the child.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (PACKAGE / "__init__.py").is_file():
        print(f"engine package not found at {PACKAGE}", file=sys.stderr)
        return 2
    spec = load_spec()
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    spec_metrics = spec["per_layer"] if args.trace else spec["end_to_end"]
    names = WORKLOADS if args.workload == "all" else [args.workload]

    results = []
    for name in names:
        r = run_workload(name, args.seed, seconds, args.trace)
        if r is None:
            return 1
        r["metrics"] = with_units(r["metrics"], spec_metrics, args.trace)
        results.append(r)
        shown = "  ".join(f"{k}={v['value']:.4g} {v['unit']}" for k, v in r["metrics"].items())
        print(f"[{name}] correct={r['correct']} attempted={r['attempted']} failed={r['failed']}  {shown}",
              file=sys.stderr)

    if len(results) == 1:
        r = results[0]
        final = {k: r[k] for k in ("correct", "attempted", "failed", "metrics")}
    else:
        for r in results:
            print(json.dumps({"workload": r["workload"], **{k: r[k] for k in ("correct", "attempted", "failed",
                                                                                "metrics")}}))
        final = {
            "correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": {f"{r['workload']}.{k}": v for r in results for k, v in r["metrics"].items()},
        }
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
