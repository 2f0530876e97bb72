"""Benchmark entry point: one workload run, one JSON result line.

    python3 perfbench/run.py --workload ingest_serve --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Inputs are generated from ``--seed``
into ``.perfbench_work/`` under that root; results are checked; the last
line of standard output is ``{"correct", "attempted", "failed",
"metrics"}`` with the end-to-end metrics (``--trace 0``) or the
per-layer metrics of a traced run (``--trace 1``). The lines before it
are a readable report of the run. The exit code is 0 only when every
correctness check passed. Outside a checkout of the package it exits
with 2 and prints no result.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: a run must end within this many seconds of starting
DEADLINE_S = 170


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest_serve", "batch_pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is the smoke test's")
    return ap.parse_args(argv)


def _on_deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "multimodal_vector_db_spark")):
        print(f"perfbench: no multimodal_vector_db_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import hostenv

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = hostenv.prepare(ROOT, work)
    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(DEADLINE_S)
    try:
        return _run(args, host, work, work_root, tag)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)


def _run(args, host: dict, work: str, work_root: str, tag: str) -> int:
    from perfbench import hostenv, metrics
    from perfbench.trace import Tracer
    from perfbench.workloads import SCALES, WORKLOADS, Run

    t0 = time.perf_counter()
    from pyspark import SparkContext

    from multimodal_vector_db_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", master=host["master"],
                      extra_conf=hostenv.spark_conf(work))
    session_s = time.perf_counter() - t0
    gateway = SparkContext._gateway
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        run = Run(spark, tracer, args.seed, args.seconds, SCALES[args.scale], work,
                  host["nproc"])
        WORKLOADS[args.workload](run)
        tracer.attach_jobs()
        e2e, report = metrics.end_to_end(run, session_s, run.mem)
        report["mem_mb"] = run.mem
        if args.trace:
            values = metrics.per_layer(run, tracer, run.mem, host["nproc"], run.timed_from)
            defs = metrics.PER_LAYER
        else:
            values, defs = e2e, metrics.END_TO_END
    finally:
        spark.stop()
        _stop_gateway(gateway)

    os.makedirs(os.path.join(work_root, "results"), exist_ok=True)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "host": host,
        "package": os.path.dirname(sys.modules["multimodal_vector_db_spark"].__file__),
        "gemm_probe_ms": run.probes_ms, "inputs": run.info,
        "problems": run.problems, "end_to_end": e2e, "report": report,
        "per_layer": values if args.trace else None,
    }
    with open(os.path.join(work_root, "results", tag + ".json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    if args.trace:
        tracer.write(os.path.join(work_root, "results", tag + ".spans.jsonl"))

    _print_report(args, host, run, report, e2e)
    attempted = report["op_error_rate"]["n"]
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": run.failed,
        "metrics": {name: {"value": values[name], "unit": unit}
                    for name, unit, _ in defs},
    }))
    return 0 if correct else 1


def _stat(pid) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (state first);
    empty when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return []


def _children(pid: int) -> list[int]:
    return [int(e) for e in os.listdir("/proc")
            if e.isdigit() and _stat(e)[1:2] == [str(pid)]]


def _alive(pid: int) -> bool:
    return _stat(pid)[:1] not in ([], ["Z"])


def _stop_gateway(gateway) -> None:
    """Close the py4j gateway, then wait for the JVM it launched and for
    the Python worker daemons the JVM started."""
    proc = getattr(gateway, "proc", None)
    workers = _children(proc.pid) if proc is not None else []
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in workers:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def _print_report(args, host, run, report, e2e) -> None:
    from perfbench import metrics

    print(f"workload {args.workload}  seed {args.seed}  clients {run.info.get('clients')}"
          f"  loop closed  timed {run.timed_s:.1f} s  trace {args.trace}")
    print(f"host {host['master']}  ram {host['ram_mb']} MB  heap {host['driver_heap_mb']} MB"
          f"  commit {host['commit']}  gemm probe ms {run.probes_ms}")
    print(f"inputs {json.dumps(run.info, default=str)}")
    for name, unit, _ in metrics.END_TO_END:
        print(f"  {name:<16} {e2e[name]:.6g} {unit}")
    for name, fig in report.items():
        if isinstance(fig, dict) and "unit" in fig:
            print(f"  {name:<16} {fig['value']:.6g} {fig['unit']}  (n={fig['n']})")
    for p in run.problems:
        print(f"  FAILED {p}")


if __name__ == "__main__":
    sys.exit(main())
