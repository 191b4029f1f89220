"""Benchmark command: one workload, one seed, one fresh process tree.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 12 --trace 0

Run from the repository root. It pins the deployment environment
(CPUs, driver memory, scratch and temp directories inside
``perfbench/runs/``, PYTHONPATH), starts ``worker.py`` in its own
session, samples the tree's resident memory, and prints a summary and,
as the last line, the result JSON. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` is a separate traced run (event log
and layer spans on) that reports the per-layer metrics. The run record
(per-pass counters, contention, failures, and spans when traced) is
kept in ``perfbench/runs/``.
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
RUNS = os.path.join(HERE, "runs")
sys.path.insert(0, HERE)

import proctree  # noqa: E402
import workloads  # noqa: E402

# Fits a 4-core / 15 GiB host shared with other work; the package's own
# default (48g) is larger than the host's memory.
DRIVER_MEM = "4g"
TIMEOUT_S = 170
SAMPLE_S = 0.2


def declared_metrics(trace: int) -> dict[str, str]:
    """Name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def kill_session(sid: int) -> None:
    """Stop every process of session ``sid`` and wait until each is gone."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 5.0)):
        members = proctree.session_pids(sid)
        if not members:
            return
        for pid in members:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                continue
        deadline = time.time() + grace
        while time.time() < deadline and proctree.session_pids(sid):
            time.sleep(0.1)


def main() -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "spark_hive_spark", "session.py")):
        print(f"spark_hive_spark package not found under {ROOT}", file=sys.stderr)
        return 2

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(RUNS, tag)
    record_path = os.path.join(RUNS, tag + ".json")
    log_path = os.path.join(RUNS, tag + ".log")
    for sub in ("tmp", "scratch"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_SCRATCH": os.path.join(run_dir, "scratch"),
        # Python workers import the package from the checkout.
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        # Keep every temp file of Python, Spark and the JVM inside the run
        # dir; HotSpot's perf-data file always goes to /tmp, so it is off.
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    peak_rss = 0
    with open(log_path, "w") as log:
        child = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), args.workload, str(args.seed),
             str(args.seconds), str(args.trace), run_dir, record_path, repr(t_start)],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            while child.poll() is None:
                if time.time() - t_start > TIMEOUT_S:
                    print(f"timed out after {TIMEOUT_S}s", file=sys.stderr)
                    break
                peak_rss = max(peak_rss, proctree.tree_rss_bytes(child.pid))
                time.sleep(SAMPLE_S)
        finally:
            kill_session(child.pid)
            child.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
    if child.returncode != 0 or not os.path.exists(record_path):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        print(f"worker failed (exit {child.returncode}); log {log_path}:\n{tail}", file=sys.stderr)
        return 1

    with open(record_path) as f:
        rec = json.load(f)
    e2e = dict(rec["end_to_end"], peak_rss_mb=peak_rss / (1 << 20))
    rec["end_to_end"] = e2e
    values = rec["per_layer"] if args.trace else e2e
    metrics = {k: {"value": values[k], "unit": u} for k, u in declared_metrics(args.trace).items()}
    with open(record_path, "w") as f:
        json.dump(rec, f, indent=1)

    for fail in rec["failures"]:
        print(f"FAILED pass {fail['pass']} {fail['query']}: {fail['error'][:300]}")
    c = rec["contention"]
    print(f"{args.workload} seed={args.seed} passes={len(rec['passes'])} "
          f"fail_ratio={e2e['fail_ratio']:.4f} ({rec['failed']}/{rec['attempted']}) "
          f"peak_rss_mb={e2e['peak_rss_mb']:.1f} "
          f"load1={c['load1_start']:.2f}->{c['load1_end']:.2f} steal_s={c['steal_s']:.2f} "
          f"other_cpu_s={c['other_cpu_s']:.2f} record={os.path.relpath(record_path, ROOT)}")
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
