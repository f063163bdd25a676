"""Benchmark launcher: one command for the ``etl``, ``serve`` and ``curate``
workloads.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 8 --trace 0

Run it from the repository root. It fits Spark to this machine
(``local[<cores>]``, a driver heap below physical RAM, Spark and temp
dirs inside the checkout, ``PYTHONPATH`` set so Python workers can import
the engine), runs the workload in a child process (``workload.py``) while
sampling the resident memory of the child's whole process tree, then
prints a table of every metric and, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of one traced pass, attributed from the Spark event log. The
names, units and bounds are in ``BENCHMARK.json``. Exits non-zero without
a result when the engine is missing or the workload fails.
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
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
CHILD_TIMEOUT_S = 170
SAMPLE_S = 1.0  # one sweep of smaps_rollup costs ~50 ms of kernel time


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def driver_memory_mb() -> int:
    """A driver heap well below physical RAM (config.get_spark defaults
    to 48g): a quarter of MemTotal, at most 1 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(512, min(1024, total_kb // 4096))


def child_env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    heap = f"{driver_memory_mb()}m"
    env["SPARK_DRIVER_MEMORY"] = heap
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    env["TMPDIR"] = tmp
    env["SPARK_SUBMIT_OPTS"] = " ".join(p for p in (
        env.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p)
    return env


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def pss_kb(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes (the forked Python workers) split among them, so the sum
    over the tree counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            return next((int(line.split()[1]) for line in f if line.startswith("Pss:")), 0)
    except OSError:
        return 0


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_all(pids: set[int]) -> None:
    """SIGTERM, then SIGKILL, every process the run started; wait until
    each has ended."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        left = [p for p in pids if alive(p)]
        for p in left:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        t_end = time.time() + grace
        while time.time() < t_end and any(alive(p) for p in left):
            time.sleep(0.05)


def run_child(args, work: str) -> tuple[dict | None, float]:
    """Run the workload child; -> (its result or None on failure, peak
    resident memory of its process tree in MB, summed as PSS)."""
    result = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "workload.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--result", result]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=child_env(work), stdout=sys.stderr,
                            start_new_session=True)
    seen: set[int] = {proc.pid}
    peak = 0
    t_end = time.time() + CHILD_TIMEOUT_S
    try:
        while proc.poll() is None:
            if time.time() > t_end:
                print(f"perfbench: workload exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
                break
            pids = tree(proc.pid)
            seen.update(pids)
            peak = max(peak, sum(pss_kb(p) for p in pids))
            time.sleep(SAMPLE_S)
    finally:
        seen.update(tree(proc.pid))
        stop_all(seen)
        proc.wait()
    if proc.returncode != 0 or not os.path.exists(result):
        print(f"perfbench: workload exited with code {proc.returncode}", file=sys.stderr)
        return None, peak / 1024.0
    with open(result) as f:
        res = json.load(f)
    if args.trace:
        shutil.copyfile(result + ".spans.json",
                        os.path.join(WORK_ROOT, f"trace-{args.workload}-seed{args.seed}.json"))
    return res, peak / 1024.0


def fmt(v) -> str:
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def print_report(workload: str, report: dict, metrics: dict, units: dict, res: dict) -> None:
    """Human-readable lines: every metric with its unit, then the
    workload's own quantities (docs_per_s, rps, tile_p50_ms, ...)."""
    attempted, failed = res["attempted"], res["failed"]
    print(f"# perfbench {workload}")
    for name, v in metrics.items():
        print(f"{name:>22} {v:>12.6g} {units[name]}")
    print(f"{'error_share':>22} {failed / attempted:>12.6g} share ({failed}/{attempted})")
    for k in ("docs_per_s", "rps"):
        if k in report:
            print(f"{k:>22} {report[k]:>12.6g} 1/s")
    for kind, d in report.get("latency", {}).items():
        print(f"{kind + '_p50_ms':>22} {d['p50_ms']:>12.6g} ms  (n={d['n']})")
        if "tail" in d:
            t = d["tail"]
            print(f"{kind + '_p' + str(t['p']) + '_ms':>22} {t['ms']:>12.6g} ms  "
                  f"(n={d['n']}, {t['beyond']} beyond)")
    for k in ("direct_p50_ms", "server_overhead_ms", "outputs", "setup"):
        if k in report:
            print(f"{k:>22} " + ", ".join(f"{a}={fmt(b)}" for a, b in report[k].items()))
    spans = report.get("spans")
    if spans:
        cols = ["calls", "wall_s", "self_s", "jobs", "tasks", "task_s", "exec_cpu_s", "gc_s", "python_s",
                "python_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "task_skew",
                "rows_in", "rows_out", "records_read", "rows_scanned_per_row_returned"]
        print("span " + " ".join(cols))
        for name, m in spans.items():
            print(name + " " + " ".join(fmt(m.get(c, "-")) for c in cols))
    for e in res.get("errors", ()):
        print(f"error: {e}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    args = ap.parse_args()

    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    if not os.path.isfile(os.path.join(ROOT, "osm_poi_cloud_spark", "app.py")):
        print("perfbench: the engine package osm_poi_cloud_spark is not in this checkout",
              file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res, peak_mb = run_child(args, work)
        if res is None:
            return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    section = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[section]}
    if not args.trace:
        res["metrics"]["peak_rss_mb"] = peak_mb
    missing = set(units) - set(res["metrics"])
    if missing:
        print(f"perfbench: workload did not report {sorted(missing)}", file=sys.stderr)
        return 1
    metrics = {k: float(res["metrics"][k]) for k in units}
    print_report(args.workload, res["report"], metrics, units, res)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
