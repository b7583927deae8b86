"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Run from the repository root. Starts ``worker.py`` in a process group of its
own, so the Spark JVM it launches can be killed with it on a timeout, an
error or a signal; returns only when no process of that group is left.
Refuses to start while another Spark driver JVM is alive, and records the
load average and CPU steal at the start and end of the run.

The last line of stdout is the result: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json, or with
``--trace 1`` its per-layer metrics). The line before it holds the pins, the
host readings and the sample count of every figure. Everything Spark prints
goes to stderr.
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
WORK = os.path.join(HERE, ".work")
SPARK_MAIN = b"org.apache.spark.deploy.SparkSubmit"


def fail(msg: str, code: int = 1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def live_processes():
    """(pid, pgid, cmdline) of every process that is not a zombie. A zombie
    has exited and holds nothing but its table entry; one whose parent never
    reaps it would otherwise look alive for ever."""
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] != "Z":
            yield int(d), int(fields[2]), cmd


def spark_jvms() -> list:
    return [pid for pid, _, cmd in live_processes() if SPARK_MAIN in cmd]


def group_alive(pgid: int) -> bool:
    return any(g == pgid for _, g, _ in live_processes())


def kill_group(pgid: int, grace_s: float = 5.0) -> None:
    """SIGTERM the group, then SIGKILL; return once no member is left."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 30.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        t_end = time.monotonic() + wait_s
        while time.monotonic() < t_end:
            if not group_alive(pgid):
                return
            time.sleep(0.1)
    if group_alive(pgid):
        fail(f"process group {pgid} survived SIGKILL")


def host_reading() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": load, "cpu_total": sum(cpu[:8]),
            "cpu_steal": cpu[7] if len(cpu) > 7 else 0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, "judy_graph_db_spark",
                                       "__init__.py")):
        fail("judy_graph_db_spark/ not found next to perfbench/; run from a "
             "checkout of the repository", 2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        fail(f"unknown workload {args.workload!r}", 2)
    with open(os.path.join(HERE, "pins.json")) as f:
        pins = json.load(f)

    # another driver JVM would share these cores: wait briefly, then refuse
    t_wait = time.monotonic() + 30
    while spark_jvms() and time.monotonic() < t_wait:
        time.sleep(1)
    if spark_jvms():
        fail(f"another Spark driver JVM is running: pids {spark_jvms()}", 3)

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    user_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    conf = ";".join(filter(None, [
        "spark.ui.showConsoleProgress=false",
        f"spark.local.dir={work}/spark-local",
        f"spark.sql.warehouse.dir={work}/warehouse",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={work}/tmp",
        user_conf,
    ]))
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(pins["task_slots"]),
               SPARK_DRIVER_MEMORY=pins["driver_heap"],
               SPARK_GRAFT_EXTRA_CONF=conf,
               SPARK_LOCAL_DIRS=f"{work}/spark-local",
               TMPDIR=f"{work}/tmp",
               PYSPARK_PYTHON=sys.executable,
               PYTHONPATH=os.pathsep.join(
                   filter(None, [ROOT, os.environ.get("PYTHONPATH")])))
    out_path = os.path.join(work, "result.json")
    host0 = host_reading()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"),
         "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(args.trace),
         "--work", work, "--out", out_path],
        cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr,
        start_new_session=True)
    pgid = proc.pid

    def on_signal(signum, _frame):
        kill_group(pgid)
        shutil.rmtree(work, ignore_errors=True)
        fail(f"stopped by signal {signum}")

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        code = proc.wait(timeout=max(1.0, pins["run_timeout_s"]
                                     - (time.monotonic() - t0)))
    except subprocess.TimeoutExpired:
        code = None
    # the JVM outlives a Python driver that exits or is killed; always
    # take the whole group down and wait for it
    kill_group(pgid)
    proc.wait()
    host1 = host_reading()
    try:
        with open(out_path) as f:
            result = json.load(f)
    except (OSError, ValueError):
        result = None
    shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {pins['run_timeout_s']} s; process group killed")
    if code != 0 or result is None:
        fail(f"worker exited with code {code} and no result")

    kind = "per_layer" if args.trace else "end_to_end"
    got = result["layers"] if args.trace else result["metrics"]
    missing = [m["name"] for m in bench[kind] if m["name"] not in got]
    if missing:
        fail(f"worker did not report {missing}")
    d_total = max(1, host1["cpu_total"] - host0["cpu_total"])
    info = {
        "pins": {**pins, "nproc": os.cpu_count(),
                 "affinity": len(os.sched_getaffinity(0)),
                 "pyspark": _pyspark_version(),
                 "java": result["summary"].get("java"),
                 "seed": args.seed,
                 "SPARK_GRAFT_EXTRA_CONF": user_conf},
        "host": {"loadavg_start": host0["loadavg"],
                 "loadavg_end": host1["loadavg"],
                 "steal_share": (host1["cpu_steal"] - host0["cpu_steal"])
                 / d_total},
        "summary": result["summary"],
    }
    print(json.dumps(info))
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
                    for m in bench[kind]},
    }))
    return 0


def _pyspark_version() -> str:
    try:
        from importlib.metadata import version
        return version("pyspark")
    except Exception:  # metadata missing: report rather than fail the run
        return "unknown"


if __name__ == "__main__":
    sys.exit(main())
