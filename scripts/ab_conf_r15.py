#!/usr/bin/env python
"""VERDICT r14 task 9: isolated A/B of the two deferred config
experiments — spark.sql.join.preferSortMergeJoin=false and
spark.io.compression.codec=zstd — on the shuffle-heavy bench entries.

Arms run as fresh-JVM `bench.py --section` subprocesses, interleaved
base/smj/zstd per rep so host drift hits every arm equally (the
scripts/ab_minhash.py pattern). Config is injected via
SPARK_GRAFT_EXTRA_CONF (session.py), so the measured code is exactly
what the driver's bench runs.

Usage: python scripts/ab_conf_r15.py [reps]   (default 3; an odd count
gives each arm a true middle sample)
"""

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(HERE, "bench.py")

ARMS = {
    "base": "",
    "smj_off": "spark.sql.join.preferSortMergeJoin=false",
    "zstd": "spark.io.compression.codec=zstd",
}

# shuffle-heavy subset: the iterative components family plus the two
# heaviest non-iterative shuffle consumers in analytics
RUNS = [
    ("components",
     "connected_components,closure_doubling,scc,min_spanning_forest"),
    ("analytics", "pagerank_3it,triangle_count"),
]


def run_arm(arm: str, extra: str) -> dict:
    env = dict(os.environ)
    if extra:
        env["SPARK_GRAFT_EXTRA_CONF"] = extra
    else:
        env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    out: dict = {}
    for section, entries in RUNS:
        env["SPARK_GRAFT_BENCH_ENTRIES"] = entries
        proc = subprocess.run(
            [sys.executable, BENCH, "--section", section],
            capture_output=True, text=True, timeout=1800, env=env)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-3000:])
            raise SystemExit(f"arm {arm} section {section} failed")
        line = [ln for ln in proc.stdout.splitlines()
                if ln.startswith("{")][-1]
        out.update(json.loads(line)["queries"])
    return out


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    samples: dict = {a: {} for a in ARMS}
    for rep in range(reps):
        for arm, extra in ARMS.items():
            got = run_arm(arm, extra)
            for k, v in got.items():
                samples[arm].setdefault(k, []).append(v)
            sys.stderr.write(
                f"[ab_conf] rep {rep + 1}/{reps} arm {arm}: "
                f"{ {k: round(v, 2) for k, v in got.items()} }\n")
    med = {a: {k: statistics.median(v) for k, v in s.items()}
           for a, s in samples.items()}
    report = {"arms": med, "samples": samples,
              "speedup_vs_base": {
                  a: {k: round(med["base"][k] / med[a][k], 3)
                      for k in med[a]}
                  for a in ARMS if a != "base"}}
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
