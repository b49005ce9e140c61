"""The benchmark's own smoke check, at TPC-H scale 0.001.

    python3 perfbench/smoke.py

For every workload: two traced runs with one seed.  Both must pass the
oracle, and both must report identical exact counts (triples, source
input rows, Python operators, jobs at build, dedup keep ratio).  Exits
non-zero on any failure.  Each run is its own process, as in the
benchmark proper.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7
SCALE = "0.001"
EXACT = ("triples", "sources.input_rows", "engine.python_operators",
         "api.jobs_at_build", "engine.dedup_keep_ratio")


def run(workload: str) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", "1",
         "--scale", SCALE],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"smoke: {workload} exited {out.returncode}")
    lines = [json.loads(x) for x in out.stdout.splitlines()
             if x.startswith("{")]
    exact = next(x["exact_counts"] for x in lines if "exact_counts" in x)
    return exact, lines[-1]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    failures = []
    for name in names:
        (a, res_a), (b, res_b) = run(name), run(name)
        for res in (res_a, res_b):
            if not res["correct"] or res["failed"]:
                failures.append(f"{name}: {res['failed']} of "
                                f"{res['attempted']} operations failed")
        for key in EXACT:
            if key not in a:
                continue
            if a[key] != b[key]:
                failures.append(f"{name}: {key} {a[key]} != {b[key]}")
        print(f"{name}: " + ", ".join(f"{k}={a.get(k)}" for k in EXACT
                                      if k in a))
    for f in failures:
        print("FAIL", f)
    print("smoke: ok" if not failures else "smoke: FAILED")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
