"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload kg_tabular --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  Inputs are generated from the seed
under .perfbench/ in the checkout and removed afterwards; traced runs
leave their span file in .perfbench/traces/.

--trace 0  end-to-end metrics, tracing off.
--trace 1  per-layer metrics: spans around every call into the program,
           Spark status-store counts at the same boundaries, a
           per-layer self-time table, and the tracing overhead (traced
           minus untraced operations, alternating within the run).

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics.  The lines before it are a
report that names every end-to-end metric of the workload, with its
unit and sample count.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
import traceback
import uuid
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
OP_TIMEOUT_S = 60.0
# stop starting operations once this much of the 180 s exit limit is used
RUN_LIMIT_S = 120.0
MIN_TAIL_BEYOND = 10


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(xs)
    k = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(xs: list[float]) -> tuple[float, float] | None:
    """(percentile, value) at the highest whole percentile that leaves
    at least MIN_TAIL_BEYOND samples above it; None with too few."""
    n = len(xs)
    if n <= MIN_TAIL_BEYOND:
        return None
    q = math.floor(100.0 * (n - 1 - MIN_TAIL_BEYOND) / (n - 1))
    return q, percentile(xs, q)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="override the workload's input scale (smoke check)")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import morph_xr2rml_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout: {e}",
              file=sys.stderr)
        return 2
    import spark_env
    from spans import StatusReader, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    t_start = time.monotonic()
    probe_before = spark_env.host_probe()
    run_id = f"{args.workload}-s{args.seed}-{uuid.uuid4().hex[:8]}"
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", run_id)
    traces = os.path.join(base, "traces")
    os.makedirs(traces, exist_ok=True)
    tracer = Tracer(run_id, enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](tracer, work, args.seed)
    full_dir = os.path.join(work, "data")
    sizes = wl.generate(full_dir, args.scale)
    phases = {"datagen_s": time.monotonic() - t_start}
    spark_env.prepare_env(work)

    spark = None
    try:
        setups = []
        for k in range(SETUPS):
            t0 = time.perf_counter()
            with tracer.span("setup", k=k):
                with tracer.span("spark.session"):
                    spark = spark_env.build_session(work)
                wl.setup(spark, full_dir)
            setups.append(time.perf_counter() - t0)
            if k < SETUPS - 1:
                spark_env.release_session(spark)
        t0 = time.perf_counter()
        with tracer.span("warmup", spark=spark):
            tracer.enabled = False      # its operations are not samples
            wl.warmup(spark)
            tracer.enabled = bool(args.trace)
        warmup_s = time.perf_counter() - t0

        reader = StatusReader(spark)
        gc0 = reader.executor_gc_ms()
        results: list[dict] = []
        loop_t0 = time.perf_counter()
        deadline = loop_t0 + args.seconds
        # a median over at least three operations, or several of each
        # query shape; traced, two rounds of each kind for the overhead
        min_ops = (4 if args.trace else wl.rounds) * wl.round_len
        i = 0
        while True:
            traced = bool(args.trace) and wl.traced(i)
            tracer.enabled = traced
            t0 = time.perf_counter()
            try:
                r = wl.op(spark, i)
            except Exception as e:
                traceback.print_exc(file=sys.stderr)
                r = {"error": f"raised {type(e).__name__}: {e}"}
            r["ms"] = (time.perf_counter() - t0) * 1e3
            r["traced"] = traced
            if r["ms"] > OP_TIMEOUT_S * 1e3 and not r.get("error"):
                r["error"] = f"timed out: {r['ms']:.0f} ms"
            results.append(r)
            i += 1
            now = time.perf_counter()
            # stop only after whole rounds, so every shape is sampled
            # equally often whatever the seed
            if i % wl.round_len == 0 and (
                    (now >= deadline and i >= min_ops)
                    or time.monotonic() - t_start > RUN_LIMIT_S):
                break
        loop_s = time.perf_counter() - loop_t0
        phases["setup_and_loop_s"] = time.monotonic() - t_start
        tracer.enabled = bool(args.trace)
        gc_ms = reader.executor_gc_ms() - gc0
        peak_rss = spark_env.tree_peak_rss_mb()
        cached_mb = reader.cached_bytes() / 1e6

        wl.check(results)
        phases["check_s"] = time.monotonic() - t_start
        layers = wl.decompose(spark, results) if args.trace else {}
        phases["decompose_s"] = time.monotonic() - t_start
    finally:
        spark_env.shutdown(spark)
    phases["shutdown_s"] = time.monotonic() - t_start
    probe_after = spark_env.host_probe()
    shutil.rmtree(work, ignore_errors=True)

    attempted = len(results)
    failed = sum(1 for r in results if r.get("error"))
    for i, r in enumerate(results):
        if r.get("error"):
            print(f"perfbench: op {i} failed: {r['error']}", file=sys.stderr)
    ok = [r for r in results if not r.get("error")]
    lat = [r["ms"] for r in ok] or [r["ms"] for r in results]
    p50_ms = median(lat)
    setup_s = median(setups) + warmup_s
    kg = wl.mode == "materialize"
    triples = ok[0]["items"] if kg and ok else 0
    t = tail(lat)
    e2e = {
        "setup_s": {"value": setup_s, "unit": "s", "n": len(setups),
                    "session_samples": setups, "warmup_s": warmup_s},
        "materialize_s": ({"value": p50_ms / 1e3, "unit": "s", "n": len(ok)}
                          if kg else None),
        "triples_per_s": ({"value": triples / (p50_ms / 1e3), "unit": "1/s",
                           "n": len(ok), "triples": triples} if kg else None),
        "query_p50_ms": (None if kg else
                         {"value": p50_ms, "unit": "ms", "n": len(ok)}),
        "query_tail_ms": (None if kg else
                          {"value": t[1] if t else None, "unit": "ms",
                           "percentile": t[0] if t else None, "n": len(ok)}),
        "queries_per_s": (None if kg else
                          {"value": len(ok) / loop_s, "unit": "1/s",
                           "n": len(ok)}),
        "error_rate": {"value": failed / attempted, "unit": "ratio",
                       "failed": failed, "attempted": attempted},
        "peak_rss_mb": {"value": peak_rss, "unit": "MB", "n": 1},
    }
    report = {
        "workload": wl.name, "seed": args.seed,
        "input_rows": sizes, "cores": spark_env.cores(),
        "trace": args.trace, "seconds": args.seconds,
        "end_to_end": e2e,
        "setup_first_s": setups[0],
        "ops": {"attempted": attempted, "failed": failed,
                "loop_s": loop_s, "ms": [r["ms"] for r in results],
                "part_ms": [r.get("part_ms") for r in results if "part_ms" in r]},
        "phases_at_s": phases,
        "host_noise": {
            "before": {k: v for k, v in probe_before.items() if k != "jiffies"},
            "after": {k: v for k, v in probe_after.items() if k != "jiffies"},
            "steal_share": spark_env.steal_share(probe_before, probe_after)},
    }
    if not kg:
        keys = [(r["shape"], r["const"]) for r in results if "shape" in r]
        report["repeated_share"] = (
            1 - len(set(keys)) / len(keys) if keys else 0.0)

    for name, m in e2e.items():
        if m is None:
            print(f"{name:16s} n/a on {wl.name}")
        else:
            extra = {k: v for k, v in m.items()
                     if k not in ("value", "unit", "session_samples")}
            print(f"{name:16s} {m['value']!s:>24} {m['unit']:6s} {extra}")

    if args.trace:
        spans = [s for s in tracer.spans if "end" in s]
        traced_ms = [r["ms"] for r in ok if r["traced"]]
        plain_ms = [r["ms"] for r in ok if not r["traced"]]
        layers.update(wl.op_counts(spans, ok))
        layers["turtle.parse_ms"] = median(
            (s["end"] - s["start"]) * 1e3 for s in spans
            if s["name"] == "turtle.parse")
        layers["sources.cached_mb"] = cached_mb
        layers["spark.gc_s"] = gc_ms / 1e3 / max(1, attempted)
        if traced_ms and plain_ms:
            over = median(traced_ms) - median(plain_ms)
            layers["trace.overhead_ms"] = over
            layers["trace.overhead_pct"] = 100.0 * over / median(plain_ms)
        exact = dict(getattr(wl, "exact", {}))
        exact.update({k: layers.get(k, 0.0) for k in (
            "sources.input_rows", "engine.python_operators",
            "api.jobs_at_build", "engine.dedup_keep_ratio")})
        path = os.path.join(traces, f"{run_id}.json")
        tracer.write(path, {"report": report, "layers": layers,
                            "exact_counts": exact})
        print("self time per layer (ms):")
        for name, row in sorted(tracer.self_times().items()):
            print(f"  {name:34s} n={row['count']:<4d} "
                  f"total={row['total_ms']:>11.1f} self={row['self_ms']:>11.1f}")
        print(json.dumps({"exact_counts": exact, "trace_file": path},
                         default=str))

    print(json.dumps({"report": report}, default=str))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        # a layer the workload does not exercise reads 0
        metrics = {k: _metric(float(layers.get(k, 0.0)), u)
                   for k, u in units.items()}
    else:
        values = {"setup_s": setup_s, "op_p50_ms": p50_ms,
                  "ops_per_s": len(ok) / loop_s, "peak_rss_mb": peak_rss}
        metrics = {m["name"]: _metric(values[m["name"]], m["unit"])
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
