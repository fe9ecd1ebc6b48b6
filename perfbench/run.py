"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Sets up one workload (session start, input
generation, warm-up, expected results), runs its ops in a closed loop
with one client for S seconds, checks every op's output and prints one
JSON line last: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics. --trace 1 turns on Spark's
event log, runs the loop for S seconds untraced and then for S seconds
traced, and reports the per-layer metrics plus the tracing overhead. A
detail line with noise readings, the op tail and the machine shape is
printed before the result line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

BENCHMARK = os.path.join(HERE, os.pardir, "BENCHMARK.json")


def measure(wl, tracer, seconds: float, first: int) -> dict:
    """Closed loop: ops until ``seconds`` have passed and the current
    round is complete. An op that raises or fails its check counts as
    failed. Returns latencies, input rows, attempts and failures."""
    lat, rows, attempted, failed = [], 0, 0, 0
    t_end = time.perf_counter() + seconds
    i = first
    while True:
        attempted += 1
        ok = False
        try:
            state = wl.prepare(i)
            tracer.op = i
            t0 = time.perf_counter()
            try:
                with tracer.span("op"):
                    rows += wl.run(state)
            finally:
                lat.append(time.perf_counter() - t0)
            ok = wl.check(state)
        except Exception:
            traceback.print_exc()
        if not ok:
            print(f"op {i} failed", file=sys.stderr)
            failed += 1
        i += 1
        if time.perf_counter() >= t_end and (i - first) % wl.round_len == 0:
            break
    return {"lat": lat, "rows": rows, "attempted": attempted, "failed": failed,
            "next": i}


def end_to_end(res: dict, setup_s: float, peak_rss: float) -> dict:
    busy = sum(res["lat"])
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_s": {"value": harness.median(res["lat"]), "unit": "s"},
        "ops_per_s": {"value": len(res["lat"]) / busy, "unit": "1/s"},
        "points_per_s": {"value": res["rows"] / busy, "unit": "1/s"},
        "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    with open(BENCHMARK) as f:
        spec = json.load(f)
    if not os.path.isfile(os.path.join(harness.ROOT, "adtk_spark", "__init__.py")):
        print("run from the repository root: adtk_spark/ not found", file=sys.stderr)
        return 2

    harness.prepare_env()
    sys.path.insert(0, harness.ROOT)
    from tracing import Tracer, event_log_conf, layer_metrics, parse_event_log
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    noise = {"probe_start_s": harness.noise_probe(),
             "steal_start_s": harness.read_steal_sec()}
    log_dir = os.path.join(harness.WORK, "eventlog")
    spark = None
    try:
        t0 = time.perf_counter()
        spark = harness.start_spark(
            f"perfbench-{args.workload}",
            event_log_conf(log_dir) if args.trace else None)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark)
        wl = WORKLOADS[args.workload](spark, args.seed, tracer,
                                      os.path.join(harness.WORK, "data"))
        wl.setup()
        inputs_s = time.perf_counter() - t0 - session_s
        wl.warmup()
        setup_s = time.perf_counter() - t0

        # a traced run first runs the untraced loop, the baseline of the
        # tracing overhead, then traces its ops for as many seconds
        res = measure(wl, tracer, args.seconds, 0)
        if args.trace:
            wl.wrap()
            tracer.on = True
            traced = measure(wl, tracer, args.seconds, res["next"])
            tracer.on = False
            if wl.streams_per_op:
                tracer.wait_streams(wl.streams_per_op * len(traced["lat"]))
        t_final = time.perf_counter()
        try:
            final_ok = wl.final_check()
        except Exception:
            traceback.print_exc()
            final_ok = False
        final_s = time.perf_counter() - t_final
        tracer.unwrap()
        peak_rss = harness.peak_rss_mb()
        harness.stop_spark(spark)
        spark = None

        loops = (res, traced) if args.trace else (res,)
        attempted = sum(r["attempted"] for r in loops)
        # a wrong final state fails the last op
        failed = min(attempted, sum(r["failed"] for r in loops) + (not final_ok))
        noise.update(probe_end_s=harness.noise_probe(),
                     steal_end_s=harness.read_steal_sec())
        detail = {"workload": args.workload, "seed": args.seed,
                  "machine": harness.machine(), "noise": noise,
                  "setup_phases_s": {"session": session_s, "inputs": inputs_s,
                                     "warmup": setup_s - session_s - inputs_s},
                  "op_latencies_s": res["lat"], "op_tail_s": harness.tail(res["lat"]),
                  "final_check": final_ok, "final_check_s": final_s}
        if args.trace:
            p50 = harness.median(traced["lat"])
            arrow = [s["t1"] - s["t0"] for s in tracer.spans if s.get("arrow")]
            extra = {
                "session.start_s": session_s,
                "functions.arrow_boundary.query_s": harness.median(arrow),
                "trace.op_p50_s": p50,
                "trace.overhead_s": p50 - harness.median(res["lat"]),
            }
            names = [m["name"] for m in spec["per_layer"]]
            t_parse = time.perf_counter()
            layers = layer_metrics(tracer, parse_event_log(log_dir), names, extra)
            detail.update(traced_latencies_s=traced["lat"],
                          trace_parse_s=time.perf_counter() - t_parse)
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            metrics = {n: {"value": v, "unit": units[n]} for n, v in layers.items()}
        else:
            metrics = end_to_end(res, setup_s, peak_rss)
        print(json.dumps(detail))
        print(json.dumps({"correct": failed == 0,
                          "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(harness.WORK, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
