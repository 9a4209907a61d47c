"""Benchmark of record for the engine.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Builds the workload's inputs from
``--seed``, warms up, measures for ``--seconds`` and checks the outputs.
The last line of standard output is one JSON object::

    {"correct": true, "attempted": 12, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` metrics of
``BENCHMARK.json``; with ``--trace 1`` the ``per_layer`` metrics, read
from a traced window between two untraced ones (their rates give
``trace_overhead_frac``). Spans of the traced window are written to
``.perfbench_work/traces/``. Exits 1 when a correctness check fails and 2
when the checkout lacks the engine.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — make sure nothing outlives us
            proc.kill()
            proc.wait()


def end_to_end(setup_s: float, w) -> dict[str, float]:
    return {"setup_s": setup_s, "throughput_per_s": w.rate,
            "latency_s": w.latency}


def per_layer(ctx, untraced_rate, w, own, counters) -> dict[str, float]:
    """Every per-layer reading of the traced window ``w``; ``own`` holds
    the workload's ``trace_layers``."""
    from perfbench import harness
    layers = dict(own, **w.layers)
    c0, c1 = counters
    for k in c1:
        layers[f"session.{k}"] = c1[k] - c0[k]
    layers["session.jobs_per_batch"] = (
        layers["session.jobs"] / w.batches if w.batches else 0)
    layers["session.peak_rss_mb"] = harness.peak_rss_mb(ctx.spark)
    layers["trace_overhead_frac"] = (
        1 - w.rate / untraced_rate if untraced_rate else 0.0)
    return layers


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "agnostic_blockchain_etl_spark"))
            and os.path.isdir(os.path.join(ROOT, "examples"))):
        print(f"no engine checkout at {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    sys.path.insert(0, ROOT)
    from perfbench import harness
    from perfbench.chain import count_block_calls
    from perfbench.workloads import WORKLOADS, Ctx
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    harness.prepare_env(work)
    calls_dir = os.path.join(work, "calls")
    if args.trace:
        os.makedirs(calls_dir)
        os.environ["PERFBENCH_CALL_LOG"] = calls_dir
    ticks = harness.cpu_ticks()
    probe = harness.HostProbe()
    spark = None
    try:
        t = time.perf_counter()
        probe.read()
        probed_s = time.perf_counter() - t
        spark = harness.start_session(work, traced=bool(args.trace))
        tracer = harness.Tracer(enabled=False)
        ctx = Ctx(spark, work, args.seed, tracer, probe)
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        raw_setup_s = time.perf_counter() - PROCESS_START - probed_s
        probe.read()
        setup_s = raw_setup_s * probe.scale(ticks)
        t_warm = time.perf_counter()
        wl.warmup()
        warm_s = time.perf_counter() - t_warm
        if not args.trace:
            w = wl.window(args.seconds)
            t_check = time.perf_counter()
            wl.check(w)
            w.summary["check_s"] = time.perf_counter() - t_check
            attempted, failed = w.attempted, w.failed
            values = end_to_end(setup_s, w)
        else:
            # half-length untraced windows on both sides of the traced
            # one, so what is left of the warm-up does not read as
            # negative overhead
            before = wl.window(args.seconds / 2)
            ctx.reset_layers()
            harness.wait_idle(spark)
            c0, calls0 = harness.spark_counters(spark), count_block_calls(
                calls_dir)
            tracer.enabled = True
            w = wl.window(args.seconds)
            tracer.enabled = False
            harness.wait_idle(spark)
            c1, calls1 = harness.spark_counters(spark), count_block_calls(
                calls_dir)
            own = wl.trace_layers(w, calls1 - calls0)
            after = wl.window(args.seconds / 2)
            wl.check(w)
            values = per_layer(ctx, (before.rate + after.rate) / 2, w, own,
                               (c0, c1))
            # a layer the workload does not run reads zero; every other
            # per-layer metric must have been measured
            for m in wanted:
                if m["name"].startswith(wl.unused_layers):
                    values.setdefault(m["name"], 0.0)
            trace_dir = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(
                trace_dir, f"{args.workload}-{args.seed}.jsonl"))
            attempted = before.attempted + w.attempted + after.attempted
            failed = before.failed + w.failed + after.failed
            w.errors[:0] = before.errors + after.errors
    finally:
        if spark is not None:
            stop_session(spark)
        probe.close()
        shutil.rmtree(work, ignore_errors=True)

    for e in w.errors:
        print(f"check failed: {e}", file=sys.stderr)
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"workload reported no {missing}", file=sys.stderr)
        return 2
    metrics = {m["name"]: {"value": float(values[m["name"]]),
                           "unit": m["unit"]} for m in wanted}
    summary = dict(w.summary, failed_frac=failed / max(1, attempted),
                   samples=len(w.latencies), raw_setup_s=raw_setup_s,
                   probe_median_s=harness.median(probe.readings),
                   warmup_s=warm_s,
                   window_s=w.seconds,
                   total_s=time.perf_counter() - PROCESS_START)
    print(f"{args.workload} seed={args.seed}: " + ", ".join(
        f"{k}={v:.6g}" for k, v in summary.items()))
    correct = not w.errors
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
