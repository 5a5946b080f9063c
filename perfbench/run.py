"""Benchmark of the engine's user-facing jobs, one workload per call.

    python3 perfbench/run.py --workload validate_nightly --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for sizes, loop types and the metric
definitions):

  validate_nightly    run_validation with the jobs/validate.py defaults
  validate_deep_long  the same call with snr_mode="deep" over long clips
  stream_monitor      open loop against stream_validate + stream_drift

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` is the separate traced run: spans around the calls into
each layer (session, synth, pipeline, checks, codecs, drift, streaming),
the per-layer table, and the per-layer metrics.  The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import (  # noqa: E402
    ROOT,
    WORKSPACE,
    RssSampler,
    SparkCounters,
    Tracer,
    start_session,
    stop_session,
)

WORKLOADS = ("validate_nightly", "validate_deep_long", "stream_monitor")


def make_workload(name: str, spark, args, work: str, tracer):
    if name == "stream_monitor":
        from stream import StreamMonitor

        return StreamMonitor(spark, args, work, tracer, args.size)
    from validate import Validate

    return Validate(name, spark, args, work, tracer, args.size)


def traced_layers(spark, wl, work: str, tracer) -> tuple[dict, dict, list[str]]:
    """(per-layer metrics, operations and gate problems, lines) of the
    traced run."""
    import layers
    import stream
    from inputs import expected_pairs
    from validate import pipeline_layer

    counters = SparkCounters(spark)
    if wl.name == "stream_monitor":
        # the open loop first, as in an untraced run; then the batch
        # pipeline over every file the stream read
        res = wl.measure()
        m = dict(wl.stream_metrics)
        frames = {k: spark.read.parquet(v) for k, v in wl.tables.items()}
        pm, problems, lines = pipeline_layer(
            spark, frames, expected_pairs(wl.p), wl.snr_mode, os.path.join(work, "batch"),
            sum(f["bytes"] for f in wl.facts.values()), tracer,
        )
        m.update(pm)
        res["attempted"] += 1
        lines = res["lines"] + lines
    else:
        # the first call in the JVM, as in an untraced run; then the
        # monitor draining the same clips
        m, problems, lines = wl.layer_metrics()
        drain, drain_problems = stream.drain_layer(spark, wl, work, tracer)
        m.update(drain)
        res = {"attempted": 2, "failed": bool(problems) + bool(drain_problems), "problems": []}
        problems = problems + drain_problems
    m.update(layers.probe_all(spark, wl, work, tracer, counters))
    res["problems"] = res["problems"] + problems
    m["trace.overhead_s"] = (tracer.bookkeeping_s + counters.bookkeeping_s, "s")
    lines.append(
        f"tracing overhead: {m['trace.overhead_s'][0]:.3f} s of span and counter bookkeeping "
        "in this run; end to end, compare pipeline.run_validation_s (validate_*) or the "
        "latency lines (stream_monitor) with an untraced run of the same seed"
    )
    return m, res, lines + layers.summary_lines(m)


def run(args) -> dict:
    work = os.path.join(WORKSPACE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.time()
            with tracer.span("session.start"):
                spark = start_session(work)
            session_s = time.time() - t0
            wl = make_workload(args.workload, spark, args, work, tracer)
            with tracer.span("setup"):
                wl.setup()
            setup_s = time.time() - t0
            if args.trace:
                metrics, res, lines = traced_layers(spark, wl, work, tracer)
                facts = wl.facts
                metrics.update({
                    "session.start_s": (session_s, "s"),
                    "synth.generate_s": (wl.gen_s, "s"),
                    "synth.input_bytes": (float(sum(f["bytes"] for f in facts.values())), "bytes"),
                    "synth.input_rows": (float(sum(f["rows"] for f in facts.values())), "count"),
                    "trace.spans": (float(len(tracer.spans)), "count"),
                })
            else:
                res = wl.measure()
                metrics = {"setup_s": (setup_s, "s"), **res["metrics"]}
                lines = [
                    f"setup {setup_s:.2f} s = session start {session_s:.2f} + input "
                    f"generation {wl.gen_s:.2f} + the rest {setup_s - session_s - wl.gen_s:.2f}",
                    *res["lines"],
                ]
            stop_session(spark)
            spark = None
        if not args.trace:
            metrics["peak_rss_mb"] = (rss.peak / 2**20, "MB")
            lines.append(rss.split())
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  run {run_id}")
    for name, f in wl.facts.items():
        print(f"  input {name:<12} {f['rows']:>8} rows {f['bytes'] / 2**20:>9.2f} MB {f['files']:>4} files")
    for ln in lines:
        print(f"  {ln}")
    if args.trace:
        path = os.path.join(WORKSPACE, "traces", f"{run_id}.json")
        tracer.write(path)
        print(f"  spans: {path}")
        print(f"  {'span':<34}{'calls':>6}{'total s':>10}{'self s':>10}")
        for name, (c, tot, slf) in sorted(tracer.self_times().items()):
            print(f"  {name:<34}{c:>6}{tot:>10.3f}{slf:>10.3f}")
    failed = min(res["attempted"], res["failed"] + (res["attempted"] if res["problems"] else 0))
    for pr in res["problems"]:
        print(f"  GATE FAILED: {pr}")
    print(f"  ops_failed_frac {failed / res['attempted']:.4f} ratio ({failed}/{res['attempted']})")
    for name, (v, unit) in metrics.items():
        print(f"  {name:<40}{v:>16.4f} {unit}")
    return {
        "correct": not res["problems"],
        "attempted": int(res["attempted"]),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny inputs, for perfbench/selftest.py")
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import llm_drift_detector_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
