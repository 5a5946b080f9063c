"""The ``validate_nightly`` and ``validate_deep_long`` workloads: closed
loop, one caller, full ``run_validation`` calls with the
``jobs/validate.py`` defaults, each into a fresh ``out_dir``."""

from __future__ import annotations

import os
import shutil
import time

from harness import CORES, SparkCounters, dir_stats, jvm_pid, median, proc_rchar, tail
from inputs import expected_pairs, generate, violation_gate

# n_rows per size; deep adds the heavy-tier duration shape
SIZES = {
    "validate_nightly": {"full": {"n_rows": 2000}, "tiny": {"n_rows": 600}},
    "validate_deep_long": {
        "full": {"n_rows": 1000, "dur_median_ms": 320.0, "dur_max_ms": 8000.0},
        "tiny": {"n_rows": 300, "dur_median_ms": 320.0, "dur_max_ms": 8000.0},
    },
}
GROUPED_METHODS = 4  # ks, js, psi, wasserstein per codec group


def run_config(run_id: str, out_dir: str, snr_mode: str):
    """jobs/validate.py's defaults plus per-codec grouped drift."""
    from llm_drift_detector_spark.config import SKETCH
    from llm_drift_detector_spark.pipeline import RunConfig

    return RunConfig(
        run_id=run_id, out_dir=out_dir, n_buckets=32, groups=4, mode=SKETCH,
        drift_columns=("dur_ms",), snr_mode=snr_mode, drift_group_keys=("codec",),
    )


def output_gates(out_dir: str, run_id: str, expected: set, n_buckets: int) -> list[str]:
    """Violations equal the expected set (each pair once), every bucket
    is checkpointed exactly once, and the metrics table has its rows."""
    import pyarrow.parquet as pq

    vio = pq.read_table(os.path.join(out_dir, "violations"),
                        columns=["check_name", "clip_id"]).to_pylist()
    problems = violation_gate([(r["check_name"], r["clip_id"]) for r in vio], expected)
    cp = pq.read_table(os.path.join(out_dir, "checkpoints"),
                       columns=["run_id", "partition_id"]).to_pylist()
    buckets = sorted(r["partition_id"] for r in cp if r["run_id"] == run_id)
    if buckets != list(range(n_buckets)):
        problems.append(f"checkpointed buckets {len(set(buckets))}/{n_buckets}, rows {len(buckets)}")
    m = pq.read_table(os.path.join(out_dir, "metrics", f"run={run_id}"),
                      columns=["detector_name", "metric_name", "details"]).to_pylist()
    by = {}
    for r in m:
        by.setdefault(r["detector_name"], []).append(r)
    n_prof = len(by.get("stats_profile", []))
    drift = {r["metric_name"] for r in by.get("distribution_drift", [])}
    n_grouped = len(by.get("grouped_distribution_drift", []))
    if n_prof != 18:  # 9 statistics x (sr_hz, dur_ms)
        problems.append(f"stats_profile rows {n_prof} != 18")
    if "combined" not in drift or len(drift) < 2:
        problems.append(f"distribution_drift metrics {sorted(drift)}")
    if n_grouped == 0 or n_grouped % GROUPED_METHODS:
        problems.append(f"grouped_distribution_drift rows {n_grouped}")
    return problems


def validation_pass(spark, frames: dict, expected: set, snr_mode: str, out_root: str,
                    run_id: str, counters: SparkCounters | None = None,
                    io: dict | None = None):
    """One run_validation call into a fresh out_dir, then its gates.
    With ``counters``, the call runs under its own job group and ``io``
    receives its Spark counts, JVM read bytes and output size.
    Returns (wall seconds, summary, problems)."""
    from llm_drift_detector_spark.pipeline import run_validation

    out = os.path.join(out_root, run_id)
    cfg = run_config(run_id, out, snr_mode)
    args = (spark, frames["clips"], frames["transcripts"], frames["reference"], cfg)
    if counters is None:
        t0 = time.perf_counter()
        summary = run_validation(*args)
        wall = time.perf_counter() - t0
    else:
        rchar0 = proc_rchar(jvm_pid(spark))
        with counters.measure("pipeline.run_validation") as c:
            summary = run_validation(*args)
        wall = c["secs"]
        io["counts"] = c
        io["read_bytes"] = proc_rchar(jvm_pid(spark)) - rchar0
        io["out_bytes"], io["out_files"] = dir_stats(out)
    problems = output_gates(out, run_id, expected, cfg.n_buckets)
    shutil.rmtree(out, ignore_errors=True)
    return wall, summary, problems


def pipeline_layer(spark, frames: dict, expected: set, snr_mode: str, out_root: str,
                   input_bytes: int, tracer) -> tuple[dict, list[str], list[str]]:
    """pipeline.*: one traced run_validation call.  Returns the metrics,
    the call's gate problems and the line attributing its wall time."""
    io: dict = {}
    with tracer.span("pipeline.run_validation"):
        wall, summary, problems = validation_pass(
            spark, frames, expected, snr_mode, out_root, "traced",
            SparkCounters(spark), io,
        )
    groups = [g["secs"] for g in summary["executed_groups"]]
    c = io["counts"]
    line = (
        f"run_validation {wall:.2f} s = bucket groups "
        + " + ".join(f"{g:.2f}" for g in groups)
        + f" s + global metrics {wall - sum(groups):.2f} s"
    )
    return {
        "pipeline.run_validation_s": (wall, "s"),
        "pipeline.group_s": (median(groups), "s"),
        "pipeline.groups": (float(len(groups)), "count"),
        "pipeline.global_metrics_s": (wall - sum(groups), "s"),
        "pipeline.read_bytes": (float(io["read_bytes"]), "bytes"),
        "pipeline.read_amplification": (io["read_bytes"] / input_bytes, "ratio"),
        "pipeline.out_bytes": (float(io["out_bytes"]), "bytes"),
        "pipeline.out_files": (float(io["out_files"]), "count"),
        "pipeline.spark_jobs": (float(c["spark_jobs"]), "count"),
        "pipeline.tasks": (float(c["tasks"]), "count"),
        "pipeline.tasks_failed": (float(c["tasks_failed"]), "count"),
        "pipeline.gc_ms": (float(c["gc_ms"]), "ms"),
    }, problems, [line]


class Validate:
    def __init__(self, name: str, spark, args, work: str, tracer, size: str):
        from llm_drift_detector_spark.synth import SynthParams

        self.name, self.spark, self.args, self.work, self.tracer = name, spark, args, work, tracer
        self.snr_mode = "deep" if name == "validate_deep_long" else "hash_shortcut"
        self.p = SynthParams(seed=args.seed, **SIZES[name][size])
        self.expected = expected_pairs(self.p)

    def setup(self) -> None:
        """Generate the seeded inputs and open them.  No warm-up: the
        measured call is the first one in a fresh JVM, as a nightly
        spark-submit makes it."""
        t0 = time.time()
        self.facts = generate(self.p, os.path.join(self.work, "data"), self.tracer, CORES)
        self.gen_s = time.time() - t0
        self.tables = {k: v["path"] for k, v in self.facts.items()}
        self.frames = {k: self.spark.read.parquet(v) for k, v in self.tables.items()}

    def measure(self) -> dict:
        """One gated run_validation call, the first in the fresh JVM."""
        job, summary, problems = validation_pass(
            self.spark, self.frames, self.expected, self.snr_mode,
            os.path.join(self.work, "out"), self.name,
        )
        n = self.p.n_rows
        # each bucket group is checkpointed as it ends: the latency at
        # which its verdicts become durable
        secs = [g["secs"] for g in summary["executed_groups"]]
        commits = [sum(secs[:k + 1]) for k in range(len(secs))]
        tail_v, pct, cnt = tail(commits)
        return {
            "metrics": {
                "job_wall_s": (job, "s"),
                "clips_per_s": (n / job, "clips/s"),
                "latency_p50_s": (median(commits), "s"),
                "latency_tail_s": (tail_v, "s"),
            },
            "attempted": 1,
            "failed": int(bool(problems)),
            "problems": problems,
            "lines": [
                f"run_validation over {n} clips, snr_mode={self.snr_mode}: {job:.2f} s",
                "bucket-group checkpoint latencies (s): " + " ".join(f"{c:.2f}" for c in commits)
                + f"; tail = p{pct} of {cnt}",
            ],
        }

    def layer_metrics(self) -> tuple[dict, list[str], list[str]]:
        """pipeline.*: the traced run's first call, the one an untraced
        run measures as job_wall_s."""
        return pipeline_layer(
            self.spark, self.frames, self.expected, self.snr_mode,
            os.path.join(self.work, "out"), sum(v["bytes"] for v in self.facts.values()),
            self.tracer,
        )
