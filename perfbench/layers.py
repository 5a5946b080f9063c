"""Per-layer probes for the traced run: each layer's public functions,
called from outside on the workload's own inputs, each under a span and
its own Spark job group (``collect`` as the sink)."""

from __future__ import annotations

import os
import time

from harness import CORES
from validate import run_config

CODECS = ("pcm_s16le", "flac", "opus", "wav")
SAMPLE_PER_CODEC = 64
MIN_TIMED_S = 0.1


def _probe(out: dict, name: str, thunk, tracer, counters, rows_out: bool = True) -> None:
    """Time one call under a span and its own job group; record its
    seconds, Spark jobs and (with ``rows_out``) the rows it returned."""
    with tracer.span(name), counters.measure(name) as c:
        rows = thunk()
    out[f"{name}_s"] = (c["secs"], "s")
    if rows_out:
        out[f"{name}_rows_out"] = (float(rows), "count")
    out[f"{name}_spark_jobs"] = (float(c["spark_jobs"]), "count")


def checks_layer(spark, frames: dict, snr_mode: str, out_dir: str, tracer, counters) -> dict:
    from llm_drift_detector_spark.checks import domain_violations, duplicate_keys, orphans, profile
    from llm_drift_detector_spark.checks.audio import (
        audio_invariant_violations,
        transcript_mismatches,
    )
    from llm_drift_detector_spark.config import CODEC_WHITELIST, SKETCH, SR_HZ_DOMAIN
    from llm_drift_detector_spark.pipeline import violations_frame

    clips, tr, ref = frames["clips"], frames["transcripts"], frames["reference"]
    cfg = run_config("probe", out_dir, snr_mode)
    n = lambda df: len(df.collect())  # noqa: E731
    probes = {
        # the single fused pass over the full input that bench.py times
        "checks.violations_frame": lambda: sum(
            r["count"] for r in violations_frame(clips, tr, ref, cfg)
            .groupBy("check_name").count().collect()
        ),
        "checks.relational": lambda: n(duplicate_keys(clips)) + n(orphans(clips, tr))
        + n(orphans(tr, clips)) + n(transcript_mismatches(clips, tr)),
        "checks.domain": lambda: n(domain_violations(clips, "sr_hz", SR_HZ_DOMAIN))
        + n(domain_violations(clips, "codec", CODEC_WHITELIST)),
        "checks.profile": lambda: n(profile(clips, ["sr_hz", "dur_ms"], SKETCH)),
        "checks.audio": lambda: n(audio_invariant_violations(clips, ref, snr_mode=snr_mode)),
    }
    out: dict = {}
    for name, thunk in probes.items():
        _probe(out, name, thunk, tracer, counters)
    return out


def drift_layer(frames: dict, tracer, counters) -> dict:
    from llm_drift_detector_spark.config import SKETCH
    from llm_drift_detector_spark.drift import (
        distribution_drift,
        grouped_distribution_drift_binned,
        tag_windows,
    )

    clips, ref = frames["clips"], frames["reference"]
    out: dict = {}
    _probe(out, "drift.distribution_drift", lambda: distribution_drift(
        ref.select("dur_ms"), clips.select("dur_ms"), "dur_ms", mode=SKETCH,
    ), tracer, counters, rows_out=False)
    _probe(out, "drift.grouped_binned", lambda: grouped_distribution_drift_binned(
        tag_windows(ref.select("codec", "dur_ms"), clips.select("codec", "dur_ms")),
        ["codec"], "dur_ms",
    ).collect(), tracer, counters, rows_out=False)
    return out


def _read(path: str, columns: list[str]):
    import pyarrow.parquet as pq

    files = sorted(
        os.path.join(d, f) for d, _dirs, names in os.walk(path)
        for f in names if f.endswith(".parquet")
    )
    rows = []
    for f in files:
        rows.extend(pq.read_table(f, columns=columns).to_pylist())
    return sorted(rows, key=lambda r: r["clip_id"])


def _per_call(fn, items) -> float:
    """Seconds per item of ``fn`` over ``items``, single-threaded,
    repeated until at least MIN_TIMED_S has been timed."""
    reps, spent = 0, 0.0
    while spent < MIN_TIMED_S:
        t0 = time.perf_counter()
        for it in items:
            fn(*it)
        spent += time.perf_counter() - t0
        reps += 1
    return spent / (reps * len(items))


def codecs_layer(tables: dict, snr_mode: str, audio_s: float, tracer) -> dict:
    """codecs.decode per codec and codecs.snr_db over a fixed sample of
    the workload's payloads (the first decodable clips by clip_id)."""
    from llm_drift_detector_spark import codecs

    clips = _read(tables["clips"], ["clip_id", "bytes", "codec"])
    ref = {r["clip_id"]: r for r in _read(tables["reference"], ["clip_id", "bytes", "codec"])}
    out: dict = {}
    us: dict[str, float] = {}
    pairs = []
    with tracer.span("codecs.decode"):
        for codec in CODECS:
            sample = []
            for r in clips:
                if r["codec"] != codec:
                    continue
                try:
                    codecs.decode(r["bytes"], codec)
                except ValueError:  # planted truncated payloads
                    continue
                sample.append(r)
                if len(sample) == SAMPLE_PER_CODEC:
                    break
            per = _per_call(codecs.decode, [(r["bytes"], codec) for r in sample])
            us[codec] = 1e6 * per
            mb = sum(len(r["bytes"]) for r in sample) / len(sample) / 1e6
            out[f"codecs.decode_us_per_clip.{codec}"] = (us[codec], "us")
            out[f"codecs.decode_mb_per_s.{codec}"] = (mb / per, "MB/s")
            for r in sample[:SAMPLE_PER_CODEC // len(CODECS)]:
                rr = ref[r["clip_id"]]
                pairs.append((codecs.decode(rr["bytes"], rr["codec"]),
                              codecs.decode(r["bytes"], codec)))
    with tracer.span("codecs.snr_db"):
        out["codecs.snr_us_per_clip"] = (1e6 * _per_call(codecs.snr_db, pairs), "us")
    # estimated share of checks.audio_s the decode kernel accounts for:
    # deep mode decodes every row on both sides; the hash shortcut
    # decodes flac rows (byte length does not give their duration)
    counts = {c: sum(1 for r in clips if r["codec"] == c) for c in CODECS}
    if snr_mode == "deep":
        decoded_us = 2 * sum(counts[c] * us[c] for c in CODECS)
    else:
        decoded_us = counts["flac"] * us["flac"]
    out["codecs.kernel_share"] = (decoded_us / 1e6 / (audio_s * CORES), "ratio")
    return out


def probe_all(spark, wl, work: str, tracer, counters) -> dict:
    """checks, codecs and drift on the workload's inputs."""
    frames = {k: spark.read.parquet(v) for k, v in wl.tables.items()}
    out = checks_layer(spark, frames, wl.snr_mode, os.path.join(work, "probe"), tracer, counters)
    out.update(codecs_layer(wl.tables, wl.snr_mode, out["checks.audio_s"][0], tracer))
    out.update(drift_layer(frames, tracer, counters))
    return out


def summary_lines(m: dict) -> list[str]:
    """The side-by-side attribution of job_wall_s to layers."""
    v = {k: x[0] for k, x in m.items()}
    return [
        f"pipeline: {v['pipeline.groups']:.0f} groups x median group_s "
        f"{v['pipeline.group_s']:.2f} s + global_metrics_s {v['pipeline.global_metrics_s']:.2f} s"
        f" vs one fused checks.violations_frame pass (bench.py's validate_full) "
        f"{v['checks.violations_frame_s']:.2f} s",
        "codecs: decode us/clip " + ", ".join(
            f"{c} {v[f'codecs.decode_us_per_clip.{c}']:.1f}" for c in CODECS)
        + f"; estimated kernel share of checks.audio_s {v['codecs.kernel_share']:.3f}",
    ]
