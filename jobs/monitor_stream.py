"""spark-submit entry point: continuous monitoring of a clips stream.

Runs the reference's core loop — "current window vs reference
distribution on a cadence" (``config/default_config.py:104-106``) — as
a Structured Streaming job: per micro-batch, the batch-local validation
checks (violation rows appended) AND binned drift of a value column
against a FROZEN reference profile (one metrics row per epoch).

Usage (cluster or local):

    python tools/build_package.py   # -> dist/llm_drift_detector_spark.zip
    spark-submit --py-files dist/llm_drift_detector_spark.zip \
        jobs/monitor_stream.py \
        --clips-dir <parquet dir to watch> \
        --reference <path-or-table of the clean reference window> \
        --transcripts <path-or-table> \
        --out /path/to/stream-output \
        [--drift-column dur_ms] [--nbins 40] [--psi-nbins 10] \
        [--max-files-per-trigger 16] [--continuous]

Default is ``Trigger.AvailableNow`` (drain the backlog, emit, stop —
the cron/backfill mode); --continuous leaves the queries running until
killed.  Restart resumes from Spark's streaming checkpoints under
--out (each input file processed exactly once).

Writes to --out:

- ``violations_stream/``  violation rows per micro-batch (stream_validate)
- ``drift_metrics/``      one drift row per epoch (stream_drift)
- ``drift_metrics_multi/`` one row per (column, epoch) instead, when
  --drift-columns names several feature columns (ONE fused aggregate
  per micro-batch covers every column; per-column rows are numerically
  identical to the single-column stream)
- ``drift_metrics_grouped/`` one row per (group, epoch) with
  --group-keys, and ``drift_metrics_multi_grouped/`` one row per
  (group, column, epoch) when --drift-columns AND --group-keys are both
  given — the full G x N monitoring matrix through one aggregate per
  micro-batch; alert cooldowns key on column|group so every cell
  throttles independently.  All four are the one ``stream_drift``
  over the profile's (group keys x columns) cells
- ``embedding_metrics/``  one embedding-drift row per epoch, when
  --embedding-column is given (stream_embedding_drift vs a frozen
  centroid profile; the reference's detector registry runs the
  distribution AND embedding families per cadence,
  ``detectors/__init__.py:58-86``), or ``embedding_metrics_grouped/``
  one row per (group, epoch) with --embedding-group-keys
- ``text_metrics/``       one text-drift row per epoch, when
  --text-column is given (stream_text_drift vs a frozen text profile:
  lexical C13/C14 + perplexity C11 + topic C12 with
  --text-topic-column — the semantic half of the reference's detector
  registry), or ``text_metrics_grouped/`` one row per (group, epoch)
  with --text-group-keys (the reference's per-provider semantic loop)

Every family is one stream over its profile's cells: the group keys
ride in the frozen profile, and a keyed sink collapses rows of
unprofiled groups into a NULL-keyed ``gated_reason='unknown_group'``
row; alert cooldowns key on the group-suffixed column so groups
throttle independently.  Every ``--*profile-path`` has the same
load-or-freeze contract (``_frozen_profile``).

Prints one JSON summary line in AvailableNow mode.

Throughput of these streams on the benchmark host, measured end to end
by ``perfbench/`` (the ``stream_monitor`` workload), is recorded in
BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _split_columns(spec: str) -> list[str]:
    """Split --drift-columns on TOP-LEVEL commas only: entries may be
    SQL expressions with their own commas (round(dur_ms,2),
    coalesce(x,0)), which a naive split would shred into unparseable
    fragments."""
    out: list[str] = []
    cur: list[str] = []
    depth = 0
    for ch in spec:
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
            continue
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        cur.append(ch)
    out.append("".join(cur).strip())
    return [c for c in out if c]


def _load(spark, spec: str):
    if spec.startswith("table:"):
        return spark.read.table(spec[len("table:"):])
    return spark.read.parquet(spec)


def _keys(spec: str | None) -> list[str]:
    return spec.split(",") if spec else []


def _frozen_profile(label: str, path: str | None, stored_vs_requested, build):
    """The load-or-freeze contract of every profile path: a stored
    profile at ``path`` IS the monitored contract, so it is loaded and
    every mismatch with what this run asked for
    (``stored_vs_requested(profile)``: name -> (stored, requested))
    is rejected — silently monitoring something other than the printed
    summary reports is worse than failing.  Otherwise the profile is
    built and, with a path, saved there."""
    from llm_drift_detector_spark.streaming import load_profile, save_profile

    if path and os.path.exists(path):
        profile = load_profile(path)
        mismatches = [
            f"{name}: stored={stored!r} requested={req!r}"
            for name, (stored, req) in stored_vs_requested(profile).items()
            if stored != req
        ]
        if mismatches:
            raise SystemExit(
                f"stored {label}profile at {path} does not match this run: "
                f"{'; '.join(mismatches)} — delete the file to re-freeze, or "
                "rerun with the stored settings"
            )
        return profile
    profile = build()
    if path:
        save_profile(profile, path)
    return profile


def _sink_summary(spark, path: str, prefix: str, keys: list[str]) -> dict:
    """``<prefix>epochs`` and the flagged rows of one metrics sink:
    ``<prefix>drift_detected`` (key values + epoch) for keyed or
    multi-column sinks, else ``<prefix>drift_detected_epochs``."""
    try:
        rows = sorted(spark.read.parquet(path).collect(), key=lambda r: r.epoch)
    except Exception:
        rows = []
    flagged = [
        {**{k: r[k] for k in keys}, "epoch": int(r.epoch)}
        for r in rows
        if r.drift_detected
    ]
    if keys:
        detected = {f"{prefix}drift_detected": flagged}
    else:
        detected = {f"{prefix}drift_detected_epochs": [f["epoch"] for f in flagged]}
    return {f"{prefix}epochs": len({int(r.epoch) for r in rows}), **detected}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--clips-dir", required=True)
    p.add_argument("--reference", required=True)
    p.add_argument("--transcripts", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--run-id", default="monitor")
    p.add_argument("--drift-column", default="dur_ms")
    p.add_argument(
        "--drift-columns", default=None,
        help="comma-separated feature columns (or SQL expressions like "
        "length(bytes)): monitor ALL of them via "
        "ONE fused aggregate per micro-batch "
        "instead of the single --drift-column stream; combine with "
        "--group-keys for the full groups x columns matrix",
    )
    p.add_argument(
        "--group-keys", default=None,
        help="comma-separated key columns for PER-GROUP drift (frozen "
        "per-group profiles, one aggregate per batch for all groups — "
        "the reference's per-provider loop); omit for one global profile",
    )
    p.add_argument("--nbins", type=int, default=40)
    p.add_argument("--psi-nbins", type=int, default=10)
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument(
        "--profile-path", default=None,
        help="persist/reuse the frozen profile as JSON: if the file "
        "exists it is LOADED (a restart compares against the identical "
        "frozen reference even if the reference table changed); "
        "otherwise the profile is computed and saved there",
    )
    p.add_argument(
        "--embedding-column", default=None,
        help="stream the EMBEDDING drift family too (C6-C9 per "
        "micro-batch vs a frozen centroid profile); names the "
        "array<float> column in --embedding-dir",
    )
    p.add_argument(
        "--embedding-dir", default=None,
        help="parquet dir to watch for embedding rows (default: "
        "--clips-dir); its read schema is taken from "
        "--embedding-reference",
    )
    p.add_argument(
        "--embedding-reference", default=None,
        help="path-or-table of the clean reference window carrying the "
        "embedding column (default: --transcripts)",
    )
    p.add_argument(
        "--embedding-group-keys", default=None,
        help="comma-separated key columns for PER-GROUP embedding drift",
    )
    p.add_argument(
        "--embedding-profile-path", default=None,
        help="persist/reuse the frozen embedding profile as JSON "
        "(same load-or-compute contract as --profile-path)",
    )
    p.add_argument(
        "--text-column", default=None,
        help="stream the TEXT drift families too (lexical C13/C14 + "
        "perplexity C11 per micro-batch vs a frozen text profile; "
        "+ topic C12 when --text-topic-column is given); names the "
        "string column in --text-dir",
    )
    p.add_argument(
        "--text-dir", default=None,
        help="parquet dir to watch for text rows (default: --clips-dir); "
        "its read schema is taken from --text-reference",
    )
    p.add_argument(
        "--text-reference", default=None,
        help="path-or-table of the clean reference window carrying the "
        "text column (default: --transcripts)",
    )
    p.add_argument(
        "--text-topic-column", default=None,
        help="array<float> column for C12 topic drift (argmax-dim "
        "stand-in at the documented model seam)",
    )
    p.add_argument(
        "--text-profile-path", default=None,
        help="persist/reuse the frozen text profile as JSON "
        "(same load-or-compute contract as --profile-path)",
    )
    p.add_argument(
        "--text-group-keys", default=None,
        help="comma-separated key columns for PER-GROUP text drift "
        "(the reference's per-provider semantic loop)",
    )
    p.add_argument(
        "--alert-cooldown-minutes", type=float, default=60.0,
        help="C19 throttle window: one alert per (column, detector, "
        "level) key per cooldown (critical bypasses at half)",
    )
    p.add_argument(
        "--epoch-minutes", type=float, default=60.0,
        help="wall-clock spacing assigned to consecutive epochs for the "
        "alert cooldown arithmetic (the reference's "
        "detection_frequency_minutes, default_config.py:106)",
    )
    p.add_argument(
        "--continuous", action="store_true",
        help="run until killed instead of draining the backlog once",
    )
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from llm_drift_detector_spark.streaming import (
        embedding_reference_profile,
        reference_profile,
        stream_drift,
        stream_embedding_drift,
        stream_text_drift,
        stream_validate,
        text_reference_profile,
    )
    from llm_drift_detector_spark.streaming.drift_stream import (
        _reference_rows,
        _shape,
        _sink,
    )
    from llm_drift_detector_spark.streaming.validate_stream import CLIPS_DDL

    spark = SparkSession.builder.appName("monitor-stream").getOrCreate()
    reference = _load(spark, args.reference)
    transcripts = _load(spark, args.transcripts)

    # the frozen profile: ONE batch job over the reference window,
    # closed over every micro-batch after that.  A column list selects
    # the fused multi-column shape, group keys the per-group one.
    group_keys = _keys(args.group_keys)
    drift_cols = _split_columns(args.drift_columns) if args.drift_columns else None
    drift_spec = drift_cols or args.drift_column
    profile = _frozen_profile(
        "", args.profile_path,
        lambda p: {
            "group keys": (p.get("keys") or [], group_keys),
            "drift column": (p.get("columns", p.get("column")), drift_spec),
            "nbins": (p.get("nbins"), args.nbins),
            "psi_nbins": (p.get("psi_nbins"), args.psi_nbins),
        },
        lambda: reference_profile(
            reference, drift_spec, nbins=args.nbins,
            psi_nbins=args.psi_nbins, keys=group_keys,
        ),
    )

    # optional families: frozen-centroid embedding drift, and
    # frozen-profile text drift (lexical + perplexity + optional topics —
    # the reference's semantic detectors).  Each is (name, stream,
    # profile, watched dir, read schema); keys ride in the profile.
    families = []
    if args.embedding_column:
        emb_keys = _keys(args.embedding_group_keys)
        emb_ref = (
            _load(spark, args.embedding_reference)
            if args.embedding_reference
            else transcripts
        )
        families.append((
            "embedding",
            stream_embedding_drift,
            _frozen_profile(
                "embedding ", args.embedding_profile_path,
                lambda p: {
                    "kind": (p.get("kind"), "embedding" + "_grouped" * bool(emb_keys)),
                    "column": (p.get("column"), args.embedding_column),
                    "keys": (p.get("keys") or [], emb_keys),
                },
                lambda: embedding_reference_profile(
                    emb_ref, args.embedding_column, keys=emb_keys
                ),
            ),
            args.embedding_dir, emb_ref.schema,
        ))
    if args.text_column:
        text_keys = _keys(args.text_group_keys)
        text_ref = (
            _load(spark, args.text_reference) if args.text_reference else transcripts
        )
        families.append((
            "text",
            stream_text_drift,
            _frozen_profile(
                "text ", args.text_profile_path,
                lambda p: {
                    "kind": (p.get("kind"), "text" + "_grouped" * bool(text_keys)),
                    "column": (p.get("column"), args.text_column),
                    "keys": (p.get("keys") or [], text_keys),
                    "topic_column": (p.get("topic_column"), args.text_topic_column),
                },
                lambda: text_reference_profile(
                    text_ref, args.text_column,
                    topic_column=args.text_topic_column, keys=text_keys,
                ),
            ),
            args.text_dir, text_ref.schema,
        ))

    available_now = not args.continuous
    stream_validate(
        spark,
        args.clips_dir,
        transcripts,
        reference,
        args.out,
        run_id=args.run_id,
        available_now=available_now,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    stream_drift(
        spark,
        args.clips_dir,
        profile,
        args.out,
        schema=CLIPS_DDL,
        run_id=args.run_id,
        available_now=available_now,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    for _name, stream, fprofile, src_dir, schema in families:
        stream(
            spark,
            src_dir or args.clips_dir,
            fprofile,
            args.out,
            schema=schema,
            run_id=args.run_id,
            available_now=available_now,
            max_files_per_trigger=args.max_files_per_trigger,
        )
    if not available_now:
        spark.streams.awaitAnyTermination()
        return 0

    keys, _columns, multi = _shape(profile)
    summary = {
        "run_id": args.run_id,
        "reference_rows": _reference_rows(profile),
        "drift_column": drift_spec,
    }
    vio_path = os.path.join(args.out, "violations_stream")
    # the sinks may legitimately not exist after a zero-batch drain (no
    # new files since the last run) — report zeros, not a traceback
    try:
        summary["violation_rows"] = spark.read.parquet(vio_path).count()
    except Exception:
        summary["violation_rows"] = 0
    summary.update(_sink_summary(
        spark, os.path.join(args.out, _sink(keys, multi, windowed=False)[0]),
        "", keys + ["column"] * multi,
    ))
    for name, _stream, fprofile, _src, _schema in families:
        fkeys = list(fprofile.get("keys") or [])
        summary.update(_sink_summary(
            spark,
            os.path.join(args.out, f"{name}_metrics" + "_grouped" * bool(fkeys)),
            f"{name}_", fkeys,
        ))
    # ---- C19 alert derivation over the drained epochs -----------------
    #
    # Shared engine (monitoring/derive.py): discovers the metric sinks,
    # labels rows with per-cell cooldown keys, and runs AlertManager
    # over the NEW epochs only (per-sink progress bookkeeping) — the
    # same call jobs/derive_alerts.py makes on a cadence beside a
    # --continuous monitor.
    from llm_drift_detector_spark.monitoring.derive import derive_stream_alerts

    alert_rows = derive_stream_alerts(
        spark,
        args.out,
        distribution_label=args.drift_column,
        embedding_label=args.embedding_column or "embedding",
        text_label=args.text_column or "text",
        cooldown_minutes=args.alert_cooldown_minutes,
        epoch_minutes=args.epoch_minutes,
    )
    summary["alerts"] = [
        {"epoch": e, "level": lvl, "detector": det, "column": col}
        for e, lvl, det, col, _s, _t in alert_rows
    ]

    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
