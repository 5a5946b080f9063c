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
  ``detectors/__init__.py:58-86`` — this closes the embedding half in
  continuous mode)
- ``text_metrics/``       one text-drift row per epoch, when
  --text-column is given (stream_text_drift vs a frozen text profile:
  lexical C13/C14 + perplexity C11 + topic C12 with
  --text-topic-column — the remaining semantic half of the
  reference's detector registry, now also continuous)
- ``text_metrics_grouped/`` one row per (group, epoch) instead, when
  --text-group-keys is also given (stream_text_drift_grouped vs
  frozen PER-GROUP text profiles — the reference's per-provider
  semantic loop; unknown-group rows collapse into a NULL-keyed
  ``gated_reason='unknown_group'`` row, and alert cooldowns key on
  the group-suffixed column so groups throttle independently)

Prints one JSON summary line in AvailableNow mode.

Measured drain throughput (tools/stream_bench.py, sf0.1 = 600k clips,
local[32], 16 micro-batches): distribution drift 26.1k rows/sec (p50
trigger 1.2 s), fused 4-column drift 21.0k rows/sec = 84k
column-rows/sec (1.23x one stream's wall for four features),
embedding drift 20.2k rows/sec (p50 1.8 s), full
8-check validation 9.4k clips/sec (static sides frozen + persisted at
stream start — the transcripts projection and a 16-byte/row reference
hash frame — so triggers stop re-hashing every reference payload),
bloom payload dedup 19.3k rows/sec with a
constant 123 MB state footprint.  Full table in BENCH/BASELINE.md.
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
        load_profile,
        reference_profile,
        save_profile,
        stream_drift,
        stream_validate,
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
    group_keys = args.group_keys.split(",") if args.group_keys else []
    drift_cols = _split_columns(args.drift_columns) if args.drift_columns else None
    drift_spec = drift_cols or args.drift_column
    if args.profile_path and os.path.exists(args.profile_path):
        profile = load_profile(args.profile_path)
        # the stored profile IS the monitored contract — reject every
        # mismatch with what this run asked for (stream_drift monitors
        # the stored columns; silently monitoring a different column
        # than the printed summary reports is worse than failing)
        mismatches = [
            f"{name}: stored={stored!r} requested={req!r}"
            for name, stored, req in (
                ("group keys", profile.get("keys") or [], group_keys),
                (
                    "drift column",
                    profile.get("columns", profile.get("column")),
                    drift_spec,
                ),
                ("nbins", profile.get("nbins"), args.nbins),
                ("psi_nbins", profile.get("psi_nbins"), args.psi_nbins),
            )
            if stored != req
        ]
        if mismatches:
            raise SystemExit(
                f"stored profile at {args.profile_path} does not match "
                f"this run: {'; '.join(mismatches)} — delete the file to "
                "re-freeze, or rerun with the stored settings"
            )
    else:
        profile = reference_profile(
            reference, drift_spec, nbins=args.nbins,
            psi_nbins=args.psi_nbins, keys=group_keys,
        )
        if args.profile_path:
            save_profile(profile, args.profile_path)

    # optional third family: frozen-centroid embedding drift
    emb_profile = None
    emb_keys = None
    emb_schema = None
    if args.embedding_column:
        from llm_drift_detector_spark.streaming import (
            embedding_reference_profile,
            embedding_reference_profile_grouped,
        )

        emb_keys = (
            args.embedding_group_keys.split(",")
            if args.embedding_group_keys
            else None
        )
        emb_ref = (
            _load(spark, args.embedding_reference)
            if args.embedding_reference
            else transcripts
        )
        emb_schema = emb_ref.schema
        if args.embedding_profile_path and os.path.exists(
            args.embedding_profile_path
        ):
            emb_profile = load_profile(args.embedding_profile_path)
            emb_mismatches = [
                f"{name}: stored={stored!r} requested={req!r}"
                for name, stored, req in (
                    (
                        "kind",
                        emb_profile.get("kind"),
                        "embedding_grouped" if emb_keys else "embedding",
                    ),
                    ("column", emb_profile.get("column"), args.embedding_column),
                    ("keys", emb_profile.get("keys"), emb_keys),
                )
                if stored != req
            ]
            if emb_mismatches:
                raise SystemExit(
                    f"stored embedding profile at "
                    f"{args.embedding_profile_path} does not match this "
                    f"run: {'; '.join(emb_mismatches)}"
                )
        else:
            if emb_keys:
                emb_profile = embedding_reference_profile_grouped(
                    emb_ref, emb_keys, args.embedding_column
                )
            else:
                emb_profile = embedding_reference_profile(
                    emb_ref, args.embedding_column
                )
            if args.embedding_profile_path:
                save_profile(emb_profile, args.embedding_profile_path)

    # optional fourth family: frozen-profile text drift (lexical +
    # perplexity + optional topics — the reference's semantic detectors)
    text_profile = None
    text_keys = None
    text_schema = None
    if args.text_column:
        from llm_drift_detector_spark.streaming import (
            text_reference_profile,
            text_reference_profile_grouped,
        )

        text_keys = (
            args.text_group_keys.split(",") if args.text_group_keys else None
        )
        text_ref = (
            _load(spark, args.text_reference)
            if args.text_reference
            else transcripts
        )
        text_schema = text_ref.schema
        if args.text_profile_path and os.path.exists(args.text_profile_path):
            text_profile = load_profile(args.text_profile_path)
            text_mismatches = [
                f"{name}: stored={stored!r} requested={req!r}"
                for name, stored, req in (
                    (
                        "kind",
                        text_profile.get("kind"),
                        "text_grouped" if text_keys else "text",
                    ),
                    ("column", text_profile.get("column"), args.text_column),
                    ("keys", text_profile.get("keys"), text_keys),
                    (
                        "topic_column",
                        text_profile.get("topic_column"),
                        args.text_topic_column,
                    ),
                )
                if stored != req
            ]
            if text_mismatches:
                raise SystemExit(
                    f"stored text profile at {args.text_profile_path} does "
                    f"not match this run: {'; '.join(text_mismatches)}"
                )
        else:
            if text_keys:
                text_profile = text_reference_profile_grouped(
                    text_ref, text_keys, args.text_column,
                    topic_column=args.text_topic_column,
                )
            else:
                text_profile = text_reference_profile(
                    text_ref, args.text_column,
                    topic_column=args.text_topic_column,
                )
            if args.text_profile_path:
                save_profile(text_profile, args.text_profile_path)

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
    if emb_profile is not None:
        from llm_drift_detector_spark.streaming import (
            stream_embedding_drift,
            stream_embedding_drift_grouped,
        )

        emb_fn = (
            stream_embedding_drift_grouped if emb_keys else stream_embedding_drift
        )
        emb_fn(
            spark,
            args.embedding_dir or args.clips_dir,
            emb_profile,
            args.out,
            schema=emb_schema,
            run_id=args.run_id,
            available_now=available_now,
            max_files_per_trigger=args.max_files_per_trigger,
        )
    if text_profile is not None:
        from llm_drift_detector_spark.streaming import (
            stream_text_drift,
            stream_text_drift_grouped,
        )

        (stream_text_drift_grouped if text_keys else stream_text_drift)(
            spark,
            args.text_dir or args.clips_dir,
            text_profile,
            args.out,
            schema=text_schema,
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
    met_path = os.path.join(args.out, _sink(keys, multi, windowed=False)[0])
    # both sinks may legitimately not exist after a zero-batch drain
    # (no new files since the last run) — report zeros, not a traceback
    try:
        summary["violation_rows"] = spark.read.parquet(vio_path).count()
    except Exception:
        summary["violation_rows"] = 0
    try:
        rows = sorted(
            spark.read.parquet(met_path).collect(), key=lambda r: r.epoch
        )
    except Exception:
        rows = []
    summary["epochs"] = len({int(r.epoch) for r in rows})
    flagged = [
        {
            **{k: r[k] for k in keys},
            **({"column": r.column} if multi else {}),
            "epoch": int(r.epoch),
        }
        for r in rows
        if r.drift_detected
    ]
    if keys or multi:
        summary["drift_detected"] = flagged
    else:
        summary["drift_detected_epochs"] = [f["epoch"] for f in flagged]
    if emb_profile is not None:
        emb_path = os.path.join(
            args.out,
            "embedding_metrics_grouped" if emb_keys else "embedding_metrics",
        )
        try:
            erows = sorted(
                spark.read.parquet(emb_path).collect(), key=lambda r: r.epoch
            )
        except Exception:
            erows = []
        summary["embedding_epochs"] = len({int(r.epoch) for r in erows})
        if emb_keys:
            summary["embedding_drift_detected"] = [
                {**{k: r[k] for k in emb_keys}, "epoch": int(r.epoch)}
                for r in erows
                if r.drift_detected
            ]
        else:
            summary["embedding_drift_detected_epochs"] = [
                int(r.epoch) for r in erows if r.drift_detected
            ]
    trows = []
    if text_profile is not None:
        text_sink = "text_metrics_grouped" if text_keys else "text_metrics"
        try:
            trows = sorted(
                spark.read.parquet(os.path.join(args.out, text_sink)).collect(),
                key=lambda r: r.epoch,
            )
        except Exception:
            trows = []
        summary["text_epochs"] = len({int(r.epoch) for r in trows})
        if text_keys:
            summary["text_drift_detected"] = [
                {**{k: r[k] for k in text_keys}, "epoch": int(r.epoch)}
                for r in trows
                if r.drift_detected
            ]
        else:
            summary["text_drift_detected_epochs"] = [
                int(r.epoch) for r in trows if r.drift_detected
            ]
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
