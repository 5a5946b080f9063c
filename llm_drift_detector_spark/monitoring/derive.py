"""Epoch-ordered alert derivation over the streaming monitor's metric
sinks — the C19 loop (level classification + cooldown throttling),
runnable standalone on a cadence.

The monitor's AvailableNow drain derives alerts once at the end; a
``--continuous`` monitor never reaches that code.  This module is the
shared engine for both: it DISCOVERS whichever metric sinks exist under
the monitor's out dir (every family x global/grouped/multi/matrix sink
the streams write), labels each non-gated row with its alert cooldown
key (``<column>|<group>``), and runs :class:`AlertManager` over the new
epochs in ascending order.

Exactly-once across invocations: alongside the throttle state
(``alerts_state.json``) a progress file (``alerts_progress.json``)
records the highest epoch processed PER SINK, so a cadence invocation
(or a monitor restart) derives only epochs it has not seen — re-reading
a drained sink emits nothing new, and an epoch is never skipped even if
one family's stream lags another.  Alert rows append to ``alerts/``.

Labels: sinks that carry a ``column`` field (multi/matrix) label rows
with it; single-column sinks use the caller-provided label (the
monitor passes its --drift-column / --embedding-column /
--text-column).  Group keys are every sink column left of ``run_id``
(minus ``column``), suffixed ``|g1,g2`` — per-cell cooldowns.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

from ..config import EMBEDDING_DETECTOR_THRESHOLD, LEXICAL_THRESHOLD
from ..session import local_frame
from .alerts import AlertManager

# sink name -> (family kind, default score threshold)
# thresholds: distribution/text ppl+topic scores arrive already
# score/threshold-normalized (1.0); embedding uses the detector
# threshold; lexical uses LEXICAL_THRESHOLD (0.10)
_SINKS = (
    ("drift_metrics", "distribution"),
    ("drift_metrics_grouped", "distribution"),
    ("drift_metrics_multi", "distribution"),
    ("drift_metrics_multi_grouped", "distribution"),
    ("embedding_metrics", "embedding"),
    ("embedding_metrics_grouped", "embedding"),
    ("text_metrics", "text"),
    ("text_metrics_grouped", "text"),
)

ALERTS_SCHEMA = (
    "epoch bigint, level string, detector string, column string, "
    "drift_score double, threshold double"
)


def derive_stream_alerts(
    spark,
    out_dir: str,
    distribution_label: str = "value",
    embedding_label: str = "embedding",
    text_label: str = "text",
    cooldown_minutes: float = 60.0,
    epoch_minutes: float = 60.0,
    holdback_latest: bool = False,
) -> list[tuple]:
    """Derive alerts for every NEW epoch across all existing metric
    sinks under ``out_dir``; append them to ``<out_dir>/alerts`` and
    return the new alert rows (tuples matching ``ALERTS_SCHEMA``).

    ``holdback_latest=True`` (the cadence job's default) withholds each
    sink's HIGHEST epoch from this pass: while a continuous monitor is
    running, its current epoch partition may be mid-overwrite (or about
    to be crash-replayed — the streams' idempotent-replay path rewrites
    the last epoch), and deriving from a torn read would permanently
    mark it processed with partial metrics.  Older epochs are immutable
    once a newer one exists, so holding back exactly the newest closes
    the race at the cost of one cadence of alert latency.  The
    drain-end path passes False — ``awaitTermination`` has returned,
    no writer is live.
    """
    mgr = AlertManager(cooldown_minutes=cooldown_minutes)
    state_path = os.path.join(out_dir, "alerts_state.json")
    progress_path = os.path.join(out_dir, "alerts_progress.json")
    mgr.load_state(state_path)
    progress: dict[str, int] = {}
    if os.path.exists(progress_path):
        with open(progress_path) as f:
            progress = json.load(f)

    epoch_metrics: dict[int, list[dict]] = {}
    new_progress = dict(progress)
    for sink, kind in _SINKS:
        path = os.path.join(out_dir, sink)
        try:
            df = spark.read.parquet(path)
        except Exception:
            continue
        cols = df.columns
        pre = cols[: cols.index("run_id")] if "run_id" in cols else []
        group_keys = [c for c in pre if c != "column"]
        has_column = "column" in pre
        done_through = int(progress.get(sink, -1))
        max_seen = done_through
        # epoch is the sink's PARTITION column: pushing the progress
        # bound into the scan prunes already-processed epochs at file
        # listing, so a long-running monitor's cadence cost stays
        # O(new epochs), not O(history)
        import pyspark.sql.functions as F

        bound = df.where(F.col("epoch") > done_through)
        if holdback_latest:
            newest = df.selectExpr("max(epoch) as m").collect()[0].m
            if newest is None:
                continue
            bound = bound.where(F.col("epoch") < int(newest))
        for r in bound.collect():
            epoch = int(r["epoch"])
            max_seen = max(max_seen, epoch)
            if r["gated"]:
                continue
            base = (
                r["column"]
                if has_column
                else {
                    "distribution": distribution_label,
                    "embedding": embedding_label,
                    "text": text_label,
                }[kind]
            )
            suffix = (
                "|" + ",".join(str(r[k]) for k in group_keys)
                if group_keys
                else ""
            )
            label = f"{base}{suffix}"
            if kind == "text":
                fams = [
                    ("lexical_stream", float(r["lexical_score"]), LEXICAL_THRESHOLD),
                    # ppl/topic scores arrive score/threshold-normalized
                    ("perplexity_stream", float(r["ppl_score"]), 1.0),
                ]
                if r["topic_score"] is not None:
                    fams.append(("topic_stream", float(r["topic_score"]), 1.0))
            else:
                fams = [
                    (
                        f"{kind}_stream",
                        float(r["drift_score"]),
                        # distribution drift_score is already normalized
                        1.0
                        if kind == "distribution"
                        else EMBEDDING_DETECTOR_THRESHOLD,
                    )
                ]
            for det, score, thr in fams:
                epoch_metrics.setdefault(epoch, []).append(
                    {
                        "detector_name": det,
                        "column": label,
                        "drift_score": score,
                        "threshold": thr,
                    }
                )
        if max_seen > done_through:
            new_progress[sink] = max_seen

    origin = datetime(2000, 1, 1)
    alert_rows: list[tuple] = []
    for epoch in sorted(epoch_metrics):
        ts = origin + timedelta(minutes=epoch_minutes * epoch)
        for a in mgr.derive(
            [{**m, "timestamp": ts} for m in epoch_metrics[epoch]]
        ):
            alert_rows.append(
                (
                    int(epoch), a.level, a.detector_name, a.column,
                    float(a.drift_score), float(a.threshold),
                )
            )

    # ORDER MATTERS: append the alert rows BEFORE committing progress /
    # cooldown state.  A crash after the append but before the commit
    # re-derives those epochs next run (duplicate alert rows, throttled
    # by the reloaded cooldowns); the reverse order would mark epochs
    # processed with their alerts lost forever.
    if alert_rows:
        local_frame(spark, alert_rows, ALERTS_SCHEMA).write.mode(
            "append"
        ).parquet(os.path.join(out_dir, "alerts"))
    mgr.save_state(state_path)
    tmp = progress_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(new_progress, f)
    os.replace(tmp, progress_path)
    return alert_rows
