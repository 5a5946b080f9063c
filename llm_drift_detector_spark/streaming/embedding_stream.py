"""Embedding drift in the stream: each micro-batch vs a FROZEN
centroid profile (the streaming form of C6-C9).

The reference's monitoring loop runs ALL detector families per cadence
(``detectors/__init__.py:58-86``); ``drift_stream`` covers the
distribution family, this module covers the embedding family
(``detectors/embedding.py:60-123``):

1. :func:`embedding_reference_profile` — ONE-off batch jobs over the
   reference window: centroid (columnwise mean, A3), n, and the RMS
   dispersion around the centroid.  The result is a plain JSON-able
   dict closed over every micro-batch (implicit broadcast).
2. :func:`stream_embedding_drift` — per micro-batch, ONE aggregate
   computes n, the per-dimension sums (batch centroid), the summed
   squared norms, and the summed per-row distance to the frozen
   centroid (a native codegen'd/HOF expression — no Python per row).
   O(d) driver arithmetic then yields:

   - ``centroid_distance``   C6: dist(batch centroid, frozen centroid)
   - ``avg_dist_to_ref``     C8: mean per-row distance to the frozen
     centroid (the aggregate's sum / n)
   - ``variance_change``     C7 (documented delta): |batch_rms -
     ref_rms| / max(ref_rms, 1e-10) where rms = sqrt(E||x||^2 -
     ||centroid||^2) — the SECOND-MOMENT dispersion around the own
     centroid, which is one-pass/mergeable, instead of the batch
     detector's mean-of-distances dispersion (``embedding.py:81-85``),
     which cannot be computed without a second pass over the batch.
     The profile stores ``ref_rms`` computed by the same formula, so
     the change ratio compares like with like.
   - ``drift_score``         C9 weights: 0.6*C6 + 0.2*C7 + 0.2*C8
     (``embedding.py:100-112``; the MMD blend is omitted — C10 is a
     sampled driver-side kernel, wrong shape for a per-batch stream).

Same sink contract as the distribution stream: one metrics row per
epoch (per group for the grouped variant), written by OVERWRITING the
row's ``epoch=<k>`` partition so foreachBatch replays are idempotent,
with Spark's streaming checkpoint giving each input file exactly-once
processing.

For embedding dimension d > ``CENTROID_EXPLODE_DIM`` the per-dimension
sum expressions would blow Janino's method-size limit, so the batch
centroid falls back to a SECOND posexplode aggregate per micro-batch
(two jobs instead of one — documented, still no per-row Python).
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..config import EMBEDDING_DETECTOR_THRESHOLD, MIN_SAMPLES
from ..drift.embedding import (
    CENTROID_EXPLODE_DIM,
    _dim,
    _dist_to_lit,
    _dist_to_vec_col,
    _np_dist,
    centroid,
)

EMBEDDING_METRICS_SCHEMA = (
    "run_id string, epoch bigint, n bigint, centroid_distance double, "
    "variance_change double, avg_dist_to_ref double, batch_rms double, "
    "drift_score double, drift_detected boolean, gated boolean"
)
_SINK_ROW_SCHEMA = (
    "run_id string, n bigint, centroid_distance double, "
    "variance_change double, avg_dist_to_ref double, batch_rms double, "
    "drift_score double, drift_detected boolean, gated boolean"
)


def _sq_norm_col(col: str):
    """Per-row squared L2 norm as a HOF (compact codegen at any d)."""
    return F.aggregate(
        F.col(col).cast("array<double>"), F.lit(0.0), lambda a, x: a + x * x
    )


def _valid(df: DataFrame, col: str) -> DataFrame:
    # null AND empty arrays excluded so n / centroid / distances cover
    # the same population (mirrors grouped_embedding_drift's base rule)
    return df.where(F.col(col).isNotNull() & (F.size(F.col(col)) > 0))


def embedding_reference_profile(
    ref: DataFrame, column: str, metric: str = "cosine"
) -> dict:
    """Frozen embedding profile: centroid + n + RMS dispersion.

    Reuses the batch centroid machinery (d-expression aggregate below
    ``CENTROID_EXPLODE_DIM``, posexplode above) plus one moments pass.
    """
    base = _valid(ref, column)
    dim = _dim(base, column)
    cvec = centroid(base, column, dim)
    st = base.agg(
        F.count("*").alias("n"),
        F.avg(_sq_norm_col(column)).alias("msq"),
    ).collect()[0]
    if st.n == 0:
        raise ValueError(f"reference window has no non-empty {column} arrays")
    rms = math.sqrt(max(0.0, float(st.msq) - float(np.dot(cvec, cvec))))
    return {
        "kind": "embedding",
        "column": column,
        "metric": metric,
        "dim": dim,
        "n": int(st.n),
        "centroid": [float(v) for v in cvec],
        "ref_rms": rms,
    }


def update_embedding_reference_profile(
    profile: dict, new_data: DataFrame
) -> dict:
    """Incrementally fold ``new_data`` into a frozen embedding profile
    — the embedding analogue of
    :func:`~.drift_stream.update_reference_profile`.

    The reference recomputes its embedding baseline from scratch per
    update (``data/processor.py:162-207`` feeding
    ``detectors/embedding.py:60-77``); at 10^12 rows the refresh must
    be INCREMENTAL.  Every component of the frozen profile is exactly
    mergeable:

    - ``n``:        n1 + n2;
    - ``centroid``: (n1·c1 + Σ new rows) / (n1 + n2) — the old per-dim
      sums are recovered exactly as n1·c1;
    - ``ref_rms``:  rms = sqrt(E‖x‖² − ‖c‖²), and the old second
      moment is recovered exactly as rms1² + ‖c1‖², so the merged
      E‖x‖² is the count-weighted average and the merged rms is
      re-derived against the MERGED centroid.

    ``merged == from-scratch over the concatenated windows`` to fp
    roundoff (pytest-asserted), and the update is associative across
    chained folds.  ONE Spark job per update (count + per-dim sums +
    summed squared norms in a single aggregate; d >
    ``CENTROID_EXPLODE_DIM`` uses the documented second posexplode
    job, same as the per-batch path).  The merged dict is a drop-in
    :func:`stream_embedding_drift` profile — a running monitor
    hot-swaps it by restarting with ``--embedding-profile-path``
    pointing at the re-saved JSON.

    New rows whose array length differs from the frozen ``dim`` are
    REJECTED loudly — folding them in would silently corrupt the
    centroid (the distribution profile's analogous guard is the frozen
    bin geometry).
    """
    column = profile["column"]
    dim = profile["dim"]
    base = _valid(new_data, column).select(F.col(column).alias("e"))
    # the dim guard rides the same aggregate — the update stays one job
    aggs = [
        F.count("*").alias("n"),
        F.sum((F.size("e") != dim).cast("bigint")).alias("bad_n"),
        F.sum(_sq_norm_col("e")).alias("ssq"),
    ]
    if dim <= CENTROID_EXPLODE_DIM:
        # try_element_at (not element_at): short arrays must reach the
        # bad_n guard below as a clean ValueError, not an ANSI
        # out-of-bounds error mid-aggregate
        aggs += [
            F.sum(F.try_element_at(F.col("e"), F.lit(i + 1)).cast("double")).alias(
                f"s_{i}"
            )
            for i in range(dim)
        ]
    st = base.agg(*aggs).collect()[0]
    n2 = int(st.n)
    if n2 and int(st.bad_n):
        raise ValueError(
            f"{int(st.bad_n)} new {column} rows have array length != frozen "
            f"profile dim {dim} — refusing to merge mismatched embeddings"
        )
    if n2 == 0:  # nothing to fold in
        return dict(profile)
    if dim <= CENTROID_EXPLODE_DIM:
        sums = np.array([st[f"s_{i}"] for i in range(dim)], dtype=np.float64)
    else:
        sums = np.zeros(dim)
        for r in (
            base.select(F.posexplode("e").alias("pos", "x"))
            .groupBy("pos")
            .agg(F.sum(F.col("x").cast("double")).alias("s"))
            .collect()
        ):
            sums[int(r.pos)] = float(r.s)

    n1 = profile["n"]
    c1 = np.asarray(profile["centroid"], dtype=np.float64)
    n = n1 + n2
    c = (n1 * c1 + sums) / n
    msq1 = profile["ref_rms"] ** 2 + float(np.dot(c1, c1))
    msq = (n1 * msq1 + float(st.ssq)) / n
    return {
        **profile,
        "n": int(n),
        "centroid": [float(v) for v in c],
        "ref_rms": math.sqrt(max(0.0, msq - float(np.dot(c, c)))),
    }


def update_embedding_reference_profile_grouped(
    profile: dict, new_data: DataFrame
) -> dict:
    """Fold ``new_data`` into EVERY group of a grouped embedding
    profile — one grouped aggregate (count + dim guard + squared norms
    + per-dim sums; d > ``CENTROID_EXPLODE_DIM`` adds the documented
    grouped posexplode job), then the exact per-group centroid/rms
    merge :func:`update_embedding_reference_profile` applies.

    Rows whose group has no frozen profile are counted and reported
    (``unknown_rows``), never folded — same contract as
    :func:`~.drift_stream.update_reference_profile_grouped`; rows
    whose array length differs from the frozen ``dim`` are rejected
    loudly like the global update.  Per-group results equal the
    single-group update on each slice (test-asserted).
    """
    column = profile["column"]
    keys = profile["keys"]
    dim = profile["dim"]
    profiles = profile["profiles"]
    base = _valid(new_data, column).select(
        *[F.col(k).cast("string").alias(k) for k in keys],
        F.col(column).alias("e"),
    )
    aggs = [
        F.count("*").alias("n"),
        F.sum((F.size("e") != dim).cast("bigint")).alias("bad_n"),
        F.sum(_sq_norm_col("e")).alias("ssq"),
    ]
    if dim <= CENTROID_EXPLODE_DIM:
        aggs += [
            F.sum(F.try_element_at(F.col("e"), F.lit(i + 1)).cast("double")).alias(
                f"s_{i}"
            )
            for i in range(dim)
        ]
    st = base.groupBy(*keys).agg(*aggs).collect()
    # the dim guard applies only to KNOWN groups: a new provider (the
    # typical unknown group) very likely ships a different embedding
    # model/dimension, and its rows are counted-not-folded anyway —
    # aborting the whole refresh over them would contradict the
    # unknown-rows contract
    bad = sum(
        int(r.bad_n) for r in st if tuple(r[k] for k in keys) in profiles
    )
    if bad:
        raise ValueError(
            f"{bad} new {column} rows have array length != frozen "
            f"profile dim {dim} — refusing to merge mismatched embeddings"
        )
    by_group: dict[tuple, dict] = {}
    unknown_rows = 0
    for r in st:
        g = tuple(r[k] for k in keys)
        if g not in profiles:
            unknown_rows += int(r.n)
            continue
        by_group[g] = {"n": int(r.n), "ssq": float(r.ssq or 0.0)}
        if dim <= CENTROID_EXPLODE_DIM:
            by_group[g]["sums"] = np.array(
                [r[f"s_{i}"] or 0.0 for i in range(dim)], dtype=np.float64
            )
    if dim > CENTROID_EXPLODE_DIM:
        for g in by_group:
            by_group[g]["sums"] = np.zeros(dim)
        for r in (
            base.select(*keys, F.posexplode("e").alias("pos", "x"))
            .groupBy(*keys, "pos")
            .agg(F.sum(F.col("x").cast("double")).alias("s"))
            .collect()
        ):
            g = tuple(r[k] for k in keys)
            if g in by_group:
                by_group[g]["sums"][int(r.pos)] = float(r.s)

    merged: dict[tuple, dict] = {}
    for g, p in profiles.items():
        a = by_group.get(g)
        if a is None or a["n"] == 0:
            merged[g] = dict(p)
            continue
        n1 = p["n"]
        c1 = np.asarray(p["centroid"], dtype=np.float64)
        n = n1 + a["n"]
        c = (n1 * c1 + a["sums"]) / n
        msq1 = p["ref_rms"] ** 2 + float(np.dot(c1, c1))
        msq = (n1 * msq1 + a["ssq"]) / n
        merged[g] = {
            **p,
            "n": int(n),
            "centroid": [float(x) for x in c],
            "ref_rms": math.sqrt(max(0.0, msq - float(np.dot(c, c)))),
        }
    return {**profile, "profiles": merged, "unknown_rows": int(unknown_rows)}


def _batch_metrics(
    profile: dict,
    n: int,
    sums: np.ndarray,
    ssq: float,
    sdist: float,
    detector_threshold: float,
) -> dict:
    """O(d) driver arithmetic from the one aggregate's outputs."""
    cvec = np.asarray(profile["centroid"], dtype=np.float64)
    bc = sums / n
    cd = _np_dist(bc, cvec, profile["metric"])
    ad = sdist / n
    rms = math.sqrt(max(0.0, ssq / n - float(np.dot(bc, bc))))
    vc = abs(rms - profile["ref_rms"]) / max(profile["ref_rms"], 1e-10)
    score = 0.6 * cd + 0.2 * vc + 0.2 * ad
    return {
        "centroid_distance": float(cd),
        "variance_change": float(vc),
        "avg_dist_to_ref": float(ad),
        "batch_rms": float(rms),
        "drift_score": float(score),
        "drift_detected": bool(score > detector_threshold),
    }


_ZERO_METRICS = {
    "centroid_distance": 0.0,
    "variance_change": 0.0,
    "avg_dist_to_ref": 0.0,
    "batch_rms": 0.0,
    "drift_score": 0.0,
    "drift_detected": False,
}


def stream_embedding_drift(
    spark: SparkSession,
    clips_dir: str,
    profile: dict,
    out_dir: str,
    schema,
    run_id: str = "drift-stream",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    min_samples: int = MIN_SAMPLES,
    detector_threshold: float = EMBEDDING_DETECTOR_THRESHOLD,
):
    """Per-micro-batch embedding drift vs a frozen centroid profile.

    One metrics row per epoch at ``<out_dir>/embedding_metrics``
    (``EMBEDDING_METRICS_SCHEMA``); epoch-partition overwrite keeps
    replays idempotent.  Returns the streaming query.
    """
    column = profile["column"]
    dim = profile["dim"]
    cvec = np.asarray(profile["centroid"], dtype=np.float64)
    metric = profile["metric"]
    sink = os.path.join(out_dir, "embedding_metrics")
    checkpoint = os.path.join(out_dir, "_embedding_stream_checkpoint")

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        base = _valid(batch_df, column).select(F.col(column).alias("e"))
        aggs = [
            F.count("*").alias("n"),
            F.sum(_sq_norm_col("e")).alias("ssq"),
            F.sum(_dist_to_lit("e", cvec, metric)).alias("sd"),
        ]
        if dim <= CENTROID_EXPLODE_DIM:
            aggs += [
                F.sum(F.element_at(F.col("e"), i + 1).cast("double")).alias(f"s_{i}")
                for i in range(dim)
            ]
            st = base.agg(*aggs).collect()[0]
            sums = (
                np.array([st[f"s_{i}"] for i in range(dim)], dtype=np.float64)
                if st.n
                else np.zeros(dim)
            )
        else:
            # high-d fallback: moments ride one job, the batch centroid
            # a second posexplode job (codegen-safe at any d)
            st = base.agg(*aggs).collect()[0]
            sums = np.zeros(dim)
            if st.n:
                for r in (
                    base.select(F.posexplode("e").alias("pos", "x"))
                    .groupBy("pos")
                    .agg(F.sum(F.col("x").cast("double")).alias("s"))
                    .collect()
                ):
                    sums[int(r.pos)] = float(r.s)
        n = int(st.n)
        gated = n < min_samples
        m = (
            dict(_ZERO_METRICS)
            if gated
            else _batch_metrics(
                profile, n, sums, float(st.ssq), float(st.sd), detector_threshold
            )
        )
        row = [
            (
                run_id,
                n,
                m["centroid_distance"],
                m["variance_change"],
                m["avg_dist_to_ref"],
                m["batch_rms"],
                m["drift_score"],
                m["drift_detected"],
                bool(gated),
            )
        ]
        spark.createDataFrame(row, _SINK_ROW_SCHEMA).write.mode(
            "overwrite"
        ).parquet(f"{sink}/epoch={int(epoch_id)}")

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(clips_dir)
    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q


def embedding_reference_profile_grouped(
    ref: DataFrame, keys: list[str], column: str, metric: str = "cosine"
) -> dict:
    """Frozen PER-GROUP centroid profiles (the reference's per-provider
    embedding loop, frozen at stream start).

    One posexplode job for all groups' centroids + one grouped moments
    job; O(#groups x d) driver memory.  Keys canonicalize to string
    SPARK-side and rows with any NULL key are not profiled (both the
    distribution profiles' rules); the stream and the update count
    them as unknown-group rows.
    """
    base = _valid(ref, column).select(
        *[F.col(k).cast("string").alias(k) for k in keys],
        F.col(column).alias("e"),
    ).dropna(subset=list(keys))
    cent = (
        base.select(*keys, F.posexplode("e").alias("pos", "x"))
        .groupBy(*keys, "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("avg"))
        .collect()
    )
    if not cent:
        raise ValueError(f"reference window has no non-empty {column} arrays")
    by_group: dict[tuple, dict[int, float]] = {}
    for r in cent:
        by_group.setdefault(tuple(r[k] for k in keys), {})[int(r.pos)] = float(r.avg)
    dim = max(max(d) for d in by_group.values()) + 1

    st = (
        base.groupBy(*keys)
        .agg(F.count("*").alias("n"), F.avg(_sq_norm_col("e")).alias("msq"))
        .collect()
    )
    profiles: dict[tuple, dict] = {}
    for r in st:
        g = tuple(r[k] for k in keys)
        cv = np.array([by_group[g].get(i, 0.0) for i in range(dim)], dtype=np.float64)
        profiles[g] = {
            "n": int(r.n),
            "centroid": cv.tolist(),
            "ref_rms": math.sqrt(max(0.0, float(r.msq) - float(np.dot(cv, cv)))),
        }
    return {
        "kind": "embedding_grouped",
        "column": column,
        "metric": metric,
        "dim": dim,
        "keys": list(keys),
        "profiles": profiles,
    }


def stream_embedding_drift_grouped(
    spark: SparkSession,
    clips_dir: str,
    profile: dict,
    out_dir: str,
    schema,
    run_id: str = "drift-stream",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    min_samples: int = MIN_SAMPLES,
    detector_threshold: float = EMBEDDING_DETECTOR_THRESHOLD,
):
    """Per-GROUP per-micro-batch embedding drift vs frozen centroids.

    ONE aggregate per batch for ALL groups: the tiny per-group centroid
    frame broadcast-joins onto the batch, per-row distance to the own
    group's frozen centroid is a HOF expression, and groupBy(keys)
    collects n / sum-dist / sum-sq-norm / per-dim sums in one job.
    Rows with no matching profile surface as a NULL-keyed
    ``gated_reason='unknown_group'`` row; an empty batch writes an
    ``empty_batch`` placeholder so epoch accounting matches the global
    variant.  d > CENTROID_EXPLODE_DIM falls back to a second grouped
    posexplode job per batch for the batch centroids.
    """
    column = profile["column"]
    keys = profile["keys"]
    dim = profile["dim"]
    metric = profile["metric"]
    profiles = profile["profiles"]
    sink = os.path.join(out_dir, "embedding_metrics_grouped")
    checkpoint = os.path.join(out_dir, "_embedding_stream_grouped_checkpoint")
    out_schema = ", ".join(f"{k} string" for k in keys) + (
        ", run_id string, n bigint, centroid_distance double, "
        "variance_change double, avg_dist_to_ref double, batch_rms double, "
        "drift_score double, drift_detected boolean, gated boolean, "
        "gated_reason string"
    )

    def pframe():
        rows = [(*g, p["centroid"]) for g, p in profiles.items()]
        ddl = ", ".join(f"{k} string" for k in keys) + ", __cent array<double>"
        return spark.createDataFrame(rows, ddl)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        base = _valid(batch_df, column).select(
            *[F.col(k).cast("string").alias(k) for k in keys],
            F.col(column).alias("e"),
        )
        joined = base.join(F.broadcast(pframe()), keys, "left")
        aggs = [
            F.count("*").alias("n"),
            F.sum(_sq_norm_col("e")).alias("ssq"),
            F.sum(_dist_to_vec_col(F.col("e"), F.col("__cent"), metric)).alias("sd"),
        ]
        small_d = dim <= CENTROID_EXPLODE_DIM
        if small_d:
            aggs += [
                F.sum(F.element_at(F.col("e"), i + 1).cast("double")).alias(f"s_{i}")
                for i in range(dim)
            ]
        rows = joined.groupBy(*keys).agg(*aggs).collect()
        sums_by_group: dict[tuple, np.ndarray] = {}
        if not small_d:
            for r in (
                joined.select(*keys, F.posexplode("e").alias("pos", "x"))
                .groupBy(*keys, "pos")
                .agg(F.sum(F.col("x").cast("double")).alias("s"))
                .collect()
            ):
                g = tuple(r[k] for k in keys)
                sums_by_group.setdefault(g, np.zeros(dim))[int(r.pos)] = float(r.s)
        out_rows = []
        n_unknown = 0
        for r in sorted(rows, key=lambda r: tuple(str(r[k]) for k in keys)):
            g = tuple(r[k] for k in keys)
            if g not in profiles:
                n_unknown += r.n
                continue
            n = int(r.n)
            gated = n < min_samples
            if gated:
                m = dict(_ZERO_METRICS)
            else:
                sums = (
                    np.array([r[f"s_{i}"] for i in range(dim)], dtype=np.float64)
                    if small_d
                    else sums_by_group[g]
                )
                m = _batch_metrics(
                    {**profiles[g], "metric": metric},
                    n, sums, float(r.ssq), float(r.sd), detector_threshold,
                )
            out_rows.append(
                (
                    *g, run_id, n,
                    m["centroid_distance"], m["variance_change"],
                    m["avg_dist_to_ref"], m["batch_rms"], m["drift_score"],
                    m["drift_detected"], bool(gated),
                    "min_samples" if gated else None,
                )
            )
        if n_unknown:
            out_rows.append(
                (
                    *([None] * len(keys)), run_id, int(n_unknown),
                    0.0, 0.0, 0.0, 0.0, 0.0, False, True, "unknown_group",
                )
            )
        if not out_rows:
            out_rows.append(
                (
                    *([None] * len(keys)), run_id, 0,
                    0.0, 0.0, 0.0, 0.0, 0.0, False, True, "empty_batch",
                )
            )
        spark.createDataFrame(out_rows, out_schema).write.mode(
            "overwrite"
        ).parquet(f"{sink}/epoch={int(epoch_id)}")

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(clips_dir)
    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q
