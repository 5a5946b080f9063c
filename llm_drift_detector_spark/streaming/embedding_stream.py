"""Embedding drift in the stream: each micro-batch vs a FROZEN centroid
profile (the streaming form of C6-C9).

The reference's monitoring loop runs ALL detector families per cadence,
once per provider (``detectors/__init__.py:58-86``); ``drift_stream``
covers the distribution family, this module covers the embedding family
(``detectors/embedding.py:60-123``).  "Global" and "per provider" are one
computation over CELLS (:mod:`.cells`): a cell is one group-key tuple, a
global profile is the zero-key case.  One function per operation:

1. :func:`embedding_reference_profile` ``(ref, column, keys=())`` — one
   grouped aggregate over the reference window (count, summed squared
   norms, per-dimension sums) freezes every cell's centroid (columnwise
   mean, A3), ``n`` and RMS dispersion around the centroid.
2. :func:`update_embedding_reference_profile` folds new data into every
   cell with the same aggregate and an exact merge.
3. :func:`stream_embedding_drift` — per micro-batch, the same aggregate
   plus the summed per-row distance to the frozen centroid (a native
   expression: literal centroid for a global profile, a broadcast
   one-row-per-group centroid frame for a keyed one — no Python per
   row), then O(cells x d) driver arithmetic:

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

Dimension rule: the stream scores only rows whose array length equals
the frozen ``dim`` — for n, centroid, RMS and distance alike; NULL,
empty, shorter and longer arrays are left out of the batch's metrics,
so one malformed row can neither fail the query nor skew the sums.  The
update REFUSES new rows of a profiled group with a different length,
and the builder refuses a reference window that mixes lengths: folding
or freezing them would corrupt the centroid.

Sinks: ``embedding_metrics`` (one row per epoch) and
``embedding_metrics_grouped`` (the keyed row rules of
:func:`.cells.epoch_rows`), each epoch's partition OVERWRITTEN so
``foreachBatch`` replays are idempotent.

For d > ``CENTROID_EXPLODE_DIM`` the per-dimension sum expressions would
blow Janino's method-size limit, so the sums fall back to a SECOND
posexplode aggregate (two jobs instead of one — still no per-row
Python).
"""

from __future__ import annotations

import math

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..config import EMBEDDING_DETECTOR_THRESHOLD, MIN_SAMPLES
from ..drift.embedding import (
    CENTROID_EXPLODE_DIM,
    _dist_to_lit,
    _dist_to_vec_col,
    _np_dist,
)
from ..session import local_frame
from .cells import cells, epoch_rows, group_of, keyed, run_stream, with_cells

EMBEDDING_METRICS_SCHEMA = (
    "run_id string, epoch bigint, n bigint, centroid_distance double, "
    "variance_change double, avg_dist_to_ref double, batch_rms double, "
    "drift_score double, drift_detected boolean, gated boolean"
)
_SINK_ROW_SCHEMA = EMBEDDING_METRICS_SCHEMA.replace("epoch bigint, ", "")
_ZERO = (0.0, 0.0, 0.0, 0.0, 0.0, False)


def _sq_norm_col(col: str):
    """Per-row squared L2 norm as a HOF (compact codegen at any d)."""
    return F.aggregate(
        F.col(col).cast("array<double>"), F.lit(0.0), lambda a, x: a + x * x
    )


def _valid(df: DataFrame, col: str, dim: int | None = None) -> DataFrame:
    """Rows with a non-empty array (mirrors grouped_embedding_drift's
    base rule) — of exactly ``dim`` elements when given, so n, centroid
    and distances cover the same population."""
    size = F.size(F.col(col))
    return df.where(
        F.col(col).isNotNull() & ((size > 0) if dim is None else (size == dim))
    )


def _moments(base: DataFrame, keys: list[str], dim: int, *extra) -> dict:
    """The one aggregate, grouped on ``keys``: ``{group: {n, bad_n, ssq,
    sums, <extra>}}`` over the ``e`` arrays of ``base``.  ``bad_n``
    counts arrays whose length differs from ``dim``; ``try_element_at``
    keeps short ones from failing mid-aggregate.  d >
    ``CENTROID_EXPLODE_DIM`` takes the sums from a posexplode job."""
    small_d = dim <= CENTROID_EXPLODE_DIM
    aggs = [
        F.count("*").alias("n"),
        F.sum((F.size("e") != dim).cast("bigint")).alias("bad_n"),
        F.sum(_sq_norm_col("e")).alias("ssq"),
        *extra,
    ]
    if small_d:
        aggs += [
            F.sum(F.try_element_at(F.col("e"), F.lit(i + 1)).cast("double")).alias(
                f"s_{i}"
            )
            for i in range(dim)
        ]
    acc = {}
    for r in base.groupBy(*keys).agg(*aggs).collect():
        a = {k: (v or 0) for k, v in r.asDict().items() if k not in keys}
        a["sums"] = np.array(
            [a.pop(f"s_{i}") for i in range(dim)] if small_d else np.zeros(dim),
            dtype=np.float64,
        )
        acc[group_of(r, keys)] = a
    if not small_d and any(a["n"] for a in acc.values()):
        for r in (
            base.select(*keys, F.posexplode("e").alias("pos", "x"))
            .where(F.col("pos") < dim)
            .groupBy(*keys, "pos")
            .agg(F.sum(F.col("x").cast("double")).alias("s"))
            .collect()
        ):
            acc[group_of(r, keys)]["sums"][int(r.pos)] = float(r.s)
    return acc


def _rms(n: int, ssq: float, c: np.ndarray) -> float:
    return math.sqrt(max(0.0, ssq / n - float(np.dot(c, c))))


def _refuse_mixed_lengths(bad: int, column: str, dim: int, what: str) -> None:
    if bad:
        raise ValueError(
            f"{bad} {what} {column} rows have array length != "
            f"profile dim {dim} — refusing mismatched embeddings"
        )


def embedding_reference_profile(
    ref: DataFrame,
    column: str,
    metric: str = "cosine",
    keys: list[str] | tuple = (),
) -> dict:
    """Frozen embedding profile of every cell: centroid + n + RMS
    dispersion.  ``keys`` groups it per key tuple (the reference's
    per-provider embedding loop); rows with any NULL key are not
    profiled (the stream and the update count them as unknown).

    Two jobs: the first row's array length fixes ``dim``, then one
    grouped aggregate; O(#groups x d) driver memory.  Raises on a window
    with no non-empty arrays, or one whose arrays differ in length.
    """
    keys = list(keys)
    base = keyed(_valid(ref, column), keys, F.col(column).alias("e")).dropna(
        subset=keys
    )
    first = base.select(F.size("e").alias("d")).limit(1).collect()
    if not first:
        raise ValueError(f"reference window has no non-empty {column} arrays")
    dim = int(first[0].d)
    acc = _moments(base, keys, dim)
    _refuse_mixed_lengths(sum(a["bad_n"] for a in acc.values()), column, dim, "reference")
    header = {"kind": "embedding" + "_grouped" * bool(keys), "column": column,
              "metric": metric, "dim": dim}
    if keys:
        header["keys"] = keys
    new_cells = {}
    for g, a in acc.items():
        c = a["sums"] / a["n"]
        new_cells[g] = {
            "n": int(a["n"]),
            "centroid": [float(v) for v in c],
            "ref_rms": _rms(a["n"], a["ssq"], c),
        }
    return with_cells(header, new_cells)


def update_embedding_reference_profile(profile: dict, new_data: DataFrame) -> dict:
    """Incrementally fold ``new_data`` into every cell of a frozen
    embedding profile — the embedding analogue of
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
    summed squared norms + the dim guard in a single grouped aggregate;
    d > ``CENTROID_EXPLODE_DIM`` adds the posexplode job).  The merged
    dict is a drop-in :func:`stream_embedding_drift` profile — a running
    monitor hot-swaps it by restarting with ``--embedding-profile-path``
    pointing at the re-saved JSON.

    Keyed profiles: rows of groups with no frozen profile (or a NULL
    key) are counted (``unknown_rows``), never folded — a new provider
    is a re-freeze decision.  New rows of a PROFILED group whose array
    length differs from the frozen ``dim`` are REJECTED loudly; an
    unknown group's rows (a new provider very likely ships another
    embedding model) are only counted.
    """
    keys = list(profile.get("keys") or ())
    column, dim = profile["column"], profile["dim"]
    old = cells(profile)
    acc = _moments(keyed(_valid(new_data, column), keys, F.col(column).alias("e")), keys, dim)
    _refuse_mixed_lengths(
        sum(a["bad_n"] for g, a in acc.items() if g in old), column, dim, "new"
    )
    merged = {}
    for g, p in old.items():
        a = acc.get(g)
        if not a or not a["n"]:
            merged[g] = dict(p)
            continue
        n1, c1 = p["n"], np.asarray(p["centroid"], dtype=np.float64)
        n = n1 + a["n"]
        c = (n1 * c1 + a["sums"]) / n
        ssq1 = n1 * (p["ref_rms"] ** 2 + float(np.dot(c1, c1)))
        merged[g] = {
            **p,
            "n": int(n),
            "centroid": [float(v) for v in c],
            "ref_rms": _rms(n, ssq1 + a["ssq"], c),
        }
    out = with_cells(profile, merged)
    if keys:
        out["unknown_rows"] = int(sum(a["n"] for g, a in acc.items() if g not in old))
    return out


def _batch_metrics(
    cell: dict, metric: str, a: dict, detector_threshold: float
) -> tuple:
    """O(d) driver arithmetic from one group's aggregate: the sink
    columns between ``n`` and ``gated``."""
    n = a["n"]
    bc = a["sums"] / n
    cd = _np_dist(bc, np.asarray(cell["centroid"], dtype=np.float64), metric)
    ad = a["sd"] / n
    rms = _rms(n, a["ssq"], bc)
    vc = abs(rms - cell["ref_rms"]) / max(cell["ref_rms"], 1e-10)
    score = 0.6 * cd + 0.2 * vc + 0.2 * ad
    return (
        float(cd), float(vc), float(ad), float(rms), float(score),
        bool(score > detector_threshold),
    )


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
    """Per-micro-batch embedding drift vs a frozen centroid profile of
    either shape; returns the streaming query.

    ONE aggregate per batch for every cell (never a job per group):
    count, summed squared norms, per-dim sums and the summed per-row
    distance to the row's frozen centroid, grouped on the profile's
    keys.  Only rows of exactly the frozen ``dim`` are scored.  Rows go
    to ``<out_dir>/embedding_metrics`` (global: one per epoch, gated
    ``n=0`` rows included) or ``embedding_metrics_grouped`` (per
    profiled group, plus the ``unknown_group`` / ``empty_batch`` rows),
    schema ``EMBEDDING_METRICS_SCHEMA`` (keyed: keys first, then
    ``gated_reason``).
    """
    keys = list(profile.get("keys") or ())
    column, dim, metric = profile["column"], profile["dim"], profile["metric"]
    known = cells(profile)
    if keys:
        # the per-group centroids, built once per stream and broadcast
        cframe = F.broadcast(local_frame(
            spark,
            [(*g, p["centroid"]) for g, p in known.items()],
            ", ".join(f"{k} string" for k in keys) + ", __cent array<double>",
        ))
        dist = _dist_to_vec_col(F.col("e"), F.col("__cent"), metric)
    else:
        dist = _dist_to_lit("e", np.asarray(profile["centroid"], dtype=np.float64), metric)

    def batch_rows(batch_df: DataFrame) -> list[tuple]:
        base = keyed(_valid(batch_df, column, dim), keys, F.col(column).alias("e"))
        if keys:
            base = base.join(cframe, keys, "left")
        acc = _moments(base, keys, dim, F.sum(dist).alias("sd"))
        return epoch_rows(
            keys, known, {g: a["n"] for g, a in acc.items()},
            lambda g: _batch_metrics(known[g], metric, acc[g], detector_threshold),
            _ZERO, run_id, min_samples,
        )

    return run_stream(
        spark, clips_dir, schema, out_dir, "embedding", keys, _SINK_ROW_SCHEMA,
        batch_rows, available_now, max_files_per_trigger,
    )


# ---- legacy per-shape names: the profile carries the keys ------------------

update_embedding_reference_profile_grouped = update_embedding_reference_profile
stream_embedding_drift_grouped = stream_embedding_drift


def embedding_reference_profile_grouped(ref, keys, column, metric="cosine"):
    """:func:`embedding_reference_profile` per group of ``keys``."""
    return embedding_reference_profile(ref, column, metric, keys=keys)
