"""Performance drift + anomaly scan (reference C15-C16 + A5/P7,
``detectors/performance.py:55-311``).

- :func:`performance_drift` — per-metric relative-mean-change scores
  with static threshold boosts and the error-rate special case, all
  per-side statistics from ONE aggregate pass per side.
- :func:`rolling_zscore_anomalies` — the sliding-window z-score scan as
  a native window-frame plan (W1): prev frame ``rowsBetween(-w, -1)``,
  curr frame ``rowsBetween(0, w-1)``.
- :func:`error_rate_frame` — A5: errors/total as ``avg(cast)``.

The reference's error predicate (P7): metadata.error truthy OR
finish_reason in (error, timeout, content_filter) — callers pass the
equivalent boolean Column for their schema (e.g. the events table uses
``event_type = 'error'``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..session import local_frame
from .stattests import welch_t

ERROR_FINISH_REASONS = ("error", "timeout", "content_filter")


def error_rate_frame(df: DataFrame, is_error: Column) -> DataFrame:
    """One row: (error_rate double) — A5."""
    return df.agg(
        F.coalesce(F.avg(is_error.cast("double")), F.lit(0.0))
        .cast("double")
        .alias("error_rate")
    )


def _metric_stats(df: DataFrame, metrics: list[str]) -> dict[str, dict]:
    aggs = []
    for m in metrics:
        c = F.col(m).cast("double")
        aggs += [
            F.count(c).alias(f"{m}__n"),
            F.avg(c).alias(f"{m}__mean"),
            F.coalesce(F.stddev_pop(c), F.lit(0.0)).alias(f"{m}__std"),
            F.coalesce(F.var_samp(c), F.lit(0.0)).alias(f"{m}__var"),
        ]
    row = df.agg(*aggs).collect()[0]
    return {
        m: {
            "n": int(row[f"{m}__n"]),
            "mean": float(row[f"{m}__mean"]) if row[f"{m}__mean"] is not None else 0.0,
            "std": float(row[f"{m}__std"]),
            "var": float(row[f"{m}__var"]),
        }
        for m in metrics
    }


def performance_drift(
    ref: DataFrame,
    cur: DataFrame,
    metrics: list[dict],
    error_condition: Column | None = None,
    detector_threshold: float = 0.1,
) -> dict:
    """Per-metric drift per reference C15.

    ``metrics``: [{"name": col, "upper_threshold": x?, "lower_threshold": y?}]
    plus optionally {"name": "error_rate", "upper_threshold": r} paired
    with ``error_condition``.

    FUSED (r3): delegates to :func:`grouped_performance_drift` with a
    constant group key — every metric's two-sided stats plus error
    rates ride ONE aggregate and one collect (r2's version issued
    2 + 2x error-rate collects); Welch p-values are finished
    driver-side from the collected moments.
    """
    from .grouped import tag_windows

    tagged = tag_windows(ref, cur).withColumn("_g", F.lit(1))
    rows = {
        r.metric: r
        for r in grouped_performance_drift(
            tagged,
            ["_g"],
            metrics,
            error_condition=error_condition,
            detector_threshold=detector_threshold,
        ).collect()
    }

    metric_results: dict[str, dict] = {}
    for mc in metrics:
        name = mc["name"]
        row = rows.get(name)
        if row is None or row.gated:
            continue  # performance.py:90-91 min 5 gate (or no error cond)
        upper, lower = mc.get("upper_threshold"), mc.get("lower_threshold")
        if name == "error_rate":
            metric_results[name] = {
                "reference_value": float(row.ref_value),
                "current_value": float(row.cur_value),
                "relative_change": float(row.relative_change),
                "drift_score": float(row.drift_score),
                "drift_detected": bool(row.drift_detected),
            }
        else:
            exceeded = (upper is not None and row.cur_value > upper) or (
                lower is not None and row.cur_value < lower
            )
            _, _, p = welch_t(
                float(row.ref_value), float(row.ref_var), int(row.ref_n),
                float(row.cur_value), float(row.cur_var), int(row.cur_n),
            )
            metric_results[name] = {
                "reference_mean": float(row.ref_value),
                "reference_std": float(row.ref_std),
                "current_mean": float(row.cur_value),
                "current_std": float(row.cur_std),
                "relative_change": float(row.relative_change),
                "p_value": p,
                "statistically_significant": p < 0.05,
                "threshold_exceeded": exceeded,
                "drift_score": float(row.drift_score),
                "drift_detected": bool(row.drift_detected),
            }
    overall_row = rows.get("overall")
    if overall_row is None:
        # both windows empty (or every metric gated before aggregation):
        # the grouped job emits no rows — return the zero-drift shape
        # the pre-fusion code produced instead of KeyError
        return {
            "metric_name": "performance_drift",
            "drift_score": 0.0,
            "drift_detected": False,
            "threshold": detector_threshold,
            "metrics": metric_results,
            "num_metrics_analyzed": len(metric_results),
        }
    overall = float(overall_row.drift_score)
    return {
        "metric_name": "performance_drift",
        "drift_score": overall,
        "drift_detected": bool(overall_row.drift_detected),
        "threshold": detector_threshold,
        "metrics": metric_results,
        "num_metrics_analyzed": len(metric_results),
    }


def grouped_performance_drift(
    df: DataFrame,
    keys: list[str],
    metrics: list[dict],
    error_condition: Column | None = None,
    side_col: str = "side",
    detector_threshold: float = 0.1,
    min_n: int = 5,
) -> DataFrame:
    """C15 for ALL groups in ONE fully-native job — one row per
    (group, metric) plus an 'overall' row per group.

    The reference computes performance drift per provider in a Python
    loop (``detectors/performance.py:55-188`` via
    ``monitoring/metrics.py:436-484``).  Here one groupBy(keys)
    aggregate computes every metric's two-sided stats (plus error rates
    when ``error_condition`` is given), a single explode unpacks them
    into per-metric rows, and the overall score is combined ACROSS
    metric expressions inside the same aggregate row — base data is
    scanned exactly once, shuffled once on the group keys.

    Formula parity with :func:`performance_drift`: relative change with
    the ``ref==0 -> cur*100`` error-rate rule, ``|rel|/0.5`` capped at
    1, threshold-exceeded boost to >=0.8, n<5 per-metric gate.
    P-values are omitted (the incomplete beta is not expressible
    natively — same trade as the binned grouped distribution detector).
    Input is the :func:`~.grouped.tag_windows` tagged-union shape.
    """
    is_r = F.col(side_col) == "ref"
    names = [m["name"] for m in metrics if m["name"] != "error_rate"]
    aggs = []
    for name in names:
        c = F.col(name).cast("double")
        aggs += [
            F.count(F.when(is_r, c)).alias(f"{name}__nr"),
            F.count(F.when(~is_r, c)).alias(f"{name}__nc"),
            F.avg(F.when(is_r, c)).alias(f"{name}__mr"),
            F.avg(F.when(~is_r, c)).alias(f"{name}__mc"),
            F.coalesce(F.var_samp(F.when(is_r, c)), F.lit(0.0)).alias(f"{name}__vr"),
            F.coalesce(F.var_samp(F.when(~is_r, c)), F.lit(0.0)).alias(f"{name}__vc"),
            F.coalesce(F.stddev_pop(F.when(is_r, c)), F.lit(0.0)).alias(f"{name}__sr"),
            F.coalesce(F.stddev_pop(F.when(~is_r, c)), F.lit(0.0)).alias(f"{name}__sc"),
        ]
    if error_condition is not None:
        e = error_condition.cast("double")
        aggs += [
            F.coalesce(F.avg(F.when(is_r, e)), F.lit(0.0)).alias("__er_r"),
            F.coalesce(F.avg(F.when(~is_r, e)), F.lit(0.0)).alias("__er_c"),
        ]
    if not aggs:
        # no numeric metrics and no error condition (e.g. error_rate
        # requested without error_condition): nothing to aggregate —
        # groupBy().agg() rejects an empty expression list, and the old
        # single-pair path returned a clean zero result here
        from pyspark.sql.types import (
            BooleanType,
            DoubleType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        key_fields = [f for f in df.schema.fields if f.name in keys]
        out_fields = key_fields + [
            StructField("metric", StringType()),
            StructField("ref_value", DoubleType()),
            StructField("cur_value", DoubleType()),
            StructField("relative_change", DoubleType()),
            StructField("drift_score", DoubleType()),
            StructField("drift_detected", BooleanType()),
            StructField("gated", BooleanType()),
            StructField("ref_n", LongType()),
            StructField("cur_n", LongType()),
            StructField("ref_var", DoubleType()),
            StructField("cur_var", DoubleType()),
            StructField("ref_std", DoubleType()),
            StructField("cur_std", DoubleType()),
        ]
        return local_frame(df.sparkSession, [], StructType(out_fields))
    st = df.groupBy(*keys).agg(*aggs)

    structs = []
    drift_terms: list[Column] = []
    gate_terms: list[Column] = []
    for mc in metrics:
        name = mc["name"]
        upper, lower = mc.get("upper_threshold"), mc.get("lower_threshold")
        nulld = F.lit(None).cast("double")
        nulln = F.lit(None).cast("bigint")
        moments = [nulln, nulln, nulld, nulld, nulld, nulld]
        if name == "error_rate":
            if error_condition is None:
                continue
            r, c = F.col("__er_r"), F.col("__er_c")
            rel = F.when(r > 0, F.try_divide(c - r, r)).otherwise(c * 100)
            drift = F.least(F.greatest(rel, F.lit(0.0)) / 2.0, F.lit(1.0))
            detected = drift > 0.5
            if upper is not None:
                detected = detected | (c > upper)
            gated = F.lit(False)
        else:
            nr, nc = F.col(f"{name}__nr"), F.col(f"{name}__nc")
            r = F.coalesce(F.col(f"{name}__mr"), F.lit(0.0))
            c = F.coalesce(F.col(f"{name}__mc"), F.lit(0.0))
            gated = (nr < min_n) | (nc < min_n)
            rel = F.when(r > 0, F.try_divide(c - r, r)).otherwise(F.lit(0.0))
            exceeded = F.lit(False)
            if upper is not None:
                exceeded = exceeded | (c > upper)
            if lower is not None:
                exceeded = exceeded | (c < lower)
            base_drift = F.least(F.abs(rel) / 0.5, F.lit(1.0))
            drift = F.when(exceeded, F.greatest(base_drift, F.lit(0.8))).otherwise(
                base_drift
            )
            detected = (drift > 0.5) | exceeded
            moments = [
                nr.cast("bigint"),
                nc.cast("bigint"),
                F.col(f"{name}__vr"),
                F.col(f"{name}__vc"),
                F.col(f"{name}__sr"),
                F.col(f"{name}__sc"),
            ]
        zero = lambda x: F.when(gated, F.lit(0.0)).otherwise(x)  # noqa: E731
        structs.append(
            F.struct(
                F.lit(name).alias("metric"),
                zero(r).cast("double").alias("ref_value"),
                zero(c).cast("double").alias("cur_value"),
                zero(F.coalesce(rel, F.lit(0.0))).cast("double").alias("relative_change"),
                zero(F.coalesce(drift, F.lit(0.0))).cast("double").alias("drift_score"),
                (~gated & F.coalesce(detected, F.lit(False))).alias("drift_detected"),
                gated.alias("gated"),
                moments[0].alias("ref_n"),
                moments[1].alias("cur_n"),
                moments[2].alias("ref_var"),
                moments[3].alias("cur_var"),
                moments[4].alias("ref_std"),
                moments[5].alias("cur_std"),
            )
        )
        drift_terms.append(F.when(~gated, F.coalesce(drift, F.lit(0.0))))
        gate_terms.append(F.when(~gated, F.lit(1)))

    overall_num = sum((F.coalesce(t, F.lit(0.0)) for t in drift_terms), F.lit(0.0))
    overall_den = sum((F.coalesce(t, F.lit(0)) for t in gate_terms), F.lit(0))
    overall = F.coalesce(F.try_divide(overall_num, overall_den), F.lit(0.0))
    structs.append(
        F.struct(
            F.lit("overall").alias("metric"),
            F.lit(None).cast("double").alias("ref_value"),
            F.lit(None).cast("double").alias("cur_value"),
            F.lit(None).cast("double").alias("relative_change"),
            overall.cast("double").alias("drift_score"),
            (overall > detector_threshold).alias("drift_detected"),
            (overall_den == 0).alias("gated"),
            F.lit(None).cast("bigint").alias("ref_n"),
            F.lit(None).cast("bigint").alias("cur_n"),
            F.lit(None).cast("double").alias("ref_var"),
            F.lit(None).cast("double").alias("cur_var"),
            F.lit(None).cast("double").alias("ref_std"),
            F.lit(None).cast("double").alias("cur_std"),
        )
    )
    return st.select(*keys, F.explode(F.array(*structs)).alias("m")).select(
        *keys, "m.*"
    )


def rolling_zscore_anomalies(
    df: DataFrame,
    value_col: str,
    order_col: str,
    window_size: int = 20,
    z_threshold: float = 3.0,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """C16: positions where |mean(curr_w) - mean(prev_w)| / std_pop(prev_w)
    exceeds the z threshold.

    Returns (order_col, value=curr_mean, expected=prev_mean, z_score,
    direction).  Valid positions i (1-based row number) span
    [window_size+1, n-window_size+1], matching the reference's loop
    bounds (performance.py:284-286).

    The empty-partitionBy variant is a single-task global sort — fine for
    per-(provider/model) metric streams; pass partition_by for parallel
    scans at scale.
    """
    base = Window.partitionBy(*(partition_by or [])).orderBy(order_col)
    prev_w = base.rowsBetween(-window_size, -1)
    curr_w = base.rowsBetween(0, window_size - 1)
    whole = base.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    v = F.col(value_col).cast("double")
    stats = (
        df.where(v.isNotNull())
        .select(
            *(partition_by or []),
            F.col(order_col),
            F.row_number().over(base).alias("rn"),
            F.count("*").over(whole).alias("n"),
            F.avg(v).over(prev_w).alias("expected"),
            F.coalesce(F.stddev_pop(v).over(prev_w), F.lit(0.0)).alias("prev_std"),
            F.avg(v).over(curr_w).alias("value"),
        )
        .where(
            (F.col("rn") >= window_size + 1)
            & (F.col("rn") <= F.col("n") - window_size + 1)
        )
    )
    z = F.when(
        F.col("prev_std") > 0,
        F.abs(F.col("value") - F.col("expected")) / F.col("prev_std"),
    ).otherwise(F.lit(0.0))
    return (
        stats.withColumn("z_score", z)
        .where(F.col("z_score") > z_threshold)
        .select(
            *(partition_by or []),
            order_col,
            F.col("value").cast("double").alias("value"),
            F.col("expected").cast("double").alias("expected"),
            F.col("z_score").cast("double").alias("z_score"),
            F.when(F.col("value") > F.col("expected"), "increase")
            .otherwise("decrease")
            .alias("direction"),
        )
    )
