"""Per-group drift detection in ONE Spark job.

The reference loops detectors per (provider, model)
(``monitoring/metrics.py:436-484`` builds per-provider frames;
``detectors/__init__.py:58-86`` calls each detector per provider) — one
Python call per group.  On Spark that pattern costs a full job per
group; with thousands of provider/model (or feature) groups it is the
#1 scalability trap.  This module runs EVERY group in one shuffle:

- :func:`grouped_distribution_drift` — ``groupBy(keys).applyInPandas``
  computing the exact KS/JS/PSI/Wasserstein/Welch-t suite per group in
  numpy (SURVEY §2.5 C1's mandated style: "a grouped pandas UDF
  computing D + asymptotic p per group").  Each group's rows flow
  through Arrow to ONE python worker; groups are processed in parallel
  across executors.  Per-group data must fit in worker memory — the
  right tool when groups are provider/model-sized.  P-values use the
  same pure-numpy tails as the single-pair path (stattests).
- :func:`grouped_distribution_drift_binned` — the 10^12-row path:
  NO Python at all.  One aggregate computes per-group range/moments/
  quantile edges; rows bin against their group's range; one
  groupBy(keys, grid, bin) counts both sides; windowed cumulative sums
  per group turn the bins into a binned ECDF for KS/W1.  Per-group
  state is O(nbins) regardless of group size, every reduction is a
  native expression, and the only shuffles are two hash exchanges on
  the group keys (the ranges join broadcasts — #groups rows).

Formula parity: both variants reproduce the single-pair comparators'
arithmetic exactly (same epsilon/density/normalize sequence, same
``count-of-edges-strictly-below`` PSI bucket rule), so results are
DuckDB-oracle-checkable per group (see __spark_entry__
``drift_by_group_events``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..config import (
    DISTRIBUTION_METHODS,
    EPS,
    MIN_SAMPLES,
)
from ..session import local_frame
from .stattests import ks_2samp_p, welch_t

_METRIC_FIELDS = (
    "n_ref bigint, n_cur bigint, ks_d double, ks_p double, js double, "
    "psi double, wd double, wd_norm double, t_stat double, t_p double, "
    "drift_score double, drift_detected boolean, gated boolean"
)


def _pair_metrics_np(
    r: np.ndarray,
    c: np.ndarray,
    nbins: int,
    psi_nbins: int,
    min_samples: int,
    methods: dict[str, tuple[float, float]],
) -> dict:
    """Exact one-pair metric suite in numpy — the per-group kernel.

    Mirrors the Spark frame builders bit-for-bit:
    - KS/W1 over the union ECDF (ties share cumulative mass);
    - JS via equal-width density + 1e-10 epsilon + renormalize
      (``distribution.py:289-300``), shared [min,max] range;
    - PSI over reference-quantile bins, bucket = #edges strictly below v,
      ``(count/total + eps) / (1 + nbins*eps)`` probabilities;
    - Welch t with the incomplete-beta p.
    """
    out = {
        "n_ref": len(r),
        "n_cur": len(c),
        "ks_d": 0.0,
        "ks_p": 1.0,
        "js": 0.0,
        "psi": 0.0,
        "wd": 0.0,
        "wd_norm": 0.0,
        "t_stat": 0.0,
        "t_p": 1.0,
        "drift_score": 0.0,
        "drift_detected": False,
        "gated": False,
    }
    if len(r) < min_samples or len(c) < min_samples:
        out["gated"] = True
        return out

    mn = min(r.min(), c.min())
    mx = max(r.max(), c.max())

    # --- KS + Wasserstein over the union ECDF ---
    all_v = np.unique(np.concatenate([r, c]))
    fr = np.searchsorted(np.sort(r), all_v, side="right") / float(len(r))
    fc = np.searchsorted(np.sort(c), all_v, side="right") / float(len(c))
    diff = np.abs(fr - fc)
    ks_d = float(diff.max()) if len(all_v) else 0.0
    wd = float(np.sum(diff[:-1] * np.diff(all_v))) if len(all_v) > 1 else 0.0
    value_range = max(float(r.max() - r.min()), float(c.max() - c.min()))
    out["ks_d"] = ks_d
    out["ks_p"] = ks_2samp_p(ks_d, len(r), len(c))
    out["wd"] = wd
    out["wd_norm"] = wd / value_range if value_range > 0 else 0.0

    # --- JS over the shared equal-width histogram ---
    if mx > mn:
        w = (mx - mn) / nbins
        br = np.minimum(np.floor((r - mn) / w), nbins - 1).astype(np.int64)
        bc = np.minimum(np.floor((c - mn) / w), nbins - 1).astype(np.int64)
        cr = np.bincount(br, minlength=nbins).astype(np.float64)
        cc = np.bincount(bc, minlength=nbins).astype(np.float64)
        dens_r = cr / (float(len(r)) * w) + EPS
        dens_c = cc / (float(len(c)) * w) + EPS
        p = dens_r / dens_r.sum()
        q = dens_c / dens_c.sum()
        m = (p + q) / 2.0
        out["js"] = float(0.5 * np.sum(p * np.log(p / m)) + 0.5 * np.sum(q * np.log(q / m)))

    # --- PSI over reference-quantile bins ---
    edges = np.percentile(r, [100.0 * i / psi_nbins for i in range(1, psi_nbins)])
    pb = (r[:, None] > edges[None, :]).sum(axis=1)
    qb = (c[:, None] > edges[None, :]).sum(axis=1)
    pcnt = np.bincount(pb, minlength=psi_nbins).astype(np.float64)
    qcnt = np.bincount(qb, minlength=psi_nbins).astype(np.float64)
    pp = (pcnt / pcnt.sum() + EPS) / (1.0 + psi_nbins * EPS)
    qq = (qcnt / qcnt.sum() + EPS) / (1.0 + psi_nbins * EPS)
    out["psi"] = float(np.sum((pp - qq) * np.log(pp / qq)))

    # --- Welch t ---
    vr = float(np.var(r, ddof=1)) if len(r) > 1 else 0.0
    vc = float(np.var(c, ddof=1)) if len(c) > 1 else 0.0
    t, _, t_p = welch_t(float(r.mean()), vr, len(r), float(c.mean()), vc, len(c))
    out["t_stat"], out["t_p"] = t, t_p

    # --- C5 combine + calibrated per-method verdict (as distribution_drift) ---
    scores = {
        "ks_test": (1.0 - out["ks_p"], out["ks_p"] < methods.get("ks_test", (0.05,))[0]),
        "js_divergence": (out["js"], out["js"] > methods.get("js_divergence", (0.2,))[0]),
        "wasserstein": (
            out["wd_norm"],
            out["wd_norm"] > methods.get("wasserstein", (0.1,))[0],
        ),
        "t_test": (1.0 - out["t_p"], out["t_p"] < methods.get("t_test", (0.05,))[0]),
        "psi": (out["psi"], out["psi"] > methods.get("psi", (0.2,))[0]),
    }
    total_w, combined = 0.0, 0.0
    detected = False
    for name, (thr, wt) in methods.items():
        if name not in scores:
            continue
        score, fired = scores[name]
        combined += min(score / thr, 1.0) * wt if thr > 0 else 0.0
        total_w += wt
        detected = detected or fired
    out["drift_score"] = combined / total_w if total_w > 0 else 0.0
    out["drift_detected"] = bool(detected)
    return out


def grouped_distribution_drift(
    df: DataFrame,
    keys: list[str],
    column: str,
    side_col: str = "side",
    nbins: int = 40,
    psi_nbins: int = 10,
    min_samples: int = MIN_SAMPLES,
    methods: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """Exact per-group drift suite — one row per key group, ONE job.

    ``df`` holds BOTH windows: group key columns + ``side_col``
    ('ref'/'cur') + the value column.  Callers with two separate frames
    tag and union them first (see :func:`tag_windows`).
    """
    meth = methods or DISTRIBUTION_METHODS
    key_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields if f.name in keys
    )
    out_schema = f"{key_fields}, {_METRIC_FIELDS}"

    def compute(pdf: pd.DataFrame) -> pd.DataFrame:
        keyvals = {k: pdf[k].iloc[0] for k in keys}
        vals = pdf[[side_col, column]].dropna(subset=[column])
        r = vals.loc[vals[side_col] == "ref", column].to_numpy(dtype=np.float64)
        c = vals.loc[vals[side_col] == "cur", column].to_numpy(dtype=np.float64)
        row = _pair_metrics_np(r, c, nbins, psi_nbins, min_samples, meth)
        return pd.DataFrame([{**keyvals, **row}])

    return df.groupBy(*keys).applyInPandas(compute, schema=out_schema)


def tag_windows(
    ref: DataFrame, cur: DataFrame, side_col: str = "side"
) -> DataFrame:
    """Union two windows with a side tag — input shape for the grouped
    detectors."""
    return ref.withColumn(side_col, F.lit("ref")).unionByName(
        cur.withColumn(side_col, F.lit("cur"))
    )


def _stage3_driver(
    df: DataFrame,
    keys: list[str],
    cell_rows,
    nbins: int,
    psi_nbins: int,
    min_samples: int,
) -> DataFrame:
    """Stage 3 of the binned grouped detector on the driver: the same
    fold arithmetic as the distributed array reductions (identical
    accumulation ORDER — ascending-bin left folds, same epsilon and
    normalization placement), over the collected (group, grid, bin)
    cells.  Only reached for min_samples >= 1 and a bounded cell count
    (see the call site)."""
    import math

    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    key_fields = [df.schema[k] for k in keys]
    out_schema = StructType(
        [StructField(f.name, f.dataType, True) for f in key_fields]
        + [
            StructField("n_ref", LongType(), True),
            StructField("n_cur", LongType(), True),
            StructField("ks_d", DoubleType(), True),
            StructField("js", DoubleType(), True),
            StructField("psi", DoubleType(), True),
            StructField("wd", DoubleType(), True),
            StructField("wd_norm", DoubleType(), True),
            StructField("t_stat", DoubleType(), True),
            StructField("gated", BooleanType(), True),
        ]
    )

    groups: dict[tuple, dict] = {}
    for r in cell_rows:
        g = tuple(r[k] for k in keys)
        e = groups.setdefault(g, {"st": r, "cells": {}})
        e["cells"][(int(r["__g"]), int(r["__bin"]))] = (
            int(r["cr"]),
            int(r["cc"]),
        )

    out = []
    for g, e in groups.items():
        st = e["st"]
        cells = e["cells"]
        n_ref, n_cur = int(st["n_ref"]), int(st["n_cur"])
        gated = n_ref < min_samples or n_cur < min_samples
        if gated:
            out.append((*g, n_ref, n_cur, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, True))
            continue
        mn, mx = float(st["mn"]), float(st["mx"])
        has_range = mx > mn
        width = (mx - mn) / nbins

        def cnt(grid: int, b: int, side: int) -> float:
            c = cells.get((grid, b))
            return float(c[side]) if c is not None else 0.0

        js = ks_d = wd = 0.0
        if has_range:
            dens_r = [cnt(0, b, 0) / (n_ref * width) + EPS for b in range(nbins)]
            dens_c = [cnt(0, b, 1) / (n_cur * width) + EPS for b in range(nbins)]
            sr = 0.0
            for d in dens_r:
                sr += d
            sc = 0.0
            for d in dens_c:
                sc += d
            p0 = [d / sr for d in dens_r]
            q0 = [d / sc for d in dens_c]
            acc = 0.0
            for p, q in zip(p0, q0):
                acc += 0.5 * p * math.log(p / ((p + q) / 2)) + 0.5 * q * math.log(
                    q / ((p + q) / 2)
                )
            js = acc
            fp = fq = mx_gap = sm_gap = 0.0
            for p, q in zip(p0, q0):
                fp += p
                fq += q
                gap = abs(fp - fq)
                mx_gap = max(mx_gap, gap)
                sm_gap += gap
            ks_d = mx_gap
            wd = sm_gap * width

        psi = 0.0
        for b in range(psi_nbins):
            p1 = (cnt(1, b, 0) / float(n_ref) + EPS) / (1.0 + psi_nbins * EPS)
            q1 = (cnt(1, b, 1) / float(n_cur) + EPS) / (1.0 + psi_nbins * EPS)
            psi += (p1 - q1) * math.log(p1 / q1)

        # both sides populated here (min_samples >= 1), so the per-side
        # ranges are non-null and F.greatest == plain max
        value_range = max(float(st["range_ref"]), float(st["range_cur"]))
        wd_norm = wd / value_range if value_range > 0 else 0.0
        se = float(st["var_ref"]) / n_ref + float(st["var_cur"]) / n_cur
        t_stat = (
            (float(st["mean_ref"]) - float(st["mean_cur"])) / math.sqrt(se)
            if se > 0
            else 0.0
        )
        out.append(
            (*g, n_ref, n_cur, float(ks_d), float(js), float(psi), float(wd),
             float(wd_norm), float(t_stat), False)
        )
    return local_frame(df.sparkSession, out, out_schema)


def grouped_distribution_drift_binned(
    df: DataFrame,
    keys: list[str],
    column: str,
    side_col: str = "side",
    nbins: int = 40,
    psi_nbins: int = 10,
    min_samples: int = MIN_SAMPLES,
    exact_edges: bool = False,
    approx_accuracy: int = 10000,
    max_driver_cells: int = 200_000,
) -> DataFrame:
    """Binned per-group drift — NO Python anywhere, O(nbins) state per
    group: the 10^12-row scale path.

    Three native stages (two key-hash shuffles + one broadcast):
    1. per-group aggregate: counts, moments, shared range, reference
       quantile edges (``percentile_approx`` sketch by default;
       ``exact_edges=True`` for oracle parity);
    2. rows bin against their group's range (broadcast join of the
       #groups-row stats frame), explode into (grid, bin) pairs, one
       groupBy(keys, grid, bin) with map-side combine;
    3. per-group windowed cumsum over bins -> binned-ECDF KS/W1; JS/PSI
       from the same counts; Welch t from stage 1's moments.

    KS/W1 are the binned (sketch) estimates — identical in kind to the
    single-pair SKETCH mode; JS and PSI are exact (they are defined on
    the binned histogram).  Zero-mass bins are materialized per group
    (groups x range(nbins) — the epsilon must count for them) exactly as
    :func:`histogram_probs` does for one pair.
    """
    v = F.col(column).cast("double")
    base = df.where(v.isNotNull()).select(
        *keys, (F.col(side_col) == "ref").cast("int").alias("is_ref"), v.alias("v")
    )
    rv = F.when(F.col("is_ref") == 1, F.col("v"))
    cv = F.when(F.col("is_ref") == 0, F.col("v"))
    qs = [i / psi_nbins for i in range(1, psi_nbins)]
    if exact_edges:
        edges_expr = F.expr(
            "percentile(CASE WHEN is_ref = 1 THEN v END, "
            f"array({', '.join(f'{q}D' for q in qs)}))"
        )
    else:
        edges_expr = F.percentile_approx(rv, qs, approx_accuracy)

    st = base.groupBy(*keys).agg(
        F.count(rv).alias("n_ref"),
        F.count(cv).alias("n_cur"),
        F.avg(rv).alias("mean_ref"),
        F.coalesce(F.var_samp(rv), F.lit(0.0)).alias("var_ref"),
        F.avg(cv).alias("mean_cur"),
        F.coalesce(F.var_samp(cv), F.lit(0.0)).alias("var_cur"),
        F.min(F.col("v")).alias("mn"),
        F.max(F.col("v")).alias("mx"),
        (F.max(rv) - F.min(rv)).alias("range_ref"),
        (F.max(cv) - F.min(cv)).alias("range_cur"),
        edges_expr.alias("edges"),
    )

    # --- stage 2: bin every row against its group's range -----------------
    # The broadcast carries ALL of st's columns (not just mn/mx/edges):
    # the per-(key, grid, bin) aggregate below re-emits them via first(),
    # so stage 3 never references st again and the stats aggregate — a
    # full pass over `base` — executes ONCE instead of twice.  (The two
    # old st subtrees had different projections, so Spark's exchange
    # reuse could not deduplicate them; r3's bench carried the second
    # pass as a measured regression.)
    st_cols = [
        "n_ref", "n_cur", "mn", "mx",
        "mean_ref", "var_ref", "mean_cur", "var_cur", "range_ref", "range_cur",
    ]
    stats_b = F.broadcast(st)
    joined = base.join(stats_b, keys)
    w = (F.col("mx") - F.col("mn")) / nbins
    js_bin = F.when(
        F.col("mx") > F.col("mn"),
        F.least(F.floor((F.col("v") - F.col("mn")) / w), F.lit(nbins - 1)),
    ).otherwise(F.lit(0))
    # coalesce: a one-sided group (n_ref = 0) has NULL edges -> NULL
    # bucket, which stage 3's count map cannot key on.  Bucket 0 is
    # arbitrary but unobservable — n_ref = 0 groups are min-sample
    # gated, so their psi is zeroed before the caller sees it.
    psi_bin = F.coalesce(
        F.aggregate(
            F.col("edges"),
            F.lit(0),
            lambda acc, e: acc + (F.col("v") > e).cast("int"),
        ),
        F.lit(0),
    )
    pairs = F.array(
        F.struct(F.lit(0).alias("__g"), js_bin.cast("int").alias("__bin")),
        F.struct(F.lit(1).alias("__g"), psi_bin.cast("int").alias("__bin")),
    )
    counts = (
        joined.select(*keys, *st_cols, "is_ref", F.explode(pairs).alias("gb"))
        .groupBy(*keys, F.col("gb.__g").alias("__g"), F.col("gb.__bin").alias("__bin"))
        .agg(
            F.sum("is_ref").alias("cr"),
            F.sum(1 - F.col("is_ref")).alias("cc"),
            # constant within a group (broadcast-joined): ride the
            # map-side combine, ~free after partial aggregation
            *[F.first(c).alias(c) for c in st_cols],
        )
    )

    # --- stage 3a: driver-side reduction for bounded grids ----------------
    # The distributed stage 3 below builds ~10 forty-element lambda
    # expressions whose Catalyst analysis/optimization alone costs ~0.8 s
    # per invocation (measured r6, plans/r06) while the DATA is only
    # #groups x (nbins + psi_nbins) cells.  When the cell count is
    # bounded, collect the cells and run the identical fold arithmetic in
    # plain Python — the distribution_drift pattern: Spark does every
    # per-row reduction, the driver touches O(groups x bins) aggregates.
    # min_samples >= 1 guarantees non-gated groups have both sides
    # populated, so the distributed form's try_divide NULLs cannot occur
    # outside gated groups (whose metrics are zeroed wholesale anyway);
    # for min_samples == 0 or oversized grids the distributed stage 3
    # below remains the path.
    if min_samples >= 1:
        cell_rows = counts.limit(max_driver_cells + 1).collect()
        if len(cell_rows) <= max_driver_cells:
            return _stage3_driver(df, keys, cell_rows, nbins, psi_nbins, min_samples)

    # --- stage 3: per-group array reductions (one row per group) ----------
    # The sparse (grid, bin) counts collapse into ONE map per group; the
    # dense grids are then F.sequence/F.transform arrays and the binned
    # ECDF is a single F.aggregate running ascending-bin (the same
    # accumulation order the old windowed cumsum used).  vs the previous
    # bins-frame shape this drops the cross join, the left join, and
    # both window passes — and nothing downstream consumes `counts`
    # twice, so the base data is scanned exactly twice total (stats +
    # binning), with arithmetic (epsilons, normalization, summation
    # order) bit-identical to the windowed form (oracle-checked).
    _K = 100_000  # map key = __g * _K + __bin

    gstats = counts.groupBy(*keys).agg(
        *[F.first(c).alias(c) for c in st_cols],
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (F.col("__g") * _K + F.col("__bin")).cast("int").alias("k"),
                    F.struct(F.col("cr"), F.col("cc")).alias("v"),
                )
            )
        ).alias("__m"),
    )
    width = (F.col("mx") - F.col("mn")) / nbins

    def _cnt(g: int, b, side: str):
        e = F.element_at(F.col("__m"), (F.lit(g * _K) + b).cast("int"))
        return F.coalesce(e[side].cast("double"), F.lit(0.0))

    # try_divide everywhere a group can be one-sided (e.g. a violation
    # class present only in the CURRENT window -> n_ref = 0): ANSI mode
    # raises DIVIDE_BY_ZERO otherwise; the nulls land only in values the
    # min-sample gate zeroes at the end.
    bins0 = F.sequence(F.lit(0), F.lit(nbins - 1))
    dens_r = F.transform(
        bins0, lambda b: F.try_divide(_cnt(0, b, "cr"), F.col("n_ref") * width) + F.lit(EPS)
    )
    dens_c = F.transform(
        bins0, lambda b: F.try_divide(_cnt(0, b, "cc"), F.col("n_cur") * width) + F.lit(EPS)
    )
    _sum = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)  # noqa: E731
    stage3 = gstats.withColumns(
        {
            "__p0": F.transform(dens_r, lambda d: F.try_divide(d, _sum(dens_r))),
            "__q0": F.transform(dens_c, lambda d: F.try_divide(d, _sum(dens_c))),
        }
    )
    p0, q0 = F.col("__p0"), F.col("__q0")
    js_terms = F.zip_with(
        p0,
        q0,
        lambda p, q: 0.5 * p * F.log(p / ((p + q) / 2))
        + 0.5 * q * F.log(q / ((p + q) / 2)),
    )
    # binned ECDF in one pass: acc = (fp, fq, max_gap, sum_gap)
    ecdf = F.aggregate(
        F.zip_with(p0, q0, lambda p, q: F.struct(p.alias("p"), q.alias("q"))),
        F.struct(
            F.lit(0.0).alias("fp"),
            F.lit(0.0).alias("fq"),
            F.lit(0.0).alias("mx"),
            F.lit(0.0).alias("sm"),
        ),
        lambda a, x: F.struct(
            (a["fp"] + x["p"]).alias("fp"),
            (a["fq"] + x["q"]).alias("fq"),
            F.greatest(a["mx"], F.abs(a["fp"] + x["p"] - (a["fq"] + x["q"]))).alias("mx"),
            (a["sm"] + F.abs(a["fp"] + x["p"] - (a["fq"] + x["q"]))).alias("sm"),
        ),
    )
    # PSI grid: probabilities over the reference-decile buckets; the
    # side totals are n_ref/n_cur (every row lands in exactly one bucket
    # — the same value the old windowed sum produced)
    binsp = F.sequence(F.lit(0), F.lit(psi_nbins - 1))
    psi_terms = F.transform(
        binsp,
        lambda b: (
            lambda p1, q1: (p1 - q1) * F.log(p1 / q1)
        )(
            (F.try_divide(_cnt(1, b, "cr"), F.col("n_ref").cast("double")) + EPS)
            / (1.0 + psi_nbins * EPS),
            (F.try_divide(_cnt(1, b, "cc"), F.col("n_cur").cast("double")) + EPS)
            / (1.0 + psi_nbins * EPS),
        ),
    )
    has_range = F.col("mx") > F.col("mn")
    out = stage3.select(
        *keys,
        *[c for c in st_cols if c not in ("mn", "mx")],
        F.when(has_range, _sum(js_terms)).otherwise(F.lit(0.0)).cast("double").alias("js"),
        _sum(psi_terms).cast("double").alias("psi"),
        F.when(has_range, ecdf["mx"]).otherwise(F.lit(0.0)).cast("double").alias("ks_d"),
        F.when(has_range, ecdf["sm"] * width).otherwise(F.lit(0.0)).cast("double").alias("wd"),
    )
    value_range = F.greatest(F.col("range_ref"), F.col("range_cur"))
    se = F.try_divide(F.col("var_ref"), F.col("n_ref")) + F.try_divide(
        F.col("var_cur"), F.col("n_cur")
    )
    gated = (F.col("n_ref") < min_samples) | (F.col("n_cur") < min_samples)
    return out.select(
        *keys,
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        *[
            F.when(gated, F.lit(0.0)).otherwise(c).cast("double").alias(name)
            for name, c in (
                ("ks_d", F.col("ks_d")),
                ("js", F.col("js")),
                ("psi", F.col("psi")),
                ("wd", F.col("wd")),
                (
                    "wd_norm",
                    F.when(value_range > 0, F.col("wd") / value_range).otherwise(0.0),
                ),
                (
                    "t_stat",
                    F.when(
                        se > 0,
                        (F.col("mean_ref") - F.col("mean_cur")) / F.sqrt(se),
                    ).otherwise(0.0),
                ),
            )
        ],
        gated.alias("gated"),
    )


def multi_feature_drift(
    ref: DataFrame,
    cur: DataFrame,
    columns: list[str],
    exact: bool = False,
    group_keys: list[str] | None = None,
    **kwargs,
) -> DataFrame:
    """Drift for MANY feature columns in ONE job — one row per feature
    (x group when ``group_keys`` is given).

    The reference's detector loops features inside one detect() call
    (``detectors/distribution.py:62-87``) AND loops that per provider
    (``monitoring/metrics.py:436-484``); the single-pair
    :func:`~..comparators.distribution_drift` is per-column (<=3 actions
    each).  This wrapper stacks the columns into (feature, v) rows and
    reuses the grouped detectors with the feature NAME as a group key,
    so N features cost the same shuffles as one.  ``group_keys``
    composes with the stack: the detector keys on
    (*group_keys, feature), so a full per-provider-per-feature sweep is
    STILL one job — #groups x #features grid, one pass over the data.
    ``exact=True`` routes through the applyInPandas suite (adds
    p-values; per-feature-per-group data must fit a worker); default is
    the fully-native binned path.
    """
    gk = list(group_keys or [])
    n = len(columns)
    args = ", ".join(f"'{c}', cast(`{c}` as double)" for c in columns)
    stack = f"stack({n}, {args}) AS (feature, v)"
    tagged = tag_windows(ref.selectExpr(*gk, stack), cur.selectExpr(*gk, stack))
    fn = grouped_distribution_drift if exact else grouped_distribution_drift_binned
    return fn(tagged, [*gk, "feature"], "v", **kwargs)
