"""Incremental distribution drift in the stream: each micro-batch (or
event-time window) vs a FROZEN reference profile.

The reference's core loop is "current window vs reference distribution"
on a cadence (``config/default_config.py:104-106``), run once per
provider and numerical column (``detectors/__init__.py:58-86``,
``detectors/distribution.py``).  Streamed, that comparison is "bin each
micro-batch against a frozen reference geometry, then do O(nbins)
arithmetic" — one computation over CELLS:

- a *cell* is one (group-key tuple, column).  A global profile has zero
  keys (the group is ``()``); a single-column profile has one column;
  a windowed stream adds the event-time window as one more key;
- :func:`reference_profile` freezes every cell in two jobs: a stats pass
  (count/mean/var/range + exact decile edges, 6 expressions per column
  in one aggregate grouped on the keys) and a binned pass;
- :func:`update_reference_profile` folds new data into every cell in one
  fused job, then the exact Chan moments merge + frozen-geometry bin
  adds of :func:`_merge_cell`;
- :func:`stream_drift` runs the binned pass per micro-batch inside ONE
  ``foreachBatch`` (or, windowed, as a watermarked streaming aggregate
  whose finalized windows reach ``foreachBatch``) and writes one verdict
  row per cell with the comparators' epsilon/density sequence.

The binned pass is the same expression everywhere: each row explodes to
one (ci, js_bin, psi_bin, v) struct per non-null monitored value, binned
against its cell's geometry — literal floats for a global profile, a
broadcast one-row-per-group geometry frame (built once per stream) for a
keyed one — and one grouped aggregate counts bins and moments.  Map-side
partial aggregation keeps the exchange at O(cells x nbins x psi_nbins).

NULL keys: rows with any NULL group key are never profiled; the stream
and the update count them with the rows of groups that have no frozen
profile, in the NULL-keyed ``gated_reason='unknown_group'`` row (resp.
``unknown_rows``).  A real NULL group would collide with that marker.

The profile's range is FROZEN (unlike the batch detector's shared range):
batch values outside it clamp into the edge bins — evidence of drift,
not discardable.  The four profile dict shapes (``{column,...}``,
``{kind: distribution_multi, column_profiles}``, ``{column, keys,
profiles}``, ``{kind: distribution_multi_grouped, keys, profiles}``) are
views of the cell map (:func:`_cells` / :func:`_with_cells`); the legacy
per-shape names are aliases or thin wrappers of the three functions.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..config import EPS, MIN_SAMPLES
from ..session import local_frame

# read-side schema of the global epoch sink: `epoch` materializes as the
# partition column (each micro-batch OVERWRITES its own epoch=<k>
# partition, so a foreachBatch replay after a crash-before-checkpoint is
# idempotent — plain appends would duplicate the replayed epoch's rows)
DRIFT_METRICS_SCHEMA = (
    "run_id string, epoch bigint, n bigint, batch_mean double, "
    "js double, psi double, ks_d double, t_stat double, "
    "drift_score double, drift_detected boolean, gated boolean"
)
_SINK_ROW_SCHEMA = (
    "run_id string, n bigint, batch_mean double, "
    "js double, psi double, ks_d double, t_stat double, "
    "drift_score double, drift_detected boolean, gated boolean"
)

_ZERO_METRICS = {
    "js": 0.0, "psi": 0.0, "ks_d": 0.0, "t_stat": 0.0, "drift_score": 0.0,
}


# ---- profile shapes <-> cell map -----------------------------------------


def _shape(profile: dict) -> tuple[list[str], list[str], bool]:
    """(keys, columns, multi) of any of the four profile dict shapes."""
    multi = "columns" in profile
    columns = list(profile["columns"]) if multi else [profile["column"]]
    return list(profile.get("keys") or ()), columns, multi


def _cells(profile: dict) -> dict:
    """``{(group tuple, column): cell profile}`` view of any profile
    shape; global profiles use the empty group ``()``."""
    keys, columns, multi = _shape(profile)
    if not keys:
        return {
            ((), c): profile["column_profiles"][c] if multi else profile
            for c in columns
        }
    if multi:
        return {
            (g, c): p
            for g, cols in profile["profiles"].items()
            for c, p in cols.items()
        }
    return {(g, columns[0]): p for g, p in profile["profiles"].items()}


def _with_cells(profile: dict, cells: dict) -> dict:
    """Inverse of :func:`_cells`: ``profile``'s header and shape holding
    ``cells``.  Cells of every shape but the grouped single-column one
    carry their ``column`` first."""
    keys, columns, multi = _shape(profile)
    if not keys and not multi:
        return {"column": columns[0], **cells[((), columns[0])]}
    if not keys:
        return {
            **profile,
            "column_profiles": {
                c: {"column": c, **cells[((), c)]} for c in columns
            },
        }
    profiles: dict = {}
    for (g, c), p in cells.items():
        if multi:
            profiles.setdefault(g, {})[c] = {"column": c, **p}
        else:
            profiles[g] = p
    return {**profile, "profiles": profiles}


def _reference_rows(profile: dict) -> int:
    """Rows a profile was frozen from (and folded into): per group, the
    best-covered column's count."""
    per_group: dict = {}
    for (g, _c), p in _cells(profile).items():
        per_group[g] = max(per_group.get(g, 0), p["n"])
    return sum(per_group.values())


# ---- the binned pass -----------------------------------------------------


def _clamped_bin(v, mn, width, nbins: int):
    """Equal-width bin against the FROZEN range; out-of-range values
    clamp into the edge bins.  ``mn``/``width`` are floats or columns."""
    raw = F.floor((v - F.lit(mn)) / F.lit(width))
    return F.greatest(F.least(raw, F.lit(nbins - 1)), F.lit(0)).cast("int")


def _psi_bucket(v, edges):
    """Reference-decile bucket: count of edges strictly below v (the
    comparators' PSI rule).  ``edges`` are floats or columns."""
    b = F.lit(0)
    for e in edges:
        b = b + (v > F.lit(e)).cast("int")
    return b.cast("int")


def _values(df: DataFrame, keys: list[str], columns: list[str], *carry):
    """Keys canonicalized to string SPARK-side (Python's str() disagrees
    with Spark's cast for e.g. booleans) + ``v0..v{N-1}`` doubles.  A
    column may be any SQL expression castable to double
    (``length(bytes)``); the expression string is its cell name."""
    return df.select(
        *[F.col(k).cast("string").alias(k) for k in keys],
        *carry,
        *[F.expr(c).cast("double").alias(f"v{i}") for i, c in enumerate(columns)],
    )


def _any_value(columns: list[str]):
    return F.coalesce(*[F.col(f"v{i}") for i in range(len(columns))]).isNotNull()


def _geometry_frame(spark, keys, columns, cells) -> DataFrame:
    """One row per profiled group carrying its per-column geometry
    ARRAYS (indexed by column position) — the broadcast side of every
    keyed binned pass."""
    groups = dict.fromkeys(g for g, _ in cells)
    rows = [
        (
            *g,
            [cells[(g, c)]["mn"] for c in columns],
            [cells[(g, c)]["width"] for c in columns],
            [cells[(g, c)]["edges"] for c in columns],
        )
        for g in groups
    ]
    ddl = ", ".join(f"{k} string" for k in keys) + (
        ", __mns array<double>, __widths array<double>, "
        "__edges array<array<double>>"
    )
    return local_frame(spark, rows, ddl)


def _binned(
    vals: DataFrame,
    keys: list[str],
    columns: list[str],
    cells: dict,
    nbins: int,
    psi_nbins: int,
    gframe: DataFrame | None,
    window: str | None = None,
) -> DataFrame:
    """The one binned aggregate: rows of ``([w,] keys..., ci, jb, pb, c,
    s, ss, mn, mx)`` — with a ``window`` duration, ``vals`` carries an
    event-time ``ts`` and the aggregate groups on ``window(ts)`` too.
    Keyed rows with no frozen geometry — an unprofiled group or a NULL
    key, which a join never matches — collapse into one ``ci = -1``
    marker per row with any monitored value: unknown-row counts ride the
    same job."""
    if keys:
        vals = vals.join(F.broadcast(gframe), keys, "left")
    structs = []
    for i, c in enumerate(columns):
        v = F.col(f"v{i}")
        if keys:
            mn, width = F.col("__mns")[i], F.col("__widths")[i]
            edges = [F.col("__edges")[i][k] for k in range(psi_nbins - 1)]
        else:
            p = cells[((), c)]
            mn, width, edges = p["mn"], p["width"], p["edges"]
        structs.append(
            F.when(
                v.isNotNull(),
                F.struct(
                    F.lit(i).alias("ci"),
                    _clamped_bin(v, mn, width, nbins).alias("jb"),
                    _psi_bucket(v, edges).alias("pb"),
                    v.alias("v"),
                ),
            )
        )
    arr = F.array(*structs)
    if keys:
        marker = F.struct(
            F.lit(-1).alias("ci"),
            F.lit(None).cast("int").alias("jb"),
            F.lit(None).cast("int").alias("pb"),
            F.lit(None).cast("double").alias("v"),
        )
        arr = F.when(F.col("__mns").isNotNull(), arr).otherwise(
            F.array(F.when(_any_value(columns), marker))
        )
    ts = ["ts"] if window else []
    group_by = [F.window("ts", window).alias("w")] if window else []
    return (
        vals.select(*keys, *ts, F.explode(arr).alias("x"))
        .where(F.col("x").isNotNull())
        .select(*keys, *ts, "x.*")
        .groupBy(*group_by, *keys, "ci", "jb", "pb")
        .agg(
            F.count("*").alias("c"),
            F.sum("v").alias("s"),
            F.sum(F.col("v") * F.col("v")).alias("ss"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
    )


def _accumulate(rows, gkeys, nwin, columns, nbins, psi_nbins, seed=()):
    """The one accumulator loop: binned rows -> ``{(group, column):
    {js, psi, n, s, ss, mn, mx}}`` plus unknown-row counts keyed by the
    window prefix (the first ``nwin`` group values)."""

    def zero():
        return {
            "js": np.zeros(nbins), "psi": np.zeros(psi_nbins),
            "n": 0, "s": 0.0, "ss": 0.0, "mn": math.inf, "mx": -math.inf,
        }

    acc = {cell: zero() for cell in seed}
    unknown: dict[tuple, int] = {}
    for r in rows:
        g = tuple(r[k] for k in gkeys)
        if r.ci < 0:
            unknown[g[:nwin]] = unknown.get(g[:nwin], 0) + int(r.c)
            continue
        cell = (g, columns[r.ci])
        a = acc.get(cell)
        if a is None:
            a = acc[cell] = zero()
        a["js"][int(r.jb)] += r.c
        a["psi"][int(r.pb)] += r.c
        a["n"] += r.c
        a["s"] += r.s
        a["ss"] += r.ss
        a["mn"] = min(a["mn"], r.mn)
        a["mx"] = max(a["mx"], r.mx)
    return acc, unknown


# ---- per-cell arithmetic -------------------------------------------------


def _binned_metrics(
    profile: dict,
    batch_js: np.ndarray,
    batch_psi: np.ndarray,
    n: int,
    mean: float,
    var: float,
    js_threshold: float,
    psi_threshold: float,
) -> dict:
    """O(nbins) comparator arithmetic on two count vectors — the same
    epsilon/density/normalize sequence as ``drift/comparators``
    (histogram densities + eps, renormalized; PSI probs + eps over
    1 + nbins*eps; binned-ECDF KS; Welch t from moments)."""
    nbins = profile["nbins"]
    width = profile["width"]
    rn, cn = profile["n"], max(n, 1)
    rc = np.asarray(profile["js_counts"], dtype=np.float64)
    cc = batch_js.astype(np.float64)
    dens_r = rc / (rn * width) + EPS
    dens_c = cc / (cn * width) + EPS
    p = dens_r / dens_r.sum()
    q = dens_c / dens_c.sum()
    m = (p + q) / 2.0
    js = float(0.5 * np.sum(p * np.log(p / m)) + 0.5 * np.sum(q * np.log(q / m)))
    ks_d = float(np.max(np.abs(np.cumsum(p) - np.cumsum(q)))) if nbins else 0.0

    pn = np.asarray(profile["psi_counts"], dtype=np.float64)
    qn = batch_psi.astype(np.float64)
    pp = (pn / max(pn.sum(), 1.0) + EPS) / (1.0 + len(pn) * EPS)
    qq = (qn / max(qn.sum(), 1.0) + EPS) / (1.0 + len(qn) * EPS)
    psi = float(np.sum((pp - qq) * np.log(pp / qq)))

    se = profile["var"] / max(profile["n"], 1) + var / max(n, 1)
    t_stat = (profile["mean"] - mean) / math.sqrt(se) if se > 0 else 0.0
    score = max(js / js_threshold, psi / psi_threshold)
    return {
        "js": js,
        "psi": psi,
        "ks_d": ks_d,
        "t_stat": float(t_stat),
        "drift_score": float(score),
    }


def _cell_verdict(
    profile_cell: dict,
    a: dict,
    min_samples: int,
    js_threshold: float,
    psi_threshold: float,
) -> tuple:
    """(n, mean, metrics, gated) from one cell accumulator."""
    n = a["n"]
    mean = a["s"] / n if n else 0.0
    var = (a["ss"] - n * mean * mean) / (n - 1) if n > 1 else 0.0
    gated = n < min_samples
    if gated:
        m = dict(_ZERO_METRICS)
    else:
        m = _binned_metrics(
            profile_cell, a["js"], a["psi"], n, mean, var,
            js_threshold, psi_threshold,
        )
    return n, mean, m, gated


def _merge_cell(p: dict, a: dict, rebin_rel_threshold: float) -> dict:
    """Exact Chan moments merge + frozen-geometry bin adds for ONE
    profile cell, from an accumulator {n, s, ss, mn, mx, js, psi} (the
    same algebra Spark's own partial aggregates use).  The geometry
    stays frozen — it is the drift contract — so the observed range is
    tracked (``data_mn``/``data_mx``) and ``needs_rebin`` raised once it
    escapes the frozen range by more than ``rebin_rel_threshold`` x
    (mx - mn): a full re-freeze is then due."""
    n2 = a["n"]
    n1, m1 = p["n"], p["mean"]
    m2_1 = p["var"] * (n1 - 1) if n1 > 1 else 0.0
    mean2 = a["s"] / n2
    m2_2 = a["ss"] - n2 * mean2 * mean2
    n = n1 + n2
    delta = mean2 - m1
    mean = m1 + delta * n2 / n
    m2 = m2_1 + m2_2 + delta * delta * n1 * n2 / n
    var = m2 / (n - 1) if n > 1 else 0.0
    data_mn = min(p.get("data_mn", p["mn"]), a["mn"])
    data_mx = max(p.get("data_mx", p["mx"]), a["mx"])
    span = max(p["mx"] - p["mn"], 1e-300)
    range_excess = max(p["mn"] - data_mn, data_mx - p["mx"]) / span
    return {
        **p,
        "n": int(n),
        "mean": float(mean),
        "var": float(var),
        "js_counts": (
            np.asarray(p["js_counts"], dtype=np.float64) + a["js"]
        ).tolist(),
        "psi_counts": (
            np.asarray(p["psi_counts"], dtype=np.float64) + a["psi"]
        ).tolist(),
        "data_mn": float(data_mn),
        "data_mx": float(data_mx),
        "needs_rebin": bool(range_excess > rebin_rel_threshold),
    }


# ---- the three operations --------------------------------------------------


def reference_profile(
    ref: DataFrame,
    column: str | list[str],
    nbins: int = 40,
    psi_nbins: int = 10,
    keys: list[str] | tuple = (),
) -> dict:
    """Freeze the reference profile of every (group, column) cell.

    ``column`` is one column (a str) or a list of them (the multi-column
    shapes); ``keys`` groups the profile per key tuple (the reference's
    per-provider loop).  Two jobs: a stats pass (count/mean/var/range +
    exact decile edges, 6 expressions per column, grouped on the keys)
    and the binned pass against that geometry.  The result is a plain
    dict in one of the four shapes the module docstring lists — small
    enough to close over every micro-batch; driver memory is
    O(#groups x #columns x nbins).

    A group is profiled when it has a non-NULL key and at least one
    non-null monitored value; every column of a profiled group must
    have values — a silent empty cell would make that pair
    unmonitorable while the summary claims coverage, so the builder
    raises listing offenders.
    """
    multi = not isinstance(column, str)
    columns = list(column) if multi else [column]
    keys = list(keys)
    if not columns:
        raise ValueError("columns must be non-empty")
    qs = [i / psi_nbins for i in range(1, psi_nbins)]
    keyed = F.lit(True)
    for k in keys:
        keyed = keyed & F.col(k).isNotNull()
    base = _values(ref, keys, columns).where(keyed & _any_value(columns))
    exprs = []
    for i in range(len(columns)):
        v = f"v{i}"
        exprs += [
            F.count(v).alias(f"n{i}"),
            F.avg(v).alias(f"mean{i}"),
            F.coalesce(F.var_samp(v), F.lit(0.0)).alias(f"var{i}"),
            F.min(v).alias(f"mn{i}"),
            F.max(v).alias(f"mx{i}"),
            F.expr(
                f"percentile({v}, array({', '.join(f'{q}D' for q in qs)}))"
            ).alias(f"edges{i}"),
        ]
    st = base.groupBy(*keys).agg(*exprs).collect()
    empty = [
        (list(r[k] for k in keys), c) if keys else c
        for r in st
        for i, c in enumerate(columns)
        if not r[f"n{i}"]
    ]
    if not st or empty:
        raise ValueError(
            f"reference window has no non-null values for {empty or columns}"
        )
    cells: dict = {}
    for r in st:
        g = tuple(r[k] for k in keys)
        for i, c in enumerate(columns):
            mn, mx = float(r[f"mn{i}"]), float(r[f"mx{i}"])
            cells[(g, c)] = {
                "n": int(r[f"n{i}"]),
                "mean": float(r[f"mean{i}"]),
                "var": float(r[f"var{i}"]),
                "mn": mn,
                "mx": mx,
                "width": (mx - mn) / nbins if mx > mn else 1.0,
                "nbins": nbins,
                "psi_nbins": psi_nbins,
                "edges": [float(e) for e in r[f"edges{i}"]],
            }
    gframe = (
        _geometry_frame(ref.sparkSession, keys, columns, cells) if keys else None
    )
    acc, _ = _accumulate(
        _binned(base, keys, columns, cells, nbins, psi_nbins, gframe).collect(),
        keys, 0, columns, nbins, psi_nbins,
    )
    for cell, p in cells.items():
        p["js_counts"] = acc[cell]["js"].tolist()
        p["psi_counts"] = acc[cell]["psi"].tolist()

    header: dict = (
        {
            "kind": "distribution_multi" + "_grouped" * bool(keys),
            "columns": columns,
        }
        if multi
        else {"column": column}
    )
    if keys:
        header["keys"] = keys
    header.update(nbins=nbins, psi_nbins=psi_nbins)
    return _with_cells(header, cells)


def update_reference_profile(
    profile: dict,
    new_data: DataFrame,
    rebin_rel_threshold: float = 0.25,
) -> dict:
    """Incrementally fold ``new_data`` into every cell of a frozen
    profile — without touching the data the profile was built from.

    The reference recomputes its distribution from scratch per update
    (``data/processor.py:162-207``); at 10^12 rows the refresh must be
    INCREMENTAL.  One fused job bins the new rows against the FROZEN
    geometry (the stream's binned pass, with min/max), then
    :func:`_merge_cell` merges each cell exactly: merged == from-scratch
    over the concatenated data at the same frozen edges, exactly for
    count/bins and to fp roundoff for mean/var.  A cell with no new
    values is returned untouched.

    Keyed profiles: rows of groups with no frozen profile (and rows with
    a NULL key) are NOT folded — their geometry doesn't exist, and
    inventing one mid-update would corrupt the drift contract.  They are
    counted as ``unknown_rows``: a persistent non-zero count means a new
    provider appeared and a full re-freeze is due, the decision
    ``needs_rebin`` signals per cell.  The merged dict is a drop-in
    :func:`stream_drift` profile (a monitor hot-swaps it by restarting
    with ``--profile-path`` pointing at the re-saved JSON).
    """
    keys, columns, _multi = _shape(profile)
    cells = _cells(profile)
    nbins, psi_nbins = profile["nbins"], profile["psi_nbins"]
    gframe = (
        _geometry_frame(new_data.sparkSession, keys, columns, cells)
        if keys else None
    )
    acc, unknown = _accumulate(
        _binned(
            _values(new_data, keys, columns), keys, columns, cells,
            nbins, psi_nbins, gframe,
        ).collect(),
        keys, 0, columns, nbins, psi_nbins,
    )
    merged = {
        cell: _merge_cell(p, acc[cell], rebin_rel_threshold)
        if cell in acc else dict(p)
        for cell, p in cells.items()
    }
    out = _with_cells(profile, merged)
    if keys:
        out["unknown_rows"] = int(unknown.get((), 0))
    return out


def _sink(keys: list[str], multi: bool, windowed: bool) -> tuple[str, str]:
    """(sink directory name, row DDL) of a stream shape — the one place
    the sinks' names and row schemas are defined.  Windowed rows carry
    ``ws``/``we`` epoch seconds here; the writer turns them into
    ``window_start``/``window_end`` and the ``w`` partition."""
    name = (
        "drift_metrics" + "_windowed" * windowed + "_multi" * multi
        + "_grouped" * bool(keys)
    )
    ddl = ", ".join(
        ["ws bigint", "we bigint"] * windowed
        + [f"{k} string" for k in keys]
        + ["column string"] * multi
        + [_SINK_ROW_SCHEMA]
        + ["gated_reason string"] * bool(keys)
    )
    return name, ddl


def stream_drift(
    spark: SparkSession,
    clips_dir: str,
    profile: dict,
    out_dir: str,
    schema: str,
    run_id: str = "drift-stream",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    min_samples: int = MIN_SAMPLES,
    js_threshold: float = 0.1,
    psi_threshold: float = 0.2,
    ts_col: str | None = None,
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
):
    """Start a drift stream vs a frozen profile of any shape; returns
    the streaming query (already drained when ``available_now``).

    Epoch mode (``ts_col=None``): per micro-batch ONE binned aggregate
    (every cell's bin counts + moments in the same job, never a job per
    group or column) plus O(cells x nbins) driver arithmetic; one row
    per (cell, epoch) into ``<out_dir>/<sink>/epoch=<k>``, overwritten
    per epoch so replays stay idempotent.  A global profile reports
    every column every epoch (an all-null column as a gated ``n=0``
    row); a keyed one reports the cells present in the batch, per-cell
    ``min_samples`` gating, the NULL-keyed ``unknown_group`` row (rows
    with at least one monitored value whose group has no profile or a
    NULL key) and, for a batch with no values at all, a NULL-keyed
    ``empty_batch`` row so epoch accounting matches the global sink.

    Windowed (``ts_col`` given): EVENT-TIME windows, late-data-tolerant.
    The binned aggregate runs under ``window(ts_col)`` with a WATERMARK:
    Spark's state store holds each window open ``watermark_delay`` past
    its end, merges late rows into their window, and only then emits it
    (append mode), so ``foreachBatch`` sees FINALIZED cells only — one
    row per (window, cell) partitioned by the window start (dynamic
    overwrite).  Rows later than the watermark drop: bounded state for
    bounded lateness.  A window finalizes only once the watermark passes
    its end, and the watermark advances on ARRIVING data — the newest
    window(s) of an AvailableNow drain emit on the next run.

    Sinks (:func:`_sink`): ``drift_metrics``, ``drift_metrics_multi``,
    ``drift_metrics_grouped``, ``drift_metrics_multi_grouped``,
    ``drift_metrics_windowed``, ``drift_metrics_windowed_grouped``; each
    has its own ``_drift_stream<suffix>_checkpoint``, so modes sharing
    one ``out_dir`` never reuse a checkpoint or mix row schemas.
    """
    keys, columns, multi = _shape(profile)
    cells = _cells(profile)
    nbins, psi_nbins = profile["nbins"], profile["psi_nbins"]
    windowed = ts_col is not None
    nwin = 2 if windowed else 0
    name, ddl = _sink(keys, multi, windowed)
    sink = os.path.join(out_dir, name)
    checkpoint = os.path.join(
        out_dir, f"_drift_stream{name[len('drift_metrics'):]}_checkpoint"
    )
    gframe = _geometry_frame(spark, keys, columns, cells) if keys else None
    # cells reported every epoch even without values: the global columns
    seed = [((), c) for c in columns] if not keys and not windowed else []

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(clips_dir)
    if windowed:
        vals = _values(stream, keys, columns, F.col(ts_col).alias("ts"))
        stream = _binned(
            vals.where(F.col("ts").isNotNull() & _any_value(columns))
            .withWatermark("ts", watermark_delay),
            keys, columns, cells, nbins, psi_nbins, gframe, window_duration,
        )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if windowed:
            # window bounds collect as epoch-second LONGS — naive driver
            # datetimes are ambiguous across a DST fall-back
            rows = batch_df.select(
                F.col("w.start").cast("long").alias("ws"),
                F.col("w.end").cast("long").alias("we"),
                *[c for c in batch_df.columns if c != "w"],
            ).collect()
        else:
            rows = _binned(
                _values(batch_df, keys, columns), keys, columns, cells,
                nbins, psi_nbins, gframe,
            ).collect()
        acc, unknown = _accumulate(
            rows, ["ws", "we"][:nwin] + keys, nwin, columns, nbins,
            psi_nbins, seed,
        )
        out = []
        for (g, c), a in sorted(
            acc.items(), key=lambda kv: (kv[0][0], columns.index(kv[0][1]))
        ):
            n, mean, m, gated = _cell_verdict(
                cells[(g[nwin:], c)], a, min_samples, js_threshold, psi_threshold
            )
            out.append((
                *g, *[c] * multi, run_id, int(n), float(mean),
                m["js"], m["psi"], m["ks_d"], m["t_stat"], m["drift_score"],
                bool(not gated and m["drift_score"] > 1.0), bool(gated),
                *["min_samples" if gated else None] * bool(keys),
            ))
        if keys:
            # NULL keys + a marker column: a real group VALUE named
            # 'unknown_group' stays unambiguous; an epoch without values
            # still claims its partition ('empty_batch')
            marks = sorted(unknown.items())
            if not (out or marks or windowed):
                marks = [((), 0)]
            for w, cnt in marks:
                out.append((
                    *w, *[None] * (len(keys) + multi), run_id, int(cnt), 0.0,
                    0.0, 0.0, 0.0, 0.0, 0.0, False, True,
                    "unknown_group" if cnt else "empty_batch",
                ))
        if not windowed:
            local_frame(spark, out, ddl).write.mode("overwrite").parquet(
                f"{sink}/epoch={int(epoch_id)}"
            )
        elif out:
            # ONE write for all finalized windows of the batch: dynamic
            # partition overwrite replaces exactly the written windows'
            # partitions (a crash-replay rewrites identical content)
            df = local_frame(spark, out, ddl)
            df.select(
                F.timestamp_seconds("ws").alias("window_start"),
                F.timestamp_seconds("we").alias("window_end"),
                *df.columns[2:],
                F.col("ws").alias("w"),
            ).write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("w").parquet(sink)

    writer = (
        stream.writeStream.outputMode("append")
        .foreachBatch(process)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q


# ---- legacy per-shape names: the profile carries keys and columns ----------

reference_profile_multi = reference_profile
update_reference_profile_grouped = update_reference_profile
update_reference_profile_multi = update_reference_profile
update_reference_profile_multi_grouped = update_reference_profile
stream_drift_grouped = stream_drift
stream_drift_multi = stream_drift
stream_drift_multi_grouped = stream_drift


def reference_profile_grouped(ref, keys, column, nbins=40, psi_nbins=10):
    """:func:`reference_profile` per group of ``keys``."""
    return reference_profile(ref, column, nbins, psi_nbins, keys=keys)


def reference_profile_multi_grouped(ref, keys, columns, nbins=40, psi_nbins=10):
    """:func:`reference_profile` per (group of ``keys``, column)."""
    return reference_profile(ref, list(columns), nbins, psi_nbins, keys=keys)


def stream_drift_windowed(spark, clips_dir, profile, out_dir, schema, ts_col, **kw):
    """Event-time windowed :func:`stream_drift` (global or grouped)."""
    return stream_drift(spark, clips_dir, profile, out_dir, schema, ts_col=ts_col, **kw)


stream_drift_windowed_grouped = stream_drift_windowed


def save_profile(profile: dict, path: str) -> None:
    """Persist a frozen profile (global or grouped) as JSON.

    The profile IS the drift contract: a monitor restart must compare
    against the SAME frozen reference even if the reference table has
    since changed.  JSON keeps it engine-agnostic and diffable."""
    out = dict(profile)
    if "profiles" in out:  # grouped: tuple keys -> joined string keys
        out = {
            **out,
            "profiles": {
                "\x1f".join(g): p for g, p in profile["profiles"].items()
            },
        }
    with open(path, "w") as f:
        json.dump(out, f)


def load_profile(path: str) -> dict:
    """Load a profile written by :func:`save_profile`."""
    with open(path) as f:
        prof = json.load(f)
    if "profiles" in prof:
        prof["profiles"] = {
            tuple(g.split("\x1f")): p for g, p in prof["profiles"].items()
        }
    return prof
