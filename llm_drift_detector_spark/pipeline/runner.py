"""Validation-run orchestration: checks -> violations/metrics/verdicts
tables with per-bucket checkpoint + resume.

The reference runs detectors eagerly and appends results to CSV/SQL
(``monitoring/metrics.py:131-250``); it has no resumability (closest
artifact: pickled reference-distribution reload, ``processor.py:271-286``).
The north rule mandates per-partition checkpointing with lineage so a
killed job resumes only unfinished partitions.  Design:

- Work is keyed by STABLE logical buckets ``pmod(xxhash64(clip_id), B)``
  (checks/base.py) — identical on any cluster size, unlike physical
  partition ids.
- Buckets are processed in ``groups`` bucket groups (default 4), run as
  a two-deep pipeline: group g+1 plans, runs its eager audio pass and
  writes while group g finishes its write and checkpoint.
  Each group writes its violation rows to ``violations/group=g/``
  (overwrite = idempotent re-run); the write itself counts its rows per
  bucket (an ``Observation`` under the write, no read-back job).  Once
  that write has committed, the calling thread appends one checkpoint
  row per bucket with lineage + metrics (one append at a time).
  Checkpoint and metric rows are driver-built: they enter Spark as
  Arrow local relations (``session.local_frame``), so no append starts
  a Python worker.  The returned summary's totals are the checkpoint
  rows read at the start plus the ones this call appended.  A kill
  loses at most the two groups in flight; re-running the same run_id
  anti-joins the checkpoint table and executes only unfinished groups.  ``executed_groups[i]["secs"]``
  is the time from the previous checkpoint commit (or the start of the
  group phase) to this group's commit, so its prefix sums are the
  commit times.
- At 10^12 rows the input Iceberg table should be partitioned by
  ``bucket(clip_id, B)`` so each group's scan prunes to its buckets;
  on plain parquet the group filter is a predicate on a computed column
  (full scan per group — correctness identical, documented cost).

Violations/metrics/verdicts schemas are FIXTURES.md §4.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.util import inheritable_thread_target

from ..config import (
    CODEC_WHITELIST,
    EXACT,
    SKETCH,
    SR_HZ_DOMAIN,
    StatsMode,
)
from ..checks.audio import audio_invariant_violations
from ..checks.base import bucket_id
from ..checks.domain import domain_violations
from ..checks.stats import profile
from ..drift import distribution_drift
from ..session import local_frame

CHECK_VERSIONS = {
    "uniqueness": "1.0",
    "sr_hz_domain": "1.0",
    "codec_whitelist": "1.0",
    "referential_clip_orphan": "1.0",
    "referential_transcript_orphan": "1.0",
    "transcript_equality": "1.0",
    "dur_ms_mismatch": "1.0",
    "snr_allclose": "1.0",
    "audio_quality": "1.0",
    "payload_duplicate": "1.0",
}

VIOLATIONS_DDL = (
    "run_id string, check_name string, clip_id string, detail string, "
    "partition_id int"
)
CHECKPOINT_DDL = (
    "run_id string, partition_id int, status string, rows_processed bigint, "
    "violations_emitted bigint, lineage string"
)

# bucket groups run_validation keeps in flight: one group's planning and
# bookkeeping overlap the next group's execution; a kill loses at most
# this many groups' work
_GROUPS_IN_FLIGHT = 2

# quality GATES are policy, not reference invariants: they run only when
# explicitly listed in enabled_checks (enabled_checks=None means "all
# invariant checks", not these)
OPT_IN_CHECKS = ("audio_quality", "payload_duplicate")


@dataclass
class RunConfig:
    """Validation-run configuration.

    ``mode`` defaults to SKETCH: a naive production call must NOT get
    exact-mode's single-task global-sort KS/percentile plans at scale;
    exact is the explicit oracle/small-window opt-in (pass ``EXACT``)."""

    run_id: str
    out_dir: str
    n_buckets: int = 32
    groups: int = 4
    mode: StatsMode = field(default_factory=lambda: SKETCH)
    drift_columns: tuple[str, ...] = ("dur_ms",)
    salt: int = 0
    snr_mode: str = "hash_shortcut"  # or "deep" (see checks/audio.py)
    # config-driven check selection (reference plugins allow/blocklist,
    # default_config.py:258-263): enabled_checks=None means all; names
    # are CHECK_VERSIONS keys.  disabled wins over enabled.
    enabled_checks: tuple[str, ...] | None = None
    disabled_checks: tuple[str, ...] = ()
    # per-group drift in the global metrics block: when set, each drift
    # column additionally runs the fully-native binned grouped detector
    # keyed on these columns (reference loops detectors per provider/
    # model — monitoring/metrics.py:436-484; here ALL groups ride one
    # job per column) and lands per-(group, method) metric rows.
    drift_group_keys: tuple[str, ...] = ()

    def check_active(self, name: str) -> bool:
        if name in self.disabled_checks:
            return False
        if name in OPT_IN_CHECKS:
            return self.enabled_checks is not None and name in self.enabled_checks
        return self.enabled_checks is None or name in self.enabled_checks


def violations_frame(
    clips: DataFrame,
    transcripts: DataFrame,
    reference: DataFrame,
    cfg: RunConfig | None = None,
    include_global: bool = True,
    reference_hashes: DataFrame | None = None,
) -> DataFrame:
    """All violation rows for the full input — the single-job variant
    (bench + ad-hoc use; the checkpointed path goes through
    run_validation's bucket groups).

    ``include_global=False`` drops the checks whose verdict needs the
    WHOLE clips table (transcript-orphan, uniqueness): on a partial
    input (e.g. one streaming micro-batch) they produce false positives
    (every transcript whose clip arrives later looks orphaned; only
    within-slice duplicates are visible).  The streaming path sets this;
    the bucket runner keeps it on (buckets are closed under clip_id, so
    per-bucket global checks are complete)."""
    cfg = cfg or RunConfig(run_id="adhoc", out_dir="/tmp/adhoc")
    return _violations_for_group(
        clips, transcripts, reference, cfg,
        include_global=include_global,
        reference_hashes=reference_hashes,
    )


def _payload_duplicate_rows(clips_full: DataFrame, cfg: RunConfig) -> DataFrame:
    """payload_duplicate violation rows over a FULL clips view (never a
    bucket slice — duplicates are grouped by md5(bytes), which is not
    closed under clip_id bucketing)."""
    from pyspark.sql import Window

    from ..audioops.dedup import exact_duplicates_audio

    dup = (
        exact_duplicates_audio(clips_full)
        .withColumn("keeper", F.min("id").over(Window.partitionBy("dup_group")))
        .where(F.col("id") != F.col("keeper"))
    )
    return dup.select(
        F.lit("payload_duplicate").alias("check_name"),
        F.col("id").alias("clip_id"),
        F.to_json(F.struct(F.col("dup_group"), F.col("group_size"))).alias("detail"),
        bucket_id(F.col("id"), cfg.n_buckets).alias("partition_id"),
    )


def _violations_for_group(
    clips_g: DataFrame,
    transcripts_g: DataFrame,
    reference_g: DataFrame,
    cfg: RunConfig,
    include_global: bool = True,
    full_view: bool = True,
    reference_hashes: DataFrame | None = None,
) -> DataFrame:
    """All violation rows for one bucket group, in FIXTURES §4 shape
    minus run_id (added by the writer).  Buckets are closed under
    clip_id, so per-group uniqueness/referential results are complete."""

    def shape(df: DataFrame, check: str, detail_col=None) -> DataFrame:
        detail = detail_col if detail_col is not None else F.lit("{}")
        return df.select(
            F.lit(check).alias("check_name"),
            F.col("clip_id"),
            detail.alias("detail"),
            bucket_id("clip_id", cfg.n_buckets).alias("partition_id"),
        )

    parts = []
    # --- the four id-level relational checks ride ONE full-outer join --
    # uniqueness, both orphan directions, and transcript equality each
    # consumed their own aggregate/join over (clip_id[, transcript]) —
    # four subtrees, seven exchanges.  One groupBy per side + one
    # full-outer join + a per-id verdict array covers all four with
    # verdicts identical to the standalone operators (guide §2.4: two
    # operations keyed the same way share one exchange).  The standalone
    # operators stay the per-check/driver-query paths.
    rel_marks = []
    if include_global and cfg.check_active("uniqueness"):
        rel_marks.append(("uniqueness", F.col("n_c") > 1, F.to_json(F.struct(F.col("n_c").alias("n")))))
    if cfg.check_active("referential_clip_orphan"):
        rel_marks.append(("referential_clip_orphan", F.col("n_c").isNotNull() & F.col("n_t").isNull(), F.lit("{}")))
    if include_global and cfg.check_active("referential_transcript_orphan"):
        rel_marks.append(("referential_transcript_orphan", F.col("n_t").isNotNull() & F.col("n_c").isNull(), F.lit("{}")))
    if cfg.check_active("transcript_equality"):
        # all clips-row x transcript-row pairs for an id are null-safe
        # equal iff each side carries exactly ONE distinct value
        # (counting NULL as a value) and those values null-safe match;
        # ∃ a differing pair — the standalone operator's verdict — is
        # the negation, gated on presence of both sides.  "One distinct
        # value" is expressed as all-null OR (no nulls AND min == max)
        # so the profile needs only count/min/max — plain codegen'd
        # HashAggregate, no collect_set ObjectHashAggregate.
        one_c = (F.col("nn_c") == 0) | (
            (F.col("nn_c") == F.col("n_c")) & (F.col("rep_c") == F.col("mx_c"))
        )
        one_t = (F.col("nn_t") == 0) | (
            (F.col("nn_t") == F.col("n_t")) & (F.col("rep_t") == F.col("mx_t"))
        )
        all_equal = (
            one_c & one_t
            & ((F.col("nn_c") > 0) == (F.col("nn_t") > 0))
            & F.col("rep_c").eqNullSafe(F.col("rep_t"))
        )
        rel_marks.append(
            ("transcript_equality",
             F.col("n_c").isNotNull() & F.col("n_t").isNotNull() & ~all_equal,
             F.lit("{}"))
        )
    if rel_marks:
        # the transcript profile (nn/rep/mx) only when transcript
        # equality reads it: uniqueness/orphan-only runs must not need a
        # `transcript` column on either side
        def profile(side):
            aggs = [F.count("*").alias(f"n_{side}")]
            if cfg.check_active("transcript_equality"):
                aggs += [
                    F.count("transcript").alias(f"nn_{side}"),
                    F.min("transcript").alias(f"rep_{side}"),
                    F.max("transcript").alias(f"mx_{side}"),
                ]
            return aggs

        cla = clips_g.groupBy(F.col("clip_id")).agg(*profile("c"))
        tra = transcripts_g.groupBy(F.col("clip_id")).agg(*profile("t"))
        joined = cla.join(tra, "clip_id", "full_outer")
        marks = F.array(
            *[
                F.when(cond, F.struct(F.lit(name).alias("check_name"), detail.alias("detail")))
                for name, cond, detail in rel_marks
            ]
        )
        parts.append(
            joined.select(
                "clip_id", F.explode(F.filter(marks, lambda x: x.isNotNull())).alias("m")
            ).select(
                F.col("m.check_name").alias("check_name"),
                F.col("clip_id"),
                F.col("m.detail").alias("detail"),
                bucket_id("clip_id", cfg.n_buckets).alias("partition_id"),
            )
        )
    if cfg.check_active("sr_hz_domain"):
        parts.append(
            shape(
                domain_violations(clips_g, "sr_hz", SR_HZ_DOMAIN),
                "sr_hz_domain",
                F.to_json(F.struct(F.col("value"))),
            )
        )
    if cfg.check_active("codec_whitelist"):
        parts.append(
            shape(
                domain_violations(clips_g, "codec", CODEC_WHITELIST),
                "codec_whitelist",
                F.to_json(F.struct(F.col("value"))),
            )
        )
    audio_checks = [
        c for c in ("dur_ms_mismatch", "snr_allclose") if cfg.check_active(c)
    ]
    if audio_checks:  # skip the decode stage entirely when both are off
        parts.append(
            audio_invariant_violations(
                clips_g, reference_g, salt=cfg.salt, snr_mode=cfg.snr_mode,
                reference_hashes=reference_hashes,
            )
            .where(F.col("check_name").isin(audio_checks))
            .select(
                "check_name",
                "clip_id",
                "detail",
                bucket_id("clip_id", cfg.n_buckets).alias("partition_id"),
            )
        )
    if cfg.check_active("audio_quality"):
        from ..audioops.features import audio_quality_violations

        parts.append(
            audio_quality_violations(clips_g, salt=cfg.salt).select(
                "check_name",
                "clip_id",
                "detail",
                bucket_id("clip_id", cfg.n_buckets).alias("partition_id"),
            )
        )
    if include_global and full_view and cfg.check_active("payload_duplicate"):
        # same audio bytes under a DIFFERENT clip_id — the payload-level
        # complement of id-level uniqueness.  full_view-only: bucket
        # groups are closed under clip_id, NOT under md5(bytes), so a
        # per-group run would silently miss every pair whose members
        # hash to different groups; the checkpointed runner instead
        # executes this once globally (see run_validation).
        parts.append(_payload_duplicate_rows(clips_g, cfg))
    if not parts:
        return local_frame(
            clips_g.sparkSession, [],
            "check_name string, clip_id string, detail string, partition_id int",
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the Hadoop FileSystem API: os.path.exists
    is always False for s3://, hdfs:// etc., which would make every
    resume on a remote out_dir recompute (and rewrite) work its
    _SUCCESS gate exists to skip.  Resolution follows the session's
    defaultFS — the same place the parquet writers put the data."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def _checkpoint_rows(spark: SparkSession, cfg: RunConfig) -> list[tuple]:
    """This run's committed checkpoint rows as ``(partition_id, status,
    rows_processed, violations_emitted)`` tuples (one small collect;
    explicit schema: no inference job)."""
    path = os.path.join(cfg.out_dir, "checkpoints")
    if not _path_exists(spark, path):  # first run: nothing checkpointed yet
        return []
    return [
        tuple(r)
        for r in spark.read.schema(CHECKPOINT_DDL)
        .parquet(path)
        .where(F.col("run_id") == cfg.run_id)
        .select("partition_id", "status", "rows_processed", "violations_emitted")
        .collect()
    ]


def run_validation(
    spark: SparkSession,
    clips: DataFrame,
    transcripts: DataFrame,
    reference: DataFrame,
    cfg: RunConfig,
    lineage_extra: dict | None = None,
    max_groups: int | None = None,
) -> dict:
    """Execute the full validation run; resumable by re-calling with the
    same run_id + out_dir.  Returns a summary dict.

    ``max_groups`` processes the first that many pending bucket groups
    (sorted by group id) then stops — the kill-and-resume test hook
    (simulates a job dying mid-run).  A group that raises starts no
    further groups; the other in-flight group still checkpoints, then
    the exception is re-raised.
    """
    os.makedirs(cfg.out_dir, exist_ok=True)
    # the run's checkpoint rows so far: they gate the resume here and,
    # with the rows this call appends, are the summary's totals
    cp_done = _checkpoint_rows(spark, cfg)
    done = {b for b, status, _, _ in cp_done if status != "pending"}
    all_buckets = list(range(cfg.n_buckets))
    pending = [b for b in all_buckets if b not in done]
    groups: dict[int, list[int]] = {}
    for b in pending:
        groups.setdefault(b % cfg.groups, []).append(b)

    def bucket_of(df: DataFrame):
        # a materialized bucket_id PARTITION column (write_bucket_partitioned
        # / Iceberg bucket(clip_id, B)) turns the group filter into partition
        # pruning; otherwise it's a computed predicate (full scan per group —
        # correct, but the documented cost on non-bucketed storage)
        if "bucket_id" in df.columns:
            return F.col("bucket_id")
        return bucket_id("clip_id", cfg.n_buckets)

    def group_pred(df: DataFrame, buckets: list[int]):
        return bucket_of(df).isin(buckets)

    def _validate_bucket_layout(df: DataFrame, name: str) -> None:
        # a layout written with a different n_buckets (or hash/salt) than
        # cfg would silently leave buckets >= cfg.n_buckets unselected by
        # every group — rows never validated yet checkpointed complete.
        # Recompute the expected bucket for a 100-row sample and fail
        # loudly on any mismatch (one tiny action per run; a wrong modulus
        # disagrees on ~half the rows, so P(miss) ~ 2^-100).
        sample = (
            df.select(
                "bucket_id", bucket_id("clip_id", cfg.n_buckets).alias("expect")
            )
            .limit(100)
            .collect()
        )
        bad = [r for r in sample if int(r.bucket_id) != int(r.expect)]
        if bad:
            raise ValueError(
                f"{name}: materialized bucket_id does not match "
                f"bucket_id(clip_id, {cfg.n_buckets}) on {len(bad)}/"
                f"{len(sample)} sampled rows (e.g. stored={bad[0].bucket_id} "
                f"expected={bad[0].expect}) — the layout was written with a "
                "different n_buckets or hash; re-bucket or fix cfg.n_buckets"
            )

    for df, name in ((clips, "clips"), (transcripts, "transcripts"), (reference, "reference")):
        if "bucket_id" in df.columns:
            _validate_bucket_layout(df, name)

    todo = sorted(groups.items())[:max_groups]
    lineage = {
        "salt": cfg.salt,
        "n_buckets": cfg.n_buckets,
        "check_versions": CHECK_VERSIONS,
        "mode": "exact" if cfg.mode.exact else "sketch",
        **(lineage_extra or {}),
    }

    def run_group(g: int, buckets: list[int]) -> dict[int, int]:
        """Write one group's violations; return its per-bucket counts,
        observed on the rows the write consumed.  The observation sits
        directly under the write, in its result stage, whose task
        updates count once, so the counts equal the committed files'
        (no read-back job)."""
        vio = _violations_for_group(
            clips.where(group_pred(clips, buckets)),
            transcripts.where(group_pred(transcripts, buckets)),
            reference.where(group_pred(reference, buckets)),
            cfg, full_view=False,
        ).withColumn(
            "run_id", F.lit(cfg.run_id)
        ).select("run_id", "check_name", "clip_id", "detail", "partition_id")
        group_path = os.path.join(cfg.out_dir, "violations", f"group={g}")
        counts = Observation()
        vio.observe(
            counts,
            *[F.count(F.when(F.col("partition_id") == b, 1)).alias(str(b)) for b in buckets],
        ).write.mode("overwrite").parquet(group_path)
        return {int(b): n for b, n in counts.get.items()}

    def checkpoint(g: int, buckets: list[int], vio_counts: dict[int, int]) -> None:
        group_lineage = json.dumps({"group": g, **lineage})
        cp_rows = [
            (
                cfg.run_id,
                int(b),
                "fail" if vio_counts.get(b, 0) > 0 else "pass",
                int(row_counts.get(b, 0)),
                int(vio_counts.get(b, 0)),
                group_lineage,
            )
            for b in buckets
        ]
        local_frame(spark, cp_rows, CHECKPOINT_DDL).withColumn(
            "completed_at", F.current_timestamp()
        ).write.mode("append").parquet(os.path.join(cfg.out_dir, "checkpoints"))
        cp_appended.extend(r[1:5] for r in cp_rows)

    # Checkpoints are appended from this thread only (two concurrent
    # appends would share checkpoints/_temporary), and the next group
    # starts after that append, so at most two groups are uncheckpointed.
    # Each group is wrapped at submission: it runs with its own copy of
    # the caller's local properties (job group, scheduler pool), which
    # Spark mutates per query.
    executed_groups = []
    executed_buckets: set[int] = set()
    cp_appended: list[tuple] = []
    failure: Exception | None = None
    queue = iter(todo)
    t_last = time.time()
    with ThreadPoolExecutor(max_workers=_GROUPS_IN_FLIGHT) as pool:
        inflight: dict = {}

        def submit_next() -> None:
            nxt = next(queue, None)
            if nxt is not None:
                target = inheritable_thread_target(spark)(run_group)
                inflight[pool.submit(target, *nxt)] = nxt

        for _ in range(_GROUPS_IN_FLIGHT):
            submit_next()
        # row counts for every bucket this call will checkpoint, in one
        # pass, while the first groups run
        todo_buckets = [b for _, bs in todo for b in bs]
        row_counts = {
            r.b: r["count"]
            for r in clips.where(group_pred(clips, todo_buckets))
            .groupBy(bucket_of(clips).alias("b"))
            .count()
            .collect()
        } if todo else {}
        while inflight:
            finished, _ = wait(inflight, return_when=FIRST_COMPLETED)
            for fut in sorted(finished, key=lambda f: inflight[f][0]):
                g, buckets = inflight.pop(fut)
                try:
                    checkpoint(g, buckets, fut.result())
                except Exception as e:  # drain the pool, then re-raise
                    failure = failure or e
                    continue
                now = time.time()
                # secs since the previous commit: the prefix sums are the
                # commit times measured from the start of the group phase
                executed_groups.append(
                    {"group": g, "buckets": buckets, "secs": now - t_last}
                )
                t_last = now
                executed_buckets.update(buckets)
                if failure is None:
                    submit_next()
    if failure is not None:
        raise failure

    # global metrics: full-input passes (profile + distribution_drift) run
    # ONLY when this call completes the run AND they were not already
    # written — a resume over finished buckets or a max_groups partial run
    # must not pay a full re-scan for metrics it doesn't need yet
    # per-run_id subdir gated on Spark's _SUCCESS commit marker: a driver
    # crash mid-overwrite leaves the dir WITHOUT _SUCCESS, so the next
    # resume recomputes instead of permanently skipping; and a second
    # run_id sharing this out_dir (which checkpoints support) gets its own
    # metrics rather than being shadowed by the first run's directory.
    # `run=` (not `run_id=`) so partition discovery over metrics/ does not
    # collide with the run_id data column.
    metrics_path = os.path.join(cfg.out_dir, "metrics", f"run={cfg.run_id}")
    still_pending = set(pending) - executed_buckets
    compute_metrics = not still_pending and not _path_exists(
        spark, os.path.join(metrics_path, "_SUCCESS")
    )

    # payload_duplicate is opt-in AND full-table-only (duplicate groups
    # key on md5(bytes), which clip_id bucketing does not respect), so
    # the checkpointed path runs it ONCE over the full input when this
    # call completes the run; overwrite into a per-run_id group dir
    # makes a resume idempotent.
    # Written to a SIBLING of violations/ — a group=<string> subdir
    # inside violations/ would flip partition discovery's inferred type
    # for `group` from int to string across the whole dataset, silently
    # breaking readers that filter group numerically (ADVICE r3).
    payload_dup_count = None
    if cfg.check_active("payload_duplicate") and not still_pending:
        pd_path = os.path.join(
            cfg.out_dir, "payload_violations", f"run={cfg.run_id}"
        )
        if not _path_exists(spark, os.path.join(pd_path, "_SUCCESS")):
            _payload_duplicate_rows(clips, cfg).withColumn(
                "run_id", F.lit(cfg.run_id)
            ).select(
                "run_id", "check_name", "clip_id", "detail", "partition_id"
            ).write.mode("overwrite").parquet(pd_path)
        payload_dup_count = spark.read.schema(VIOLATIONS_DDL).parquet(pd_path).count()
    metrics_rows = []
    prof = (
        profile(clips, ["sr_hz", "dur_ms"], cfg.mode).collect() if compute_metrics else []
    )
    for r in prof:
        for stat in ("count", "null_rate", "mean", "stddev", "min", "max", "q25", "median", "q75"):
            metrics_rows.append(
                (
                    cfg.run_id,
                    "stats_profile",
                    f"profile_{stat}",
                    r["column"],
                    float(r[stat]) if r[stat] is not None else None,
                    None,
                    None,
                    None,
                    None,
                    None,
                    "{}",
                )
            )
    for col in cfg.drift_columns if compute_metrics else ():
        res = distribution_drift(
            reference.select(col), clips.select(col), col, mode=cfg.mode
        )
        for m, t in res.get("methods", {}).items():
            metrics_rows.append(
                (
                    cfg.run_id,
                    "distribution_drift",
                    m,
                    col,
                    float(t["score"]),
                    float(t["threshold"]),
                    bool(t["drift_detected"]),
                    float(t["p_value"]) if t.get("p_value") is not None else None,
                    int(res["reference_size"]),
                    int(res["current_size"]),
                    json.dumps({k: v for k, v in t.items() if k not in ("score",)}),
                )
            )
        metrics_rows.append(
            (
                cfg.run_id,
                "distribution_drift",
                "combined",
                col,
                float(res.get("drift_score", 0.0)),
                float(res["threshold"]),
                bool(res.get("drift_detected", False)),
                None,
                int(res["reference_size"]),
                int(res["current_size"]),
                "{}",
            )
        )
    if compute_metrics and cfg.drift_group_keys:
        from ..drift.grouped import grouped_distribution_drift_binned, tag_windows

        gk = list(cfg.drift_group_keys)
        # (method name in metrics, row field, detection threshold)
        grouped_methods = (
            ("ks_test", "ks_d", 0.1),
            ("js_divergence", "js", 0.2),
            ("psi", "psi", 0.2),
            ("wasserstein", "wd_norm", 0.1),
        )
        for col in cfg.drift_columns:
            tagged = tag_windows(
                reference.select(*gk, col), clips.select(*gk, col)
            )
            per_group = grouped_distribution_drift_binned(
                tagged, gk, col, exact_edges=cfg.mode.exact
            ).collect()
            for r in per_group:
                grp = {k: r[k] for k in gk}
                for mname, field_name, thr in grouped_methods:
                    score = float(r[field_name] or 0.0)
                    metrics_rows.append(
                        (
                            cfg.run_id,
                            "grouped_distribution_drift",
                            mname,
                            col,
                            score,
                            thr,
                            bool(not r["gated"] and score > thr),
                            None,
                            int(r["n_ref"]),
                            int(r["n_cur"]),
                            json.dumps({"group": grp, "gated": bool(r["gated"])}),
                        )
                    )
    if compute_metrics:
        metrics = local_frame(
            spark,
            metrics_rows,
            "run_id string, detector_name string, metric_name string, column string, "
            "drift_score double, threshold double, drift_detected boolean, p_value double, "
            "reference_size bigint, current_size bigint, details string",
        ).withColumn("timestamp", F.current_timestamp())
        metrics.write.mode("overwrite").parquet(metrics_path)

    # totals over every checkpoint row of the run: the ones read at the
    # start plus the ones this call appended (no checkpoint-table job)
    cp_all = cp_done + cp_appended
    return {
        "run_id": cfg.run_id,
        "global_metrics_computed": compute_metrics,
        "payload_duplicate_rows": payload_dup_count,
        "resumed_buckets_skipped": sorted(done),
        "executed_groups": executed_groups,
        "buckets_pass": sum(status == "pass" for _, status, _, _ in cp_all),
        "buckets_fail": sum(status == "fail" for _, status, _, _ in cp_all),
        "rows_processed": sum(n or 0 for _, _, n, _ in cp_all),
        "violations_emitted": sum(v or 0 for _, _, _, v in cp_all),
    }
