"""End-to-end pipeline tests: golden violation sets, verdicts, and
kill-and-resume (FIXTURES.md §5.3, §5.5)."""

import pyspark.sql.functions as F
import pytest

from llm_drift_detector_spark.pipeline import RunConfig, run_validation
from llm_drift_detector_spark.pipeline.runner import CHECK_VERSIONS
from llm_drift_detector_spark.synth import ensure_synth
from llm_drift_detector_spark.synth.clips import SF_ROWS, SynthParams, expected_violations


@pytest.fixture(scope="module")
def tables(spark, sf_dir):
    root = ensure_synth(spark, sf_dir)
    return {
        "clips": spark.read.parquet(f"{root}/clips"),
        "transcripts": spark.read.parquet(f"{root}/transcripts"),
        "reference": spark.read.parquet(f"{root}/clips_reference"),
        "expected": expected_violations(SynthParams(n_rows=SF_ROWS["sf0.001"])),
    }


def violations_by_check(spark, out_dir, run_id):
    df = spark.read.parquet(f"{out_dir}/violations")
    got: dict[str, set] = {}
    for r in df.where(F.col("run_id") == run_id).collect():
        got.setdefault(r.check_name, set()).add(r.clip_id)
    return got


def test_full_run_emits_exact_violation_sets(spark, tables, tmp_path):
    cfg = RunConfig(run_id="r1", out_dir=str(tmp_path / "out"))
    summary = run_validation(
        spark, tables["clips"], tables["transcripts"], tables["reference"], cfg
    )
    got = violations_by_check(spark, cfg.out_dir, "r1")
    exp = tables["expected"]
    for check, ids in exp.items():
        assert got.get(check, set()) == ids, check
    assert set(got) == {k for k, v in exp.items() if v}
    # verdicts: every bucket accounted for; fails where violations exist
    assert summary["buckets_pass"] + summary["buckets_fail"] == cfg.n_buckets
    assert summary["violations_emitted"] == sum(len(v) for v in exp.values())
    assert summary["rows_processed"] == SF_ROWS["sf0.001"]

    # metrics table shape: profile + drift rows present
    m = spark.read.parquet(f"{cfg.out_dir}/metrics")
    assert m.where("detector_name = 'stats_profile'").count() > 0
    drift = m.where("detector_name = 'distribution_drift'")
    assert drift.where("metric_name = 'ks_test'").count() == 1
    # clips vs clean reference: same distribution -> KS must not trip
    ks = drift.where("metric_name = 'ks_test'").collect()[0]
    assert not ks.drift_detected


def test_kill_and_resume_matches_uninterrupted(spark, tables, tmp_path):
    base = dict(
        spark=spark,
        clips=tables["clips"],
        transcripts=tables["transcripts"],
        reference=tables["reference"],
    )
    # uninterrupted run
    cfg_a = RunConfig(run_id="full", out_dir=str(tmp_path / "a"))
    run_validation(cfg=cfg_a, **base)

    # killed after 2 of 4 groups, then resumed
    cfg_b = RunConfig(run_id="resumed", out_dir=str(tmp_path / "b"))
    s1 = run_validation(cfg=cfg_b, max_groups=2, **base)
    assert len(s1["executed_groups"]) == 2
    cp1 = spark.read.parquet(f"{cfg_b.out_dir}/checkpoints")
    done_after_kill = cp1.select("partition_id").distinct().count()
    assert 0 < done_after_kill < cfg_b.n_buckets

    s2 = run_validation(cfg=cfg_b, **base)
    # resume skipped exactly the checkpointed buckets
    assert sorted(s2["resumed_buckets_skipped"]) == sorted(
        r.partition_id for r in cp1.select("partition_id").distinct().collect()
    )
    assert len(s2["executed_groups"]) == 2

    va = violations_by_check(spark, cfg_a.out_dir, "full")
    vb = violations_by_check(spark, cfg_b.out_dir, "resumed")
    assert va == vb

    # each bucket checkpointed exactly once despite the kill
    cp2 = spark.read.parquet(f"{cfg_b.out_dir}/checkpoints")
    per_bucket = cp2.groupBy("partition_id").count().collect()
    assert all(r["count"] == 1 for r in per_bucket)
    assert len(per_bucket) == cfg_b.n_buckets


def test_failed_group_checkpoints_finished_groups_and_resumes(
    spark, tables, tmp_path, monkeypatch
):
    """Groups run two at a time: when the third group raises, the call
    raises, the groups that finished are checkpointed exactly once, the
    failed group is not, and a resume runs only the unfinished groups."""
    import threading

    import llm_drift_detector_spark.pipeline.runner as runner_mod

    base = dict(
        spark=spark,
        clips=tables["clips"],
        transcripts=tables["transcripts"],
        reference=tables["reference"],
    )
    real = runner_mod._violations_for_group
    calls = []
    lock = threading.Lock()

    def third_call_fails(*a, **k):
        # groups start in sorted order, and the third starts only after
        # one of the first two finished: the third call is group 2
        with lock:
            calls.append(None)
            n = len(calls)
        if n == 3:
            raise RuntimeError("group 2 failed")
        return real(*a, **k)

    cfg = RunConfig(run_id="failed", out_dir=str(tmp_path / "f"))
    monkeypatch.setattr(runner_mod, "_violations_for_group", third_call_fails)
    with pytest.raises(RuntimeError, match="group 2 failed"):
        run_validation(cfg=cfg, **base)
    monkeypatch.setattr(runner_mod, "_violations_for_group", real)

    def group_of(b):
        return b % cfg.groups

    cp = [
        r.partition_id
        for r in spark.read.parquet(f"{cfg.out_dir}/checkpoints").collect()
    ]
    assert len(cp) == len(set(cp))
    done_groups = {group_of(b) for b in cp}
    assert {0, 1} <= done_groups and 2 not in done_groups
    assert sorted(cp) == [b for b in range(cfg.n_buckets) if group_of(b) in done_groups]

    s = run_validation(cfg=cfg, **base)
    assert {g["group"] for g in s["executed_groups"]} == set(range(cfg.groups)) - done_groups
    cp2 = spark.read.parquet(f"{cfg.out_dir}/checkpoints").groupBy("partition_id").count()
    assert sorted(r.partition_id for r in cp2.collect()) == list(range(cfg.n_buckets))
    assert all(r["count"] == 1 for r in cp2.collect())

    cfg_full = RunConfig(run_id="unbroken", out_dir=str(tmp_path / "u"))
    run_validation(cfg=cfg_full, **base)
    assert violations_by_check(spark, cfg.out_dir, "failed") == violations_by_check(
        spark, cfg_full.out_dir, "unbroken"
    )


def test_rerun_completed_run_is_noop(spark, tables, tmp_path):
    cfg = RunConfig(run_id="noop", out_dir=str(tmp_path / "c"))
    run_validation(
        spark, tables["clips"], tables["transcripts"], tables["reference"], cfg
    )
    s = run_validation(
        spark, tables["clips"], tables["transcripts"], tables["reference"], cfg
    )
    assert s["executed_groups"] == []
    assert len(s["resumed_buckets_skipped"]) == cfg.n_buckets


def test_resume_with_all_buckets_done_runs_no_full_input_job(
    spark, tables, tmp_path, monkeypatch
):
    """VERDICT r1 #6: a rerun over a completed run must not pay the
    full-input metrics re-scan — profile/distribution_drift must not
    even be called."""
    import llm_drift_detector_spark.pipeline.runner as runner_mod

    cfg = RunConfig(run_id="metrics_gate", out_dir=str(tmp_path / "mg"))
    s1 = run_validation(
        spark, tables["clips"], tables["transcripts"], tables["reference"], cfg
    )
    assert s1["global_metrics_computed"]

    def boom(*a, **k):  # any full-input metrics pass on resume is a bug
        raise AssertionError("full-input metrics pass ran on a completed resume")

    monkeypatch.setattr(runner_mod, "profile", boom)
    monkeypatch.setattr(runner_mod, "distribution_drift", boom)
    s2 = run_validation(
        spark, tables["clips"], tables["transcripts"], tables["reference"], cfg
    )
    assert s2["executed_groups"] == []
    assert not s2["global_metrics_computed"]


def test_partial_run_defers_global_metrics(spark, tables, tmp_path):
    import os

    cfg = RunConfig(run_id="partial", out_dir=str(tmp_path / "pm"))
    s1 = run_validation(
        spark, tables["clips"], tables["transcripts"], tables["reference"], cfg,
        max_groups=2,
    )
    assert not s1["global_metrics_computed"]
    assert not os.path.exists(f"{cfg.out_dir}/metrics")
    s2 = run_validation(
        spark, tables["clips"], tables["transcripts"], tables["reference"], cfg
    )
    assert s2["global_metrics_computed"]
    assert spark.read.parquet(f"{cfg.out_dir}/metrics").count() > 0


def test_bucket_partitioned_layout_prunes_and_matches(spark, tables, tmp_path):
    """write_bucket_partitioned -> group scans become partition pruning
    (PartitionFilters on bucket_id, not a full-scan computed predicate)
    and the violation sets are unchanged."""
    from llm_drift_detector_spark.pipeline.io import write_bucket_partitioned

    paths = {}
    for name in ("clips", "transcripts", "reference"):
        paths[name] = str(tmp_path / f"b_{name}")
        write_bucket_partitioned(tables[name], paths[name], n_buckets=32)
    b_clips = spark.read.parquet(paths["clips"])
    assert "bucket_id" in b_clips.columns

    # the group filter must reach the scan as a PARTITION filter
    plan = (
        b_clips.where(b_clips.bucket_id.isin([0, 1]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "bucket_id" in plan.split("PartitionFilters")[1][:200]

    cfg = RunConfig(run_id="bucketed", out_dir=str(tmp_path / "bo"))
    run_validation(
        spark,
        b_clips,
        spark.read.parquet(paths["transcripts"]),
        spark.read.parquet(paths["reference"]),
        cfg,
    )
    got = violations_by_check(spark, cfg.out_dir, "bucketed")
    exp = tables["expected"]
    for check, ids in exp.items():
        assert got.get(check, set()) == ids, check


def test_merge_upsert_parquet_fallback_is_idempotent(spark, tmp_path):
    from llm_drift_detector_spark.pipeline.io import merge_upsert

    path = str(tmp_path / "m")
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    merge_upsert(spark, df, path, ["k"])
    merge_upsert(spark, df, path, ["k"])  # replay: no duplicates
    assert spark.read.parquet(path).count() == 2
    more = spark.createDataFrame([("b", 9), ("c", 3)], "k string, v int")
    merge_upsert(spark, more, path, ["k"])  # only the new key lands
    rows = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert rows == {"a": 1, "b": 2, "c": 3}


def test_merge_upsert_iceberg_catalog(spark, tmp_path):
    """Real MERGE INTO through a v2 catalog — skips with reason when the
    Iceberg runtime jar is absent (this sandbox has no network)."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        pytest.skip(
            "iceberg-spark-runtime jar not on the classpath (unobtainable "
            "in this sandbox — proof + CI recipe in tools/ICEBERG_MERGE.md; "
            "the jar-less analysis proof is test_merge_sql_parses_and_analyzes)"
        )
    from llm_drift_detector_spark.pipeline.io import merge_upsert

    spark.conf.set("spark.sql.catalog.it", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.it.type", "hadoop")
    spark.conf.set("spark.sql.catalog.it.warehouse", str(tmp_path / "wh"))
    spark.sql("CREATE TABLE it.db.t (k string, v int) USING iceberg")
    df = spark.createDataFrame([("a", 1)], "k string, v int")
    merge_upsert(spark, df, "table:it.db.t", ["k"])
    merge_upsert(spark, df, "table:it.db.t", ["k"])
    assert spark.table("it.db.t").count() == 1


def test_config_driven_check_selection(spark, tables, tmp_path):
    """Plugins allow/blocklist equivalent: enabled_checks/disabled_checks
    on RunConfig gate which checks run (reference default_config.py
    plugins.enabled/disabled)."""
    from llm_drift_detector_spark.pipeline import violations_frame

    args = (tables["clips"], tables["transcripts"], tables["reference"])

    cfg = RunConfig(
        run_id="sel", out_dir=str(tmp_path / "s1"),
        disabled_checks=("snr_allclose", "uniqueness"),
    )
    got = {r.check_name for r in violations_frame(*args, cfg).collect()}
    assert "snr_allclose" not in got and "uniqueness" not in got
    assert "sr_hz_domain" in got

    cfg2 = RunConfig(
        run_id="sel2", out_dir=str(tmp_path / "s2"),
        enabled_checks=("sr_hz_domain",),
    )
    got2 = {r.check_name for r in violations_frame(*args, cfg2).collect()}
    assert got2 == {"sr_hz_domain"}

    # disabled wins over enabled
    cfg3 = RunConfig(
        run_id="sel3", out_dir=str(tmp_path / "s3"),
        enabled_checks=("sr_hz_domain",), disabled_checks=("sr_hz_domain",),
    )
    assert violations_frame(*args, cfg3).count() == 0


def test_crashed_metrics_write_recomputes_on_resume(spark, tables, tmp_path):
    """ADVICE r2: a driver crash mid metrics-overwrite leaves the dir
    without _SUCCESS — the next resume must recompute, not permanently
    skip (the old bare os.path.exists gate did the latter)."""
    import os

    cfg = RunConfig(run_id="crashmg", out_dir=str(tmp_path / "cm"))
    s1 = run_validation(
        spark, tables["clips"], tables["transcripts"], tables["reference"], cfg
    )
    assert s1["global_metrics_computed"]
    os.remove(f"{cfg.out_dir}/metrics/run=crashmg/_SUCCESS")
    s2 = run_validation(
        spark, tables["clips"], tables["transcripts"], tables["reference"], cfg
    )
    assert s2["executed_groups"] == []
    assert s2["global_metrics_computed"]  # recomputed after the 'crash'


def test_second_run_id_in_shared_out_dir_gets_metrics(spark, tables, tmp_path):
    """ADVICE r2: checkpoints support several run_ids per out_dir — each
    must get its own metrics (the old dir-level gate shadowed run 2)."""
    out = str(tmp_path / "shared")
    args = (tables["clips"], tables["transcripts"], tables["reference"])
    s1 = run_validation(spark, *args, RunConfig(run_id="ra", out_dir=out))
    s2 = run_validation(spark, *args, RunConfig(run_id="rb", out_dir=out))
    assert s1["global_metrics_computed"] and s2["global_metrics_computed"]
    m = spark.read.parquet(f"{out}/metrics")
    assert {r.run for r in m.select("run").distinct().collect()} == {"ra", "rb"}


def test_mismatched_bucket_layout_fails_loudly(spark, tables, tmp_path):
    """ADVICE r2: a layout bucketed with a different n_buckets than cfg
    must raise — silently never-validating buckets >= cfg.n_buckets
    while checkpointing 'complete' is the worst failure mode."""
    from llm_drift_detector_spark.pipeline.io import write_bucket_partitioned

    path = str(tmp_path / "bk64")
    write_bucket_partitioned(tables["clips"], path, n_buckets=64)
    clips_b = spark.read.parquet(path)
    cfg = RunConfig(run_id="badbk", out_dir=str(tmp_path / "bo"), n_buckets=32)
    with pytest.raises(ValueError, match="different n_buckets"):
        run_validation(spark, clips_b, tables["transcripts"], tables["reference"], cfg)


def test_merge_upsert_collapses_batch_duplicates(spark, tmp_path):
    """ADVICE r2: duplicate key tuples WITHIN one batch must land once
    (both the MERGE and the parquet fallback would insert them twice)."""
    from llm_drift_detector_spark.pipeline.io import merge_upsert

    path = str(tmp_path / "mu")
    df = spark.createDataFrame([(1, "a"), (1, "a2"), (2, "b")], "k int, v string")
    merge_upsert(spark, df, path, ["k"])
    got = spark.read.parquet(path)
    assert got.count() == 2
    assert got.select("k").distinct().count() == 2


def test_duplicate_clusters_raises_on_non_convergence(spark):
    """ADVICE r2: exceeding max_iters must raise, not silently return
    split (wrong) cluster labels."""
    from llm_drift_detector_spark.textops import duplicate_clusters

    # a chain 0-1-2-...-9 has diameter 9: hash-min needs ~9 rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(pairs, max_iters=2)
    ok = duplicate_clusters(pairs, max_iters=20).collect()
    assert {r.cluster_id for r in ok} == {0}


def test_merge_sql_parses_and_analyzes(spark, tmp_path):
    """The jar-less half of the real-MERGE proof (tools/ICEBERG_MERGE.md):
    the statement merge_upsert generates must parse and fully ANALYZE
    (target table, source view and ON condition all resolve) against a
    real catalog table, failing ONLY on the v1 table's missing
    row-level-operation capability — never with a ParseException or an
    unresolved-reference error."""
    from llm_drift_detector_spark.pipeline.io import merge_upsert

    spark.sql("DROP TABLE IF EXISTS _merge_probe")
    spark.sql(
        f"CREATE TABLE _merge_probe (k STRING, v INT) USING parquet "
        f"LOCATION '{tmp_path / 'mp'}'"
    )
    df = spark.createDataFrame([("a", 1)], "k string, v int")
    with pytest.raises(Exception) as ei:
        merge_upsert(spark, df, "table:_merge_probe", ["k"])
    msg = str(ei.value)
    assert "UNSUPPORTED_FEATURE.TABLE_OPERATION" in msg and "MERGE INTO" in msg
    assert "PARSE_SYNTAX_ERROR" not in msg and "UNRESOLVED" not in msg.upper()
    spark.sql("DROP TABLE IF EXISTS _merge_probe")


def test_grouped_drift_lands_in_metrics(spark, tables, tmp_path):
    """drift_group_keys wires the one-job grouped detector into the
    global metrics block: per-(group, method) rows with group identity
    in details (reference loops detectors per provider — here all
    groups ride one job per drift column)."""
    import json as _json

    cfg = RunConfig(
        run_id="gm", out_dir=str(tmp_path / "gm"), drift_group_keys=("codec",)
    )
    run_validation(
        spark, tables["clips"], tables["transcripts"], tables["reference"], cfg
    )
    m = (
        spark.read.parquet(f"{cfg.out_dir}/metrics")
        .where("detector_name = 'grouped_distribution_drift'")
        .collect()
    )
    assert m, "no grouped drift rows in metrics"
    methods = {r.metric_name for r in m}
    assert methods == {"ks_test", "js_divergence", "psi", "wasserstein"}
    codecs = {_json.loads(r.details)["group"]["codec"] for r in m}
    assert len(codecs) >= 2
    # clips vs the clean reference: same dur_ms distribution per codec —
    # JS/PSI must not trip on any group
    for r in m:
        if r.metric_name in ("js_divergence", "psi"):
            assert not r.drift_detected, (r.metric_name, r.details)


def test_merge_upsert_order_col_keeps_latest_deterministically(spark, tmp_path):
    """ADVICE r3: with differing same-key rows in one batch, order_col
    picks the LATEST row per key (row_number over keys), not an
    arbitrary partitioning-dependent survivor."""
    from llm_drift_detector_spark.pipeline.io import merge_upsert

    path = str(tmp_path / "mu_ord")
    df = spark.createDataFrame(
        [(1, "old", 10), (1, "new", 20), (2, "only", 5)],
        "k int, v string, updated_at int",
    ).repartition(4)
    merge_upsert(spark, df, path, ["k"], order_col="updated_at")
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "new", 2: "only"}
    # idempotent: a second upsert with an older row does not overwrite
    df2 = spark.createDataFrame([(1, "older", 1)], "k int, v string, updated_at int")
    merge_upsert(spark, df2, path, ["k"], order_col="updated_at")
    got2 = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got2 == {1: "new", 2: "only"}


def test_merge_upsert_survives_empty_target_dir(spark, tmp_path):
    """Review r4: a target dir left by a killed first write (exists but
    holds no parquet footers) must count as 'no target yet', not brick
    every rerun with UNABLE_TO_INFER_SCHEMA."""
    from llm_drift_detector_spark.pipeline.io import merge_upsert

    path = tmp_path / "mu_empty"
    (path / "_temporary").mkdir(parents=True)  # killed-write leftover
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    merge_upsert(spark, df, str(path), ["k"])
    assert spark.read.parquet(str(path)).count() == 2
    # and the normal idempotency still holds on rerun
    merge_upsert(spark, df, str(path), ["k"])
    assert spark.read.parquet(str(path)).count() == 2


def _checkpoint_totals(spark, cfg) -> dict:
    """The summary's totals as one aggregate over the run's checkpoint
    table."""
    status = F.col("status")
    return (
        spark.read.parquet(f"{cfg.out_dir}/checkpoints")
        .where(F.col("run_id") == cfg.run_id)
        .agg(
            F.count(F.when(status == "pass", 1)).alias("buckets_pass"),
            F.count(F.when(status == "fail", 1)).alias("buckets_fail"),
            F.coalesce(F.sum("rows_processed"), F.lit(0)).alias("rows_processed"),
            F.coalesce(F.sum("violations_emitted"), F.lit(0)).alias("violations_emitted"),
        )
        .collect()[0]
        .asDict()
    )


def _totals(summary: dict) -> dict:
    return {k: summary[k] for k in ("buckets_pass", "buckets_fail", "rows_processed", "violations_emitted")}


def test_checkpoint_counts_match_committed_violations(spark, tables, tmp_path):
    """Each checkpoint's violations_emitted/status equals a count over
    its group's committed violation files (buckets without violations
    included); the summary's totals equal the checkpoint table's, on a
    fresh run and on a rerun of the completed run."""
    cfg = RunConfig(run_id="cpc", out_dir=str(tmp_path / "cpc"))
    args = (tables["clips"], tables["transcripts"], tables["reference"])
    s1 = run_validation(spark, *args, cfg)
    assert _totals(s1) == _checkpoint_totals(spark, cfg)

    written = {
        r.partition_id: r["count"]
        for r in spark.read.parquet(f"{cfg.out_dir}/violations")
        .where(F.col("run_id") == cfg.run_id)
        .groupBy("partition_id")
        .count()
        .collect()
    }
    assert 0 < len(written) < cfg.n_buckets  # both kinds of bucket present
    cps = spark.read.parquet(f"{cfg.out_dir}/checkpoints").collect()
    assert sorted(r.partition_id for r in cps) == list(range(cfg.n_buckets))
    for r in cps:
        n = written.get(r.partition_id, 0)
        assert r.violations_emitted == n, r.partition_id
        assert r.status == ("fail" if n else "pass"), r.partition_id

    s2 = run_validation(spark, *args, cfg)
    assert s2["executed_groups"] == []
    assert _totals(s2) == _checkpoint_totals(spark, cfg) == _totals(s1)


def test_partial_run_and_resume_summaries_match_checkpoints(spark, tables, tmp_path):
    cfg = RunConfig(run_id="pcs", out_dir=str(tmp_path / "pcs"))
    args = (tables["clips"], tables["transcripts"], tables["reference"])
    s1 = run_validation(spark, *args, cfg, max_groups=2)
    assert _totals(s1) == _checkpoint_totals(spark, cfg)
    assert s1["buckets_pass"] + s1["buckets_fail"] < cfg.n_buckets
    s2 = run_validation(spark, *args, cfg)
    assert _totals(s2) == _checkpoint_totals(spark, cfg)
    assert s2["buckets_pass"] + s2["buckets_fail"] == cfg.n_buckets


def test_run_with_every_check_disabled_still_checkpoints(spark, tables, tmp_path):
    """No active check: each group writes an empty frame, and every
    bucket still checkpoints as a pass with zero violations."""
    cfg = RunConfig(
        run_id="none", out_dir=str(tmp_path / "none"),
        disabled_checks=tuple(CHECK_VERSIONS),
    )
    s = run_validation(
        spark, tables["clips"], tables["transcripts"], tables["reference"], cfg
    )
    assert len(s["executed_groups"]) == cfg.groups
    assert s["buckets_pass"] == cfg.n_buckets and s["buckets_fail"] == 0
    assert s["violations_emitted"] == 0
    assert s["rows_processed"] == SF_ROWS["sf0.001"]
    assert _totals(s) == _checkpoint_totals(spark, cfg)


def test_failed_group_writes_no_metrics(spark, tables, tmp_path, monkeypatch):
    """A run whose group raises stops before the global metrics: no
    metrics/ directory is left behind."""
    import os
    import threading

    import llm_drift_detector_spark.pipeline.runner as runner_mod

    real = runner_mod._violations_for_group
    calls = []
    lock = threading.Lock()

    def third_call_fails(*a, **k):
        with lock:
            calls.append(None)
            n = len(calls)
        if n == 3:
            raise RuntimeError("group 2 failed")
        return real(*a, **k)

    cfg = RunConfig(run_id="failed_nm", out_dir=str(tmp_path / "fnm"))
    monkeypatch.setattr(runner_mod, "_violations_for_group", third_call_fails)
    with pytest.raises(RuntimeError, match="group 2 failed"):
        run_validation(
            spark, tables["clips"], tables["transcripts"], tables["reference"], cfg
        )
    assert os.path.exists(f"{cfg.out_dir}/checkpoints")
    assert not os.path.exists(f"{cfg.out_dir}/metrics")
