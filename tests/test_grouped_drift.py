"""Grouped (per-key) drift detectors vs the oracle-checked single-pair
frame builders: every group's row must match what the single-pair path
computes on that group's two windows.
"""

import numpy as np
import pytest

from llm_drift_detector_spark.config import StatsMode
from llm_drift_detector_spark.drift import (
    grouped_distribution_drift,
    grouped_distribution_drift_binned,
    js_psi_frame,
    ks_frame,
    psi_frame,
    tag_windows,
    wasserstein_frame,
    welch_t_frame,
)

RNG = np.random.default_rng(11)
GROUPS = {
    "a": (RNG.normal(10, 2, 400), RNG.normal(10, 2, 350)),     # null
    "b": (RNG.normal(10, 2, 400), RNG.normal(14, 3, 300)),     # shifted
    "c": (RNG.exponential(5, 500), RNG.exponential(9, 450)),   # scaled
    "tiny": (RNG.normal(0, 1, 4), RNG.normal(5, 1, 6)),        # below gate
}


@pytest.fixture(scope="module")
def tagged(spark):
    rows = []
    for g, (r, c) in GROUPS.items():
        rows += [(g, "ref", float(x)) for x in r]
        rows += [(g, "cur", float(x)) for x in c]
    return spark.createDataFrame(rows, "grp string, side string, v double")


def _pair_frames(spark, g):
    r, c = GROUPS[g]
    ra = spark.createDataFrame([(float(x),) for x in r], "v double")
    rb = spark.createDataFrame([(float(x),) for x in c], "v double")
    return ra, rb


def test_grouped_exact_matches_single_pair(spark, tagged):
    got = {
        r.grp: r
        for r in grouped_distribution_drift(
            tagged, ["grp"], "v", nbins=40, psi_nbins=10
        ).collect()
    }
    assert set(got) == set(GROUPS)
    for g in ("a", "b", "c"):
        ra, rb = _pair_frames(spark, g)
        ks = ks_frame(ra, rb, "v").collect()[0].ks_d
        assert got[g].ks_d == pytest.approx(ks, abs=1e-12), g
        js = js_psi_frame(ra, rb, "v", nbins=40).collect()[0].js
        assert got[g].js == pytest.approx(js, abs=1e-9), g
        psi = psi_frame(ra, rb, "v", nbins=10).collect()[0].psi
        assert got[g].psi == pytest.approx(psi, abs=1e-9), g
        w = wasserstein_frame(ra, rb, "v").collect()[0]
        assert got[g].wd == pytest.approx(w.wd, abs=1e-9), g
        assert got[g].wd_norm == pytest.approx(w.wd_norm, abs=1e-9), g
        t = welch_t_frame(ra, rb, "v").collect()[0].t_stat
        assert got[g].t_stat == pytest.approx(t, abs=1e-9), g
    # verdicts: b and c drifted, a not; tiny gated
    assert got["b"].drift_detected and got["c"].drift_detected
    assert not got["a"].drift_detected
    assert got["tiny"].gated and got["tiny"].drift_score == 0.0


def test_grouped_binned_matches_sketch_frames(spark, tagged):
    nbins = 40
    got = {
        r.grp: r
        for r in grouped_distribution_drift_binned(
            tagged, ["grp"], "v", nbins=nbins, psi_nbins=10, exact_edges=True
        ).collect()
    }
    sk = StatsMode(exact=False, ecdf_bins=nbins)
    for g in ("a", "b", "c"):
        ra, rb = _pair_frames(spark, g)
        js = js_psi_frame(ra, rb, "v", nbins=nbins).collect()[0].js
        assert got[g].js == pytest.approx(js, abs=1e-9), g
        psi = psi_frame(ra, rb, "v", nbins=10).collect()[0].psi
        assert got[g].psi == pytest.approx(psi, abs=1e-9), g
        ks = ks_frame(ra, rb, "v", mode=sk).collect()[0].ks_d
        assert got[g].ks_d == pytest.approx(ks, abs=1e-9), g
        w = wasserstein_frame(ra, rb, "v", mode=sk).collect()[0]
        assert got[g].wd == pytest.approx(w.wd, abs=1e-9), g
        assert got[g].wd_norm == pytest.approx(w.wd_norm, abs=1e-9), g
        t = welch_t_frame(ra, rb, "v").collect()[0].t_stat
        assert got[g].t_stat == pytest.approx(t, abs=1e-9), g
    assert got["tiny"].gated


def test_grouped_binned_is_fully_native(tagged):
    """The scale path must contain NO Python evaluation (no
    ArrowEvalPython/BatchEvalPython/FlatMapGroupsInPandas nodes)."""
    plan = grouped_distribution_drift_binned(
        tagged, ["grp"], "v"
    )._jdf.queryExecution().executedPlan().toString()
    for bad in ("EvalPython", "InPandas", "MapInArrow"):
        assert bad not in plan, f"{bad} found in native-only plan"


def test_grouped_binned_driver_path_is_a_local_relation(spark, tagged):
    """Bounded grids fold on the driver: the result is an Arrow local
    relation, so collecting it runs no Spark job."""
    out = grouped_distribution_drift_binned(tagged, ["grp"], "v")
    plan = out._jdf.queryExecution().analyzed()
    assert plan.nodeName() == "LocalRelation"
    sc = spark.sparkContext
    sc.setJobGroup("grouped_binned_collect", "collect of the driver path")
    try:
        assert len(out.collect()) == len(GROUPS)
        jobs = sc.statusTracker().getJobIdsForGroup("grouped_binned_collect")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []


def test_tag_windows_roundtrip(spark):
    ra, rb = _pair_frames(spark, "a")
    t = tag_windows(ra, rb)
    n = {r.side: r.cnt for r in t.groupBy("side").count().withColumnRenamed("count", "cnt").collect()}
    assert n == {"ref": 400, "cur": 350}


def test_multi_feature_drift_matches_per_column(spark):
    """N feature columns in one job == the per-column frame builders."""
    from llm_drift_detector_spark.drift import (
        multi_feature_drift,
    )

    rng = np.random.default_rng(23)
    ref_rows = [(float(a), float(b)) for a, b in
                zip(rng.normal(5, 1, 300), rng.exponential(2, 300))]
    cur_rows = [(float(a), float(b)) for a, b in
                zip(rng.normal(7, 1, 280), rng.exponential(2, 280))]
    ref = spark.createDataFrame(ref_rows, "x double, y double")
    cur = spark.createDataFrame(cur_rows, "x double, y double")

    got = {r.feature: r for r in
           multi_feature_drift(ref, cur, ["x", "y"], nbins=40, exact_edges=True).collect()}
    assert set(got) == {"x", "y"}
    for col in ("x", "y"):
        js = js_psi_frame(ref.select(col), cur.select(col), col, nbins=40).collect()[0].js
        assert got[col].js == pytest.approx(js, abs=1e-9), col
        psi = psi_frame(ref.select(col), cur.select(col), col, nbins=10).collect()[0].psi
        assert got[col].psi == pytest.approx(psi, abs=1e-9), col
    # exact variant carries p-values
    ex = {r.feature: r for r in multi_feature_drift(ref, cur, ["x", "y"], exact=True).collect()}
    assert ex["x"].ks_p < 0.05 and ex["x"].drift_detected  # mean shift on x
    assert ex["y"].ks_p > 0.05


def test_grouped_embedding_drift_matches_single_pair(spark):
    """Every group's row in the one-job grouped embedding detector must
    equal the fused single-pair detector run on that group's windows
    (use_mmd=False — grouped omits the sampled C10 kernel)."""
    from llm_drift_detector_spark.drift import embedding_drift, grouped_embedding_drift

    rng = np.random.default_rng(7)
    # non-zero-mean clouds: centroid cosine is direction-stable for the
    # null group and flips sign for the shifted one
    egroups = {
        "null": (rng.normal(5, 1, (120, 8)), rng.normal(5, 1, (110, 8))),
        "shift": (rng.normal(5, 1, (130, 8)), rng.normal(-5, 1, (90, 8))),
        "tiny": (rng.normal(5, 1, (3, 8)), rng.normal(5, 1, (80, 8))),
    }
    rows = []
    for g, (r, c) in egroups.items():
        rows += [(g, "ref", x.tolist()) for x in r]
        rows += [(g, "cur", x.tolist()) for x in c]
    tagged = spark.createDataFrame(
        rows, "grp string, side string, embedding array<double>"
    )
    got = {
        r.grp: r for r in grouped_embedding_drift(tagged, ["grp"], "embedding").collect()
    }
    assert set(got) == set(egroups)
    for g in ("null", "shift"):
        r, c = egroups[g]
        ra = spark.createDataFrame([(x.tolist(),) for x in r], "embedding array<double>")
        rb = spark.createDataFrame([(x.tolist(),) for x in c], "embedding array<double>")
        exp = embedding_drift(ra, rb, use_mmd=False)
        a = exp["analysis"]
        assert got[g].n_ref == exp["reference_size"] and got[g].n_cur == exp["current_size"]
        assert got[g].centroid_distance == pytest.approx(a["centroid_distance"], abs=1e-9)
        assert got[g].variance_change == pytest.approx(a["variance_change"], abs=1e-9)
        assert got[g].avg_dist_to_ref == pytest.approx(
            a["avg_distance_to_reference"], abs=1e-9
        )
        assert got[g].drift_score == pytest.approx(exp["drift_score"], abs=1e-9)
        assert got[g].drift_detected == exp["drift_detected"]
    assert got["shift"].drift_detected and not got["null"].drift_detected
    assert got["tiny"].gated and got["tiny"].drift_score == 0.0


def test_grouped_embedding_drift_is_fully_native(spark):
    from llm_drift_detector_spark.drift import grouped_embedding_drift

    rng = np.random.default_rng(3)
    rows = [("g", "ref", rng.normal(0, 1, 4).tolist()) for _ in range(5)]
    tagged = spark.createDataFrame(
        rows, "grp string, side string, embedding array<double>"
    )
    plan = grouped_embedding_drift(
        tagged, ["grp"], "embedding"
    )._jdf.queryExecution().executedPlan().toString()
    for bad in ("EvalPython", "InPandas", "MapInArrow"):
        assert bad not in plan, f"{bad} found in native-only plan"
    assert "BroadcastHashJoin" in plan  # centroid frame broadcasts back


def test_grouped_lexical_drift_matches_single_pair(spark):
    from llm_drift_detector_spark.drift import grouped_lexical_drift, lexical_drift

    lgroups = {
        "same": (
            ["the cat sat on the mat. a dog barked."] * 6,
            ["the cat sat on the mat. a dog barked."] * 5,
        ),
        "drifted": (
            ["alpha beta gamma delta. epsilon zeta eta."] * 6,
            ["one two three four. five six seven eight nine ten eleven."] * 7,
        ),
        "tiny": (["hello world."], ["hello there."] * 4),
    }
    rows = []
    for g, (r, c) in lgroups.items():
        rows += [(g, "ref", t) for t in r]
        rows += [(g, "cur", t) for t in c]
    tagged = spark.createDataFrame(rows, "grp string, side string, transcript string")
    got = {
        r.grp: r
        for r in grouped_lexical_drift(
            tagged, ["grp"], "transcript", min_samples=2
        ).collect()
    }
    assert set(got) == set(lgroups)
    for g in ("same", "drifted"):
        r, c = lgroups[g]
        ra = spark.createDataFrame([(t,) for t in r], "transcript string")
        rb = spark.createDataFrame([(t,) for t in c], "transcript string")
        exp = lexical_drift(ra, rb, "transcript", min_samples=2)
        a = exp["analysis"]
        assert got[g].vocab_diff == pytest.approx(a["vocabulary_difference"], abs=1e-9)
        assert got[g].style_diff == pytest.approx(a["style_difference"], abs=1e-9)
        assert got[g].jaccard == pytest.approx(a["jaccard"], abs=1e-9)
        assert got[g].js == pytest.approx(a["js"], abs=1e-9)
        assert got[g].lexical_score == pytest.approx(exp["drift_score"], abs=1e-9)
        assert got[g].drift_detected == exp["drift_detected"]
    assert got["drifted"].drift_detected and not got["same"].drift_detected
    assert got["tiny"].gated and got["tiny"].lexical_score == 0.0


def test_grouped_lexical_drift_is_fully_native(spark):
    from llm_drift_detector_spark.drift import grouped_lexical_drift

    tagged = spark.createDataFrame(
        [("g", "ref", "a b."), ("g", "cur", "a c.")],
        "grp string, side string, transcript string",
    )
    plan = grouped_lexical_drift(
        tagged, ["grp"], "transcript"
    )._jdf.queryExecution().executedPlan().toString()
    for bad in ("EvalPython", "InPandas", "MapInArrow"):
        assert bad not in plan, f"{bad} found in native-only plan"


def test_multi_feature_drift_composite_group_keys(spark):
    """(group x feature) composite sweep in ONE job must equal the
    per-slice frame builders on every (group, feature) cell."""
    from llm_drift_detector_spark.drift import multi_feature_drift

    rng = np.random.default_rng(31)
    def mk(shifted):
        rows = []
        for g in ("p", "q"):
            mu = 8.0 if (shifted and g == "q") else 5.0
            for a, b in zip(rng.normal(mu, 1, 150), rng.exponential(2, 150)):
                rows.append((g, float(a), float(b)))
        return spark.createDataFrame(rows, "g string, x double, y double")

    ref, cur = mk(False), mk(True)
    got = {
        (r.g, r.feature): r
        for r in multi_feature_drift(
            ref, cur, ["x", "y"], group_keys=["g"], nbins=40, exact_edges=True
        ).collect()
    }
    assert set(got) == {("p", "x"), ("p", "y"), ("q", "x"), ("q", "y")}
    for g in ("p", "q"):
        for col in ("x", "y"):
            ra = ref.where(ref.g == g).select(col)
            rb = cur.where(cur.g == g).select(col)
            js = js_psi_frame(ra, rb, col, nbins=40).collect()[0].js
            assert got[(g, col)].js == pytest.approx(js, abs=1e-9), (g, col)
            psi = psi_frame(ra, rb, col, nbins=10).collect()[0].psi
            assert got[(g, col)].psi == pytest.approx(psi, abs=1e-9), (g, col)
    # only the (q, x) cell was shifted
    assert got[("q", "x")].js > got[("p", "x")].js


def test_grouped_performance_drift_matches_single_pair(spark):
    """Every (group, metric) row of the one-job C15 sweep must equal
    performance_drift on that group's windows; the overall row matches
    the averaged score."""
    from llm_drift_detector_spark.drift import (
        grouped_performance_drift,
        performance_drift,
    )
    import pyspark.sql.functions as F

    rng = np.random.default_rng(13)
    rows = []
    for g, (mu_r, mu_c, err_r, err_c) in {
        "steady": (10.0, 10.2, 0.05, 0.05),
        "degraded": (10.0, 22.0, 0.02, 0.30),
        "tiny": (10.0, 10.0, 0.0, 0.0),
    }.items():
        n_r, n_c = (3, 3) if g == "tiny" else (200, 180)
        for v in rng.normal(mu_r, 1, n_r):
            rows.append((g, "ref", float(v), bool(rng.random() < err_r)))
        for v in rng.normal(mu_c, 1, n_c):
            rows.append((g, "cur", float(v), bool(rng.random() < err_c)))
    tagged = spark.createDataFrame(
        rows, "grp string, side string, latency double, is_err boolean"
    )
    metrics = [
        {"name": "latency", "upper_threshold": 20.0},
        {"name": "error_rate", "upper_threshold": 0.1},
    ]
    got = {
        (r.grp, r.metric): r
        for r in grouped_performance_drift(
            tagged, ["grp"], metrics, error_condition=F.col("is_err")
        ).collect()
    }
    for g in ("steady", "degraded"):
        sub = tagged.where(F.col("grp") == g)
        exp = performance_drift(
            sub.where("side = 'ref'"),
            sub.where("side = 'cur'"),
            metrics,
            error_condition=F.col("is_err"),
        )
        for name in ("latency", "error_rate"):
            em = exp["metrics"][name]
            gm = got[(g, name)]
            assert gm.drift_score == pytest.approx(em["drift_score"], abs=1e-9), (g, name)
            assert gm.relative_change == pytest.approx(em["relative_change"], abs=1e-9)
            assert gm.drift_detected == em["drift_detected"]
        assert got[(g, "overall")].drift_score == pytest.approx(
            exp["drift_score"], abs=1e-9
        )
        assert got[(g, "overall")].drift_detected == exp["drift_detected"]
    assert got[("degraded", "overall")].drift_detected
    # 'steady' tracks the single-pair verdict exactly (asserted above);
    # ordering is the robust expectation (error-rate sampling noise can
    # push a small overall score past the 0.1 default threshold)
    assert (
        got[("steady", "overall")].drift_score
        < got[("degraded", "overall")].drift_score
    )
    assert not got[("steady", "latency")].drift_detected
    # n<5 gate on the value metric; error_rate has no gate (as reference)
    assert got[("tiny", "latency")].gated and got[("tiny", "latency")].drift_score == 0.0
    assert not got[("tiny", "error_rate")].gated


def test_grouped_performance_drift_is_fully_native(spark):
    from llm_drift_detector_spark.drift import grouped_performance_drift
    import pyspark.sql.functions as F

    tagged = spark.createDataFrame(
        [("g", "ref", 1.0, False), ("g", "cur", 2.0, True)],
        "grp string, side string, latency double, is_err boolean",
    )
    plan = grouped_performance_drift(
        tagged, ["grp"], [{"name": "latency"}], error_condition=F.col("is_err")
    )._jdf.queryExecution().executedPlan().toString()
    for bad in ("EvalPython", "InPandas", "MapInArrow"):
        assert bad not in plan, f"{bad} found in native-only plan"


def test_grouped_embedding_exact_matches_fused_with_mmd(spark):
    """The applyInPandas tier (adds MMD) must equal the fused single-
    pair detector exactly when sides are under the MMD cap (full set ==
    sample on both paths)."""
    from llm_drift_detector_spark.drift import (
        embedding_drift,
        grouped_embedding_drift_exact,
    )

    rng = np.random.default_rng(17)
    egroups = {
        "null": (rng.normal(5, 1, (80, 6)), rng.normal(5, 1, (70, 6))),
        "shift": (rng.normal(5, 1, (90, 6)), rng.normal(-5, 1, (60, 6))),
    }
    rows = []
    for g, (r, c) in egroups.items():
        rows += [(g, "ref", x.tolist()) for x in r]
        rows += [(g, "cur", x.tolist()) for x in c]
    tagged = spark.createDataFrame(
        rows, "grp string, side string, embedding array<double>"
    )
    got = {
        r.grp: r
        for r in grouped_embedding_drift_exact(
            tagged, ["grp"], "embedding", use_mmd=True
        ).collect()
    }
    for g, (r, c) in egroups.items():
        ra = spark.createDataFrame([(x.tolist(),) for x in r], "embedding array<double>")
        rb = spark.createDataFrame([(x.tolist(),) for x in c], "embedding array<double>")
        exp = embedding_drift(ra, rb, use_mmd=True)
        assert got[g].mmd == pytest.approx(exp["analysis"]["mmd"], abs=1e-9), g
        assert got[g].drift_score == pytest.approx(exp["drift_score"], abs=1e-9), g
        assert got[g].drift_detected == exp["drift_detected"], g
    assert got["shift"].drift_detected and not got["null"].drift_detected


def test_grouped_binned_edge_cases(spark):
    """Degenerate groups must not error or mis-report under ANSI mode:
    a constant-value group (mx == mn -> zero bin width) reports zero
    drift; a one-sided group (no 'ref' rows) gates cleanly."""
    rows = (
        [("const", "ref", 5.0)] * 60 + [("const", "cur", 5.0)] * 55
        + [("onesided", "cur", float(v)) for v in range(40)]
        + [("ok", "ref", float(v % 7)) for v in range(80)]
        + [("ok", "cur", float(v % 7) + 5.0) for v in range(70)]
    )
    tagged = spark.createDataFrame(rows, "grp string, side string, v double")
    got = {
        r.grp: r
        for r in grouped_distribution_drift_binned(
            tagged, ["grp"], "v", nbins=10, psi_nbins=5, exact_edges=True
        ).collect()
    }
    c = got["const"]
    assert (c.n_ref, c.n_cur) == (60, 55) and not c.gated
    assert c.js == 0.0 and c.ks_d == 0.0 and c.wd == 0.0 and c.wd_norm == 0.0
    o = got["onesided"]
    assert o.n_ref == 0 and o.gated and o.js == 0.0 and o.t_stat == 0.0
    assert got["ok"].ks_d > 0.5  # disjoint-ish ranges: drift is real


def test_grouped_embedding_edge_cases(spark):
    """Zero-vector rows (cosine guard -> distance 1.0) and a one-sided
    group must not divide by zero or emit nulls."""
    from llm_drift_detector_spark.drift import grouped_embedding_drift

    rng = np.random.default_rng(29)
    rows = (
        [("zeros", "ref", [0.0, 0.0, 0.0, 0.0]) for _ in range(15)]
        + [("zeros", "cur", [0.0, 0.0, 0.0, 0.0]) for _ in range(15)]
        + [("onesided", "cur", rng.normal(1, 1, 4).tolist()) for _ in range(30)]
    )
    tagged = spark.createDataFrame(
        rows, "grp string, side string, embedding array<double>"
    )
    got = {
        r.grp: r
        for r in grouped_embedding_drift(
            tagged, ["grp"], "embedding", min_samples=10
        ).collect()
    }
    z = got["zeros"]
    # zero centroids: cosine guard fires -> centroid distance 1.0, every
    # per-row distance 1.0, variance change 0 -> score 0.6 + 0.2 = 0.8
    assert not z.gated
    assert z.centroid_distance == pytest.approx(1.0)
    assert z.ref_intra == pytest.approx(1.0) and z.avg_dist_to_ref == pytest.approx(1.0)
    assert z.drift_score == pytest.approx(0.8)
    o = got["onesided"]
    assert o.gated and o.n_ref == 0 and o.drift_score == 0.0
