"""Streaming embedding drift (C6-C9 per micro-batch vs a frozen
centroid profile): planted rotations flip only their own batch/group;
metrics match the numpy oracle; restarts are exactly-once."""

import math

import numpy as np
import pytest


def _vecs(rng, direction, n, noise=0.05):
    d = len(direction)
    return direction[None, :] + rng.normal(0.0, noise, (n, d))


def _rows(rng, direction, n, noise=0.05):
    return [([float(x) for x in v],) for v in _vecs(rng, direction, n, noise)]


U = np.array([1.0] + [0.0] * 15)
V = np.array([0.0, 1.0] + [0.0] * 14)  # orthogonal: cosine dist to U = 1


def test_stream_embedding_drift_flags_only_shifted_batch(spark, tmp_path):
    from llm_drift_detector_spark.streaming import (
        embedding_reference_profile,
        stream_embedding_drift,
    )

    rng = np.random.default_rng(71)
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    ref = spark.createDataFrame(_rows(rng, U, 800), "embedding array<float>")
    prof = embedding_reference_profile(ref, "embedding")
    assert prof["kind"] == "embedding" and prof["dim"] == 16 and prof["n"] == 800
    # centroid ~ U, dispersion ~ noise * sqrt(d)
    assert abs(prof["centroid"][0] - 1.0) < 0.02
    assert abs(prof["ref_rms"] - 0.05 * math.sqrt(16)) < 0.05

    for i, direction in enumerate([U, V, U]):
        spark.createDataFrame(
            _rows(rng, direction, 300), "embedding array<float>"
        ).coalesce(1).write.parquet(f"{src}/b{i}")
    stream_embedding_drift(
        spark, src + "/b*", prof, out,
        schema="embedding array<float>", max_files_per_trigger=1,
    )
    rows = {
        int(r.epoch): r
        for r in spark.read.parquet(f"{out}/embedding_metrics").collect()
    }
    assert set(rows) == {0, 1, 2}
    # the rotated batch (V-direction) and ONLY it flips the verdict
    detected = {e for e, r in rows.items() if r.drift_detected}
    assert detected == {e for e in rows if abs(rows[e].centroid_distance - 1.0) < 0.1}
    assert len(detected) == 1
    undrifted = [r for e, r in rows.items() if e not in detected]
    for r in undrifted:
        assert r.centroid_distance < 0.01 and r.drift_score < 0.05
        assert not r.gated and r.n == 300


def test_stream_embedding_metrics_match_numpy_oracle(spark, tmp_path):
    """One batch; the row's C6/C7/C8 equal the numpy formulas on the
    same vectors (float32 storage -> 1e-5 tolerance)."""
    from llm_drift_detector_spark.streaming import (
        embedding_reference_profile,
        stream_embedding_drift,
    )

    rng = np.random.default_rng(73)
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    ref_m = _vecs(rng, U, 400).astype(np.float32)
    cur_m = _vecs(rng, 0.7 * U + 0.7 * V, 200, noise=0.1).astype(np.float32)
    ref = spark.createDataFrame(
        [([float(x) for x in v],) for v in ref_m], "embedding array<float>"
    )
    prof = embedding_reference_profile(ref, "embedding")
    spark.createDataFrame(
        [([float(x) for x in v],) for v in cur_m], "embedding array<float>"
    ).coalesce(1).write.parquet(f"{src}/b0")
    stream_embedding_drift(
        spark, src + "/b*", prof, out, schema="embedding array<float>"
    )
    r = spark.read.parquet(f"{out}/embedding_metrics").collect()[0]

    cvec = np.asarray(prof["centroid"])
    cm = cur_m.astype(np.float64)
    bc = cm.mean(axis=0)

    def cos_d(a, b):
        return 1.0 - np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))

    exp_cd = cos_d(bc, cvec)
    dots = cm @ cvec
    exp_ad = float(
        np.mean(1.0 - dots / (np.linalg.norm(cm, axis=1) * np.linalg.norm(cvec)))
    )
    exp_rms = math.sqrt(max(0.0, float((cm * cm).sum(axis=1).mean()) - float(bc @ bc)))
    exp_vc = abs(exp_rms - prof["ref_rms"]) / max(prof["ref_rms"], 1e-10)
    exp_score = 0.6 * exp_cd + 0.2 * exp_vc + 0.2 * exp_ad
    assert abs(r.centroid_distance - exp_cd) < 1e-5
    assert abs(r.avg_dist_to_ref - exp_ad) < 1e-5
    assert abs(r.batch_rms - exp_rms) < 1e-5
    assert abs(r.variance_change - exp_vc) < 1e-4
    assert abs(r.drift_score - exp_score) < 1e-4
    assert r.drift_detected == (exp_score > 0.15)


def test_stream_embedding_drift_grouped_flags_group_and_routes_unknown(
    spark, tmp_path
):
    from llm_drift_detector_spark.streaming import (
        embedding_reference_profile_grouped,
        stream_embedding_drift_grouped,
    )

    rng = np.random.default_rng(79)
    src, out = str(tmp_path / "src"), str(tmp_path / "out")

    def grp_rows(g, direction, n):
        return [(g, [float(x) for x in v]) for v in _vecs(rng, direction, n)]

    ref = spark.createDataFrame(
        grp_rows("a", U, 500) + grp_rows("b", V, 500),
        "provider string, embedding array<float>",
    )
    prof = embedding_reference_profile_grouped(ref, ["provider"], "embedding")
    assert prof["kind"] == "embedding_grouped"
    assert set(prof["profiles"]) == {("a",), ("b",)}

    b1 = grp_rows("a", U, 200) + grp_rows("b", V, 200)
    b2 = (
        grp_rows("a", U, 200)
        + grp_rows("b", U, 200)       # b rotates onto a's direction
        + grp_rows("zz", U, 30)       # unknown group
    )
    for i, rows in enumerate([b1, b2]):
        spark.createDataFrame(
            rows, "provider string, embedding array<float>"
        ).coalesce(1).write.parquet(f"{src}/b{i}")
    stream_embedding_drift_grouped(
        spark, src + "/b*", prof, out,
        schema="provider string, embedding array<float>",
        max_files_per_trigger=1,
    )
    rows = spark.read.parquet(f"{out}/embedding_metrics_grouped").collect()
    flags = {
        (r.provider, int(r.epoch)): r.drift_detected
        for r in rows
        if r.provider is not None
    }
    assert flags[("a", 0)] is False and flags[("a", 1)] is False
    assert flags[("b", 0)] is False and flags[("b", 1)] is True
    unk = [r for r in rows if r.gated_reason == "unknown_group"]
    assert len(unk) == 1 and unk[0].n == 30 and int(unk[0].epoch) == 1
    assert unk[0].provider is None and unk[0].gated


def test_stream_embedding_checkpoint_resume_exactly_once(spark, tmp_path):
    from llm_drift_detector_spark.streaming import (
        embedding_reference_profile,
        stream_embedding_drift,
    )

    rng = np.random.default_rng(83)
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    ref = spark.createDataFrame(_rows(rng, U, 400), "embedding array<float>")
    prof = embedding_reference_profile(ref, "embedding")

    spark.createDataFrame(_rows(rng, U, 150), "embedding array<float>").coalesce(
        1
    ).write.parquet(f"{src}/b1")
    stream_embedding_drift(spark, src + "/b*", prof, out, schema="embedding array<float>")
    assert len(spark.read.parquet(f"{out}/embedding_metrics").collect()) == 1

    # restart, no new data: nothing reprocessed
    stream_embedding_drift(spark, src + "/b*", prof, out, schema="embedding array<float>")
    assert len(spark.read.parquet(f"{out}/embedding_metrics").collect()) == 1

    # new file: exactly one new epoch row
    spark.createDataFrame(_rows(rng, U, 150), "embedding array<float>").coalesce(
        1
    ).write.parquet(f"{src}/b2")
    stream_embedding_drift(spark, src + "/b*", prof, out, schema="embedding array<float>")
    final = spark.read.parquet(f"{out}/embedding_metrics").collect()
    assert len(final) == 2 and sum(r.n for r in final) == 300


def test_embedding_profile_roundtrip_and_gating(spark, tmp_path):
    from llm_drift_detector_spark.streaming import (
        embedding_reference_profile,
        load_profile,
        save_profile,
        stream_embedding_drift,
    )

    rng = np.random.default_rng(89)
    ref = spark.createDataFrame(_rows(rng, U, 300), "embedding array<float>")
    prof = embedding_reference_profile(ref, "embedding")
    path = str(tmp_path / "emb.json")
    save_profile(prof, path)
    assert load_profile(path) == prof

    # a tiny batch gates (min_samples), zeroed metrics
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    spark.createDataFrame(_rows(rng, V, 5), "embedding array<float>").coalesce(
        1
    ).write.parquet(f"{src}/b0")
    stream_embedding_drift(spark, src + "/b*", prof, out, schema="embedding array<float>")
    r = spark.read.parquet(f"{out}/embedding_metrics").collect()[0]
    assert r.gated and r.n == 5 and r.drift_score == 0.0 and not r.drift_detected


def test_monitor_cli_embedding_family(spark, tmp_path, capsys):
    """The monitor job runs the embedding family alongside validation +
    distribution drift when --embedding-column is given; clean synth
    transcripts show no embedding drift; profile reuse rejects a column
    mismatch."""
    import json
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    import monitor_stream

    from llm_drift_detector_spark.synth import ensure_synth

    root = ensure_synth(spark, "/root/testdata/sf0.001")
    ppath = str(tmp_path / "emb_frozen.json")
    args = [
        "--clips-dir", f"{root}/clips",
        "--reference", f"{root}/clips_reference",
        "--transcripts", f"{root}/transcripts",
        "--out", str(tmp_path / "m1"),
        "--drift-column", "dur_ms",
        "--embedding-column", "embedding",
        "--embedding-dir", f"{root}/transcripts",
        "--embedding-reference", f"{root}/transcripts_reference",
        "--embedding-profile-path", ppath,
    ]
    assert monitor_stream.main(args) == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s["embedding_epochs"] >= 1
    assert s["embedding_drift_detected_epochs"] == []

    bad = list(args)
    bad[bad.index("embedding") if False else bad.index("--embedding-column") + 1] = (
        "transcript"
    )
    bad[bad.index(str(tmp_path / "m1"))] = str(tmp_path / "m2")
    with pytest.raises(SystemExit, match="does not match"):
        monitor_stream.main(bad)


def test_grouped_embedding_stream_matches_global_per_group(spark, tmp_path):
    """Each group's streamed row equals the GLOBAL embedding stream run
    on that group's slice alone: a global profile is the zero-key case
    of the keyed one."""
    import pyspark.sql.functions as F

    from llm_drift_detector_spark.streaming import (
        embedding_reference_profile,
        embedding_reference_profile_grouped,
        stream_embedding_drift,
        stream_embedding_drift_grouped,
    )

    rng = np.random.default_rng(97)
    ddl = "provider string, embedding array<float>"

    def grp_rows(g, direction, n, noise=0.05):
        return [(g, [float(x) for x in v]) for v in _vecs(rng, direction, n, noise)]

    ref = spark.createDataFrame(
        grp_rows("a", U, 300) + grp_rows("b", V, 400, noise=0.1), ddl
    )
    cur_rows = grp_rows("a", U, 120) + grp_rows("b", 0.6 * U + 0.8 * V, 90, noise=0.2)
    cur = spark.createDataFrame(cur_rows, ddl)
    gprof = embedding_reference_profile_grouped(ref, ["provider"], "embedding")
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    cur.coalesce(1).write.parquet(f"{src}/b0")
    stream_embedding_drift_grouped(spark, src + "/b*", gprof, out, schema=ddl)
    grouped = {
        r.provider: r
        for r in spark.read.parquet(f"{out}/embedding_metrics_grouped").collect()
    }
    assert set(grouped) == {"a", "b"}

    for g in ("a", "b"):
        sprof = embedding_reference_profile(
            ref.where(F.col("provider") == g).drop("provider"), "embedding"
        )
        gsrc, gout = str(tmp_path / f"s_{g}"), str(tmp_path / f"o_{g}")
        cur.where(F.col("provider") == g).drop("provider").coalesce(
            1
        ).write.parquet(f"{gsrc}/b0")
        stream_embedding_drift(
            spark, gsrc + "/b*", sprof, gout, schema="embedding array<float>"
        )
        solo = spark.read.parquet(f"{gout}/embedding_metrics").collect()[0]
        got = grouped[g]
        assert got.n == solo.n
        for f in (
            "centroid_distance", "variance_change", "avg_dist_to_ref",
            "batch_rms", "drift_score",
        ):
            assert abs(got[f] - solo[f]) < 1e-9, (g, f, got[f], solo[f])
        assert got.drift_detected == solo.drift_detected
        assert got.gated == solo.gated
    assert grouped["b"].drift_detected and not grouped["a"].drift_detected


def test_wrong_dimension_rows_are_left_out_of_the_stream(spark, tmp_path):
    """Rows whose array length differs from the frozen dim (one short,
    one long) neither fail the query nor move any metric: global and
    keyed rows equal those of the batch without them."""
    from llm_drift_detector_spark.streaming import (
        embedding_reference_profile,
        embedding_reference_profile_grouped,
        stream_embedding_drift,
        stream_embedding_drift_grouped,
    )

    rng = np.random.default_rng(101)
    ddl = "provider string, embedding array<float>"
    good = [("a", [float(x) for x in v]) for v in _vecs(rng, U, 60, noise=0.2)]
    bad = [("a", [1.0, 2.0]), ("a", [0.5] * (len(U) + 3))]
    ref = spark.createDataFrame(
        [("a", [float(x) for x in v]) for v in _vecs(rng, U, 200)], ddl
    )
    profiles = {
        "embedding_metrics": embedding_reference_profile(ref, "embedding"),
        "embedding_metrics_grouped": embedding_reference_profile_grouped(
            ref, ["provider"], "embedding"
        ),
    }
    streams = {
        "embedding_metrics": stream_embedding_drift,
        "embedding_metrics_grouped": stream_embedding_drift_grouped,
    }

    def metrics(rows, sink, tag):
        src, out = str(tmp_path / f"src_{tag}"), str(tmp_path / f"out_{tag}")
        spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(f"{src}/b0")
        streams[sink](spark, src + "/b*", profiles[sink], out, schema=ddl)
        got = spark.read.parquet(f"{out}/{sink}").collect()
        assert len(got) == 1
        return got[0].asDict()

    for sink in streams:
        mixed = metrics(good[:30] + bad + good[30:], sink, f"{sink}_mixed")
        clean = metrics(good, sink, f"{sink}_clean")
        assert mixed["n"] == clean["n"] == 60
        for k, v in clean.items():
            if isinstance(v, float):
                assert abs(mixed[k] - v) < 1e-12, (sink, k, mixed[k], v)
            else:
                assert mixed[k] == v, (sink, k)
