"""NULL group keys in the cell model: rows with any NULL key are never
profiled; the stream and the update count them with the unknown-group
rows (the NULL-keyed ``unknown_group`` sink row / ``unknown_rows``)."""

DDL = "codec string, x double, y double"


def _rows(codecs, n):
    return [
        (c, float(100 + (i * 7) % 31), float(10 + (i * 3) % 17))
        for c in codecs
        for i in range(n)
    ]


def test_null_key_rows_are_not_profiled_and_round_trip(spark, tmp_path):
    from llm_drift_detector_spark.streaming import (
        load_profile,
        reference_profile,
        reference_profile_grouped,
        reference_profile_multi_grouped,
        save_profile,
        update_reference_profile,
    )

    ref = spark.createDataFrame(_rows(["a", "b", None], 60), DDL)
    gprof = reference_profile_grouped(ref, ["codec"], "x")
    assert set(gprof["profiles"]) == {("a",), ("b",)}
    solo = reference_profile(spark.createDataFrame(_rows(["a"], 60), DDL), "x")
    got = gprof["profiles"][("a",)]
    for k in ("n", "mean", "var", "mn", "mx", "edges", "js_counts", "psi_counts"):
        assert got[k] == solo[k], k

    mg = reference_profile_multi_grouped(ref, ["codec"], ["x", "y"])
    assert set(mg["profiles"]) == {("a",), ("b",)}
    for prof in (gprof, mg):
        path = str(tmp_path / f"{prof.get('kind', 'grouped')}.json")
        save_profile(prof, path)
        assert load_profile(path) == prof

    # the update counts NULL-key rows as unknown, never folds them
    new = spark.createDataFrame(_rows(["a", None], 20), DDL)
    merged = update_reference_profile(gprof, new)
    assert merged["unknown_rows"] == 20
    assert merged["profiles"][("a",)]["n"] == 80
    assert merged["profiles"][("b",)] == gprof["profiles"][("b",)]
    assert update_reference_profile(mg, new)["unknown_rows"] == 20


def test_null_key_rows_land_in_the_unknown_group_row(spark, tmp_path):
    from llm_drift_detector_spark.streaming import (
        reference_profile_grouped,
        stream_drift_grouped,
    )

    ref = spark.createDataFrame(_rows(["a", "b", None], 60), DDL)
    gprof = reference_profile_grouped(ref, ["codec"], "x")
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    batch = _rows(["a", "b"], 30) + _rows([None], 5) + _rows(["zzz"], 4)
    spark.createDataFrame(batch, DDL).coalesce(1).write.parquet(f"{src}/b0")
    stream_drift_grouped(spark, src + "/b*", gprof, out, schema=DDL)
    rows = {
        r.codec: r
        for r in spark.read.parquet(f"{out}/drift_metrics_grouped").collect()
    }
    assert set(rows) == {"a", "b", None}
    assert rows["a"].n == 30 and not rows["a"].gated
    unknown = rows[None]
    assert unknown.gated_reason == "unknown_group" and unknown.n == 9


def test_embedding_grouped_profile_skips_null_keys_and_round_trips(spark, tmp_path):
    from llm_drift_detector_spark.streaming import (
        embedding_reference_profile_grouped,
        load_profile,
        save_profile,
        update_embedding_reference_profile_grouped,
    )

    ddl = "provider string, embedding array<float>"
    rows = [
        (p, [float(i % 5), float((i * 3) % 7), 1.0])
        for p in ("a", "b", None)
        for i in range(40)
    ]
    prof = embedding_reference_profile_grouped(
        spark.createDataFrame(rows, ddl), ["provider"], "embedding"
    )
    assert set(prof["profiles"]) == {("a",), ("b",)}
    path = str(tmp_path / "embedding_grouped.json")
    save_profile(prof, path)
    assert load_profile(path) == prof
    new = spark.createDataFrame([("a", [1.0, 2.0, 3.0]), (None, [1.0, 2.0, 3.0])], ddl)
    assert update_embedding_reference_profile_grouped(prof, new)["unknown_rows"] == 1


def test_text_grouped_profile_skips_null_keys_and_round_trips(spark, tmp_path):
    from llm_drift_detector_spark.streaming import (
        load_profile,
        save_profile,
        text_reference_profile_grouped,
        update_text_reference_profile_grouped,
    )

    ddl = "provider string, transcript string"
    rows = [
        (p, f"the {w} sat on the mat. it was {w}.")
        for p in ("a", "b", None)
        for w in ("cat", "dog", "bird", "fish")
    ]
    prof = text_reference_profile_grouped(
        spark.createDataFrame(rows, ddl), ["provider"], "transcript"
    )
    assert set(prof["profiles"]) == {("a",), ("b",)}
    path = str(tmp_path / "text_grouped.json")
    save_profile(prof, path)
    assert load_profile(path) == prof
    new = spark.createDataFrame([("a", "the cat sat."), (None, "the cat sat.")], ddl)
    assert update_text_reference_profile_grouped(prof, new)["unknown_rows"] == 1
