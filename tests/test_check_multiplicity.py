"""Check outputs do not depend on how many reference rows share an id,
and the relational checks only read the columns their active checks
need."""

from collections import Counter

import pyspark.sql.functions as F
import pytest

from llm_drift_detector_spark.synth import ensure_synth
from llm_drift_detector_spark.synth.clips import SF_ROWS, SynthParams, expected_violations


@pytest.fixture(scope="module")
def synth(spark, sf_dir):
    root = ensure_synth(spark, sf_dir)
    return {
        "clips": spark.read.parquet(f"{root}/clips"),
        "transcripts": spark.read.parquet(f"{root}/transcripts"),
        "reference": spark.read.parquet(f"{root}/clips_reference"),
        "expected": expected_violations(SynthParams(n_rows=SF_ROWS["sf0.001"])),
    }


def test_duplicated_reference_rows_do_not_duplicate_audio_verdicts(synth):
    """k reference rows for one clip_id must not emit k verdicts per
    clips row: the fused pass joins one reference row per id."""
    from llm_drift_detector_spark.checks.audio import audio_invariant_violations

    clips, ref, exp = synth["clips"], synth["reference"], synth["expected"]
    dur_only = sorted(exp["dur_ms_mismatch"] - exp["snr_allclose"])
    assert dur_only
    doubled = ref.unionByName(
        ref.where(F.col("clip_id").isin(dur_only))
    ).unionByName(ref.where(F.col("clip_id").isin(dur_only)))
    assert doubled.where(F.col("clip_id") == dur_only[0]).count() == 3

    def verdicts(reference):
        return Counter(
            (r.check_name, r.clip_id)
            for r in audio_invariant_violations(clips, reference).collect()
        )

    got = verdicts(doubled)
    assert got == verdicts(ref)
    assert {c for c, _ in got} == {"dur_ms_mismatch", "snr_allclose"}
    assert {i for c, i in got if c == "dur_ms_mismatch"} == exp["dur_ms_mismatch"]


def test_relational_checks_run_without_a_transcript_column(spark):
    """Uniqueness and orphan checks alone never read `transcript`, so
    frames without that column validate."""
    from llm_drift_detector_spark.pipeline import RunConfig, violations_frame

    clips = spark.createDataFrame(
        [("c1",), ("c1",), ("c2",), ("c3",)], "clip_id string"
    )
    transcripts = spark.createDataFrame([("c2",), ("c3",), ("t9",)], "clip_id string")
    reference = spark.createDataFrame([("c1",)], "clip_id string")
    cfg = RunConfig(
        run_id="ids", out_dir="unused",
        enabled_checks=(
            "uniqueness", "referential_clip_orphan", "referential_transcript_orphan",
        ),
    )
    got = {
        (r.check_name, r.clip_id)
        for r in violations_frame(clips, transcripts, reference, cfg).collect()
    }
    assert got == {
        ("uniqueness", "c1"),
        ("referential_clip_orphan", "c1"),
        ("referential_transcript_orphan", "t9"),
    }


@pytest.mark.parametrize("fetch", ["broadcast", "pair_join"])
def test_duplicated_reference_rows_of_snr_candidates_emit_one_verdict(synth, fetch):
    """k reference rows for an SNR-candidate id must not emit k verdicts
    per clips row, on the broadcast fetch (candidates at most
    ``max_broadcast_fetch_ids``) and on the shuffled pair-join fetch
    (above it)."""
    from llm_drift_detector_spark.checks.audio import audio_invariant_violations

    clips, ref, exp = synth["clips"], synth["reference"], synth["expected"]
    candidates = sorted(exp["dur_ms_mismatch"] | exp["snr_allclose"])
    dup = ref.where(F.col("clip_id").isin(candidates))
    tripled = ref.unionByName(dup).unionByName(dup)
    assert tripled.where(F.col("clip_id") == candidates[0]).count() == 3
    cap = len(candidates) if fetch == "broadcast" else len(candidates) - 1

    got = Counter(
        (r.check_name, r.clip_id)
        for r in audio_invariant_violations(
            clips, tripled, max_broadcast_fetch_ids=cap
        ).collect()
    )
    want = Counter(
        (c, i) for c in ("dur_ms_mismatch", "snr_allclose") for i in exp[c]
    )
    assert got == want


def test_deep_mode_duplicated_reference_rows_emit_one_verdict(synth):
    """Deep SNR mode joins every clips row to its reference rows: k
    reference rows for an id must still emit each verdict once."""
    from llm_drift_detector_spark.checks.audio import audio_invariant_violations

    clips, ref, exp = synth["clips"], synth["reference"], synth["expected"]
    candidates = sorted(exp["dur_ms_mismatch"] | exp["snr_allclose"])
    dup = ref.where(F.col("clip_id").isin(candidates))
    tripled = ref.unionByName(dup).unionByName(dup)

    def verdicts(reference):
        return Counter(
            (r.check_name, r.clip_id)
            for r in audio_invariant_violations(
                clips, reference, snr_mode="deep"
            ).collect()
        )

    got, once = verdicts(tripled), verdicts(ref)
    assert got == once
    assert set(got.values()) == {1}
    assert {c for c, _ in got} == {"dur_ms_mismatch", "snr_allclose"}
