"""Golden violation tests for the audio mapInPandas validator
(FIXTURES.md §5.1-5.3): the emitted violation set must equal the
injected set exactly, by (check_name, clip_id).
"""

import pytest

from llm_drift_detector_spark.checks.audio import (
    audio_invariant_violations,
    transcript_mismatches,
)
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


def test_audio_violations_exact_set(synth):
    got = audio_invariant_violations(synth["clips"], synth["reference"]).collect()
    by_check: dict[str, set] = {}
    for r in got:
        by_check.setdefault(r.check_name, set()).add(r.clip_id)
    assert by_check.get("dur_ms_mismatch", set()) == synth["expected"]["dur_ms_mismatch"]
    assert by_check.get("snr_allclose", set()) == synth["expected"]["snr_allclose"]
    assert set(by_check) <= {"dur_ms_mismatch", "snr_allclose"}


def test_transcript_equality_exact_set(synth):
    got = {r.clip_id for r in transcript_mismatches(synth["clips"], synth["transcripts"]).collect()}
    assert got == synth["expected"]["transcript_equality"]


def test_non_violating_rows_pass_snr_invariant(synth):
    """input_hint per-row invariant: every non-injected row decodes allclose."""
    exp = synth["expected"]
    all_flagged = (
        exp["dur_ms_mismatch"] | exp["snr_allclose"] | exp["codec_whitelist"]
    )
    got = audio_invariant_violations(synth["clips"], synth["reference"]).collect()
    assert {r.clip_id for r in got} <= all_flagged


def test_deep_mode_matches_shortcut(synth):
    """deep (decode-everything) and hash_shortcut modes must emit the
    identical violation set — the shortcut is a pure optimization."""
    a = audio_invariant_violations(synth["clips"], synth["reference"])
    b = audio_invariant_violations(synth["clips"], synth["reference"], snr_mode="deep")
    ka = {(r.check_name, r.clip_id) for r in a.collect()}
    kb = {(r.check_name, r.clip_id) for r in b.collect()}
    assert ka == kb


def test_salting_does_not_change_results(synth):
    a = audio_invariant_violations(synth["clips"], synth["reference"], salt=0)
    b = audio_invariant_violations(
        synth["clips"], synth["reference"], n_partitions=3, salt=12345
    )
    ka = {(r.check_name, r.clip_id) for r in a.collect()}
    kb = {(r.check_name, r.clip_id) for r in b.collect()}
    assert ka == kb


def test_wav_rows_covered_by_violation_classes(synth):
    """The wav overlay (i%7==0) must put REAL RIFF/WAVE rows inside the
    violation classes: truncated wav -> dur_ms_mismatch (caught by the
    native header-math fast path), wav at out-of-domain sr ->
    snr_allclose ref_length_mismatch.  Guards against the container
    format silently dropping out of the validated population."""
    import pyspark.sql.functions as F

    clips = synth["clips"]
    wav_ids = {r.clip_id for r in clips.where(F.col("codec") == "wav").collect()}
    assert wav_ids, "synth must contain wav rows"
    got = audio_invariant_violations(synth["clips"], synth["reference"]).collect()
    wav_dur = {r.clip_id for r in got if r.check_name == "dur_ms_mismatch"} & wav_ids
    wav_snr = {r.clip_id for r in got if r.check_name == "snr_allclose"} & wav_ids
    assert wav_dur, "no wav dur_ms_mismatch rows"
    # snr-class wav rows need i%1000==13 AND i%7==0 -> first at i=6013;
    # present from sf0.01 up.  Assert the exact index-math prediction so
    # the test is meaningful at every tier.
    from llm_drift_detector_spark.synth.clips import SEED, WAV_EVERY

    n = SF_ROWS["sf0.001"]
    exp_wav_snr = {
        f"clip-{SEED}-{i:012d}"
        for i in range(n)
        # (i%2000==19 rows force codec pcm_s16le, so only the
        # sr-domain class can carry wav payloads)
        if i % 1000 == 13 and i % WAV_EVERY == 0
    }
    assert wav_snr == exp_wav_snr


def test_golden_parquet_matches_expected_sets(synth, sf_dir):
    """The driver-oracle golden parquet (ensure_expected_audio_violations)
    must equal expected_violations' audio subset exactly."""
    import pyarrow.parquet as pq

    from llm_drift_detector_spark.synth.clips import synth_dir_for

    root = synth_dir_for(sf_dir)
    tbl = pq.read_table(f"{root}/expected_audio_violations")
    got: dict[str, set] = {}
    for check, cid in zip(
        tbl.column("check_name").to_pylist(), tbl.column("clip_id").to_pylist()
    ):
        got.setdefault(check, set()).add(cid)
    exp = synth["expected"]
    assert got == {
        "dur_ms_mismatch": exp["dur_ms_mismatch"],
        "snr_allclose": exp["snr_allclose"],
    }


def _wav_clip_row(cid, pcm, sr):
    from llm_drift_detector_spark import codecs

    payload = codecs.encode(pcm, "wav", sr_hz=sr)
    return (cid, bytearray(payload), sr, round(len(pcm) * 1000.0 / sr), "wav", "t")


def test_wav_native_tier_edge_layouts(spark):
    """Review r4 fixes: (a) a wav with a TRAILING chunk after data must
    not fabricate a dur mismatch — the native tier parses the declared
    data size, matching the decoder; (b) a stereo wav shares the outer
    magic but must route to the chunk walker, which rejects it as
    decode_failed; (c) DEEP mode emits each canonical-wav dur violation
    exactly ONCE (native tier is pcm/opus-only there)."""
    import struct

    import numpy as np

    from llm_drift_detector_spark import codecs
    from llm_drift_detector_spark.checks.audio import audio_invariant_violations
    from llm_drift_detector_spark.synth.clips import make_pcm

    sr = 16000
    ddl = "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string"
    pcm = make_pcm(3, 0, sr, sr // 2)
    good = _wav_clip_row("good", pcm, sr)
    # trailing LIST chunk AFTER data: canonical front, extra tail bytes
    base = codecs.encode(pcm, "wav", sr_hz=sr)
    trailing = base + b"LIST" + struct.pack("<I", 4) + b"INFO"
    trail_row = ("trail", bytearray(trailing), sr, good[3], "wav", "t")
    # stereo wav: flip channels to 2 in the fmt chunk
    stereo = bytearray(base)
    stereo[22] = 2
    stereo_row = ("stereo", stereo, sr, good[3], "wav", "t")
    # truncated canonical wav -> one dur violation
    trunc = base[: int(len(base) * 0.6)]
    trunc_row = ("trunc", bytearray(trunc), sr, good[3], "wav", "t")

    clips = spark.createDataFrame([good, trail_row, stereo_row, trunc_row], ddl)
    # reference rows share the clean payload under each id
    ref = spark.createDataFrame(
        [("good",) + good[1:], ("trail",) + good[1:], ("stereo",) + good[1:], ("trunc",) + good[1:]],
        ddl,
    )

    got = audio_invariant_violations(clips, ref).collect()
    by = {}
    for r in got:
        by.setdefault(r.clip_id, []).append(r.check_name)
    assert "good" not in by
    assert "trail" not in by, by.get("trail")  # declared-size math, no spurious row
    assert by.get("stereo") == ["dur_ms_mismatch"]  # chunk walker: decode_failed
    assert by.get("trunc") == ["dur_ms_mismatch"]

    deep = audio_invariant_violations(clips, ref, snr_mode="deep").collect()
    deep_pairs = [(r.check_name, r.clip_id) for r in deep]
    assert len(deep_pairs) == len(set(deep_pairs)), deep_pairs  # no double-emit
    assert deep_pairs.count(("dur_ms_mismatch", "trunc")) == 1


def _leaves(df) -> list:
    plan = df._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    return [leaves.apply(i) for i in range(leaves.size())]


def _columns(leaf) -> list[str]:
    out = leaf.output()
    return [out.apply(j).name() for j in range(out.size())]


def _fetched_ids(df) -> set[str]:
    """The targeted SNR fetch's id set, read off the returned plan: the
    rows of the broadcast id frame (a one-column ``clip_id`` local
    relation) or, failing that, the literals of the ``clip_id
    IN``/``INSET`` filter."""
    import re

    from pyspark.sql import DataFrame

    spark = df.sparkSession
    for leaf in _leaves(df):
        if leaf.nodeName() == "LocalRelation" and _columns(leaf) == ["clip_id"]:
            jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                spark._jsparkSession, leaf
            )
            return {r.clip_id for r in DataFrame(jdf, spark).collect()}
    text = df._jdf.queryExecution().optimizedPlan().toString()
    m = re.search(r"clip_id#\d+ INSET ([^,()\s]+(?:, [^,()\s]+)*)", text)
    if m:
        return set(m.group(1).split(", "))
    m = re.search(r"clip_id#\d+ IN \(([^)]*)\)", text)
    return set(m.group(1).split(",")) if m else set()


@pytest.mark.parametrize("shape", [{}, {"max_fetch_ids": 0}], ids=["in_list", "id_frame"])
def test_snr_fetch_targets_exactly_the_payload_differing_ids(synth, shape):
    """The SNR stage fetches reference payloads for exactly the ids whose
    payload differs from the reference: truncated (i%1000==17), resampled
    (i%1000==13) and corrupted (i%2000==19) rows.  A candidate test that
    marks every clip as differing still emits the right verdicts (the
    extra ids compare identical payloads), so only the plan shows it."""
    exp = synth["expected"]
    differing = exp["dur_ms_mismatch"] | exp["snr_allclose"]
    df = audio_invariant_violations(synth["clips"], synth["reference"], **shape)
    assert _fetched_ids(df) == differing


@pytest.mark.parametrize("shape", [{}, {"max_fetch_ids": 0}], ids=["in_list", "id_frame"])
def test_driver_verdicts_and_id_frame_are_local_relations(synth, shape):
    """The frozen native verdicts (and, past the In-list cap, the id
    frame) re-enter the plan as Arrow local relations: no leaf is a
    pickled Python RDD, whose scan would start Python workers."""
    df = audio_invariant_violations(synth["clips"], synth["reference"], **shape)
    leaves = _leaves(df)
    assert "LogicalRDD" not in {leaf.nodeName() for leaf in leaves}
    local = [_columns(leaf) for leaf in leaves if leaf.nodeName() == "LocalRelation"]
    assert ["clip_id", "check_name", "detail"] in local
    assert (["clip_id"] in local) == ("max_fetch_ids" in shape)
