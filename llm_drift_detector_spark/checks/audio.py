"""Audio payload constraints — the graft's custom decoder operator.

BASELINE.json north_star: "audio-payload constraints (sr_hz domain,
dur_ms vs decoded PCM length, codec whitelist, decoded-PCM SNR>=30dB
allclose vs reference) run inside mapInPandas decoders with salted
repartitioning on clip_id".  sr_hz / codec are pure native filters
(:mod:`.domain`); this module covers the checks that touch the payload:

- ``dur_ms_mismatch``: |dur_ms - n_samples * 1000 / sr_hz| > tolerance,
  or the payload fails to decode (truncated/corrupt stream).
- ``snr_allclose``: decoded PCM vs the reference row's decoded PCM has
  SNR < 30 dB (length mismatches short-circuit to dur_ms_mismatch and
  skip SNR — disjoint violation classes, FIXTURES.md §1).

Execution strategy — payloads never shuffle, Python sees only what it
must decode.  Measured at sf0.1/local[32]: a naive
join-everything-then-mapInPandas plan ran ~70 s, dominated NOT by
decoding (~2 s of numpy across 32 workers) but by (a) shuffling payload
bytes through the sort-merge join and (b) streaming them through the
Arrow channel to Python.  The plan here:

1. dur_ms for byte-length-derivable codecs (pcm_s16le: 2 B/sample,
   opus/mu-law: 1 B/sample) is a NATIVE expression on ``length(bytes)``
   straight off the scan — no join, payloads stay in the JVM.
2. SNR candidates come from a HASH-ONLY join:
   ``xxhash64(bytes)`` is projected on each side before the shuffle, so
   the clip<->reference equi-join moves ~50 bytes/row instead of the
   payloads.  Equal hashes => identical payload => identical decoded
   PCM => SNR = +inf (pass) with no decode at all.
3. flac rows (decoded length needs a decompress) flow scan -> mapInArrow
   directly on byte-uniform file-split partitions; the salted
   repartition ``repartition(n, xxhash64(clip_id, salt))`` is the
   OPT-IN rebalance (``salted=True``) for physically skewed stores —
   since r6 the default skips that payload-bytes exchange (guide §2.4).
4. Only the differing-payload rows (genuinely suspicious, ~violation
   rate of the table) fetch both payloads — by broadcast-joining their
   clip_ids against each table — and decode for the real SNR compare.

At 10^12 rows the hash join should additionally be storage-partitioned
(both Iceberg tables bucketed by clip_id -> no shuffle at all), and the
broadcast-id fetches become bucket-pruned scans.  The design stays
decode-bound, not pipe-bound.

Transcript equality (FIXTURES invariant #2) needs no decoding and stays
a native join filter: :func:`transcript_mismatches`.

Real-audio note: swap :mod:`..codecs`' decode for a soundfile/ffmpeg
call with the same signature; the plan shape is unchanged (the
byte-length fast path then applies to raw-PCM containers only).
"""

from __future__ import annotations

import json
import zlib
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..codecs import WAV_HEADER_BYTES, wav_parse
from ..config import CODEC_WHITELIST, DUR_MS_TOLERANCE, SNR_DB_MIN
from ..session import local_frame

AUDIO_VIOLATIONS_SCHEMA = "clip_id string, check_name string, detail string"

# marker check_name for SNR-candidate rows inside the fused eager pass —
# never escapes audio_invariant_violations
_DIFFERING = "__differing__"

_BYTES_PER_SAMPLE = {"pcm_s16le": 2, "opus": 1}  # length-derivable codecs

# Clips-row identity for the fetch joins: k reference rows sharing a
# candidate's clip_id join k copies of its clips row, all in one task, so
# the SNR kernels emit at most one verdict per ``__row`` (the first
# violating reference row; the verdict fires iff ANY reference row
# violates, the same rule the candidate EXISTS applies to hashes).
_ROW_ID = F.monotonically_increasing_id


def wav_canonical_pred() -> F.Column:
    """Native predicate: payload is a canonical-layout PCM wav (44-byte
    RIFF + 16-byte fmt + data header, the layout our encoder and most
    real writers emit).  Checks the FULL canonical front — RIFF/WAVE
    magic, ``fmt `` chunk of size 16 declaring PCM (format 1), mono,
    16-bit, then ``data`` — not just the outer magic: a stereo or
    IEEE-float wav shares the RIFF/WAVE/data markers but must go to the
    chunk-walking decoder (which rejects it as unsupported layout), not
    the (len-44)/2 math with the wrong bytes-per-frame.  For rows that
    pass, :func:`wav_native_n_samples` is a pure JVM expression that
    mirrors the decoder exactly.  Anything else (extra leading chunks,
    damaged header) falls through to Python.
    """
    return (
        (F.length("bytes") >= WAV_HEADER_BYTES)
        & (F.substring("bytes", 1, 4) == F.lit(b"RIFF"))
        & (F.substring("bytes", 9, 4) == F.lit(b"WAVE"))
        & (F.substring("bytes", 13, 4) == F.lit(b"fmt "))
        # fmt size = 16, audio_format = 1 (PCM), channels = 1 (LE)
        & (F.substring("bytes", 17, 8) == F.lit(b"\x10\x00\x00\x00\x01\x00\x01\x00"))
        # bits_per_sample = 16 (LE) immediately before the data chunk
        & (F.substring("bytes", 35, 6) == F.lit(b"\x10\x00data"))
    )


def wav_native_n_samples() -> F.Column:
    """Decoded sample count of a canonical wav, as a JVM expression that
    MATCHES the chunk walker: min(declared data-chunk size, bytes
    actually present) // 2.  The declared size is parsed from the
    little-endian uint32 at bytes 41-44 via hex-string reversal, so a
    wav with trailing chunks after data (LIST/INFO from real writers)
    counts only its data bytes instead of fabricating a dur mismatch,
    and a truncated file counts what is present.
    """
    hx = F.hex(F.substring("bytes", 41, 4))  # "AABBCCDD", AA = byte 41
    declared = F.conv(
        F.concat(
            F.substring(hx, 7, 2),
            F.substring(hx, 5, 2),
            F.substring(hx, 3, 2),
            F.substring(hx, 1, 2),
        ),
        16,
        10,
    ).cast("long")
    available = F.length("bytes") - F.lit(WAV_HEADER_BYTES)
    return F.floor(F.least(declared, available.cast("long")) / 2)


def _decode_np(buf, codec: str) -> np.ndarray | None:
    """Payload -> float32-equivalent sample array (int16/uint8 domain is
    fine for SNR: it is converted before the dB computation)."""
    if codec == "pcm_s16le":
        n = len(buf) - (len(buf) % 2)
        return np.frombuffer(buf[:n], dtype="<i2").astype(np.float32) / 32767.0
    if codec == "opus":
        y = np.frombuffer(buf, dtype=np.uint8).astype(np.float32) / 127.5 - 1.0
        return np.sign(y) * np.expm1(np.abs(y) * np.log1p(255.0)) / 255.0
    if codec == "flac":
        try:
            raw = zlib.decompress(buf)
        except zlib.error:
            return None
        return np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32767.0
    if codec == "wav":
        try:
            data, _sr = wav_parse(bytes(buf))
        except ValueError:
            return None
        n = len(data) - (len(data) % 2)
        return np.frombuffer(data[:n], dtype="<i2").astype(np.float32) / 32767.0
    return None


def _snr_db(ref: np.ndarray, cur: np.ndarray) -> float:
    noise = np.sum((ref.astype(np.float64) - cur.astype(np.float64)) ** 2)
    if noise == 0.0:
        return float("inf")
    sig = np.sum(ref.astype(np.float64) ** 2)
    if sig == 0.0:
        return float("-inf")
    return float(10.0 * np.log10(sig / noise))


_OUT_SCHEMA = pa.schema(
    [("clip_id", pa.string()), ("check_name", pa.string()), ("detail", pa.string())]
)


def _emit(rows: list[tuple[str, str, str]]) -> Iterator[pa.RecordBatch]:
    if rows:
        cols = list(zip(*rows))
        yield pa.RecordBatch.from_arrays(
            [pa.array(list(c), type=pa.string()) for c in cols], schema=_OUT_SCHEMA
        )


def _decoded_dur_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Decode-path dur_ms check (flac needs a decompress; non-canonical
    wav needs the chunk walker) — decoded length is not byte-derivable."""
    for b in batches:
        ids = b.column("clip_id")
        payloads = b.column("bytes")
        srs = b.column("sr_hz")
        durs = b.column("dur_ms")
        codecs_ = b.column("codec").to_pylist()
        rows: list[tuple[str, str, str]] = []
        for i in range(b.num_rows):
            pcm = _decode_np(payloads[i].as_py(), codecs_[i])
            if pcm is None:
                rows.append(
                    (ids[i].as_py(), "dur_ms_mismatch", json.dumps({"error": "decode_failed"}))
                )
                continue
            sr = srs[i].as_py()
            implied = len(pcm) * 1000.0 / sr if sr else float("inf")
            if abs(durs[i].as_py() - implied) > DUR_MS_TOLERANCE:
                rows.append(
                    (
                        ids[i].as_py(),
                        "dur_ms_mismatch",
                        json.dumps({"dur_ms": durs[i].as_py(), "implied_ms": round(implied, 3)}),
                    )
                )
        yield from _emit(rows)


def _snr_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """SNR compare for differing-payload rows; rows whose dur/decode is
    bad are skipped (the dur_ms checks own them — disjoint classes).
    One verdict per clips row (``__row``, see ``_ROW_ID``)."""
    done: set[int] = set()
    for b in batches:
        row_ids = b.column("__row").to_pylist()
        ids = b.column("clip_id")
        payloads = b.column("bytes")
        srs = b.column("sr_hz")
        durs = b.column("dur_ms")
        codecs_ = b.column("codec").to_pylist()
        refs = b.column("ref_bytes")
        ref_codecs = b.column("ref_codec").to_pylist()
        rows: list[tuple[str, str, str]] = []
        for i in range(b.num_rows):
            if row_ids[i] in done:
                continue
            pcm = _decode_np(payloads[i].as_py(), codecs_[i])
            if pcm is None:
                continue  # decode failure -> dur_ms_mismatch path owns it
            sr = srs[i].as_py()
            implied = len(pcm) * 1000.0 / sr if sr else float("inf")
            if abs(durs[i].as_py() - implied) > DUR_MS_TOLERANCE:
                continue  # dur violation -> not SNR-comparable
            if not refs[i].is_valid:
                continue
            ref_pcm = _decode_np(refs[i].as_py(), ref_codecs[i])
            violation = _snr_violation(ids[i].as_py(), ref_pcm, pcm)
            if violation is not None:
                rows.append(violation)
                done.add(row_ids[i])
        yield from _emit(rows)


def _snr_violation(
    clip_id: str, ref_pcm: np.ndarray | None, pcm: np.ndarray
) -> tuple[str, str, str] | None:
    """snr_allclose verdict for one decoded pair, or None on pass.

    A reference payload that fails to decode or decodes to a DIFFERENT
    length is a genuine current/reference divergence — the current row is
    self-consistent, so no dur_ms_mismatch fires; silently skipping here
    would let the divergence pass with no violation in any class.  Emit
    an explicit snr_allclose violation instead (codecs.snr_db's
    -inf-on-shape-mismatch convention)."""
    if ref_pcm is None:
        return (clip_id, "snr_allclose", json.dumps({"error": "ref_decode_failed"}))
    if len(ref_pcm) != len(pcm):
        return (
            clip_id,
            "snr_allclose",
            json.dumps(
                {"error": "ref_length_mismatch", "ref_n": len(ref_pcm), "cur_n": len(pcm)}
            ),
        )
    snr = _snr_db(ref_pcm, pcm)
    if snr < SNR_DB_MIN:
        return (
            clip_id,
            "snr_allclose",
            json.dumps({"snr_db": round(snr, 2), "min_db": SNR_DB_MIN}),
        )
    return None


def _decode_and_snr_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Merged decode stage: dur check for decode-path rows (flac /
    non-canonical wav, flagged ``__dur_check``) AND the SNR compare for
    rows whose broadcast-attached ``ref_bytes`` is present — one Python
    pass instead of the separate _decoded_dur_arrow + _snr_arrow stages
    (which each re-scanned the payload column).  Verdicts are exactly
    the union of the two kernels': a decode failure or dur mismatch on a
    __dur_check row emits dur_ms_mismatch and suppresses SNR; on a
    native-tier row it just suppresses SNR (the native branch owns its
    dur verdict); SNR fires only for decodable, dur-consistent rows with
    a reference payload attached.  One verdict per clips row
    (``__row``, see ``_ROW_ID``)."""
    done: set[int] = set()
    for b in batches:
        row_ids = b.column("__row").to_pylist()
        ids = b.column("clip_id")
        payloads = b.column("bytes")
        srs = b.column("sr_hz")
        durs = b.column("dur_ms")
        codecs_ = b.column("codec").to_pylist()
        dur_checks = b.column("__dur_check").to_pylist()
        refs = b.column("ref_bytes")
        ref_codecs = b.column("ref_codec").to_pylist()
        rows: list[tuple[str, str, str]] = []
        for i in range(b.num_rows):
            if row_ids[i] in done:
                continue
            pcm = _decode_np(payloads[i].as_py(), codecs_[i])
            if pcm is None:
                if dur_checks[i]:
                    rows.append(
                        (ids[i].as_py(), "dur_ms_mismatch", json.dumps({"error": "decode_failed"}))
                    )
                    done.add(row_ids[i])
                continue
            sr = srs[i].as_py()
            implied = len(pcm) * 1000.0 / sr if sr else float("inf")
            if abs(durs[i].as_py() - implied) > DUR_MS_TOLERANCE:
                if dur_checks[i]:
                    rows.append(
                        (
                            ids[i].as_py(),
                            "dur_ms_mismatch",
                            json.dumps({"dur_ms": durs[i].as_py(), "implied_ms": round(implied, 3)}),
                        )
                    )
                    done.add(row_ids[i])
                continue
            if not refs[i].is_valid:
                continue
            ref_pcm = _decode_np(refs[i].as_py(), ref_codecs[i])
            violation = _snr_violation(ids[i].as_py(), ref_pcm, pcm)
            if violation is not None:
                rows.append(violation)
                done.add(row_ids[i])
        yield from _emit(rows)


def _deep_validate_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Deep mode: decode BOTH payloads for every row — flac dur check +
    SNR everywhere.  pcm/opus dur is still caught natively upstream.
    One verdict per clips row (``__row``, see ``_ROW_ID``): the dur
    verdict depends on the clips row alone, and SNR fires iff some
    reference row of the id violates."""
    done: set[int] = set()
    for b in batches:
        row_ids = b.column("__row").to_pylist()
        ids = b.column("clip_id")
        payloads = b.column("bytes")
        srs = b.column("sr_hz")
        durs = b.column("dur_ms")
        codecs_ = b.column("codec").to_pylist()
        refs = b.column("ref_bytes")
        ref_codecs = b.column("ref_codec").to_pylist()
        rows: list[tuple[str, str, str]] = []
        for i in range(b.num_rows):
            if row_ids[i] in done:
                continue
            codec = codecs_[i]
            pcm = _decode_np(payloads[i].as_py(), codec)
            if pcm is None:
                if codec in ("flac", "wav"):  # pcm/opus decode can't fail
                    rows.append(
                        (ids[i].as_py(), "dur_ms_mismatch", json.dumps({"error": "decode_failed"}))
                    )
                    done.add(row_ids[i])
                continue
            sr = srs[i].as_py()
            implied = len(pcm) * 1000.0 / sr if sr else float("inf")
            if abs(durs[i].as_py() - implied) > DUR_MS_TOLERANCE:
                if codec in ("flac", "wav"):  # native owns pcm/opus dur rows
                    rows.append(
                        (
                            ids[i].as_py(),
                            "dur_ms_mismatch",
                            json.dumps({"dur_ms": durs[i].as_py(), "implied_ms": round(implied, 3)}),
                        )
                    )
                    done.add(row_ids[i])
                continue
            if not refs[i].is_valid:
                continue
            ref_pcm = _decode_np(refs[i].as_py(), ref_codecs[i])
            violation = _snr_violation(ids[i].as_py(), ref_pcm, pcm)
            if violation is not None:
                rows.append(violation)
                done.add(row_ids[i])
        yield from _emit(rows)


def audio_invariant_violations(
    clips: DataFrame,
    reference: DataFrame,
    n_partitions: int | None = None,
    salt: int = 0,
    snr_mode: str = "hash_shortcut",
    max_fetch_ids: int = 1_000,
    reference_hashes: DataFrame | None = None,
    salted: bool = False,
    max_collected_violations: int = 200_000,
    max_broadcast_fetch_ids: int = 20_000,
) -> DataFrame:
    """Violation rows (clip_id, check_name, detail) from the decode checks.

    `reference` is the clean reference window (same schema as clips); the
    per-row invariant is BASELINE.json input_hint's "decoded-PCM allclose
    (SNR>=30dB)" against the reference row with the same clip_id.

    snr_mode:
    - "hash_shortcut" (default): equal payload bytes => equal decoded
      PCM => SNR pass without decoding.  Valid when decode is a pure
      function of the payload (our deterministic codecs; any bit-exact
      decoder).  Minimizes bytes moved — the I/O-lean path.
    - "deep": decode BOTH payloads for EVERY row and compare SNR — the
      exhaustive per-row invariant, required when reference payloads may
      be re-encoded (decoder versions, lossy re-encodes) so byte
      equality does not imply PCM equality.  CPU-bound by design; this
      is the mode the scaling bench exercises.

    ``reference_hashes`` (optional): a precomputed
    ``(clip_id, rh = xxhash64(bytes))`` frame replacing the internal
    hash pass over the reference payloads.  A caller that validates
    MANY slices against ONE reference window (the streaming monitor:
    one micro-batch per trigger, same reference every time) computes
    and persists it once — ~16 bytes/row vs re-hashing every payload
    per slice.  Only the hash_shortcut candidate join consumes it; the
    targeted payload fetch still goes to ``reference`` (pruned by the
    pushed-down id filter).

    ``salted`` (default False): repartition the Python decode input by
    ``xxhash64(clip_id, salt)`` before the decoder.  File-split scan
    partitions (and, in deep mode, the hash-partitioned join output) are
    already byte-/count-uniform, so the default skips the exchange — it
    moved every payload byte through a shuffle for no placement gain.
    Enable for physically skewed inputs (one giant unsplittable file, a
    store clustered so long clips share few splits).

    ``max_collected_violations``: ceiling on the fused native-dur +
    differing-candidate verdict rows pulled to the driver; past it the
    plan falls back to the fully-lazy round-5 shape (correct at any
    violation rate, extra payload scans).

    Eager contract (``hash_shortcut``): this call RUNS Spark jobs before
    it returns — the fused pass is collected (at most
    ``max_collected_violations + 1`` rows) and, in the lazy fallback,
    the differing ids (at most ``max_fetch_ids + 1``).  The native dur
    verdicts and the SNR candidate ids are frozen into the returned
    frame as local data (Arrow ``LocalRelation`` leaves, scanned in the
    JVM with no Python worker): executing it re-runs only the decode stage (the
    flac / non-canonical wav dur checks and the SNR of the frozen
    candidates), so inputs changed after the call reach neither the
    native verdicts nor the candidate set.  Build the frame when its
    inputs are final and, for many slices, one slice at a time.
    ``snr_mode="deep"`` runs no job here and returns a lazy frame.
    """
    cur = clips.select("clip_id", "bytes", "sr_hz", "dur_ms", "codec")

    # --- 1. native dur_ms for byte-length-derivable codecs (scan-only) ---
    # Canonical wav joins the native tier in shortcut mode: the header
    # predicate routes anything non-canonical to the decoder, and
    # wav_native_n_samples mirrors the decoder's min(declared, present)
    # arithmetic.  In DEEP mode the kernel decodes every row anyway and
    # owns ALL wav dur verdicts — including wav in the native tier there
    # would emit each canonical-wav violation twice (once per tier).
    wav_native = (
        ((F.col("codec") == "wav") & wav_canonical_pred())
        if snr_mode != "deep"
        else F.lit(False)
    )
    n_samples = (
        F.when(F.col("codec") == "pcm_s16le", F.floor(F.length("bytes") / 2))
        .when(F.col("codec") == "opus", F.length("bytes"))
        .when(wav_native, wav_native_n_samples())
    )
    implied_ms = n_samples * 1000.0 / F.col("sr_hz")
    fast_codecs = list(_BYTES_PER_SAMPLE)
    # Same predicate/detail as the round-5 native_dur branch, as reusable
    # columns: the fused pass (hash_shortcut) and the lazy fallback both
    # emit exactly these.
    native_viol_cond = (F.col("codec").isin(fast_codecs) | wav_native) & (
        F.col("sr_hz").isNull()
        | (F.abs(F.col("dur_ms") - implied_ms) > DUR_MS_TOLERANCE)
    )
    native_detail = F.to_json(
        F.struct(F.col("dur_ms"), F.round(implied_ms, 3).alias("implied_ms"))
    )
    native_dur = cur.where(native_viol_cond).select(
        "clip_id",
        F.lit("dur_ms_mismatch").alias("check_name"),
        native_detail.alias("detail"),
    )

    n = int(n_partitions or clips.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if snr_mode == "deep":
        ref_payloads = reference.select(
            "clip_id",
            F.col("bytes").alias("ref_bytes"),
            F.col("codec").alias("ref_codec"),
        )
        # the ONE join in the engine whose both sides carry payload
        # bytes: pin it to sort-merge.  The session prefers shuffled-hash
        # (right for the narrow id/hash joins), but SHJ would build a
        # whole per-partition payload side as an in-memory hash table —
        # at low partition counts that is GBs in one map (guide §3.1's
        # stated OOM risk); SMJ spills gracefully.
        # ``__row`` is taken before the join: k reference rows of one id
        # join k copies of its clips row, and the kernel emits once per row
        pairs = (
            cur.where(F.col("codec").isin(list(CODEC_WHITELIST)))
            .withColumn("__row", _ROW_ID())
            .join(ref_payloads.hint("merge"), "clip_id", "left")
        )
        if salted:
            # see the `salted` docstring note: the equi-join's output is
            # already hash-partitioned by clip_id (count-uniform), so the
            # extra payload-bytes exchange is opt-in.
            pairs = pairs.repartition(n, F.xxhash64("clip_id", F.lit(salt)))
        deep_viol = pairs.mapInArrow(
            _deep_validate_arrow, schema=AUDIO_VIOLATIONS_SCHEMA
        )
        return native_dur.unionByName(deep_viol)

    # --- 3. decode-path dur check: scan -> (salted) -> Python, no join ---
    # flac always (length needs a decompress) + wav rows whose header is
    # not the canonical layout (the chunk walker owns those).
    needs_decode = cur.where(
        (F.col("codec") == "flac") | ((F.col("codec") == "wav") & ~wav_canonical_pred())
    ).select("clip_id", "bytes", "sr_hz", "dur_ms", "codec")
    if salted:
        # Optional decode-cost rebalance.  File-split scan partitions are
        # byte-uniform (maxPartitionBytes), so decode work per task is
        # already even and the default skips this exchange — it shuffles
        # the full flac/wav payload bytes once for no placement gain
        # (guide §2.4: remove shuffles outright when the data is already
        # partitioned as needed).  Pass ``salted=True`` when the input's
        # physical layout IS skewed (e.g. one giant unsplittable file or
        # a store sorted so long clips cluster in few splits).
        needs_decode = needs_decode.repartition(n, F.xxhash64("clip_id", F.lit(salt)))
    flac_viol = needs_decode.mapInArrow(_decoded_dur_arrow, schema=AUDIO_VIOLATIONS_SCHEMA)

    # --- 2. ONE fused pass over (clips bytes ⋈ reference hashes): the
    # native dur_ms verdicts AND the differing-payload SNR candidates
    # come out of the same scan + hash-only join (guide §2.3/§2.4 —
    # everything per-row the JVM can derive from the payload happens in
    # the single pass that hashes it; payloads never shuffle, the join
    # moves ~50 bytes/row).  Both outputs are violation-rate-small, so
    # one eager collect drives the targeted fetch below AND returns the
    # native verdicts without re-scanning payloads (the previous shape
    # re-scanned clips bytes for native_dur, and above the In-pushdown
    # cap recomputed the whole hash-join subtree once per broadcast —
    # 6 full payload scans per run; this shape does 2 + the fetch).
    rh = (
        reference_hashes
        if reference_hashes is not None
        else reference.select("clip_id", F.xxhash64("bytes").alias("rh"))
    )
    narrow = cur.select(
        # outer columns of the EXISTS below are named apart from the
        # reference side's: an outer `clip_id` would resolve to the
        # subquery's own column
        F.col("clip_id").alias("__cid"),
        # shuffle bytes (guide §2.3): the join carries a 1-byte whitelist
        # flag instead of the codec string, and the detail JSON only for
        # the violation-rate rows that emit it (NULL otherwise — the
        # to_json also skips 99%+ of rows that way)
        F.col("codec").isin(list(CODEC_WHITELIST)).alias("__wl"),
        F.xxhash64("bytes").alias("__h"),
        native_viol_cond.alias("__nd"),
        F.when(native_viol_cond, native_detail).alias("__nd_detail"),
    )
    # EXISTS, not a left join: the planner turns it into a broadcast
    # existence join that emits each clips row ONCE however many
    # reference rows share its id (a join would fan k duplicate
    # reference ids out into k copies of the row's dur_ms_mismatch
    # verdict).  An id differs when ANY of its reference payload hashes
    # differs from the clip's.
    differs = (
        rh.select(F.col("clip_id").alias("__rid"), "rh")
        .where(
            (F.col("__rid") == F.col("__cid").outer())
            & (F.col("rh") != F.col("__h").outer())
        )
        .exists()
    )
    marks = F.array(
        F.when(F.col("__nd"), F.struct(F.lit("dur_ms_mismatch").alias("check_name"), F.col("__nd_detail").alias("detail"))),
        F.when(F.col("__differs"), F.struct(F.lit(_DIFFERING).alias("check_name"), F.lit(None).cast("string").alias("detail"))),
    )
    fused = (
        narrow.select("*", (differs & F.col("__wl")).alias("__differs"))
        .select(F.col("__cid").alias("clip_id"), F.explode(F.filter(marks, lambda x: x.isNotNull())).alias("m"))
        .select("clip_id", F.col("m.check_name").alias("check_name"), F.col("m.detail").alias("detail"))
    )
    spark = clips.sparkSession
    fused_rows = fused.limit(max_collected_violations + 1).collect()
    if len(fused_rows) > max_collected_violations:
        # Violation-dominated input: the collected-verdict shape would
        # pull too much to the driver.  Fall back to the fully-lazy plan
        # (native_dur branch + broadcast-subtree fetch) — correct at any
        # violation rate, just re-scans payloads.
        return _audio_invariants_lazy_fallback(
            cur, reference, rh, native_dur, flac_viol, max_fetch_ids
        )
    native_rows = [
        (r.clip_id, r.check_name, r.detail)
        for r in fused_rows
        if r.check_name != _DIFFERING
    ]
    # distinct, insertion-ordered: duplicate clip_ids (uniqueness
    # violations) may each flag, but a repeated id in the broadcast
    # fetch frame would fan the join out and duplicate SNR verdicts
    ids = list(dict.fromkeys(r.clip_id for r in fused_rows if r.check_name == _DIFFERING))
    native_dur_df = local_frame(spark, native_rows, AUDIO_VIOLATIONS_SCHEMA)

    # --- 4. one merged Python stage for decode-dur + SNR ---------------
    # The SNR candidates' reference payloads (violation-rate-small) are
    # fetched once and BROADCAST-joined onto the same clips pass that
    # feeds the decode-path dur check, so the whole Python tier is a
    # single scan -> BroadcastHashJoin -> mapInArrow with zero shuffles
    # (the previous shape ran a second clips scan, a ref scan, and a
    # sort-merge pair join for SNR alone — guide §2.4/§8: decide with
    # small rows, and here even the heavy rows never move).  Id filter:
    # an isin() literal reaches the scan as PushedFilters In(...) below
    # the session threshold; above it a broadcast of the collected id
    # frame (never a re-executed hash join).  Past
    # ``max_broadcast_fetch_ids`` the ref payload set is too big to
    # broadcast — fall back to the shuffled pair-join fetch.
    if len(ids) > max_broadcast_fetch_ids:
        ids_df = local_frame(spark, [(i,) for i in ids], "clip_id string")
        fetch_cur = cur.join(F.broadcast(ids_df), "clip_id").withColumn("__row", _ROW_ID())
        fetch_ref = reference.select(
            "clip_id",
            F.col("bytes").alias("ref_bytes"),
            F.col("codec").alias("ref_codec"),
        ).join(F.broadcast(ids_df), "clip_id")
        pairs = fetch_cur.join(fetch_ref.hint("merge"), "clip_id")  # payload x payload: sort-merge, never a payload hash build
        snr_viol = pairs.mapInArrow(_snr_arrow, schema=AUDIO_VIOLATIONS_SCHEMA)
        return native_dur_df.unionByName(flac_viol).unionByName(snr_viol)

    ref_sel = reference.select(
        "clip_id",
        F.col("bytes").alias("ref_bytes"),
        F.col("codec").alias("ref_codec"),
    )
    if len(ids) <= max_fetch_ids:
        fetch_ref = ref_sel.where(F.col("clip_id").isin(ids))
    else:
        ids_df = local_frame(spark, [(i,) for i in ids], "clip_id string")
        fetch_ref = ref_sel.join(F.broadcast(ids_df), "clip_id")
    decode_cond = (F.col("codec") == "flac") | (
        (F.col("codec") == "wav") & ~wav_canonical_pred()
    )
    merged_in = (
        cur.withColumn("__row", _ROW_ID())
        .join(F.broadcast(fetch_ref), "clip_id", "left")
        .where(decode_cond | F.col("ref_bytes").isNotNull())
        .select(
            "clip_id", "bytes", "sr_hz", "dur_ms", "codec",
            decode_cond.alias("__dur_check"), "ref_bytes", "ref_codec", "__row",
        )
    )
    if salted:
        merged_in = merged_in.repartition(n, F.xxhash64("clip_id", F.lit(salt)))
    decode_viol = merged_in.mapInArrow(
        _decode_and_snr_arrow, schema=AUDIO_VIOLATIONS_SCHEMA
    )
    return native_dur_df.unionByName(decode_viol)


def _audio_invariants_lazy_fallback(
    cur: DataFrame,
    reference: DataFrame,
    rh: DataFrame,
    native_dur: DataFrame,
    flac_viol: DataFrame,
    max_fetch_ids: int,
) -> DataFrame:
    """Round-5 lazy plan shape, kept for violation-dominated inputs where
    collecting the fused verdicts would flood the driver: native_dur as a
    distributed branch, differing ids as a broadcast subquery per fetch
    side.  Costs extra payload scans; only reached past
    ``max_collected_violations``."""
    ch = cur.select("clip_id", "codec", F.xxhash64("bytes").alias("h"))
    differing_ids = (
        ch.join(rh, "clip_id", "inner")
        .where(F.col("codec").isin(list(CODEC_WHITELIST)) & (F.col("h") != F.col("rh")))
        .select("clip_id")
        .distinct()
    )
    id_rows = differing_ids.limit(max_fetch_ids + 1).collect()
    if len(id_rows) <= max_fetch_ids:
        ids = [r.clip_id for r in id_rows]
        fetch_cur = cur.where(F.col("clip_id").isin(ids)).withColumn("__row", _ROW_ID())
        fetch_ref = reference.select(
            "clip_id",
            F.col("bytes").alias("ref_bytes"),
            F.col("codec").alias("ref_codec"),
        ).where(F.col("clip_id").isin(ids))
    else:
        fetch_cur = cur.join(F.broadcast(differing_ids), "clip_id").withColumn("__row", _ROW_ID())
        fetch_ref = reference.select(
            "clip_id",
            F.col("bytes").alias("ref_bytes"),
            F.col("codec").alias("ref_codec"),
        ).join(F.broadcast(differing_ids), "clip_id")
    pairs = fetch_cur.join(fetch_ref.hint("merge"), "clip_id")  # payload x payload: sort-merge, never a payload hash build
    snr_viol = pairs.mapInArrow(_snr_arrow, schema=AUDIO_VIOLATIONS_SCHEMA)
    return native_dur.unionByName(flac_viol).unionByName(snr_viol)


def transcript_mismatches(clips: DataFrame, transcripts: DataFrame) -> DataFrame:
    """transcript_equality violations: joined rows whose text differs.

    Native equi-join + filter — no UDF.  Duplicate transcript rows for a
    clip_id would fan out; the synth generator guarantees at most one.
    """
    t = transcripts.select(
        "clip_id", F.col("transcript").alias("transcript_expected")
    )
    return (
        clips.select("clip_id", "transcript")
        .join(t, "clip_id", "inner")
        .where(
            ~F.col("transcript").eqNullSafe(F.col("transcript_expected"))
        )
        .select("clip_id")
        .distinct()
    )
