"""Query-by-audio retrieval: fingerprint-pruned top-k.

The audio analogue of the text ANN suite (``textops/similarity.py``):
given ONE query clip, find the corpus clips that are acoustically
near-duplicates of it, ranked by zero-lag normalized correlation.

Plan shape (must survive 10^12 rows):

1. The query's fingerprint is computed DRIVER-SIDE (one numpy call on
   one clip) and its 8 (band, band_sig) pairs become literal predicates
   — the corpus fingerprint frame is filtered by an 8-term OR that
   Catalyst evaluates scan-side; with the fingerprint frame stored as
   an Iceberg table partitioned by band_sig prefix this is partition
   pruning, not a scan.
2. Candidates = ids matching >= ``min_band_matches`` of the query's
   bands (same AND-OR amplification as :func:`.dedup.fingerprint_candidates`).
   Only candidate ids — never payloads — leave the filter.
3. The candidate id list broadcasts into the clips scan (targeted
   fetch), each candidate decodes ONCE against the query PCM shipped in
   the task closure (one clip's samples), and the top-k ranking is a
   ``TakeOrderedAndProject``, never a global sort.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..checks.audio import _decode_np
from ..session import local_frame
from .dedup import DEFAULT_BANDS, DEFAULT_FRAMES, _fingerprint_bits


def _query_band_sigs(
    payload: bytes, codec: str, n_frames: int, bands: int
) -> list[tuple[int, str]]:
    bits = _fingerprint_bits(_decode_np(payload, codec), n_frames)
    if bits is None:
        raise ValueError(
            "query clip is undecodable or shorter than n_frames samples"
        )
    out = []
    for band_idx, group in enumerate(np.array_split(bits, bands)):
        sig = 0
        for bit in group:
            sig = (sig << 1) | int(bit)
        out.append((band_idx, format(sig, "x")))
    return out


def audio_topk(
    clips: DataFrame,
    query_payload: bytes,
    query_codec: str,
    k: int = 10,
    id_col: str = "clip_id",
    payload_col: str = "bytes",
    codec_col: str = "codec",
    n_frames: int = DEFAULT_FRAMES,
    bands: int = DEFAULT_BANDS,
    min_band_matches: int = 1,
    min_corr: float = 0.0,
    fingerprints: DataFrame | None = None,
    validate_fingerprints: bool = True,
) -> DataFrame:
    """Top-k acoustically-similar clips for one query: (clip_id,
    bands_matched, corr), corr-descending.

    ``min_band_matches`` defaults to 1 here (unlike all-pairs dedup):
    a single query costs one 8-literal filter, so recall is cheap —
    there is no quadratic blowup to guard against.  Pass a pre-computed
    ``fingerprints`` frame (from :func:`.dedup.audio_fingerprints`,
    ideally a stored table) to skip the corpus decode; otherwise it is
    computed on the fly.
    """
    qsigs = _query_band_sigs(query_payload, query_codec, n_frames, bands)
    qpcm = _decode_np(query_payload, query_codec).astype(np.float64)

    from .dedup import audio_fingerprints

    if fingerprints is not None and validate_fingerprints:
        # A stored frame built with different bands silently yields zero
        # or garbage candidates (the band/band_sig literals would never
        # match) — verify its band range instead (ADVICE r3): min/max
        # over one int column.  This is a full-column aggregate of the
        # stored index, so a HIGH-QPS search loop should validate once
        # and pass validate_fingerprints=False on subsequent queries
        # against the same frame (or persist geometry out of band).
        # n_frames is not recoverable from the sigs; mismatches there
        # degrade recall, which min_corr re-ranking bounds — documented
        # caveat.
        rng = fingerprints.agg(
            F.min("band").alias("lo"), F.max("band").alias("hi")
        ).collect()[0]
        if rng.lo is not None and (rng.lo < 0 or rng.hi != bands - 1):
            raise ValueError(
                f"stored fingerprints band range [{rng.lo}, {rng.hi}] does not "
                f"match bands={bands}; rebuild with audio_fingerprints(..., "
                f"bands={bands}) or pass the matching bands="
            )
        fp = fingerprints
    elif fingerprints is not None:
        fp = fingerprints
    else:
        fp = audio_fingerprints(
            clips,
            id_col=id_col,
            payload_col=payload_col,
            codec_col=codec_col,
            n_frames=n_frames,
            bands=bands,
        )
    cond = None
    for band_idx, sig in qsigs:
        term = (F.col("band") == band_idx) & (F.col("band_sig") == sig)
        cond = term if cond is None else (cond | term)
    cand_ids = (
        fp.where(cond)
        .groupBy("id")
        .agg(F.count("*").alias("bands_matched"))
        .where(F.col("bands_matched") >= min_band_matches)
    )

    payload_proj = clips.select(
        F.col(id_col).alias("id"),
        F.col(payload_col).alias("payload"),
        F.col(codec_col).alias("codec"),
    )
    # targeted fetch (checks/audio.py:328-357): a per-query candidate
    # set is tiny, so push the collected ids into the scan as an isin
    # literal (row-group pruning); the bands_matched column rejoins via
    # broadcast against the already-pruned rows
    cand_rows = cand_ids.limit(1_001).collect()
    if len(cand_rows) <= 1_000:
        fetched = payload_proj.where(
            F.col("id").isin([r.id for r in cand_rows])
        ).join(
            F.broadcast(
                local_frame(
                    clips.sparkSession, cand_rows, "id string, bands_matched bigint"
                )
            ),
            "id",
        )
    else:
        fetched = payload_proj.join(F.broadcast(cand_ids), "id")

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        qn = np.linalg.norm(qpcm)
        for b in batches:
            ids = b.column("id")
            payloads = b.column("payload")
            codecs_ = b.column("codec").to_pylist()
            matched = b.column("bands_matched")
            rows: list[tuple[str, int, float]] = []
            for i in range(b.num_rows):
                x = _decode_np(payloads[i].as_py(), codecs_[i])
                if x is None or len(x) == 0 or qn == 0:
                    continue
                m = min(len(x), len(qpcm))
                xs = x[:m].astype(np.float64)
                nx = np.linalg.norm(xs)
                qs = qpcm[:m]
                nq = np.linalg.norm(qs)
                corr = float(np.dot(xs, qs) / (nx * nq)) if nx and nq else 0.0
                rows.append((ids[i].as_py(), matched[i].as_py(), corr))
            if rows:
                cols = list(zip(*rows))
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(cols[0], type=pa.string()),
                        pa.array(cols[1], type=pa.int64()),
                        pa.array(cols[2], type=pa.float64()),
                    ],
                    names=["clip_id", "bands_matched", "corr"],
                )

    scored = fetched.mapInArrow(
        kernel, "clip_id string, bands_matched bigint, corr double"
    )
    return (
        scored.where(F.col("corr") >= min_corr)
        .orderBy(F.desc("corr"), "clip_id")
        .limit(k)
    )


def audio_build_fingerprint_index(
    clips: DataFrame,
    index_dir: str,
    id_col: str = "clip_id",
    payload_col: str = "bytes",
    codec_col: str = "codec",
    n_frames: int = DEFAULT_FRAMES,
    bands: int = DEFAULT_BANDS,
) -> None:
    """Persist the corpus signature frame PARTITIONED BY band.

    ``audio_topk`` filters on literal ``(band, band_sig)`` pairs, so a
    band-partitioned store turns the candidate lookup into partition
    pruning (only the query's ~``bands`` partitions are listed) before
    the ``band_sig`` predicate pushes into each partition's parquet —
    the same fit-once/search-many shape as the IVF index, at 10^12
    rows an Iceberg table partitioned by ``band`` and sorted by
    ``band_sig`` (file-level min/max pruning).  Decodes the corpus
    exactly once, at build time.
    """
    from .dedup import audio_fingerprints

    (
        audio_fingerprints(
            clips,
            id_col=id_col,
            payload_col=payload_col,
            codec_col=codec_col,
            n_frames=n_frames,
            bands=bands,
        )
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(index_dir)
    )
