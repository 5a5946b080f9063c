"""Seeded inputs and the correctness gates.

Every input is a pure function of the ``--seed`` and the workload's
``SynthParams``: clips, their transcripts and the clean reference window
come from the engine's per-row generators (``synth.clips.make_clip_row``
/ ``make_transcript_rows``, the functions ``synth.generate_clips`` maps
over a Spark range) and are written as parquet part files, each a
contiguous slice of row indices, into the run's private data directory.
The expected violation set comes from ``synth.expected_violations`` for
the same parameters.
"""

from __future__ import annotations

import os
from dataclasses import replace

from harness import dir_stats

# checks the streaming monitor leaves out: their verdicts need the whole
# table, so on one micro-batch they would false-positive
STREAM_EXCLUDED = ("uniqueness", "referential_transcript_orphan")


def _schemas():
    import pyarrow as pa

    clips = pa.schema([
        ("clip_id", pa.string()), ("bytes", pa.binary()), ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()), ("codec", pa.string()), ("transcript", pa.string()),
    ])
    transcripts = pa.schema([
        ("clip_id", pa.string()), ("transcript", pa.string()),
        ("embedding", pa.list_(pa.float32())),
    ])
    return clips, transcripts


def write_table(p, kind: str, path: str, parts: int) -> None:
    """Write rows 0..p.n_rows-1 of ``kind`` ("clips" or "transcripts")
    as ``parts`` parquet files of contiguous index slices."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from llm_drift_detector_spark.synth.clips import make_clip_row, make_transcript_rows

    clips_schema, tr_schema = _schemas()
    os.makedirs(path, exist_ok=True)
    step = -(-p.n_rows // parts)
    for k in range(parts):
        idx = range(k * step, min(p.n_rows, (k + 1) * step))
        if kind == "clips":
            rows, schema = [make_clip_row(p, i) for i in idx], clips_schema
        else:
            rows = [dict(r, embedding=r["embedding"].tolist())
                    for i in idx for r in make_transcript_rows(p, i)]
            schema = tr_schema
        pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                       os.path.join(path, f"part-{k:05d}.parquet"))


def generate(p, data: str, tracer, parts: int) -> dict:
    """Write clips, transcripts and the clean reference for ``p``.
    Returns per-input rows, bytes and files on disk."""
    jobs = (
        ("clips", "clips", p),
        ("transcripts", "transcripts", p),
        ("reference", "clips", replace(p, inject_violations=False)),
    )
    facts = {}
    for name, kind, params in jobs:
        path = os.path.join(data, name)
        with tracer.span("synth.generate", input=name):
            write_table(params, kind, path, parts)
        facts[name] = table_facts(path)
    return facts


def table_facts(path: str) -> dict:
    """Rows (from the parquet footers), bytes and data files of a table."""
    import pyarrow.parquet as pq

    size, files = dir_stats(path)
    rows = sum(
        pq.read_metadata(os.path.join(d, n)).num_rows
        for d, _dirs, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    )
    return {"path": path, "bytes": size, "files": files, "rows": rows}


def expected_pairs(p, exclude: tuple[str, ...] = ()) -> set[tuple[str, str]]:
    """(check_name, clip_id) pairs the engine must emit for ``p``."""
    from llm_drift_detector_spark.synth import expected_violations

    return {
        (check, cid)
        for check, ids in expected_violations(p).items()
        if check not in exclude
        for cid in ids
    }


def violation_gate(rows: list[tuple[str, str]], expected: set[tuple[str, str]]) -> list[str]:
    """Problems with emitted (check_name, clip_id) rows: a missing or
    unexpected pair, or a pair emitted more than once."""
    problems = []
    got = set(rows)
    if len(rows) != len(got):
        problems.append(f"{len(rows) - len(got)} duplicate violation rows")
    missing, extra = expected - got, got - expected
    if missing:
        problems.append(f"{len(missing)} expected violations missing, e.g. {sorted(missing)[0]}")
    if extra:
        problems.append(f"{len(extra)} unexpected violations, e.g. {sorted(extra)[0]}")
    return problems
