"""The ``stream_monitor`` workload: an open loop against the streaming
monitor, wired the way ``jobs/monitor_stream.py`` wires it.

One generator thread atomically renames pre-built clip files into the
watched directory on a fixed schedule while ``stream_validate`` and
``stream_drift`` (frozen ``reference_profile``) run continuously.  A
file's latency runs from its scheduled drop time to the later of the
two queries' commits of the micro-batch that read it; both are read
back from the queries' own checkpoints (file-source log + commit log).
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import replace

from harness import median, tail
from inputs import STREAM_EXCLUDED, expected_pairs, table_facts, violation_gate, write_table

# nominal open-loop schedule: one file every DROP_INTERVAL_S seconds
DROP_INTERVAL_S = 0.25
# warm-up: the open loop itself for this many files (JIT and codegen
# keep speeding triggers up for about five micro-batches)
WARMUP_FILES = 16
# limit on latency_tail_s: three validation micro-batches at this box's
# measured warm trigger time at the nominal rate (~4 s on 4 cores)
LATENCY_LIMIT_S = 12.0
# a file not committed this long after its phase ends counts as failed
DRAIN_DEADLINE_S = 60.0
CLIPS_PER_FILE = {"full": 50, "tiny": 20}


def _log_entries(log_dir: str) -> list[dict]:
    out = []
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(log_dir, name)) as f:
            out.extend(json.loads(ln) for ln in f.read().splitlines()[1:] if ln.strip())
    return out


def committed_files(checkpoint: str) -> dict[str, tuple[int, float]]:
    """basename -> (batch id, commit time) for every file of a committed
    micro-batch, from the query's file-source log and commit log."""
    commits = {}
    cdir = os.path.join(checkpoint, "commits")
    if os.path.isdir(cdir):
        for name in os.listdir(cdir):
            if name.isdigit():
                commits[int(name)] = os.path.getmtime(os.path.join(cdir, name))
    out = {}
    for e in _log_entries(os.path.join(checkpoint, "sources", "0")):
        b = int(e["batchId"])
        if b in commits:
            out[os.path.basename(e["path"])] = (b, commits[b])
    return out


def data_progress(q, batches: set[int] = frozenset(), timeout_s: float = 10.0) -> list[dict]:
    """Progress of the query's micro-batches that read data.  A batch's
    progress is posted just after its commit, so wait (briefly) until
    every batch id in ``batches`` is there."""
    deadline = time.time() + timeout_s
    while True:
        ps = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        if batches <= {p["batchId"] for p in ps} or time.time() > deadline:
            return ps
        time.sleep(0.05)


def trigger_metrics(pv: list[dict], pd: list[dict]) -> dict:
    """streaming.* per-trigger metrics from the validation (pv) and drift
    (pd) queries' progress."""

    def p50(ps, key):
        return median([p["durationMs"].get(key, 0) for p in ps]) if ps else 0.0

    trig = [p["durationMs"]["triggerExecution"] for p in pv]
    return {
        "streaming.trigger_ms_p50": (p50(pv, "triggerExecution"), "ms"),
        "streaming.trigger_ms_max": (float(max(trig, default=0)), "ms"),
        "streaming.add_batch_ms_p50": (p50(pv, "addBatch"), "ms"),
        "streaming.planning_ms_p50": (p50(pv, "queryPlanning"), "ms"),
        "streaming.latest_offset_ms_p50": (p50(pv, "latestOffset"), "ms"),
        "streaming.commit_ms_p50": (p50(pv, "commitOffsets"), "ms"),
        "streaming.drift_trigger_ms_p50": (p50(pd, "triggerExecution"), "ms"),
    }


def start_monitor(spark, watch: str, tables: dict, out: str, tracer,
                  available_now: bool = False, max_files_per_trigger=None):
    """stream_validate + stream_drift against a frozen reference profile,
    as jobs/monitor_stream.py starts them.  Returns the two queries with
    their checkpoint directories."""
    from llm_drift_detector_spark.streaming import (
        reference_profile,
        stream_drift,
        stream_validate,
    )
    from llm_drift_detector_spark.streaming.validate_stream import CLIPS_DDL

    transcripts = spark.read.parquet(tables["transcripts"])
    reference = spark.read.parquet(tables["reference"])
    with tracer.span("streaming.reference_profile"):
        prof = reference_profile(reference, "dur_ms")
    kw = dict(run_id="perfbench", available_now=available_now,
              max_files_per_trigger=max_files_per_trigger)
    with tracer.span("streaming.stream_validate"):
        qv = stream_validate(spark, watch, transcripts, reference, out, **kw)
    with tracer.span("streaming.stream_drift"):
        qd = stream_drift(spark, watch, prof, out, schema=CLIPS_DDL, **kw)
    return (
        (qv, os.path.join(out, "_stream_checkpoint")),
        (qd, os.path.join(out, "_drift_stream_checkpoint")),
    )


def stream_gates(out: str, drift_checkpoint: str, expected: set) -> list[str]:
    """Violation rows equal the batch-local expected set, each once; the
    drift sink holds exactly one row per committed drift epoch."""
    import pyarrow.parquet as pq

    vio = pq.read_table(
        os.path.join(out, "violations_stream"), columns=["check_name", "clip_id"]
    ).to_pylist()
    problems = violation_gate([(r["check_name"], r["clip_id"]) for r in vio], expected)
    epochs = {b for b, _t in committed_files(drift_checkpoint).values()}
    dm = os.path.join(out, "drift_metrics")
    rows = {
        int(d.split("=", 1)[1]): pq.read_table(os.path.join(dm, d)).num_rows
        for d in os.listdir(dm)
        if d.startswith("epoch=")
    }
    if set(rows) != epochs:
        problems.append(f"drift epochs {sorted(rows)} != committed batches {sorted(epochs)}")
    bad = {e: n for e, n in rows.items() if n != 1}
    if bad:
        problems.append(f"drift epochs without exactly one row: {bad}")
    return problems


def wait_committed(checkpoints, names: set[str], deadline: float) -> dict[str, float]:
    """Poll the checkpoints until every name is committed by every query
    (or the deadline passes); name -> the latest of its commit times."""
    while True:
        seen = [committed_files(c) for c in checkpoints]
        done = {n: max(s[n][1] for s in seen) for n in names if all(n in s for s in seen)}
        if len(done) == len(names) or time.time() > deadline:
            return done
        time.sleep(0.05)


class Generator(threading.Thread):
    """Renames each staged file into the watched directory at its
    scheduled time and records how late each rename ran."""

    def __init__(self, files: list[str], watch: str, t0: float, interval: float):
        super().__init__(daemon=True)
        self.files, self.watch, self.t0, self.interval = files, watch, t0, interval
        self.scheduled: dict[str, float] = {}
        self.late_s: list[float] = []

    def run(self) -> None:
        for k, src in enumerate(self.files):
            due = self.t0 + k * self.interval
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            name = os.path.basename(src)
            os.rename(src, os.path.join(self.watch, name))
            self.late_s.append(time.time() - due)
            self.scheduled[name] = due


def backlog_at_drops(gen: Generator, done: dict[str, float]) -> list[int]:
    """Backlog at each drop: files dropped so far minus files committed."""
    return [
        k + 1 - sum(1 for c in done.values() if c <= due)
        for k, due in enumerate(sorted(gen.scheduled.values()))
    ]


class StreamMonitor:
    name = "stream_monitor"
    snr_mode = "hash_shortcut"

    def __init__(self, spark, args, work: str, tracer, size: str):
        self.spark, self.args, self.work, self.tracer = spark, args, work, tracer
        self.per_file = CLIPS_PER_FILE[size]
        self.n_nominal = max(8, int(round(args.seconds / DROP_INTERVAL_S)))
        self.n_files = WARMUP_FILES + self.n_nominal
        from llm_drift_detector_spark.synth import SynthParams

        self.p = SynthParams(n_rows=self.n_files * self.per_file, seed=args.seed)
        self.data = os.path.join(work, "data")
        self.watch = os.path.join(self.data, "watch")
        self.out = os.path.join(work, "out")

    def setup(self) -> None:
        """Pre-build the stream files and static inputs, freeze the
        reference profile and static sides, start both queries and run
        the warm-up files through them."""
        staged = os.path.join(self.data, "staged")
        tables = {
            "transcripts": os.path.join(self.data, "transcripts"),
            "reference": os.path.join(self.data, "reference"),
        }
        t0 = time.time()
        with self.tracer.span("synth.generate", input="stream files"):
            write_table(self.p, "clips", staged, self.n_files)
        with self.tracer.span("synth.generate", input="transcripts"):
            write_table(self.p, "transcripts", tables["transcripts"], 4)
        with self.tracer.span("synth.generate", input="reference"):
            write_table(replace(self.p, inject_violations=False), "clips", tables["reference"], 4)
        self.gen_s = time.time() - t0
        self.files = sorted(
            os.path.join(staged, n) for n in os.listdir(staged) if n.endswith(".parquet")
        )
        if len(self.files) != self.n_files:
            raise RuntimeError(f"expected {self.n_files} stream files, got {len(self.files)}")
        self.facts = {"stream_files": table_facts(staged)}
        self.facts.update({k: table_facts(v) for k, v in tables.items()})
        os.makedirs(self.watch)
        self.tables = {"clips": self.watch, **tables}
        self.queries = start_monitor(self.spark, self.watch, tables, self.out, self.tracer)
        self.checkpoints = [c for _q, c in self.queries]
        with self.tracer.span("streaming.warmup"):
            gen = Generator(self.files[:WARMUP_FILES], self.watch, time.time(), DROP_INTERVAL_S)
            gen.start()
            gen.join()
            self.warm = set(gen.scheduled)
            done = wait_committed(self.checkpoints, self.warm, time.time() + DRAIN_DEADLINE_S)
            if len(done) != len(self.warm):
                raise RuntimeError("warm-up files were not committed")

    def measure(self) -> dict:
        """Open loop at the nominal rate for --seconds."""
        nominal = self.files[WARMUP_FILES:]
        with self.tracer.span("streaming.open_loop", files=len(nominal)):
            gen = Generator(nominal, self.watch, time.time() + 0.05, DROP_INTERVAL_S)
            gen.start()
            gen.join()
            names = set(gen.scheduled)
            done = wait_committed(self.checkpoints, names, time.time() + DRAIN_DEADLINE_S)
        failed = len(names) - len(done)
        # a file never committed misses the latency limit too
        samples = [done[n] - gen.scheduled[n] for n in done] + [float("inf")] * failed
        backlog = backlog_at_drops(gen, done)
        nominal_progress = []
        for q, c in self.queries:
            batches = {b for n, (b, _t) in committed_files(c).items() if n in names}
            nominal_progress.append(
                [p for p in data_progress(q, batches) if p["batchId"] in batches])
        # wait for the last batch's progress, posted just after its commit
        self.final_progress = [
            data_progress(q, {b for b, _t in committed_files(c).values()})
            for q, c in self.queries
        ]
        for q, _c in self.queries:
            q.stop()

        problems = stream_gates(
            self.out, self.checkpoints[1], expected_pairs(self.p, exclude=STREAM_EXCLUDED)
        )
        lat_p50 = median(samples)
        lat_tail, pct, n = tail(samples)
        within = sum(1 for s in samples if s <= LATENCY_LIMIT_S)
        rate = self.per_file / DROP_INTERVAL_S
        span = max(done.values(), default=0.0) - min(gen.scheduled.values())
        self.stream_metrics = {
            **trigger_metrics(*nominal_progress),
            "streaming.input_rows_ratio": (
                sum(p["numInputRows"] for p in self.final_progress[0])
                / (self.n_files * self.per_file), "ratio"),
            "streaming.backlog_files_max": (float(max(backlog)), "count"),
            "streaming.generator_late_ms_max": (1000.0 * max(gen.late_s), "ms"),
        }
        return {
            "metrics": {
                "job_wall_s": (median(
                    [p["durationMs"]["triggerExecution"] / 1000.0 for p in nominal_progress[0]]
                ), "s"),
                "clips_per_s": (len(done) * self.per_file / span if span > 0 else 0.0, "clips/s"),
                "latency_p50_s": (lat_p50, "s"),
                "latency_tail_s": (lat_tail, "s"),
            },
            "attempted": self.n_files,
            "failed": failed,
            "problems": problems,
            "lines": [
                f"open loop: {len(names)} files x {self.per_file} clips, one every "
                f"{DROP_INTERVAL_S} s ({rate:.0f} clips/s); "
                f"warm-up {len(self.warm)} files",
                f"latency p50 {lat_p50:.3f} s, p{pct} {lat_tail:.3f} s over {n} files; "
                f"{within}/{len(samples)} within the {LATENCY_LIMIT_S} s limit",
                "backlog at each drop (files): " + " ".join(str(b) for b in backlog),
                "validation triggers (s): " + " ".join(
                    f"{p['durationMs']['triggerExecution'] / 1000:.1f}" for p in self.final_progress[0]),
                "drift triggers (s): " + " ".join(
                    f"{p['durationMs']['triggerExecution'] / 1000:.1f}" for p in self.final_progress[1]),
            ],
        }


def drain_layer(spark, wl, work: str, tracer) -> tuple[dict, list[str]]:
    """streaming.* for a batch workload: the workload's clip files land
    on the running monitor one every DROP_INTERVAL_S (hard links, so the
    batch inputs stay in place), read one file per trigger.  Returns the
    metrics and the drain's gate problems."""
    clips = wl.facts["clips"]
    out = os.path.join(work, "drain")
    staged, watch = os.path.join(out, "staged"), os.path.join(out, "watch")
    os.makedirs(staged)
    os.makedirs(watch)
    files = []
    for n in sorted(os.listdir(clips["path"])):
        if n.endswith(".parquet"):
            files.append(os.path.join(staged, n))
            os.link(os.path.join(clips["path"], n), files[-1])
    with tracer.span("streaming.drain", files=len(files)):
        queries = start_monitor(spark, watch, wl.tables, out, tracer, max_files_per_trigger=1)
        checkpoints = [c for _q, c in queries]
        gen = Generator(files, watch, time.time() + 0.05, DROP_INTERVAL_S)
        gen.start()
        gen.join()
        done = wait_committed(checkpoints, set(gen.scheduled), time.time() + DRAIN_DEADLINE_S)
        pv, pd = (data_progress(q, {b for b, _t in committed_files(c).values()})
                  for q, c in queries)
        for q, _c in queries:
            q.stop()
    problems = stream_gates(out, checkpoints[1], expected_pairs(wl.p, exclude=STREAM_EXCLUDED))
    if len(done) != len(files):
        problems.append(f"{len(files) - len(done)} drained files not committed")
    return {
        **trigger_metrics(pv, pd),
        "streaming.input_rows_ratio": (sum(p["numInputRows"] for p in pv) / clips["rows"], "ratio"),
        "streaming.backlog_files_max": (float(max(backlog_at_drops(gen, done))), "count"),
        "streaming.generator_late_ms_max": (1000.0 * max(gen.late_s), "ms"),
    }, problems
