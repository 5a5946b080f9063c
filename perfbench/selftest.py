"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

1. The violation gate trips on a corrupted violation row (a changed,
   duplicated or dropped row) and passes the true set.
2. A tiny-size run of every workload (those in BENCHMARK.json first),
   untraced and traced, prints a result line whose metric names and
   units are exactly the ``end_to_end`` (untraced) or ``per_layer``
   (traced) entries of BENCHMARK.json, with every gate passing.
3. In a directory holding only BENCHMARK.json and the benchmark's files
   (no engine package), the benchmark exits non-zero without a result.

Exits non-zero on the first failure.  Takes a few minutes (one Spark
session per run).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import ROOT, WORKSPACE  # noqa: E402
from inputs import expected_pairs, violation_gate  # noqa: E402
from run import WORKLOADS  # noqa: E402


def check(cond: bool, what: str) -> None:
    print(("ok    " if cond else "FAIL  ") + what, flush=True)
    if not cond:
        sys.exit(1)


def gate_trips() -> None:
    sys.path.insert(0, ROOT)
    from llm_drift_detector_spark.synth import SynthParams

    expected = expected_pairs(SynthParams(n_rows=2500, seed=1))
    rows = sorted(expected)
    check(violation_gate(rows, expected) == [], "gate passes the expected violation rows")
    first_check, first_id = rows[0]
    other_check = "sr_hz_domain" if first_check != "sr_hz_domain" else "codec_whitelist"
    corrupted = {
        "changed clip_id": [(first_check, first_id + "-x")] + rows[1:],
        "changed check_name": [(other_check, first_id)] + rows[1:],
        "duplicated row": rows + [rows[0]],
        "dropped row": rows[1:],
    }
    for what, bad in corrupted.items():
        check(violation_gate(bad, expected) != [], f"gate trips on a {what}")


def result_line(cmd: list[str], cwd: str) -> tuple[int, dict | None]:
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None


def tiny_runs(bench: dict) -> None:
    listed = [w["name"] for w in bench["workloads"]]
    for w in listed + [w for w in WORKLOADS if w not in listed]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [*bench["command"], "--workload", w, "--seed", "1",
                   "--seconds", "2", "--trace", str(trace), "--size", "tiny"]
            code, res = result_line(cmd, ROOT)
            what = f"{w} trace {trace}"
            check(code == 0 and res is not None, f"{what}: exit 0 with a result line")
            check(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{what}: result keys")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{what}: gates pass ({res['attempted']} attempted, {res['failed']} failed)")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{what}: metric names and units match BENCHMARK.json {key}"
                  + ("" if got == want else f" (missing {sorted(set(want) - set(got))}, "
                     f"extra {sorted(set(got) - set(want))})"))


def bare_directory(bench: dict) -> None:
    bare = os.path.join(WORKSPACE, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    w = bench["workloads"][0]["name"]
    code, res = result_line([*bench["command"], "--workload", w, "--seed", "1",
                             "--seconds", "2", "--trace", "0"], bare)
    shutil.rmtree(bare, ignore_errors=True)
    check(code != 0 and res is None, f"without the engine: exit {code}, no result line")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    gate_trips()
    bare_directory(bench)
    tiny_runs(bench)
    return 0


if __name__ == "__main__":
    sys.exit(main())
