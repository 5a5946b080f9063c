"""Incrementally refresh a frozen monitoring profile from new data.

spark-submit --py-files dist/llm_drift_detector_spark.zip \\
    jobs/refresh_profiles.py \\
    --profile-path /path/frozen.json \\
    --new-data /path/new_window_parquet [or table:<name>]

The maintenance half of the continuous-monitoring loop: the monitor
(jobs/monitor_stream.py) compares every micro-batch against a FROZEN
profile; on a cadence, this job folds the latest clean window into the
stored profile WITHOUT touching the data the profile was built from —
every mergeable component merges exactly (count/mean/var/bin counts,
centroids/rms, vocab/style/topics), one fused Spark job per update.
The monitor then hot-swaps the refreshed profile on its next restart
(it re-loads --profile-path).

The profile KIND is auto-detected from the stored JSON, covering the
whole family: distribution (global / grouped / multi-column / matrix),
embedding (global / grouped), text (global / grouped).

The refresh is HONEST about what cannot merge: the summary line
surfaces every ``needs_rebin`` cell (new data escaped the frozen bin
range), ``needs_ppl_rescore`` (the text LM moved), and
``unknown_rows`` (a provider with no frozen profile appeared) — each
is a signal to schedule a full re-freeze, never silently absorbed.
The file is re-written atomically (tmp + rename) so a concurrently
restarting monitor reads either the old or the new profile, never a
torn one.

Prints ONE JSON summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _load_df(spark, spec: str):
    if spec.startswith("table:"):
        return spark.read.table(spec[len("table:"):])
    return spark.read.parquet(spec)


def _detect_kind(profile: dict) -> str:
    kind = profile.get("kind")
    if kind:
        return kind
    return "distribution_grouped" if "profiles" in profile else "distribution"


def _flags(kind: str, merged: dict) -> dict:
    out: dict = {}
    if kind == "distribution":
        out["needs_rebin"] = bool(merged.get("needs_rebin"))
    elif kind == "distribution_grouped":
        out["needs_rebin_groups"] = [
            list(g) for g, p in merged["profiles"].items() if p.get("needs_rebin")
        ]
    elif kind == "distribution_multi":
        out["needs_rebin_columns"] = [
            c for c, p in merged["column_profiles"].items() if p.get("needs_rebin")
        ]
    elif kind == "distribution_multi_grouped":
        out["needs_rebin_cells"] = [
            [list(g), c]
            for g, cols in merged["profiles"].items()
            for c, p in cols.items()
            if p.get("needs_rebin")
        ]
    elif kind == "text":
        out["ppl_lm_divergence"] = merged.get("ppl_lm_divergence")
        out["needs_ppl_rescore"] = bool(merged.get("needs_ppl_rescore"))
    elif kind == "text_grouped":
        out["needs_ppl_rescore_groups"] = [
            list(g)
            for g, p in merged["profiles"].items()
            if p.get("needs_ppl_rescore")
        ]
    if "unknown_rows" in merged:
        out["unknown_rows"] = merged["unknown_rows"]
    return out


def _n_total(kind: str, profile: dict) -> int:
    if kind.startswith("distribution"):
        from llm_drift_detector_spark.streaming.drift_stream import _reference_rows

        return _reference_rows(profile)
    if "profiles" in profile:
        return sum(p["n"] for p in profile["profiles"].values())
    return profile["n"]


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--profile-path", required=True,
                   help="stored frozen-profile JSON (save_profile format)")
    p.add_argument("--new-data", required=True,
                   help="parquet path or table:<name> of the window to fold in")
    p.add_argument("--rebin-threshold", type=float, default=0.25,
                   help="relative range excess that raises needs_rebin")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from llm_drift_detector_spark.streaming import (
        load_profile,
        save_profile,
        update_embedding_reference_profile,
        update_reference_profile,
        update_text_reference_profile,
    )

    spark = SparkSession.builder.appName("refresh-profiles").getOrCreate()
    profile = load_profile(args.profile_path)
    kind = _detect_kind(profile)
    new_data = _load_df(spark, args.new_data)

    # one entry per family: each update reads the shape (keys, columns)
    # from the profile itself
    dispatch = {
        "distribution": lambda: update_reference_profile(
            profile, new_data, rebin_rel_threshold=args.rebin_threshold
        ),
        "embedding": lambda: update_embedding_reference_profile(profile, new_data),
        "text": lambda: update_text_reference_profile(profile, new_data),
    }
    family = kind.split("_")[0]
    if family not in dispatch:
        raise SystemExit(
            f"profile kind {kind!r} has no incremental update — re-freeze "
            "with its reference_profile builder instead"
        )
    n_before = _n_total(kind, profile)
    merged = dispatch[family]()
    n_after = _n_total(kind, merged)

    tmp = args.profile_path + ".tmp"
    save_profile(merged, tmp)
    os.replace(tmp, args.profile_path)

    print(json.dumps({
        "profile_path": args.profile_path,
        "kind": kind,
        "n_before": n_before,
        "n_after": n_after,
        "flags": _flags(kind, merged),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
