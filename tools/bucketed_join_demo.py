"""Storage-partitioned (bucketed) join demo — the 10^12-row design.

The deep-SNR validation joins two payload-bearing tables on clip_id; on
plain parquet that is a sort-merge join that SHUFFLES every payload
byte (and spills once partitions outgrow executor memory — measured
~250 s on the heavy tier in an 8 GB JVM).  At 10^12 rows the design
calls for both Iceberg tables bucketed by clip_id so the join is
storage-partitioned: no Exchange at all, each task joins bucket i of
both tables straight off the scan.

This script demonstrates the same property with Spark's native bucketed
tables (hive-format metastore, `bucketBy(clip_id)` both sides):

  1. writes clips/clips_reference as bucketed tables (one-time),
  2. runs the deep-mode pair join both ways,
  3. asserts the bucketed plan contains NO Exchange under the join,
  4. prints timings as one JSON line (appended manually to BENCH notes).

Usage: python tools/bucketed_join_demo.py [tier_dir] [n_buckets]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from llm_drift_detector_spark.checks.audio import (  # noqa: E402
    _ROW_ID,
    AUDIO_VIOLATIONS_SCHEMA,
    _deep_validate_arrow,
)
from llm_drift_detector_spark.session import get_spark  # noqa: E402

WAREHOUSE = "/root/repo/data/warehouse"


def pair_plan(cur, ref):
    ref_p = ref.select(
        "clip_id",
        F.col("bytes").alias("ref_bytes"),
        F.col("codec").alias("ref_codec"),
    )
    pairs = (
        cur.select("clip_id", "bytes", "sr_hz", "dur_ms", "codec")
        .withColumn("__row", _ROW_ID())
        .join(ref_p, "clip_id", "left")
    )
    return pairs.mapInArrow(_deep_validate_arrow, schema=AUDIO_VIOLATIONS_SCHEMA)


def main() -> None:
    tier = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/data/synth/sf0.1"
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    spark = get_spark(
        master="local[16]",
        shuffle_partitions=16,
        extra_conf={
            "spark.sql.warehouse.dir": WAREHOUSE,
            "spark.sql.sources.bucketing.enabled": "true",
            "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ either way
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    for name, sub in [("clips_b", "clips"), ("clips_ref_b", "clips_reference")]:
        if not spark.catalog.tableExists(name):
            (
                spark.read.parquet(f"{tier}/{sub}")
                .write.bucketBy(n_buckets, "clip_id")
                .sortBy("clip_id")
                .mode("overwrite")
                .saveAsTable(name)
            )

    plain_cur = spark.read.parquet(f"{tier}/clips")
    plain_ref = spark.read.parquet(f"{tier}/clips_reference")
    b_cur = spark.read.table("clips_b")
    b_ref = spark.read.table("clips_ref_b")

    bucketed = pair_plan(b_cur, b_ref)
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    join_part = plan[plan.find("SortMergeJoin"):] if "SortMergeJoin" in plan else plan
    shuffle_free = "Exchange" not in join_part

    def run(df):
        t0 = time.time()
        df.count()
        return round(time.time() - t0, 2)

    t_plain_cold = run(pair_plan(plain_cur, plain_ref))
    t_plain = run(pair_plan(plain_cur, plain_ref))
    t_bucketed_cold = run(pair_plan(b_cur, b_ref))
    t_bucketed = run(pair_plan(b_cur, b_ref))

    print(
        json.dumps(
            {
                "tier": tier,
                "n_buckets": n_buckets,
                "bucketed_join_shuffle_free": shuffle_free,
                "deep_pair_secs_plain": [t_plain_cold, t_plain],
                "deep_pair_secs_bucketed": [t_bucketed_cold, t_bucketed],
            }
        )
    )
    assert shuffle_free, "bucketed join still shuffles — check bucketing conf"
    spark.stop()


if __name__ == "__main__":
    main()
