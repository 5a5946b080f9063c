"""SparkSession factory with scale-oriented defaults.

All engine entry points funnel through :func:`get_spark` so every run —
tests, the driver harness, bench.py — gets the same tuned configuration:
AQE on (runtime re-plan + skew-join), Arrow enabled for pandas UDF
exchange with a bounded batch size (audio ``bytes`` payloads are
heavy-tailed; unbounded batches OOM a python worker at scale).

Driver-built rows (verdicts, checkpoints, metric and sink rows) enter
Spark through :func:`local_frame`.
"""

from __future__ import annotations

import os
from typing import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _make_type_verifier

from .config import ARROW_MAX_RECORDS_PER_BATCH, DEFAULT_SHUFFLE_PARTITIONS


def get_spark(
    master: str | None = None,
    app_name: str = "llm-drift-detector-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``.  On a real cluster, pass ``None`` and let spark-submit
    own the master; every conf below is cluster-safe.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing + skew-join splitting — the
        # first line of defense for skewed clip_id joins at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Join strategy (guide §3.1/§9): allow shuffled-hash join where
        # its size conditions hold instead of always sort-merge — the
        # engine's joins are id/hash equi-joins whose per-partition build
        # sides are small, and SHJ skips both sort passes.  AQE may also
        # rewrite a planned sort-merge to shuffled-hash at runtime when
        # every post-shuffle partition is under the local-map threshold.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "134217728",
        )
        # AQE-time broadcast decisions use OBSERVED shuffle sizes (not
        # the pre-filter estimates that keep the static threshold
        # conservative), so a larger runtime threshold converts e.g. the
        # 600k-row reference hash frame (~25 MB) to a broadcast join and
        # removes the probe side's exchange entirely.  Static planning
        # keeps the 10 MB default.
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "67108864")
        # Arrow exchange for pandas UDFs / mapInPandas; bounded batches so
        # heavy binary payload rows can't blow up a python worker.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        # Keep timestamps sane across engines (oracle = DuckDB in UTC).
        .config("spark.sql.session.timeZone", "UTC")
        # 128 MiB scan splits: good parallelism without tiny-task overhead.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Keep In(clip_id, ...) filters pushed as real set predicates up
        # to the audio targeted-fetch cap: past this threshold Parquet
        # pushdown degrades the In list to a min/max RANGE predicate and
        # row-group pruning mostly evaporates (default is 10).  Do NOT
        # raise this much further: the pushed list becomes a linearly
        # NESTED Operators.or(...) tree in parquet-mr, and ~5000 terms
        # overflows the executor thread stack (StackOverflowError in the
        # scan — observed at sf0.1).  checks/audio.py caps its id list
        # at the same value and falls back to a broadcast join above it,
        # which is genuinely the better plan for big id sets.
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "1000")
        # The engine's limit(cap).collect() calls are guard caps on
        # violation-rate outputs: the cap is almost never reached, so
        # every partition must execute anyway and the default incremental
        # limit execution (1 partition, then scale-up waves) just
        # serializes the job.  Launch the first wave wide.
        .config(
            "spark.sql.limit.initialNumPartitions",
            str(max(64, shuffle_partitions)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Scratch (shuffle/spill) location.  On this single-box sandbox the
    # lone VM disk's writeback stalls alternate benchmark passes (the
    # deep-mode pair join writes ~4 GB shuffle/pass) — exactly the
    # shared resource a real cluster multiplies per node.  Point scratch
    # at tmpfs (SPARK_GRAFT_LOCAL_DIR=/dev/shm/spark-scratch) for
    # measurements; leave unset for disk-backed defaults.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | StructType
) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``schema``
    order) as an Arrow ``LocalRelation``.

    ``spark.createDataFrame(list, schema)`` plans a ``Scan ExistingRDD``
    over a pickled Python RDD: every action that reads it runs a stage
    whose tasks start Python workers only to unpickle the rows.  A
    ``pyarrow.Table`` becomes a ``LocalRelation`` instead, which the JVM
    scans in place (no Python worker; a collect runs no job).  Each row
    is checked against ``schema`` first with the same verifier the list
    path applies, so a value of the wrong type or a NULL in a
    non-nullable field raises instead of being coerced by Arrow (and a
    non-string value for a string field raises where the list path
    would ``str()`` it).
    """
    struct = spark._parse_ddl(schema) if isinstance(schema, str) else schema
    verify = _make_type_verifier(struct)
    internal = []
    for row in rows:
        verify(row)
        # the list path's conversion: naive datetimes are local time
        internal.append(struct.toInternal(row))
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*internal)) if internal else [[] for _ in struct.fields]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=struct)
