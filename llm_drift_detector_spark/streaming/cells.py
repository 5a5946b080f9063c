"""What the text and embedding drift streams share: the cell view of
their profiles, key canonicalization, the per-epoch row rules and the
``foreachBatch`` stream skeleton.

A *cell* is one group-key tuple.  A global profile has zero keys and one
cell, the empty group ``()``; a keyed profile holds one cell per
profiled group under ``profiles``.  The stored dict shapes stay the two
the families always had (``{kind, column, ..., <cell fields>}`` and
``{kind: <family>_grouped, column, keys, profiles: {group: cell}}``);
:func:`cells` / :func:`with_cells` convert between them and the cell
map, so each family has one profile builder, one update and one stream.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame


def cells(profile: dict) -> dict:
    """``{group tuple: cell}`` view of a profile; global profiles are
    their own (and only) cell, ``()``."""
    return profile["profiles"] if profile.get("keys") else {(): profile}


def with_cells(profile: dict, new_cells: dict) -> dict:
    """Inverse of :func:`cells`: ``profile``'s header holding
    ``new_cells``."""
    if profile.get("keys"):
        return {**profile, "profiles": new_cells}
    return {**profile, **new_cells[()]}


def keyed(df: DataFrame, keys: list[str], *cols) -> DataFrame:
    """Keys canonicalized to string SPARK-side (Python's str() disagrees
    with Spark's cast for e.g. booleans) followed by ``cols``."""
    return df.select(*[F.col(k).cast("string").alias(k) for k in keys], *cols)


def join_on(a: DataFrame, b: DataFrame, keys: list[str], how: str = "left"):
    """Join per group; with zero keys both sides are one-row aggregates
    and the join is a cross join."""
    return a.join(b, keys, how) if keys else a.crossJoin(b)


def group_of(row, keys: list[str]) -> tuple:
    return tuple(row[k] for k in keys)


def epoch_rows(
    keys: list[str],
    known: dict,
    counts: dict[tuple, int],
    metrics: Callable[[tuple], tuple],
    zero: tuple,
    run_id: str,
    min_samples: int,
) -> list[tuple]:
    """One epoch's sink rows from per-group row counts.

    Global (zero keys): one row per epoch, ``n=0`` gated rows included.
    Keyed: one row per profiled group in the batch (``min_samples``
    gating); the rows of groups with no frozen profile or a NULL key
    collapse into one NULL-keyed ``unknown_group`` row; a batch with
    neither writes a NULL-keyed ``empty_batch`` row, so epoch accounting
    matches the global sink.  ``metrics(g)`` gives the columns between
    ``n`` and ``gated`` of an ungated group; ``zero`` those of a gated
    one."""
    out: list[tuple] = []
    n_unknown = 0
    for g, n in sorted(counts.items(), key=lambda kv: tuple(map(str, kv[0]))):
        if g not in known:
            n_unknown += n
            continue
        gated = n < min_samples
        out.append((
            *g, run_id, int(n), *(zero if gated else metrics(g)), bool(gated),
            *["min_samples" if gated else None] * bool(keys),
        ))
    if keys and (n_unknown or not out):
        out.append((
            *[None] * len(keys), run_id, int(n_unknown), *zero, True,
            "unknown_group" if n_unknown else "empty_batch",
        ))
    return out


def run_stream(
    spark: SparkSession,
    src_dir: str,
    schema,
    out_dir: str,
    family: str,
    keys: list[str],
    row_ddl: str,
    batch_rows: Callable[[DataFrame], list[tuple]],
    available_now: bool,
    max_files_per_trigger: int | None,
):
    """Read ``src_dir`` as a parquet stream and write ``batch_rows`` of
    each micro-batch to ``<out_dir>/<family>_metrics[_grouped]/epoch=<k>``
    (keyed rows lead with the keys and end with ``gated_reason``).  Each
    epoch OVERWRITES its partition, so a ``foreachBatch`` replay is
    idempotent; the checkpoint ``_<family>_stream[_grouped]_checkpoint``
    gives each input file exactly-once processing.  Returns the query,
    already drained when ``available_now``."""
    suffix = "_grouped" * bool(keys)
    sink = os.path.join(out_dir, f"{family}_metrics{suffix}")
    ddl = ", ".join(
        [f"{k} string" for k in keys] + [row_ddl] + ["gated_reason string"] * bool(keys)
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        local_frame(spark, batch_rows(batch_df), ddl).write.mode(
            "overwrite"
        ).parquet(f"{sink}/epoch={int(epoch_id)}")

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    writer = (
        reader.parquet(src_dir)
        .writeStream.foreachBatch(process)
        .option(
            "checkpointLocation",
            os.path.join(out_dir, f"_{family}_stream{suffix}_checkpoint"),
        )
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q
