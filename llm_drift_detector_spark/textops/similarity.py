"""Similarity search over embedding columns (array<float>).

- :func:`topk_brute` — exact cosine top-k to a query vector.  The dot
  product is a d-term native expression (whole-stage codegen), the top-k
  is ``orderBy desc limit k`` (Spark's TakeOrderedAndProject — per
  partition heap + driver merge, no full sort).  This is the baseline
  and the verifier for the approximate paths.
- :func:`topk_lsh` — random-hyperplane LSH: rows bucketed by the sign
  pattern of h deterministic hyperplanes; the query probes only its own
  bucket (and optional multi-probe neighbors at Hamming distance 1).
  At 10^12 rows this turns a full scan into a bucket-pruned scan when
  the table is partitioned/bucketed by the signature.
- :func:`cosine_near_duplicates` — embedding near-dup pairs: bucket by
  LSH signature, verify cosine within buckets only.

Hyperplanes are seeded numpy normals — broadcast as literal expressions,
no Python in the row path.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..session import local_frame


# Vector math via array higher-order functions (zip_with/aggregate):
# a d-term sum of element_at expressions generates O(d) Java code per
# plane and blows past Janino's method-size limit once several planes
# compose (8 planes x 64 dims -> whole-stage codegen compile failure and
# interpreted fallback).  The HOF form is one compact expression.


def _arr(vec: np.ndarray) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def _dot_lit(col: str, vec: np.ndarray) -> Column:
    prods = F.zip_with(
        F.col(col).cast("array<double>"), _arr(vec), lambda x, y: x * y
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _row_norm(col: str, dim: int) -> Column:
    sq = F.aggregate(
        F.col(col).cast("array<double>"), F.lit(0.0), lambda acc, x: acc + x * x
    )
    return F.sqrt(sq)


def cosine_to_query(col: str, query: np.ndarray) -> Column:
    qn = float(np.linalg.norm(query))
    rn = _row_norm(col, len(query))
    return F.when(
        (rn > 0) & F.lit(qn > 0), _dot_lit(col, query) / (rn * F.lit(qn))
    ).otherwise(F.lit(-1.0))


def topk_brute(
    df: DataFrame, id_col: str, col: str, query: np.ndarray, k: int = 10
) -> DataFrame:
    """Exact top-k: (id, cosine), descending, ties broken by id."""
    return (
        df.where(F.col(col).isNotNull())
        .select(F.col(id_col).alias("id"), cosine_to_query(col, query).alias("cosine"))
        .orderBy(F.desc("cosine"), "id")
        .limit(k)
    )


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 7) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_planes, dim))


def lsh_signature(col: str, planes: np.ndarray) -> Column:
    """Sign-pattern bucket id in [0, 2^h): bit j = (dot(row, plane_j) > 0)."""
    return sum(
        (
            F.when(_dot_lit(col, p) > 0, F.lit(2**j)).otherwise(F.lit(0))
            for j, p in enumerate(planes)
        ),
        F.lit(0),
    ).cast("int")


def topk_lsh(
    df: DataFrame,
    id_col: str,
    col: str,
    query: np.ndarray,
    k: int = 10,
    n_planes: int = 8,
    seed: int = 7,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: scan only the query's LSH bucket (plus
    Hamming-1 neighbors with ``multiprobe``).  Recall < 1 by design;
    verify against :func:`topk_brute` at small scale."""
    planes = hyperplanes(len(query), n_planes, seed)
    qsig = int(sum(2**j for j, p in enumerate(planes) if float(np.dot(p, query)) > 0))
    probes = [qsig] + ([qsig ^ (1 << j) for j in range(n_planes)] if multiprobe else [])
    sig = lsh_signature(col, planes)
    return (
        df.where(F.col(col).isNotNull())
        .where(sig.isin(probes))
        .select(F.col(id_col).alias("id"), cosine_to_query(col, query).alias("cosine"))
        .orderBy(F.desc("cosine"), "id")
        .limit(k)
    )


def kmeans_fit(
    df: DataFrame,
    col: str,
    k: int = 16,
    iters: int = 3,
    seed: int = 7,
    dim: int | None = None,
) -> np.ndarray:
    """Deterministic Lloyd's k-means over an embedding column — the IVF
    coarse quantizer.  Each iteration is one distributed assign (argmin
    over k native distance expressions) + one per-dimension avg
    aggregate; only the (k, d) centroid matrix crosses the driver.
    Initialization = seeded exact-k sample (orderBy(rand(seed))).
    """
    if dim is None:
        dim = int(df.select(F.size(F.col(col)).alias("d")).limit(1).collect()[0].d)
    base = df.where(F.col(col).isNotNull()).select(F.col(col).alias("e"))
    # farthest-point (k-center) init over a seeded pool: plain random
    # init routinely drops a cluster (two seeds in one blob); greedy
    # max-min separation is deterministic and blob-separating
    pool = np.array(
        [r.e for r in base.orderBy(F.rand(seed)).limit(max(8 * k, 64)).collect()],
        dtype=np.float64,
    )
    chosen = [0]
    d2 = ((pool - pool[0]) ** 2).sum(axis=1)
    while len(chosen) < min(k, len(pool)):
        nxt = int(np.argmax(d2))
        chosen.append(nxt)
        d2 = np.minimum(d2, ((pool - pool[nxt]) ** 2).sum(axis=1))
    centroids = pool[chosen].copy()
    for _ in range(iters):
        assigned = base.withColumn("c", _nearest_centroid("e", centroids))
        aggs = [
            F.avg(F.element_at(F.col("e"), i + 1).cast("double")).alias(f"a{i}")
            for i in range(dim)
        ] + [F.count("*").alias("n")]
        rows = assigned.groupBy("c").agg(*aggs).collect()
        new = centroids.copy()  # empty clusters keep their old centroid
        for r in rows:
            new[r.c] = [r[f"a{i}"] for i in range(dim)]
        centroids = new
    return centroids


def _nearest_centroid(col: str, centroids: np.ndarray):
    """argmin_j ||x - c_j||^2 as a native expression: rank by
    (|c_j|^2 - 2 x.c_j) — |x|^2 is constant per row.  array_min over
    (score, j) structs implements the argmin."""
    entries = []
    for j, c in enumerate(centroids):
        score = F.lit(float(np.dot(c, c))) - 2.0 * _dot_lit(col, c)
        entries.append(F.struct(score.alias("s"), F.lit(j).alias("j")))
    return F.array_min(F.array(*entries))["j"].cast("int")


def topk_ivf(
    df: DataFrame,
    id_col: str,
    col: str,
    query: np.ndarray,
    k: int = 10,
    centroids: np.ndarray | None = None,
    n_clusters: int = 16,
    nprobe: int = 2,
    seed: int = 7,
) -> DataFrame:
    """IVF search: scan only the `nprobe` clusters nearest to the query.

    At 10^12 rows the table is partitioned by the cluster id, so this is
    partition pruning; recall grows with nprobe (exact at nprobe=k).
    Pass precomputed `centroids` to skip the fit (the production shape:
    fit once, search many).
    """
    if centroids is None:
        centroids = kmeans_fit(df, col, k=n_clusters, seed=seed)
    d2 = ((centroids - query[None, :]) ** 2).sum(axis=1)
    probes = [int(j) for j in np.argsort(d2)[:nprobe]]
    cluster = _nearest_centroid(col, centroids)
    return (
        df.where(F.col(col).isNotNull())
        .where(cluster.isin(probes))
        .select(F.col(id_col).alias("id"), cosine_to_query(col, query).alias("cosine"))
        .orderBy(F.desc("cosine"), "id")
        .limit(k)
    )


def cosine_near_duplicates(
    df: DataFrame,
    id_col: str,
    col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 7,
    dim: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cosine) pairs with cosine >= threshold.

    Pairs are generated within LSH buckets only (the scale path: the
    self-join key is the signature, so bucket sizes bound the quadratic
    term); high-cosine pairs land in the same bucket with probability
    (1 - theta/pi)^h.  Exact verification inside the bucket.

    ``max_bucket_size`` guards against signature skew (a boilerplate
    cluster of near-identical embeddings lands in ONE bucket and its
    self-join goes quadratic): oversized buckets are salted into
    ceil(n/cap) sub-buckets by ``pmod(xxhash64(id), s)``, bounding pairs
    at ~n*cap/2 — cluster members stay transitively linked through the
    surviving pairs.
    """
    if dim is None:
        dim = int(df.select(F.size(F.col(col)).alias("d")).limit(1).collect()[0].d)
    planes = hyperplanes(dim, n_planes, seed)
    sig = lsh_signature(col, planes)
    base = df.where(F.col(col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(col).alias("e"), sig.cast("string").alias("sig")
    )
    if max_bucket_size:
        counts = base.groupBy("sig").agg(F.count("*").alias("n"))
        n_sub = F.ceil(F.col("n") / max_bucket_size).cast("bigint")
        base = base.join(F.broadcast(counts), "sig").withColumn(
            "sig",
            F.when(
                F.col("n") > max_bucket_size,
                F.concat_ws(
                    "#", F.col("sig"), F.pmod(F.xxhash64("id"), n_sub).cast("string")
                ),
            ).otherwise(F.col("sig")),
        ).drop("n")
    a, b = base.alias("a"), base.alias("b")
    dot = F.aggregate(
        F.zip_with(
            F.col("a.e").cast("array<double>"),
            F.col("b.e").cast("array<double>"),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda side: F.sqrt(  # noqa: E731
        F.aggregate(
            F.col(f"{side}.e").cast("array<double>"),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    cos = dot / (norm("a") * norm("b"))
    return (
        a.join(b, (F.col("a.sig") == F.col("b.sig")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cos.cast("double").alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def ivf_build_index(
    df: DataFrame,
    id_col: str,
    col: str,
    index_dir: str,
    n_clusters: int = 16,
    seed: int = 7,
    iters: int = 3,
) -> np.ndarray:
    """Persist an IVF index: fit once, search many (VERDICT r3 #8).

    Writes under ``index_dir``:

    - ``centroids/``    (j int, c array<double>) — the coarse quantizer;
    - ``assignments/``  (id, e) parquet PARTITIONED BY cluster — each
      row stored under its nearest centroid's partition.

    Query-time (:func:`ivf_topk_indexed`) is then a tiny centroid read
    plus a cluster-partition-pruned scan: the ``_nearest_centroid``
    assignment expression and the k-means fit never run again.  At
    10^12 rows the assignments table IS the Iceberg table partitioned
    by cluster id; nprobe partitions are the only data touched.

    Returns the fitted centroid matrix (for callers chaining a query in
    the same session).
    """
    spark = df.sparkSession
    centroids = kmeans_fit(df, col, k=n_clusters, iters=iters, seed=seed)
    cent_rows = [(int(j), [float(v) for v in c]) for j, c in enumerate(centroids)]
    local_frame(spark, cent_rows, "j int, c array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{index_dir}/centroids")
    (
        df.where(F.col(col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.col(col).cast("array<double>").alias("e"),
            _nearest_centroid(col, centroids).alias("cluster"),
        )
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{index_dir}/assignments")
    )
    return centroids


def ivf_topk_indexed(
    spark,
    index_dir: str,
    query: np.ndarray,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Top-k over a persisted IVF index: centroid scan (driver, ~KB) +
    partition-pruned cosine re-rank over the nprobe nearest clusters.

    No fit, no assignment expression — cluster membership was committed
    at build time, and ``cluster`` is a PARTITION column, so the filter
    prunes at file-listing time (plan-asserted in tests)."""
    cent = sorted(
        spark.read.parquet(f"{index_dir}/centroids").collect(), key=lambda r: r.j
    )
    centroids = np.array([r.c for r in cent], dtype=np.float64)
    d2 = ((centroids - np.asarray(query, dtype=np.float64)[None, :]) ** 2).sum(axis=1)
    probes = [int(j) for j in np.argsort(d2)[:nprobe]]
    return (
        spark.read.parquet(f"{index_dir}/assignments")
        .where(F.col("cluster").isin(probes))
        .select(F.col("id"), cosine_to_query("e", query).alias("cosine"))
        .orderBy(F.desc("cosine"), "id")
        .limit(k)
    )
