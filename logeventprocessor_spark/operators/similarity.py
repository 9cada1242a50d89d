"""Similarity search over embedding columns (array<float>).

* ``cosine_topk``     -- brute-force exact top-k for one query vector:
                         broadcast the query as a literal, dot product
                         via built-in ``aggregate``/``zip_with`` (all
                         JVM-side), ORDER BY + LIMIT (Spark plans
                         TakeOrderedAndProject -- no full sort).
* banded LSH          -- ``lsh_build`` stores each vector's band-bucket
                         array at ingest; ``lsh_load_topk`` (ANN top-k)
                         and ``near_dup_pairs_from_index`` (all pairs
                         with cosine >= threshold, candidates share a
                         bucket, exact verify, no cross join) read the
                         stored column. ``bands=1`` is the
                         single-bucket scheme.
* IVF                 -- ``ivf_build`` fits KMeans once and writes the
                         table partitioned by list; ``ivf_load_topk``
                         scans only the nearest lists.
* ``brute_force_pairs`` -- exact all-pairs baseline (small inputs).

Hyperplanes are generated driver-side from a fixed seed (numpy), so a
probe recomputes the query's buckets with the planes the index used.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logeventprocessor_spark.session import cached_parquet as _cached


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_sim_to_query(df: DataFrame, query: list[float], vec_col: str = "embedding"):
    q = F.array(*[F.lit(float(x)) for x in query])
    qn = float(np.sqrt(np.sum(np.asarray(query, dtype="float64") ** 2)))
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return _dot(v, q) / (_norm(v) * F.lit(qn))


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query``."""
    sim = cosine_sim_to_query(df, query, vec_col)
    return (
        df.select(F.col(id_col), F.round(sim, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    h = rng.normal(size=(n_planes, dim))
    return h / np.linalg.norm(h, axis=1, keepdims=True)


def band_bucket_strings(
    m: np.ndarray, planes: np.ndarray, bands: int
) -> list[list[str]]:
    """Band-tagged bucket strings ('b:bits') for a (N x dim) matrix:
    sign bits from ONE BLAS matmul ((N x dim) @ (dim x n_planes)).
    Shared by the Spark Pandas UDF and the driver-side index builder so
    the two can never disagree on a bucket."""
    pt = planes.T
    r = planes.shape[0] // bands
    chars = np.where(m @ pt >= 0, "1", "0")
    out = []
    for row in chars:
        s = "".join(row)
        out.append([f"{b}:{s[b * r:(b + 1) * r]}" for b in range(bands)])
    return out


def _band_buckets_udf(planes: np.ndarray, bands: int):
    """Vectorized band-bucket computation: one Arrow-batched pandas UDF
    returning the array of band-tagged bucket strings ('b:bits') per
    vector. The sign bits come from ONE BLAS matmul per batch -- 96
    separate fold expressions in Catalyst are interpreted per element
    and orders of magnitude slower; this is the 'built-ins genuinely
    can't express it efficiently' case for a Pandas UDF."""
    pt = planes.T.copy()

    @F.pandas_udf("array<string>")
    def buckets(vecs: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype="float64") for v in vecs])
        return pd.Series(band_bucket_strings(m, pt.T, bands))

    return buckets


def _query_band_buckets(query: list[float], planes: np.ndarray, bands: int):
    q = np.asarray(query, dtype="float64")
    bits = ["1" if float(np.dot(p, q)) >= 0 else "0" for p in planes]
    r = len(planes) // bands
    return [f"{b}:{''.join(bits[b * r:(b + 1) * r])}" for b in range(bands)]


def lsh_build(
    df: DataFrame,
    path: str,
    bands: int = 12,
    rows_per_band: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    dim: int | None = None,
) -> None:
    """Materialize the banded-LSH bucket array AT INGEST (the 100 TB
    contract, mirroring ``ivf_build``): compute the band buckets once
    (Arrow-matmul UDF) and write them as a plain array<string> column
    next to each vector in ``path/data.parquet``, plus meta.json
    recording the geometry. Every later probe is a columnar scan on the
    STORED column -- no UDF, no recompute. The fixture builder writes
    the same layout as a single file."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = _hyperplanes(dim, bands * rows_per_band, seed)
    udf = _band_buckets_udf(planes, bands)
    df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        udf(F.col(vec_col)).alias("buckets"),
    ).write.mode("overwrite").parquet(os.path.join(path, "data.parquet"))
    meta = {"bands": bands, "rows_per_band": rows_per_band, "seed": seed,
            "dim": dim}
    tmp = os.path.join(path, f"meta.json.tmp.{os.getpid()}")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(path, "meta.json"))


def lsh_load_topk(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    exclude_id=None,
) -> DataFrame:
    """Probe a persisted LSH index: compute the query's band buckets
    driver-side (tiny numpy), scan the stored table filtering on the
    MATERIALIZED buckets column with ``arrays_overlap`` (pure built-in
    -- the plan contains no Python UDF), exact cosine rerank on the
    survivors."""
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    planes = _hyperplanes(
        meta["dim"], meta["bands"] * meta["rows_per_band"], meta["seed"]
    )
    qb = F.array(
        *[F.lit(s) for s in _query_band_buckets(query, planes, meta["bands"])]
    )
    df = _cached(spark, os.path.join(path, "data.parquet")).filter(
        F.arrays_overlap(F.col("buckets"), qb)
    )
    if exclude_id is not None:
        df = df.filter(F.col("vec_id") != exclude_id)
    return cosine_topk(df, query, k)


def _norm_sides(vecs: DataFrame):
    """(id_a, va, na) / (id_b, vb, nb) projections with the vector
    cast to double and its norm PRECOMPUTED once per vector -- the
    per-pair cosine then evaluates one interpreted dot-fold instead of
    three (dot + two norms re-derived for every candidate pair; A/B at
    125K candidates x dim 64: verify 2.7 s -> sub-second). The final
    ``dot / (na * nb)`` performs the identical float ops in the
    identical order as the inline form, so rounded values are
    bit-equal."""
    v = F.transform(F.col("embedding"), lambda t: t.cast("double"))
    base = vecs.select(
        F.col("vec_id").alias("_vid"), v.alias("_v"), _norm(v).alias("_n")
    )
    a = base.select(
        F.col("_vid").alias("id_a"), F.col("_v").alias("va"),
        F.col("_n").alias("na"),
    )
    b = base.select(
        F.col("_vid").alias("id_b"), F.col("_v").alias("vb"),
        F.col("_n").alias("nb"),
    )
    return a, b


def near_dup_pairs_from_index(
    spark,
    path: str,
    threshold: float = 0.9,
) -> DataFrame:
    """All-pairs near-dup over a PERSISTED LSH index (``lsh_build`` /
    the fixture builder): explode the STORED bucket column into the
    (id, bucket) inverted index -- no UDF, no bucket recompute --
    self-join on bucket for candidates, exact-cosine verify. Candidate
    volume is the sum over buckets of C(bucket_size, 2), small when
    near-dups are tight clusters (the regime near-dup dedup targets)."""
    df = _cached(spark, os.path.join(path, "data.parquet"))
    bb = df.select("vec_id", F.explode("buckets").alias("bucket"))
    x, y = bb.alias("x"), bb.alias("y")
    cand = (
        x.join(y, "bucket")
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(F.col("x.vec_id").alias("id_a"), F.col("y.vec_id").alias("id_b"))
        .distinct()
    )
    a, b = _norm_sides(df)
    pair_cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        F.broadcast(cand)
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.col("id_a").alias("vec_a"),
            F.col("id_b").alias("vec_b"),
            F.round(pair_cos, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def ivf_build(
    df: DataFrame,
    path: str,
    n_lists: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Build + PERSIST the IVF index once: a KMeans coarse quantizer
    assigns every vector to its nearest centroid's inverted list; the
    centers go to ``path/centers.json`` and the assigned table to
    ``path/lists/`` WRITTEN PARTITIONED BY ``_list`` -- so every later
    probe is a partition-pruned scan with no model fit (the 100 TB
    contract: index build is one batch job, probes never re-cluster)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.withColumn(
        "_v", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    model = KMeans(
        k=n_lists, seed=seed, featuresCol="_v", predictionCol="_list"
    ).fit(feat)
    model.transform(feat).select(id_col, vec_col, "_list").write.mode(
        "overwrite"
    ).partitionBy("_list").parquet(os.path.join(path, "lists"))
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    # centers.json is written LAST and atomically (tmp + os.replace):
    # its existence is the "index is complete" marker probes key on,
    # so a crash mid-build can never leave a trusted half-index
    tmp = os.path.join(path, f"centers.json.tmp.{os.getpid()}")
    with open(tmp, "w") as f:
        json.dump({"n_lists": n_lists, "seed": seed, "centers": centers}, f)
    os.replace(tmp, os.path.join(path, "centers.json"))


def ivf_load_topk(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id=None,
) -> DataFrame:
    """Probe a persisted IVF index: pick the ``n_probe`` nearest
    centers driver-side (tiny JSON), scan ONLY those ``_list=``
    partitions (partition pruning -- check PushedFilters/PartitionFilters
    in the plan), exact cosine top-k inside."""
    with open(os.path.join(path, "centers.json")) as f:
        meta = json.load(f)
    q = np.asarray(query, dtype="float64")
    dists = [float(np.linalg.norm(np.asarray(c) - q)) for c in meta["centers"]]
    probes = [int(p) for p in np.argsort(dists)[:n_probe]]
    df = _cached(spark, os.path.join(path, "lists")).filter(
        F.col("_list").isin(probes)
    )
    if exclude_id is not None:
        df = df.filter(F.col(id_col) != exclude_id)
    return cosine_topk(df, query, k, id_col, vec_col)


def brute_force_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs baseline (O(n^2) -- small inputs / recall
    measurement only)."""
    v = F.transform(F.col(vec_col), lambda t: t.cast("double"))
    b = df.select(
        F.col(id_col).alias("vec_id"), v.alias("v"), _norm(v).alias("n")
    )
    x, y = b.alias("x"), b.alias("y")
    cos = _dot(F.col("x.v"), F.col("y.v")) / (F.col("x.n") * F.col("y.n"))
    return (
        x.crossJoin(y)
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("vec_a"),
            F.col("y.vec_id").alias("vec_b"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
