"""Approximate-nearest-neighbor similarity search over an embedding column
(``array<float>``), for training-data pipelines at 100 TB scale.

Two paths:

- :func:`cosine_topk` — brute-force cosine top-k against a single query
  vector. JVM-side only (``zip_with`` + ``aggregate`` fold for the dot
  product — whole-stage codegen, no UDF); the query vector is a literal, so
  the scan is embarrassingly parallel and the only shuffle is the final
  top-k (``orderBy().limit()`` = per-partition partial top-k + driver merge,
  which Spark's TakeOrderedAndProject does without a full sort).
- :func:`lsh_bucket_ann` — the scale path: sign-random-projection LSH buckets
  so each query only probes its bucket (candidates ≪ corpus). Projection
  hyperplanes are derived deterministically from md5 so results are
  reproducible across runs and engines.

Floating-point determinism: dot products fold left-to-right over doubles and
are emitted as integer micro-units, so the DuckDB oracle matches exactly.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _double_array_lit(values) -> F.Column:
    """An ``array<double>`` literal as ONE SQL expression. ``repr`` round-trips
    every double exactly, so the values equal per-element ``F.lit`` ones;
    building it costs one py4j call instead of 4-5 per element (a 384-d
    vector built element by element took ~1,700 round trips)."""
    return F.expr("array(" + ", ".join(f"{float(x)!r}D" for x in values) + ")")


def dot_micro(col: str, query: list[float]) -> F.Column:
    """Left-to-right double-precision dot product vs a literal query vector,
    in integer micro-units (cross-engine exact for identical fold order)."""
    prod = F.zip_with(
        F.col(col).cast("array<double>"), _double_array_lit(query), lambda a, b: a * b
    )
    s = F.aggregate(prod, F.lit(0.0).cast("double"), lambda acc, x: acc + x)
    return F.round(s * 1_000_000).cast("bigint")


def _seq_dot(a, b) -> float:
    """Sequential left-fold dot product in plain doubles — the same IEEE
    operation order as the Spark ``aggregate`` fold and DuckDB's
    ``list_dot_product``, so driver-side scalars (query norm, query bucket)
    are bit-identical across all three (numpy's pairwise/BLAS summation is
    NOT — it reorders the fold)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def cosine_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k by cosine similarity (vectors assumed unit-norm or
    compared by raw dot product — consistent for ranking when the corpus is
    normalized; for the driver's synthetic embeddings we rank by cos = dot /
    (|a||b|), all in micro-units)."""
    import math

    qn = math.sqrt(_seq_dot(query, query))
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col).cast("array<double>"), lambda x: x * x),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
    )
    dot = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"), _double_array_lit(query), lambda a, b: a * b
        ),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    cos_micro = F.round(dot / (norm * F.lit(qn)) * 1_000_000).cast("bigint")
    return (
        emb.select(F.col(id_col).alias("vec_id"), cos_micro.alias("cos_micro"))
        .orderBy(F.desc("cos_micro"), F.asc("vec_id"))
        .limit(k)
    )


def _projection_matrix(dim: int, n_planes: int) -> np.ndarray:
    """Deterministic hyperplanes: md5-seeded Philox, independent of wall clock."""
    seed = np.frombuffer(hashlib.md5(f"lsh:{dim}:{n_planes}".encode()).digest(), dtype=np.uint64)
    rng = np.random.Generator(np.random.Philox(key=seed))
    return rng.standard_normal((n_planes, dim))


def bucket_expr(vec_col: str, planes: np.ndarray) -> F.Column:
    """Sign-random-projection bucket id as a JVM column expression (zip_with/
    aggregate folds — whole-stage codegen, no UDF)."""
    n_planes = planes.shape[0]
    b = F.lit(0)
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                _double_array_lit(planes[p]),
                lambda a, bb: a * bb,
            ),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
        b = b + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return b


def probe_buckets(query: list[float], planes: np.ndarray, n_probes: int) -> list[int]:
    """Margin-ordered multi-probe bucket list (classic multi-probe LSH): the
    query's own bucket first, then neighbor buckets obtained by flipping the
    sign bits closest to their hyperplane (smallest Σ|projection| over the
    flipped set). Driver-side over 2^n_planes candidates — trivial for the
    8-16 planes this index uses."""
    n_planes = planes.shape[0]
    projs = [_seq_dot(planes[p], query) for p in range(n_planes)]
    base = sum((1 << p) for p in range(n_planes) if projs[p] > 0)
    scored = []
    for mask in range(1 << n_planes):
        cost = sum(abs(projs[p]) for p in range(n_planes) if mask & (1 << p))
        scored.append((cost, base ^ mask))
    scored.sort()
    return [b for _, b in scored[:n_probes]]


def write_bucketed(
    emb: DataFrame,
    path: str,
    *,
    n_planes: int = 8,
    vec_col: str = "embedding",
) -> int:
    """Materialize the corpus **partitioned by LSH bucket** — the 100 TB
    layout the reference's vector index implies (main.py:1155-1160,
    ingest_data.py:28-51): a query then reads only its probe buckets via
    parquet partition pruning (PartitionFilters in the scan — pinned by
    tests/test_similarity.py and PLANS.md), ~n_probes/2^n_planes of the
    corpus instead of a full scan. Returns the number of planes used
    (the reader must pass the same ``n_planes``)."""
    dim = _dim_of(emb, vec_col)
    planes = _projection_matrix(dim, n_planes)
    (
        emb.withColumn("bucket", bucket_expr(vec_col, planes))
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    return n_planes


def bucketed_ann(
    spark,
    path: str,
    query: list[float],
    *,
    k: int = 10,
    n_planes: int = 8,
    n_probes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN over a :func:`write_bucketed` corpus: multi-probe bucket list →
    partition-pruned scan → exact cosine rank inside the candidates. The scan
    touches only the probed partitions' files; everything else is never read."""
    planes = _projection_matrix(len(query), n_planes)
    probes = probe_buckets(query, planes, n_probes)
    candidates = spark.read.parquet(path).where(F.col("bucket").isin(probes))
    return cosine_topk(candidates, query, k=k, id_col=id_col, vec_col=vec_col)


def lsh_bucket_ann(
    emb: DataFrame,
    query: list[float],
    *,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed ANN: bucket = sign bits of ``n_planes`` random
    projections; probe only the query's bucket, then exact-rank inside it.

    At 10^10 vectors this turns a full-corpus scan into a ~corpus/2^planes
    bucket scan; the bucket id is a plain integer column, so the bucketed
    corpus can be written partitioned by ``bucket`` and partition-pruned at
    read time (the 100 TB path).
    """
    planes = _projection_matrix(_dim_of(emb, vec_col), n_planes)
    qbucket = int(
        sum((1 << p) for p in range(n_planes) if _seq_dot(planes[p], query) > 0)
    )
    candidates = emb.withColumn("bucket", bucket_expr(vec_col, planes)).where(
        F.col("bucket") == qbucket
    )
    return cosine_topk(candidates, query, k=k, id_col=id_col, vec_col=vec_col)


def _dim_of(emb: DataFrame, vec_col: str) -> int:
    row = emb.select(F.size(F.col(vec_col)).alias("d")).first()
    return int(row["d"]) if row else 0


# ---------------------------------------------------------------------------
# IVF (inverted-file) index — the second scale path, complementary to LSH:
# data-adaptive cells (k-means centroids) instead of data-oblivious
# hyperplanes, so clustered corpora get much tighter candidate sets.
# ---------------------------------------------------------------------------


def ivf_train(
    emb: DataFrame,
    n_cells: int = 64,
    *,
    vec_col: str = "embedding",
    sample_rows: int = 50_000,
    iters: int = 8,
    seed: str = "ivf",
) -> np.ndarray:
    """Deterministic mini k-means on a bounded sample → (n_cells, dim)
    centroids. The sample is a seeded ``df.sample`` capped at ``sample_rows``
    (k-means-on-sample is the standard IVF recipe — training cost is
    independent of corpus size; only the assignment pass scans everything).
    Philox-seeded init + fixed Lloyd iterations: same data → same centroids.
    """
    total = emb.count()
    frac = min(1.0, sample_rows / max(total, 1))
    sample = emb.select(vec_col)
    if frac < 1.0:
        sample = sample.sample(fraction=frac, seed=42)
    x = np.array(sample.limit(sample_rows).toPandas()[vec_col].tolist(), dtype=np.float64)
    if x.ndim != 2 or len(x) == 0:
        raise ValueError("ivf_train: empty embedding corpus")
    k = min(n_cells, len(x))
    rng = np.random.Generator(
        np.random.Philox(
            key=np.frombuffer(hashlib.md5(f"{seed}:{k}:{x.shape[1]}".encode()).digest(), dtype=np.uint64)
        )
    )
    centroids = x[rng.choice(len(x), size=k, replace=False)]
    for _ in range(iters):
        # ||x-c||² argmin via ||c||² - 2x·cᵀ (||x||² is constant per row):
        # O(n·k) memory — the broadcast difference tensor would be
        # n·k·dim·8 bytes (~10 GB at the defaults)
        cn = (centroids**2).sum(axis=1)
        assign = (cn[None, :] - 2.0 * (x @ centroids.T)).argmin(axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def _assign_cells_udf(centroids: np.ndarray):
    """Arrow-batched nearest-centroid assignment (one numpy matmul per batch
    — the per-row expression tree would blow up codegen at 256 cells × 384
    dims, so this is the legitimate pandas-UDF case)."""
    from pyspark.sql.functions import pandas_udf

    cent = centroids.astype(np.float64)
    cn = (cent**2).sum(axis=1)

    @pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        x = np.array(vecs.tolist(), dtype=np.float64)
        if len(x) == 0:
            return pd.Series([], dtype="int32")
        d2 = cn[None, :] - 2.0 * (x @ cent.T)  # ||x||² constant per row
        return pd.Series(d2.argmin(axis=1).astype("int32"), index=vecs.index)

    return assign


def write_ivf(
    emb: DataFrame,
    path: str,
    centroids: np.ndarray,
    *,
    vec_col: str = "embedding",
) -> None:
    """Materialize the corpus partitioned by its IVF cell; queries then
    partition-prune to their closest ``n_probes`` cells (same scan shape as
    :func:`write_bucketed`, different bucketing function)."""
    assign = _assign_cells_udf(centroids)
    (
        emb.withColumn("cell", assign(F.col(vec_col)))
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )


def ivf_probes(query: list[float], centroids: np.ndarray, n_probes: int) -> list[int]:
    """Cells to probe, closest first — the ONE ranking both IVF readers use
    (must stay metric-consistent with :func:`_assign_cells_udf`'s argmin:
    squared euclidean, and it is — ||q||² is constant across cells)."""
    q = np.asarray(query, dtype=np.float64)
    d2 = ((centroids - q[None, :]) ** 2).sum(axis=1)
    return [int(c) for c in np.argsort(d2)[:n_probes]]


def ivf_ann(
    spark,
    path: str,
    query: list[float],
    centroids: np.ndarray,
    *,
    k: int = 10,
    n_probes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN over a :func:`write_ivf` corpus: rank cells by distance to the
    query (driver-side, n_cells rows), partition-pruned scan of the closest
    ``n_probes`` cells, exact cosine rank inside the candidates."""
    probes = ivf_probes(query, centroids, n_probes)
    candidates = spark.read.parquet(path).where(F.col("cell").isin(probes))
    return cosine_topk(candidates, query, k=k, id_col=id_col, vec_col=vec_col)
