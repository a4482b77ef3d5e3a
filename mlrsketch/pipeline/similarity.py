"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k via JVM-side F.zip_with /
  F.aggregate dot products against a broadcast query vector — the
  correctness baseline.
- lsh_topk: random-hyperplane LSH (Charikar 2002) bucketing as the
  scale path: candidates share >= 1 of `n_tables` sign-pattern buckets,
  exact cosine re-rank within candidates only. At 10^12 rows the
  bucket join replaces the full scan; hyperplanes are one literal
  matrix, and one expression (shared with dedup) computes every
  table's bucket, so the plan does not grow with n_tables x bits.
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mlrsketch.session import python_task


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v * v))


def cosine_col(vec_col: str, query: list[float]):
    """Cosine similarity of an array column against a literal query —
    whole-stage-codegen'd, no UDF."""
    q = F.array(*[F.lit(float(v)) for v in query])
    qn = float(np.linalg.norm(query))
    return _dot(F.col(vec_col), q) / (_norm(F.col(vec_col)) * F.lit(qn))


def brute_force_topk(
    df: DataFrame, query: list[float], k: int = 10, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Exact cosine top-k: full scan + global top-k (orderBy + limit —
    Spark executes this as a TakeOrdered, not a full sort)."""
    return (
        df.select(id_col, F.round(cosine_col(vec_col, query), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _hyperplanes(dim: int, n_tables: int, bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, bits, dim))


def _bucket_codes(vec: Column, planes: np.ndarray) -> Column:
    """Every table's bucket as one array column: element t is ``t << bits
    | the sign pattern of table t's dot products``, so codes of different
    tables never collide. Lambdas read only their variables, `vec` and
    the planes literal, which crosses to the JVM as one JSON string that
    constant folding parses exactly (an ndarray ``F.lit`` crosses element
    by element: 0.3 s for 8 x 12 planes of 32)."""
    n_tables, bits, dim = planes.shape
    rows = F.from_json(F.lit(json.dumps(planes.reshape(-1, dim).tolist())), "array<array<double>>")

    def table(t):
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(bits - 1)),
            F.shiftleft(t.cast("long"), bits),
            lambda acc, b: acc.bitwiseOR(F.call_function(
                "shiftleft", (_dot(vec, F.element_at(rows, t * bits + b + 1)) > 0).cast("long"), b
            )),
        )

    return F.transform(F.sequence(F.lit(0), F.lit(n_tables - 1)), table)


def lsh_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_tables: int = 8,
    bits: int = 12,
    seed: int = 42,
) -> DataFrame:
    """ANN cosine top-k via random-hyperplane LSH.

    Rows that share any of their n_tables bucket codes with the query's
    are candidates; exact cosine re-ranks them. Recall grows with
    n_tables; cost ~ n_candidates ≪ n_rows.
    """
    planes = _hyperplanes(len(query), n_tables, bits, seed)
    signs = [(planes[t] @ np.asarray(query) > 0).astype(np.int64) for t in range(n_tables)]
    q_codes = np.array([t << bits | int((s << np.arange(bits)).sum()) for t, s in enumerate(signs)])
    candidates = df.filter(F.arrays_overlap(_bucket_codes(F.col(vec_col), planes), F.lit(q_codes)))
    return brute_force_topk(candidates, query, k, vec_col, id_col)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means buckets + nprobe search
# ---------------------------------------------------------------------------


def _kmeans_cosine(vecs: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """Driver-side spherical k-means (deterministic): unit-normalize,
    seed centroids from evenly spaced sample points, Lloyd iterations
    with cosine (= dot on unit vectors) assignment."""
    v = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cent = v[rng.choice(len(v), size=k, replace=False)]
    for _ in range(iters):
        assign = (v @ cent.T).argmax(axis=1)
        for j in range(k):
            members = v[assign == j]
            if len(members):
                m = members.sum(axis=0)
                cent[j] = m / max(np.linalg.norm(m), 1e-12)
    return cent


def ivf_index(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    sample_n: int = 4096,
    iters: int = 10,
    seed: int = 42,
):
    """Build an IVF index: spherical k-means centroids trained on a
    deterministic sample (driver-side numpy — centroids are k x dim,
    tiny), then every row assigned to its nearest-centroid bucket by a
    vectorized pandas UDF (one matmul per Arrow batch).

    Returns (indexed_df with __ivf_bucket, centroids). At 10^12 rows the
    assignment is a single scan; write the indexed table partitioned by
    __ivf_bucket so a query's nprobe buckets prune to a few partitions.
    """
    from pyspark.sql.types import IntegerType, StructField, StructType

    sample = np.array(
        [r[0] for r in df.select(vec_col).limit(sample_n).collect()], dtype=np.float64
    )
    cent = _kmeans_cosine(sample, k, iters, seed)
    b_cent = df.sparkSession.sparkContext.broadcast(cent)
    out_schema = StructType(
        list(df.schema.fields) + [StructField("__ivf_bucket", IntegerType())]
    )

    def assign(batches):
        for pdf in batches:
            m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            pdf["__ivf_bucket"] = (m @ b_cent.value.T).argmax(axis=1).astype(np.int32)
            yield pdf

    return df.mapInPandas(python_task(assign), schema=out_schema), cent


def ivf_topk(
    indexed: DataFrame,
    centroids: np.ndarray,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k via IVF: rank centroids by cosine to the query, scan
    only the `nprobe` nearest buckets, exact cosine re-rank within.
    The bucket filter is a pushdown-friendly IN-list predicate; on a
    bucket-partitioned table it prunes to nprobe partitions."""
    q = np.asarray(query, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    order = (centroids @ qn).argsort()[::-1][:nprobe]
    probes = [int(b) for b in order]
    candidates = indexed.filter(F.col("__ivf_bucket").isin(probes))
    return brute_force_topk(candidates, query, k, vec_col, id_col)
