"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline; an IVF-style
sign-bucketed variant as the scale path (prunes the candidate join to
matching buckets — on a 1000-executor cluster the buckets are the
partition keys, so each query touches one partition's worth of
vectors instead of all of them).

Per-pair dot products run in an Arrow-batched scalar Pandas UDF, NOT
the ``zip_with`` + ``aggregate`` higher-order functions: HOFs are
interpreted per row (no codegen; SURVEY §4 measured 10-20× slower),
while the Pandas kernel amortizes one Python crossing over a whole
Arrow batch and does the math in numpy. The kernel accumulates
left-to-right over the dimension axis — the same double-add order as
the HOF and the DuckDB oracle's list_inner_product, so results are
bit-identical, just vectorized across rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


def _stack(s: pd.Series) -> np.ndarray:
    return np.stack([np.asarray(v, dtype=np.float64) for v in s])


def _seq_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    # left-to-right accumulation over dims (loop over the SMALL axis;
    # each step is a vectorized multiply-add over the whole batch) —
    # bit-identical to sequential per-element accumulation, unlike
    # einsum/BLAS whose pairwise summation can drift an ulp and flip
    # a round(, 4) at the boundary.
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for j in range(A.shape[1]):
        acc = acc + A[:, j] * B[:, j]
    return acc


@pandas_udf(DoubleType())  # type object: no DDL parse at import time
def _cosine_kernel(a: pd.Series, b: pd.Series) -> pd.Series:
    if len(a) == 0:
        return pd.Series(np.array([], dtype=np.float64))
    A, B = _stack(a), _stack(b)
    dot = _seq_dot(A, B)
    den = np.sqrt(_seq_dot(A, A)) * np.sqrt(_seq_dot(B, B))
    # zero-norm guard: cosine against a zero vector is defined as 0
    # (not NaN) — padded/masked embeddings occur in real corpora, and
    # NaN ordering diverges between engines
    return pd.Series(
        np.divide(dot, den, out=np.zeros_like(dot), where=den != 0.0)
    )


@pandas_udf(DoubleType())
def _norm_kernel(a: pd.Series) -> pd.Series:
    if len(a) == 0:
        return pd.Series(np.array([], dtype=np.float64))
    A = _stack(a)
    return pd.Series(np.sqrt(_seq_dot(A, A)))


def norm(a: Column) -> Column:
    return _norm_kernel(a)


def cosine_sim(a: Column, b: Column) -> Column:
    return _cosine_kernel(a, b)


def knn_brute_cosine(
    embeddings: DataFrame,
    num_queries: int = 5,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``num_queries``
    vectors (vec_id < num_queries) against the whole table.

    The tiny query side is broadcast → no shuffle of the big side;
    ranking is a per-query window (partition count = num_queries).
    """
    queries = embeddings.where(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cand = embeddings.select("vec_id", F.col("embedding").alias("cv"))
    from pyspark.sql.window import Window

    scored = (
        cand.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_sim(F.col("qv"), F.col("cv")), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def knn_all_topk(
    embeddings: DataFrame,
    k: int = 3,
    block_size: int = 2048,
) -> DataFrame:
    """Exact top-k neighbors for EVERY vector via block matmul.

    Vectors group into id-range blocks; every ordered block pair is
    one numpy matmul task emitting that block pair's per-query top-k;
    a global per-query window then reduces partial top-ks to the true
    top-k (correct for any consistent total order: the global top-k is
    a subset of the union of per-block top-ks). Task memory is two
    blocks; rows shuffled to the final window = N × k × n_blocks —
    linear in N per block column, never the N² score matrix.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window

    emb = embeddings.select(
        F.col("vec_id").alias("vid"),
        "embedding",
        F.floor(F.col("vec_id") / F.lit(block_size)).cast("long").alias("block"),
    )
    blocks = emb.groupBy("block").agg(
        F.collect_list("vid").alias("ids"),
        F.collect_list("embedding").alias("vecs"),
    )
    joined = (
        blocks.select(
            F.col("block").alias("block_a"),
            F.col("ids").alias("ids_a"), F.col("vecs").alias("vecs_a"),
        )
        .crossJoin(
            blocks.select(
                F.col("block").alias("block_b"),
                F.col("ids").alias("ids_b"), F.col("vecs").alias("vecs_b"),
            )
        )
        .repartition(F.col("block_a"), F.col("block_b"))
    )

    def partial_topk(batches):
        empty = pd.DataFrame({
            "query_id": np.array([], dtype=np.int64),
            "vec_id": np.array([], dtype=np.int64),
            "cosine": np.array([], dtype=np.float64),
        })
        for pdf in batches:
            outs = []
            for _, row in pdf.iterrows():
                ida = np.asarray(row["ids_a"], dtype=np.int64)
                idb = np.asarray(row["ids_b"], dtype=np.int64)
                A = np.stack([np.asarray(v, dtype=np.float64)
                              for v in row["vecs_a"]])
                B = np.stack([np.asarray(v, dtype=np.float64)
                              for v in row["vecs_b"]])
                den = np.outer(
                    np.sqrt((A * A).sum(axis=1)),
                    np.sqrt((B * B).sum(axis=1)),
                )
                # zero-norm guard: score 0, never NaN (engine-stable)
                C = np.divide(
                    A @ B.T, den, out=np.zeros_like(den), where=den != 0.0
                )
                C = np.round(C, 4)
                # self-matches out of contention
                self_mask = ida[:, None] == idb[None, :]
                C[self_mask] = -np.inf
                kk = min(k, C.shape[1])
                # per-query top-k under (cosine desc, vec_id asc)
                order = np.lexsort((idb[None, :].repeat(len(ida), 0), -C), axis=1)
                top = order[:, :kk]
                qi = np.repeat(ida, kk)
                vi = idb[top].ravel()
                ci = np.take_along_axis(C, top, axis=1).ravel()
                keep = np.isfinite(ci)
                outs.append(pd.DataFrame({
                    "query_id": qi[keep], "vec_id": vi[keep],
                    "cosine": ci[keep],
                }))
            yield pd.concat(outs) if outs else empty

    partial = joined.mapInPandas(
        partial_topk, "query_id long, vec_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def sign_bucket(v: Column) -> Column:
    """IVF-style coarse bucket: sign bits of the first 4 components →
    int in [0, 16)."""
    b = F.lit(0)
    for i in range(4):
        b = b + F.when(F.element_at(v, i + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return b


def knn_ivf_probe(
    embeddings: DataFrame,
    num_queries: int = 5,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """True IVF (inverted-file) ANN: every vector is assigned to its
    nearest coarse centroid (the posting list); a query scans only the
    ``nprobe`` centroids nearest to IT — the FAISS IVFFlat recipe.
    Expected scan fraction ≈ nprobe/num_centroids of the corpus vs the
    brute-force full scan; recall is measured (not trusted) by
    q_ivf_recall_audit — 92-100% at nprobe/C = 1/4 on the test corpus,
    vs 16-20% for the sign-bucket variant at a similar fraction.

    Scale shape: centroids are a broadcast dim (num_centroids rows);
    the one n×C scoring pass feeds BOTH the assignment (rn = 1) and
    the query probe lists (rn ≤ nprobe) — at deployment scale the
    assignment is the index build, materialized once and reused per
    query batch. Candidate pairing shuffles on centroid_id (posting
    list id), so AQE can skew-split a hot list. Centroid seeds are the
    first ``num_centroids`` vectors — deterministic, like
    corpus.assign_nearest_centroid."""
    from pyspark.sql.window import Window

    cand = ivf_probe_candidates(
        embeddings, num_queries, num_centroids, nprobe
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def ivf_probe_candidates(
    embeddings: DataFrame,
    num_queries: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    with_probe_rank: bool = False,
) -> DataFrame:
    """The IVF probe's SCANNED candidate relation (query_id, vec_id,
    cosine) BEFORE the top-k cut — knn_ivf_probe's inner stage,
    exposed so cost/recall planners (q_ivf_nprobe_curve) can measure
    the scan volume the top-k result hides.

    ``with_probe_rank=True`` keeps the probed centroid's rank for the
    query (``probe_rn`` ∈ [1, nprobe]). Because every vector lives in
    exactly ONE posting list, the candidate set at any smaller
    nprobe' is EXACTLY ``where(probe_rn <= nprobe')`` of this
    relation — one n×C scoring pass + one candidate join serves a
    whole nprobe curve instead of one pass per point."""
    from pyspark.sql.window import Window

    cents = embeddings.where(F.col("vec_id") < num_centroids).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    scored = (
        embeddings.select(
            F.col("vec_id").alias("vid"), F.col("embedding").alias("ev")
        )
        .join(F.broadcast(cents))
        .select(
            "vid", "ev", "centroid_id",
            F.round(cosine_sim(F.col("ev"), F.col("cv")), 4).alias("c_cos"),
        )
    )
    wc = Window.partitionBy("vid").orderBy(
        F.col("c_cos").desc(), F.col("centroid_id")
    )
    ranked = scored.withColumn("rn", F.row_number().over(wc))
    assign = ranked.where(F.col("rn") == 1).select(
        F.col("vid").alias("vec_id"), "centroid_id"
    )
    probes = ranked.where(
        (F.col("rn") <= nprobe) & (F.col("vid") < num_queries)
    ).select(
        F.col("vid").alias("query_id"), F.col("ev").alias("qv"),
        "centroid_id", F.col("rn").alias("probe_rn"),
    )
    out_cols = ["query_id", "vec_id",
                F.round(cosine_sim(F.col("qv"), F.col("cv")), 4)
                .alias("cosine")]
    if with_probe_rank:
        out_cols.append("probe_rn")
    return (
        probes.join(assign, "centroid_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .join(
            embeddings.select("vec_id", F.col("embedding").alias("cv")),
            "vec_id",
        )
        .select(*out_cols)
    )


def knn_ivf_bucketed(
    embeddings: DataFrame, num_queries: int = 5, k: int = 5,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign
    bucket. The bucket column is the partition/prune key at scale."""
    with_bucket = embeddings.withColumn(
        "bucket", sign_bucket(F.col("embedding"))
    )
    queries = with_bucket.where(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("bucket"),
    )
    cand = with_bucket.select(
        "vec_id", F.col("embedding").alias("cv"), "bucket"
    )
    from pyspark.sql.window import Window

    scored = (
        cand.join(F.broadcast(queries), "bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_sim(F.col("qv"), F.col("cv")), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )
