"""Embedding-cosine near-duplicate pass + ANN search.

Reference: semantic pass (processors/dedup.py:404-464) builds the full
N x N cosine matrix and keeps sim >= 0.95; semantic_search
(exporters/neon_schema.py:301-326) is cosine top-k with HNSW.

Spark restatement:
- ``cosine_pairs_brute``  — exact all-pairs (block-joined), the small-
  scale oracle path and the correctness baseline.
- ``cosine_pairs_rhp``    — scale path: random-hyperplane (sign-bit)
  LSH bucketing, equi-join per band, exact cosine verify. Same shape
  as the SimHash text pass: sublinear candidates, exact verification.
- ``topk_cosine``         — brute-force top-k against one query vector
  (exact; the HNSW stand-in — Spark side is *more* exact).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from epstein_pipeline_spark.functions.vectors import cosine_expr, make_cosine_to_query_udf
from epstein_pipeline_spark.operators.lsh import bucket_pairs


def cosine_pairs_brute(
    embs: DataFrame, threshold: float = 0.95, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """All-pairs cosine >= threshold. O(n^2) — test scale only
    (mirrors the reference's exact semantics)."""
    e = embs.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    a, b = e.alias("a"), e.alias("b")
    return (
        a.crossJoin(b)
        .filter(F.col("a._id") < F.col("b._id"))
        .withColumn("score", cosine_expr(F.col("a._v"), F.col("b._v")))
        .filter(F.col("score") >= threshold)
        .select(
            F.col("a._id").alias("id1"),
            F.col("b._id").alias("id2"),
            F.round("score", 6).alias("score"),
            F.lit("semantic").alias("method"),
        )
    )


def make_rhp_udf(dim: int | None = None, n_bits: int = 16, n_tables: int = 8, seed: int = 7):
    """pandas UDF: embedding -> array<long> of n_tables sign-bucket ids.

    Each table hashes the vector against n_bits random hyperplanes; two
    vectors at angle theta collide in one table with prob
    (1 - theta/pi)^n_bits — for cosine 0.95 (theta~18deg) and 16 bits,
    ~0.19 per table, ~81% over 8 tables; verification is exact so
    missed pairs are the only recall cost. Bits/tables are tunable.

    ``dim=None`` infers the dimension from the first Arrow batch ON THE
    EXECUTOR — the seeded RNG makes every worker derive identical
    hyperplanes, so no driver-side ``.first()`` probe (a full job just
    to read one row) is ever needed.
    """
    state: dict[str, np.ndarray] = {}
    if dim is not None:
        state["planes"] = np.random.RandomState(seed).normal(size=(n_tables, n_bits, dim))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def rhp_buckets(embs: pd.Series) -> pd.Series:
        mat = np.vstack(embs.to_numpy()).astype(np.float64)  # (n, dim)
        planes = state.get("planes")
        if planes is None:
            planes = np.random.RandomState(seed).normal(
                size=(n_tables, n_bits, mat.shape[1])
            )
            state["planes"] = planes
        if mat.shape[1] != planes.shape[2]:
            # ragged embedding dims would otherwise hash with
            # different-dimension planes per executor — fail loudly
            raise ValueError(
                f"embedding dim {mat.shape[1]} != hyperplane dim {planes.shape[2]}"
            )
        out = np.zeros((mat.shape[0], n_tables), dtype=np.int64)
        weights = (1 << np.arange(n_bits)).astype(np.int64)
        for t in range(n_tables):
            signs = (mat @ planes[t].T) > 0  # (n, n_bits)
            out[:, t] = signs.astype(np.int64) @ weights
        return pd.Series(list(out))

    return rhp_buckets


def cosine_pairs_rhp(
    embs: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 16,
    n_tables: int = 8,
    bucket_cap: int = 2000,
) -> DataFrame:
    """LSH-bucketed cosine pair join: candidates from sign-bucket
    collisions, exact cosine verify >= threshold.

    Shuffle shape (the round-1 finding): bucket member structs carry
    IDS ONLY — the float vector never rides through the n_tables band
    explosion (that shuffled 8-16 copies of every embedding). One
    groupBy produces candidate pairs via the text LSH pass's own
    ``lsh.bucket_pairs`` with ``struct(_id)`` members (no sizes-join
    + self-join cascade), and vectors join back onto the (sublinear)
    candidate set for the exact verify. Oversized buckets degrade to
    chain+star edges instead of being dropped — strictly better recall
    than the old ``_bsz <= cap`` filter at the same O(n) edge cost.
    """
    udf = make_rhp_udf(None, n_bits, n_tables)
    e = embs.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")).withColumn(
        "_buckets", udf("_v")
    )
    bands = e.select("_id", F.posexplode("_buckets").alias("table_i", "bucket"))
    cands = (
        bucket_pairs(bands, ["table_i", "bucket"], F.struct("_id"), bucket_cap)
        .select(F.col("p.a._id").alias("id1"), F.col("p.b._id").alias("id2"))
        .dropDuplicates(["id1", "id2"])
    )
    v = embs.select(F.col(id_col).alias("_vid"), F.col(vec_col).alias("_vv"))
    joined = (
        cands.join(v.withColumnRenamed("_vid", "id1").withColumnRenamed("_vv", "_v1"), "id1")
        .join(v.withColumnRenamed("_vid", "id2").withColumnRenamed("_vv", "_v2"), "id2")
    )
    return (
        joined.withColumn("score", cosine_expr(F.col("_v1"), F.col("_v2")))
        .filter(F.col("score") >= threshold)
        .select("id1", "id2", F.round("score", 6).alias("score"), F.lit("semantic").alias("method"))
    )


def topk_cosine(
    embs: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_pandas: bool = True,
) -> DataFrame:
    """Exact cosine top-k against a broadcast query vector.

    TakeOrdered (orderBy+limit) never materializes a global sort — each
    partition keeps its local top-k; the driver merges. use_pandas picks
    the BLAS matvec scorer; False uses the pure-SQL aggregate (oracle-
    comparable)."""
    if use_pandas:
        scorer = make_cosine_to_query_udf(query_vec)(F.col(vec_col))
    else:
        q = F.array(*[F.lit(float(x)) for x in query_vec])
        scorer = cosine_expr(F.col(vec_col), q)
    return (
        embs.select(F.col(id_col), F.round(scorer, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN index — the similarity-search scale path
# ---------------------------------------------------------------------------

def train_ivf_centroids(
    embs: DataFrame,
    n_cells: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int = 20_000,
    iters: int = 10,
    seed: int = 9,
) -> np.ndarray:
    """Deterministic k-means centroids from a hash-sampled subset.

    The sample is bounded (``sample_cap`` rows to the driver — IVF
    training is sublinear by design; FAISS trains on samples too), the
    sampling is content-addressed (xxhash64 of the id, no RNG on
    executors), and Lloyd runs vectorized on the driver. Returns
    (n_cells, dim) float64, L2-normalized rows.
    """
    total = embs.count()
    if total == 0:
        raise ValueError("cannot train IVF on an empty table")
    mod = max(1, total // sample_cap)
    # orderBy(hash) before limit: a bare limit takes rows in partition
    # order, which varies with layout/parallelism — sorting by the
    # content hash keeps the training set (and thus the centroids)
    # identical across core counts and file arrangements
    sample = (
        embs.select(F.col(vec_col), F.xxhash64(F.col(id_col)).alias("_h"))
        .filter(F.pmod(F.col("_h"), F.lit(mod)) == 0)
        .orderBy("_h")
        .limit(sample_cap)
        .toPandas()[vec_col]
    )
    mat = np.vstack(sample.to_numpy()).astype(np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    k = min(n_cells, mat.shape[0])
    rng = np.random.RandomState(seed)
    # k-means++ seeding (deterministic via the seeded RNG + the
    # hash-ordered sample): uniform-random init is luck-sensitive —
    # two near-identical anchors grabbing two cells starves others
    cent = np.empty((k, mat.shape[1]))
    cent[0] = mat[rng.randint(mat.shape[0])]
    d2 = 1.0 - mat @ cent[0]  # cosine distance on normalized rows
    np.maximum(d2, 0.0, out=d2)
    for i in range(1, k):
        d2_mass = float(d2.sum())
        if d2_mass <= 1e-9:
            # degenerate sample (all points ~identical / already
            # covered): kmeans++ weights vanish — fall back to uniform
            # picks so constant-embedding corpora still train
            cent[i] = mat[rng.randint(mat.shape[0])]
            continue
        probs = d2 / d2_mass
        probs /= probs.sum()  # exact renormalize for rng.choice
        cent[i] = mat[rng.choice(mat.shape[0], p=probs)]
        np.minimum(d2, np.maximum(1.0 - mat @ cent[i], 0.0), out=d2)
    for _ in range(iters):
        sims = mat @ cent.T  # cosine on normalized rows
        assign = sims.argmax(axis=1)
        for c in range(k):
            members = mat[assign == c]
            if len(members):
                v = members.mean(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    return cent


def assign_ivf_cells(
    embs: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Add an IVF ``cell`` column (argmax-cosine centroid). One
    vectorized pandas-UDF pass; at scale, write the result partitioned
    by cell so probes become partition-pruned scans."""
    cent = centroids

    @F.pandas_udf(T.IntegerType())
    def nearest_cell(vs: pd.Series) -> pd.Series:
        mat = np.vstack(vs.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return pd.Series((mat @ cent.T).argmax(axis=1).astype("int32"))

    return embs.withColumn("cell", nearest_cell(F.col(vec_col)))


def write_ivf_index(indexed: DataFrame, path: str) -> None:
    """Persist the IVF index ``partitionBy('cell')`` — each cell is its
    own directory, so a probe's ``cell IN (...)`` filter becomes a
    PartitionFilter and the scan touches only ~n_probe/n_cells of the
    files (the plan-test-pinned property; the reference's HNSW read
    path analog is neon_schema.py:131-142)."""
    indexed.write.partitionBy("cell").mode("overwrite").parquet(path)


def read_ivf_index(spark, path: str) -> DataFrame:
    """Read the partitioned index back; ``cell`` returns as a partition
    column, so downstream ``ivf_topk`` probes are partition-pruned."""
    return spark.read.parquet(path)


def append_to_ivf_index(
    new_vectors: DataFrame,
    centroids: np.ndarray,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance (the FAISS `add` pattern): assign
    NEW vectors to the EXISTING trained cells and append into the
    partitioned store — only the touched cell directories gain files,
    committed rows are never rewritten, and probes stay
    partition-pruned. Centroids are not retrained (per-batch retrain
    would relabel the whole corpus); re-train + full rewrite is the
    periodic maintenance action, exactly as IVF indexes are operated.
    """
    assign_ivf_cells(new_vectors, centroids, id_col, vec_col).write.partitionBy(
        "cell"
    ).mode("append").parquet(path)


def ivf_topk(
    indexed: DataFrame,
    centroids: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: probe the ``n_probe`` nearest cells, exact cosine
    inside them. Scans ~n_probe/n_cells of the corpus instead of all
    of it (a partition-pruned scan when the index is written
    partitionBy('cell')); exactness is restored inside the probed
    cells, so recall loss comes only from cell-boundary neighbors —
    raise n_probe to trade cost for recall."""
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    probes = [int(c) for c in (centroids @ q).argsort()[::-1][:n_probe]]
    scorer = make_cosine_to_query_udf([float(x) for x in q])
    return (
        indexed.filter(F.col("cell").isin(probes))
        .select(F.col(id_col), F.round(scorer(F.col(vec_col)), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
