"""Similarity search over embedding columns (array<float>).

Two tiers, as a 100 TB pipeline needs:
  * brute-force cosine top-k — exact baseline; one scan + one top-k reduce,
    all JVM-side (F.aggregate/zip_with dot products inside codegen).
  * LSH-bucketed ANN — random-hyperplane signatures via an Arrow-batched
    pandas UDF (numpy matmul over whole record batches, the mandated
    vectorized path); candidate generation is bucket-equality joins, so the
    all-pairs comparison never materializes.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from aqueduct_core_spark.functions.dedup import _band_pairs


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against one query vector. Single narrow scan, score
    computed in codegen, then a global top-k (orderBy+limit -> Spark's
    TakeOrderedAndProject, no full sort)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), 6).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.col(id_col)).limit(k)


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact near-duplicate pairs by cosine >= threshold (brute-force all-pairs;
    the oracle baseline — use the LSH path at scale). Norms are precomputed
    per vector so the quadratic pair stage evaluates one array fold (the dot)
    instead of three — bit-identical to cosine(): same expression for the
    norm, same operation order for dot/(na*nb)."""
    n = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("_n", _norm(F.col("v")))
    a, b = n.alias("a"), n.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(
                _dot(F.col("a.v"), F.col("b.v")) / (F.col("a._n") * F.col("b._n")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def lsh_hyperplanes(dim: int, nbits: int, n_tables: int = 1, seed: int = 42) -> np.ndarray:
    """Fixed random hyperplanes, shape (n_tables, nbits, dim). Deterministic in
    (dim, nbits, n_tables, seed) — exposed so the DuckDB oracle twin can embed
    the SAME constants and reproduce the bucketing exactly."""
    return np.random.RandomState(seed).standard_normal((n_tables, nbits, dim))


def lsh_bucket_ids(dim: int, nbits: int = 16, seed: int = 42, n_tables: int = 1):
    """Vectorized random-hyperplane LSH bucketer: a pandas UDF computing the
    sign-bit signature of each vector against the fixed hyperplanes with a
    single numpy matmul per Arrow batch (no per-row Python). Returns an array
    of n_tables bucket ids per vector."""
    hyper = lsh_hyperplanes(dim, nbits, n_tables, seed)  # (T, nbits, dim)
    flat = hyper.reshape(n_tables * nbits, dim).T  # (dim, T*nbits)
    weights = (1 << np.arange(nbits)).astype(np.int64)

    @pandas_udf("array<long>")
    def bucket(vecs: pd.Series) -> pd.Series:
        m = np.asarray(vecs.tolist(), dtype=np.float64)  # (batch, dim)
        bits = (m @ flat) > 0  # (batch, T*nbits)
        per_table = bits.reshape(len(m), n_tables, nbits).astype(np.int64) @ weights
        return pd.Series(list(per_table))

    return bucket


def auto_lsh_size(
    n: int,
    target_bucket: int = 32,
    base_nbits: int = 8,
    base_tables: int = 4,
    threshold: float | None = None,
    max_tables_factor: int = 8,
) -> tuple[int, int]:
    """In-engine default sizing for hyperplane LSH (the PLANS.md rule made
    code, like ``fat_bucket_cap`` / ``max_doc_freq`` are for the dedup ops):

      nbits    = max(base_nbits, ceil(log2(n / target_bucket)))
      n_tables = recall-matched growth from base_tables (below)

    With nbits fixed, bucket occupancy grows linearly with the corpus and
    candidate-pair volume quadratically; keeping expected occupancy at
    ~target_bucket keeps candidate work near-linear in n.

    Each extra bit multiplies a pair's per-table collision probability by
    p_bit = 1 - arccos(threshold)/pi (the hyperplane-LSH collision law), so
    holding recall AT the threshold constant requires
    n_tables = base_tables * (1/p_bit)^(nbits - base_nbits). That factor is
    ~1.1/bit for true near-dups (threshold 0.95) but ~1.6/bit at a loose
    threshold like 0.4 — measured at 20k vectors, the naive one-table-per-bit
    rule silently dropped 35% of the t=0.4 pair set. With threshold=None the
    near-dup-regime linear rule (one extra table per bit) applies.
    Table growth is capped at base_tables * max_tables_factor; candidate
    volume still wins asymptotically because tables grow geometrically-in-
    bits while per-bucket pair volume shrinks 2x per bit."""
    nbits = max(base_nbits, math.ceil(math.log2(max(int(n), 1) / target_bucket)))
    extra_bits = nbits - base_nbits
    if threshold is None:
        n_tables = base_tables + extra_bits
    else:
        p_bit = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
        n_tables = math.ceil(base_tables * (1.0 / max(p_bit, 1e-6)) ** extra_bits)
    return nbits, min(n_tables, base_tables * max_tables_factor)


def _candidate_pairs(
    df: DataFrame,
    dim: int,
    nbits: int,
    seed: int,
    n_tables: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """LSH candidate generation: bucket every vector in every table, pair ids
    that share a (table, bucket) cell. The bucket table is narrow (id + T
    longs); vectors never enter the self-join."""
    bucket = lsh_bucket_ids(dim, nbits, seed, n_tables)
    buckets = df.select(
        F.col(id_col).alias("id"), bucket(F.col(vec_col)).alias("_bks")
    ).select("id", F.posexplode("_bks").alias("tbl", "bucket"))
    # materialize the narrow (id, tbl, bucket) table once: it feeds BOTH self-
    # join sides, and without a barrier each side re-runs the Python bucketer
    # over every vector (guide §4: cross the JVM/Python boundary once)
    buckets = buckets.localCheckpoint(eager=True)
    return _band_pairs(buckets, ["tbl", "bucket"]).dropDuplicates(["id_a", "id_b"])


def ann_neardup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    nbits: int | None = None,
    seed: int = 42,
    n_tables: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate near-dup pairs: multi-table LSH bucketing, candidate pairs
    only within a (table, bucket) group, verified with exact cosine. Recall
    < 1 by construction (scale path) — raise n_tables to raise recall; the
    emitted set is a deterministic function of (data, dim, nbits, n_tables,
    seed), which the DuckDB oracle twin reproduces from the same hyperplane
    constants (lsh_hyperplanes).

    By default (nbits=None) the bucket count is AUTO-SIZED from a cheap
    corpus count via auto_lsh_size — callers no longer need the PLANS.md
    sizing rule to avoid quadratic candidate growth at scale. Pass explicit
    nbits/n_tables to pin the bucketing (the contract query does, so its
    oracle twin can embed the same constants).

    Runs eager Spark jobs (the corpus count when nbits is None, and the
    bucket table) and holds the bucket table's executor blocks until the
    result is garbage-collected."""
    if nbits is None:
        nbits, auto_tables = auto_lsh_size(
            df.select(id_col).count(), threshold=threshold
        )
        if n_tables is None:
            n_tables = auto_tables
    elif n_tables is None:
        n_tables = 1
    cand = _candidate_pairs(df, dim, nbits, seed, n_tables, id_col, vec_col)
    # Verification cost is per candidate PAIR, so hoist everything per-VECTOR
    # out of it: precompute each vector's norm once (n rows) and evaluate one
    # higher-order dot per pair instead of three array folds (dot + 2 norms).
    # Bit-identical to cosine(): the norm is the same expression over the same
    # input, and dot/(na*nb) keeps the same operation order (measured at sf1:
    # 3.67M candidate pairs, verification 4.1s -> 2.2s).
    va = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("_va")
    ).withColumn("_na", _norm(F.col("_va")))
    vb = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).cast("array<double>").alias("_vb")
    ).withColumn("_nb", _norm(F.col("_vb")))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
