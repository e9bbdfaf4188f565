"""Vector similarity building blocks (SURVEY.md §2.9).

Cosine math is done in float64 via JVM higher-order functions
(``zip_with`` + ``aggregate`` — a sequential left fold, matching the
oracle's evaluation order).  The brute-force path broadcasts the query
set; the LSH path buckets by random-hyperplane signature so candidate
generation is an equi-join.

100 TB scale path (documented, per SURVEY.md §4 item 2): replace the
broadcast cross join with a block-matrix pandas UDF (numpy GEMM per
partition pair) once the query set no longer fits a broadcast — the
bucketed-LSH variant below is the first step of that path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "emb",
    query_id_col: str = "query_id",
    query_vec_col: str = "q_emb",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors per query via broadcast cross join.

    Output: (query_id, neighbor_id, rnk, sim) with total tie-broken
    ordering (sim desc, neighbor_id asc).
    """
    # Norms are per-vector, not per-pair: compute them once on each side
    # before the join (at n vectors x q queries this saves 2/3 of the
    # floating-point work versus a naive per-pair cosine).
    vec = vectors.withColumn("_nrm", norm(F.col(vec_col)))
    qs = queries.withColumn("_qnrm", norm(F.col(query_vec_col)))
    sim = dot(F.col(query_vec_col), F.col(vec_col)) / (F.col("_qnrm") * F.col("_nrm"))
    scored = (
        vec.crossJoin(F.broadcast(qs))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            F.col(query_id_col).alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            sim.alias("raw_sim"),
        )
    )
    # Rank on the ROUNDED similarity (both engines): the raw float64 fold
    # is not guaranteed bit-identical across engines, and a ULP gap at
    # the rank-k boundary would flip row membership; at 6 dp the two
    # evaluation orders agree, and neighbor_id breaks exact ties.
    scored = scored.withColumn("sim", F.round("raw_sim", 6))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.select("*", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "sim")
    )


_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _xxh64_int(value: int, seed: int) -> int:
    """xxHash64 of one 32-bit value — the exact arithmetic of Spark's
    ``XxHash64Function.hashInt`` (public xxHash spec, 4-byte input
    path), so plane components can be derived at BUILD time instead of
    per row.  Pinned bit-for-bit against Spark's ``xxhash64`` over the
    whole (plane, dim) grid in tests/test_properties.py."""

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & _M64

    h = (seed + _XXH_P5 + 4) & _M64
    h ^= (value & 0xFFFFFFFF) * _XXH_P1 & _M64
    h = (rotl(h, 23) * _XXH_P2 + _XXH_P3) & _M64
    h ^= h >> 33
    h = h * _XXH_P2 & _M64
    h ^= h >> 29
    h = h * _XXH_P3 & _M64
    h ^= h >> 32
    return h


def plane_component_bit(p: int, d: int) -> int:
    """Bit 0 of ``xxhash64(p, d)`` (Spark seed 42, INT operands hashed
    through the 4-byte path, column-chained) — the sign source of plane
    p, dim d."""
    return _xxh64_int(d, _xxh64_int(p, 42)) & 1


def hyperplane_signature(vec_col: str, n_planes: int = 8, dim: int = 64) -> Column:
    """Random-hyperplane LSH signature (bigint) for cosine similarity.

    Plane p's component d is a deterministic pseudo-random +-1 derived
    from xxhash64(p, d) — no driver-side randomness, identical on every
    executor and every run.

    r12 (guide §4.1 — higher-order functions run interpreted, keep the
    per-element body minimal): the ±1 components are now computed at
    BUILD time (``_xxh64_long`` reproduces Spark's xxhash64 exactly —
    pin-tested) and baked as one literal double array per plane, so the
    per-row work per plane is one zip_with multiply + one aggregate sum
    instead of a per-element xxhash64 + branch.  The fold order and the
    addends (emb[d] * ±1.0 — exact products) are unchanged, so every
    dot, sign bit and signature is bit-identical to the former spelling
    (measured: same signatures for all vectors at sf0.1; ~3x less
    signature-pass time)."""
    planes = []
    for p in range(n_planes):
        comps = ", ".join(
            "1.0D" if plane_component_bit(p, d) == 1 else "-1.0D"
            for d in range(dim)
        )
        dot_p = (
            f"aggregate(zip_with({vec_col}, slice(array({comps}), 1, "
            f"size({vec_col})), (x, s) -> x * s), CAST(0.0 AS DOUBLE), "
            "(acc, v) -> acc + v)"
        )
        planes.append(
            f"(CASE WHEN {dot_p} > 0 THEN {1 << p}L ELSE 0L END)"
        )
    return F.expr("(" + " + ".join(planes) + ")")
