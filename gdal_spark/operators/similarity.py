"""Similarity search over embedding columns (array<float>).

Training-data-pipeline extension (no analog in the reference engine).
Design for exactness + scale:

- Embeddings are quantized to int64 (round(x * SCALE)) so dot products
  and norms are EXACT integer sums — order-independent, reproducible in
  any engine (the ranking key (dot*|dot|)^2/(|a||b|) is a ratio of
  exactly-representable int64s, so even the final double division is
  bit-identical everywhere).
- brute_force_topk: query-side broadcast, candidate generation is a
  crossJoin only of (queries x corpus) — the baseline oracle path.
- ivf_topk: IVF-style bucketing — corpus assigned to nearest of K
  derived centroids (one pass), queries probe the P nearest centroid
  cells; the join is an equi-join on centroid id. The scale path: the
  corpus shuffles ONCE at index build, each query touches P buckets.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import cache
from ..sources import derive

SCALE = 1000  # quantization: round(x*1000) keeps |dot|^2 and naa*nbb < 2^53


def quantize(df: DataFrame, *, id_col: str, vec: str = "embedding",
             out: str = "qvec") -> DataFrame:
    """array<float> -> array<bigint> via round(x*SCALE) (half away from
    zero, same rule as DuckDB/standard SQL round)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.expr(
            f"transform({vec}, x -> cast(round(cast(x as double) * {SCALE}) as bigint))"
        ).alias(out),
    )


def _dot(a: str, b: str) -> Column:
    return F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (s, v) -> s + v)")


def _norm2(a: str) -> Column:
    return F.expr(f"aggregate({a}, 0L, (s, v) -> s + v * v)")


def _rank_key() -> Column:
    """Signed squared-cosine ranking key from exact ints:
    sign(dot) * dot^2 / (naa*nbb). All operands < 2^53 -> the double
    division is the only rounding step and is identical everywhere."""
    return (
        F.signum(F.col("_dot").cast("double"))
        * (F.col("_dot") * F.col("_dot")).cast("double")
        / (F.col("_naa") * F.col("_nbb")).cast("double")
    )


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, *, k: int = 5,
    id_col: str = "vec_id", vec: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query over the corpus.
    Returns (query_id, neighbor_id, rank); self-matches excluded.
    Plan: broadcast the (small) query side; one corpus scan; per-query
    top-k via window on the (query-partitioned) candidate set."""
    c = quantize(corpus, id_col=id_col, vec=vec).select(
        F.col("id").alias("_cid"), F.col("qvec").alias("_cv")
    ).withColumn("_nbb", _norm2("_cv"))
    q = quantize(queries, id_col=id_col, vec=vec).select(
        F.col("id").alias("_qid"), F.col("qvec").alias("_qv")
    ).withColumn("_naa", _norm2("_qv"))
    cand = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("_cid") != F.col("_qid"))
        .withColumn("_dot", _dot("_qv", "_cv"))
    )
    w = Window.partitionBy("_qid").orderBy(
        _rank_key().desc(), F.col("_cid").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            F.col("_cid").alias("neighbor_id"),
            "rank",
        )
    )


# ------------------------------------------------------------------- IVF

def derived_centroids(spark, n_centroids: int, dim: int) -> DataFrame:
    """K deterministic centroids derived from (centroid, dim) hashes in
    [-SCALE, SCALE] int space — data-independent 'training' so both
    engines regenerate identical centroids."""
    return spark.range(n_centroids).select(
        F.col("id").alias("cent_id"),
        F.expr(
            f"transform(sequence(0, {dim - 1}), d -> "
            f"cast(round((((((id * {dim} + d) % {derive.M31}) * {derive.A} + 7) % {derive.M31})"
            f" * {derive.A} + 62) % {derive.M31} / cast({derive.M31} as double) "
            f"* {2 * SCALE} - {SCALE}) as bigint))"
        ).alias("cvec"),
    )


def ivf_assign(corpus_q: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign each corpus vector to its nearest centroid by the exact
    int ranking key (ties -> lower cent_id). One broadcast join +
    window; this is the single corpus shuffle of the IVF build."""
    cand = corpus_q.crossJoin(F.broadcast(cents)).select(
        "id", "qvec", "cent_id",
        _dot("qvec", "cvec").alias("_dot"),
        _norm2("qvec").alias("_naa"),
        _norm2("cvec").alias("_nbb"),
    )
    w = Window.partitionBy("id").orderBy(_rank_key().desc(), F.col("cent_id").asc())
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("id", "qvec", "cent_id")
    )


RANK_KEY_SQL = (
    "(CASE WHEN {dot} > 0 THEN CAST(1 AS DOUBLE) WHEN {dot} < 0 "
    "THEN CAST(-1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) "
    "* (CAST({dot} * {dot} AS DOUBLE) / CAST({naa} * {nbb} AS DOUBLE))"
)


def ivf_sql_ctes(dim: int, n_centroids: int, n_assign: int) -> str:
    """DuckDB CTE chain replaying quantize + derived centroids +
    multi-assignment bit-for-bit (same LCG formula, same signed
    squared-cosine ranking key, ties by cent_id). Final CTEs:
    n0(vec_id, v, n2) and asg(vec_id, v, n2, cent_id)."""
    M31, A = derive.M31, derive.A
    cv = (
        f"CAST(round((((((r.range * {dim} + d) % {M31}) * {A} + 7) % {M31})"
        f" * {A} + 62) % {M31} / CAST({M31} AS DOUBLE) * {2 * SCALE} - {SCALE})"
        f" AS BIGINT)"
    )
    key = RANK_KEY_SQL.format(dot="cdot", naa="n2", nbb="cn2")
    return f"""
qv AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {SCALE}) AS BIGINT)) AS v
  FROM embeddings
),
n0 AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM qv),
cents AS (
  SELECT CAST(r.range AS BIGINT) AS cent_id,
         list_transform(range({dim}), d -> {cv}) AS cvec
  FROM range({n_centroids}) r
),
cn AS (SELECT cent_id, cvec, CAST(list_sum(list_transform(cvec, x -> x * x)) AS BIGINT) AS cn2 FROM cents),
ac AS (
  SELECT vec_id, v, n2, cent_id, cn2,
         CAST(list_sum(list_transform(range({dim}), i -> v[i+1] * cvec[i+1])) AS BIGINT) AS cdot
  FROM n0 CROSS JOIN cn
),
rk AS (
  SELECT vec_id, v, n2, cent_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY {key} DESC, cent_id ASC) AS rn
  FROM ac
),
asg AS (SELECT vec_id, v, n2, cent_id FROM rk WHERE rn <= {n_assign})"""


def ivf_multi_assign(corpus_q: DataFrame, cents: DataFrame,
                     n_assign: int = 2) -> DataFrame:
    """Assign each vector to its `n_assign` nearest centroids (exact
    int ranking key, ties -> lower cent_id). Multi-assignment is the
    IVF dedup trick: two near-duplicate vectors always share at least
    one of their top buckets in practice, so bucket-local pair
    generation replaces the all-pairs cross join."""
    cand = corpus_q.crossJoin(F.broadcast(cents)).select(
        "id", "qvec", "cent_id",
        _dot("qvec", "cvec").alias("_dot"),
        _norm2("qvec").alias("_naa"),
        _norm2("cvec").alias("_nbb"),
    )
    w = Window.partitionBy("id").orderBy(_rank_key().desc(), F.col("cent_id").asc())
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_assign)
        .select("id", "qvec", "cent_id")
    )


def ivf_dedup_pairs(
    embeddings: DataFrame, *, n_centroids: int = 8, n_assign: int = 2,
    cos_threshold_x10: int = 4, id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at scale: candidates are
    pairs sharing an IVF bucket (each vector multi-assigned to its
    `n_assign` nearest derived centroids), then the EXACT integer
    cosine test (dot > 0 and 100*dot^2 >= t^2*naa*nbb). The bucket
    join replaces the O(n^2) cross join — per-bucket pairs are
    O((n/K)^2) and K grows with the corpus. Deterministic end-to-end
    (derived centroids + exact int ranking), so the DuckDB oracle
    replays it bit-for-bit; pairs missed because both vectors share no
    bucket are a documented recall trade measured in tests.

    Returns (id_a, id_b, dot)."""
    spark = embeddings.sparkSession
    first = embeddings.select(F.expr(f"size({vec})").alias("d")).limit(1).collect()
    dim = int(first[0]["d"])
    cents = derived_centroids(spark, n_centroids, dim)
    q = quantize(embeddings, id_col=id_col, vec=vec)
    assigned = ivf_multi_assign(q, cents, n_assign)
    n = assigned.withColumn("n2", _norm2("qvec"))
    # the bucket self-join's two sides never hit ReusedExchange, so
    # without this the quantize -> centroid-rank -> window pipeline
    # (a shuffle + per-vector dot products) runs twice
    n = cache.persist(n)
    a = n.select(F.col("id").alias("id_a"), F.col("cent_id"),
                 F.col("qvec").alias("va"), F.col("n2").alias("naa"))
    b = n.select(F.col("id").alias("id_b"), F.col("cent_id"),
                 F.col("qvec").alias("vb"), F.col("n2").alias("nbb"))
    t2 = cos_threshold_x10 * cos_threshold_x10
    pairs = (
        a.join(b, "cent_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .drop("cent_id")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("dot", _dot("va", "vb"))
        .filter(
            (F.col("dot") > 0)
            & (F.lit(100.0) * (F.col("dot") * F.col("dot")).cast("double")
               >= F.lit(float(t2)) * (F.col("naa") * F.col("nbb")).cast("double"))
        )
    )
    return pairs.select("id_a", "id_b", "dot")


def ivf_topk(
    corpus: DataFrame, queries: DataFrame, *, k: int = 5, n_centroids: int = 8,
    n_probe: int = 2, id_col: str = "vec_id", vec: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: corpus bucketed by nearest centroid;
    each query searches its `n_probe` nearest buckets. Same output
    shape as brute_force_topk; approximate by construction (documented
    recall tradeoff), deterministic given the derived centroids."""
    spark = corpus.sparkSession
    first = corpus.select(F.expr(f"size({vec})").alias("d")).limit(1).collect()
    dim = int(first[0]["d"])
    cents = derived_centroids(spark, n_centroids, dim)

    cq = quantize(corpus, id_col=id_col, vec=vec)
    assigned = ivf_assign(cq, cents).withColumnRenamed("id", "_cid") \
                                    .withColumnRenamed("qvec", "_cv")

    qq = quantize(queries, id_col=id_col, vec=vec)
    qprobe = (
        qq.crossJoin(F.broadcast(cents))
        .select(
            F.col("id").alias("_qid"), F.col("qvec").alias("_qv"), "cent_id",
            _dot("qvec", "cvec").alias("_dot"),
            _norm2("qvec").alias("_naa"),
            _norm2("cvec").alias("_nbb"),
        )
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("_qid").orderBy(_rank_key().desc(), F.col("cent_id").asc())))
        .filter(F.col("_rn") <= n_probe)
        .select("_qid", "_qv", "cent_id")
    )
    cand = (
        assigned.join(F.broadcast(qprobe), "cent_id")
        .filter(F.col("_cid") != F.col("_qid"))
        .select(
            "_qid", "_cid",
            _dot("_qv", "_cv").alias("_dot"),
            _norm2("_qv").alias("_naa"),
            _norm2("_cv").alias("_nbb"),
        )
    )
    w = Window.partitionBy("_qid").orderBy(_rank_key().desc(), F.col("_cid").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("_qid").alias("query_id"), F.col("_cid").alias("neighbor_id"), "rank")
    )
