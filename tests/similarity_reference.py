"""Expression references for the similarity assignment kernels.

``similarity.assign_inverted_lists``, ``assign_two_level`` and
``_with_buckets`` each run one Arrow-batched numpy kernel. These are
the same operators written with the public ``functions.vectors``
expressions, in the shape the DuckDB twins in
``plans/similarity_queries.py`` replay: score every (vector, centroid)
pair, quantize to DECIMAL(10,4), rank ``score DESC NULLS LAST,
centroid_id ASC``. Tests compare the kernels against them row for row.

``probe_reference`` is ``ivf_topk_from_index`` in the same style: every
(query, indexed vector) pair scored by the inline ``cosine`` below,
which folds both norms inside the pair expression, against the
operator's norms staged once per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_implementation_spark.functions.vectors import dot, norm

COS_Q = "decimal(10,4)"


def cosine(a, b):
    """Cosine similarity; NULL for a zero, NULL or ragged side."""
    denom = norm(a) * norm(b)
    return F.when(denom != 0, dot(a, b) / denom)


def _top_by_score(scored: DataFrame, id_col: str, cid_col: str, nprobe: int):
    w = Window.partitionBy(id_col).orderBy(
        F.col("_s").desc_nulls_last(), F.col(cid_col).asc()
    )
    return scored.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= nprobe
    )


def assign_reference(
    df: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Flat top-``nprobe`` assignment: DataFrame[id_col, *keep_cols,
    centroid_id]. NULL scores (NULL, zero or ragged vectors) rank
    last, so an all-NULL row takes the smallest centroid ids."""
    c = centroids.select(
        F.col("centroid_id").cast("int").alias("_cid"),
        F.col("centroid_emb").alias("_cemb"),
    )
    scored = df.crossJoin(c).withColumn(
        "_s", cosine(F.col(emb_col), F.col("_cemb")).cast(COS_Q)
    )
    return _top_by_score(scored, id_col, "_cid", nprobe).select(
        F.col(id_col),
        *[F.col(k) for k in keep_cols],
        F.col("_cid").alias("centroid_id"),
    )


def assign_two_level_reference(
    df: DataFrame,
    coarse: DataFrame,
    fine: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Two-level assignment: the flat reference over ``coarse``, then
    the same over the chosen cell's ``fine`` rows."""
    cell = assign_reference(
        df, coarse, 1, id_col, emb_col, keep_cols=(emb_col,)
    ).withColumnRenamed("centroid_id", "_cell")
    kept = df.select(
        F.col(id_col), *[F.col(k) for k in keep_cols if k != emb_col]
    )
    f = fine.select(
        F.col("coarse_id").cast("int").alias("_cell"),
        F.col("centroid_id").cast("int").alias("_fid"),
        F.col("centroid_emb").alias("_femb"),
    )
    scored = (
        cell.join(kept, id_col)
        .join(f, "_cell")
        .withColumn("_s", cosine(F.col(emb_col), F.col("_femb")).cast(COS_Q))
    )
    return _top_by_score(scored, id_col, "_fid", 1).select(
        F.col(id_col),
        *[F.col(k) for k in keep_cols],
        F.col("_fid").alias("centroid_id"),
    )


def buckets_reference(
    df: DataFrame,
    planes: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    keep_emb: bool = False,
) -> DataFrame:
    """SRP bucket string: one ``dot(emb, plane) >= 0`` bit per plane,
    concatenated in plane_id order; a NULL dot (NULL or ragged vector)
    is a "0" bit."""
    rows = sorted(planes.select("plane_id", "plane_emb").collect())
    bits = [
        F.when(
            dot(F.col(emb_col), F.lit([float(x) for x in r.plane_emb])) >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for r in rows
    ]
    cols = [F.col(id_col)] + ([F.col(emb_col)] if keep_emb else [])
    return df.select(*cols, F.concat(*bits).alias("bucket"))


def probe_reference(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF top-k over a materialized index: each query's ``nprobe``
    lists by ``assign_reference``, every (query, indexed vector) pair
    in them scored by the inline cosine (SQ8 codes directly, as the
    operator does), then rank ``score DESC NULLS LAST, vec_id ASC``
    and keep ``k`` — DataFrame[query_id, vec_id, cos_sim double,
    rank long]."""
    q = assign_reference(
        queries, centroids, nprobe, id_col, emb_col, keep_cols=(emb_col,)
    ).select(
        F.col(id_col).cast("long").alias(query_id_col),
        F.col(emb_col).cast("array<double>").alias("_q_emb"),
        F.col("centroid_id"),
    )
    index = spark.read.parquet(index_path)
    vec_col = "emb_q" if "emb_q" in index.columns else emb_col
    scored = (
        index.join(q, "centroid_id")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            F.col(query_id_col),
            F.col(id_col),
            cosine(F.col("_q_emb"), F.col(vec_col)).cast(COS_Q).alias("cos_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc_nulls_last(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .withColumn("cos_sim", F.col("cos_sim").cast("double"))
    )
