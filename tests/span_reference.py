"""Expression references for the span-hash kernel of
``contamination.duplicate_span_stats``.

The operator hashes spans with one fused mapInArrow kernel
(``contamination._span_hashes``). These are the two JVM expression
forms it replaced, each returning per-doc distinct ``(id_col, h)``
rows that tests feed through the operator's own aggregation tail
(``contamination._span_stats``):

* ``tokhash_span_hashes`` — ``xxhash64`` of every n-long slice of the
  per-token ``xxhash64`` array: the same hash family as the kernel, so
  its ``(id, h)`` multiset must match bit for bit;
* ``string_span_hashes`` — ``xxhash64`` of the space-joined n-gram
  string: another hash family, so only the dup/unique classification
  (the exact-mode output) must match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_implementation_spark.functions.text import tokens
from mapreduce_implementation_spark.operators.dedup import shingles


def tokhash_span_hashes(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    th = docs.select(
        F.col(id_col),
        F.transform(
            tokens(F.lower(F.col(text_col)), mode="simple"),
            lambda t: F.xxhash64(t),
        ).alias("_th"),
    )
    return th.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size(F.col("_th")) >= n,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.size(F.col("_th")) - F.lit(n)),
                        lambda i: F.xxhash64(F.slice(F.col("_th"), i + 1, n)),
                    )
                ),
            ).otherwise(F.array().cast("array<long>"))
        ).alias("h"),
    )


def string_span_hashes(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    return docs.select(
        F.col(id_col), F.explode(shingles(text_col, n)).alias("span")
    ).select(F.col(id_col), F.xxhash64("span").alias("h"))
