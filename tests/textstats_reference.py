"""Expression reference for the ``doc_quality`` registry query.

``doc_quality`` takes its integer feature inputs from the fused
``token_stats_arrow`` kernel. This is the all-expression form it
replaced (the shipped form through r16): three staged projections over
one scan, tokenize → features → score from the feature COLUMNS.
``tests/test_textstats_kernel.py`` pins the kernel to it exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_implementation_spark.functions import textstats as ts
from mapreduce_implementation_spark.operators.dedup import spread
from mapreduce_implementation_spark.sources.catalog import load_table


def doc_quality_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # two-step: tokenize once into a column, features read the column
    # (inline, the split reruns per feature — no CSE across outputs)
    pre = spread(docs.select("doc_id", "text")).select(
        "doc_id", "text", ts._lower_tokens("text").alias("_toks")
    )
    f = ts.quality_features("text", toks=F.col("_toks"))
    feat = pre.select(
        "doc_id",
        f["n_chars"].alias("n_chars"),
        f["n_tokens"].alias("n_tokens"),
        f["alpha_ratio"].alias("alpha_ratio"),
        f["punct_ratio"].alias("punct_ratio"),
        f["stopword_ratio"].alias("stopword_ratio"),
        f["mean_token_len"].alias("mean_token_len"),
        f["distinct_token_ratio"].alias("distinct_token_ratio"),
        f["top_token_frac"].alias("top_token_frac"),
    )
    score = ts.quality_score_from(
        {k: F.col(k) for k in ("n_tokens", "mean_token_len", "punct_ratio",
                               "stopword_ratio")}
    )
    return feat.select("*", score.alias("quality_score"))
