"""Parity gate for the r17 fused token-stats kernel (guide §4.2).

doc_quality's integer feature inputs moved from the interpreted-HOF
expression chain to ``token_stats_arrow`` (one vectorized mapInArrow
pass — 12.3× at 1M docs, OPTIMIZATION_r17.md). These tests pin the
kernel EXACTLY equal to the expression reference
(``tests/textstats_reference.py::doc_quality_expr``) on every
edge the chain has semantics for:

* NULL text (every stat NULL), empty text and whitespace-only text
  (0 tokens, top_cnt 0 — the fold's acc0);
* the full Java ``\\s`` class ``[ \\t\\n\\x0B\\f\\r]`` as separators
  (RE2's ``\\s`` lacks ``\\x0B``, so the kernel spells the class out);
* repeated tokens (top_cnt = longest sorted run), stopword hits,
  punctuation/alpha counts;
* non-ASCII rows (the per-row ``str.lower`` fallback) and MIXED
  batches (ASCII rows vectorize, unicode rows fall back — scattered
  back by index, not by de-vectorizing the batch).
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from textstats_reference import doc_quality_expr

from mapreduce_implementation_spark.functions import textstats as ts
from mapreduce_implementation_spark.plans import all_queries

ADVERSARIAL = [
    (1, "  A b\tC\x0bd\fe\rf\ng  "),          # every Java \s separator
    (2, ""),                                    # empty text
    (3, "\t\x0b\f"),                            # whitespace-only
    (4, None),                                  # NULL text
    (5, "the the THE of of a " * 40),           # repetition + stopwords
    (6, "singleword"),
    (7, "punct!!! 123 mixed, 0x0B (parens) [brackets]"),
    (8, "ÉÉ éé ß Σ ΑΣ à.à, b!b?"),              # non-ASCII fallback row
    (9, "mixed ASCII then Ünïcode tail"),        # mixed-batch row
    (10, "The Quick BROWN fox AND the lazy DOG the end"),
]


def _doc_dir(spark, rows):
    d = tempfile.mkdtemp(prefix="mris_docq_par_")
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))
    return d


def _assert_frames_equal(a, b):
    assert a.schema == b.schema
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_doc_quality_kernel_matches_expr_adversarial(spark):
    d = _doc_dir(spark, ADVERSARIAL)
    kernel = all_queries()["doc_quality"].fn(spark, d)
    expr = doc_quality_expr(spark, d)
    _assert_frames_equal(kernel, expr)


def test_doc_quality_kernel_matches_expr_fixture(spark, sf_dir):
    kernel = all_queries()["doc_quality"].fn(spark, sf_dir)
    expr = doc_quality_expr(spark, sf_dir)
    _assert_frames_equal(kernel, expr)


def test_token_stats_arrow_null_and_empty_semantics(spark):
    d = _doc_dir(spark, [(1, None), (2, ""), (3, " \t "), (4, "a a b")])
    docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
    out = {
        r["doc_id"]: r.asDict()
        for r in ts.token_stats_arrow(docs, "doc_id", "text").collect()
    }
    # NULL text: every stat NULL (the expr chain's NULL propagation)
    assert all(v is None for k, v in out[1].items() if k != "doc_id")
    # empty/whitespace-only: zero tokens, fold acc0 top_cnt of 0
    for did in (2, 3):
        assert out[did]["n_tokens"] == 0
        assert out[did]["top_cnt"] == 0
        assert out[did]["n_distinct"] == 0
    assert out[4]["n_tokens"] == 3
    assert out[4]["n_distinct"] == 2
    assert out[4]["top_cnt"] == 2
    assert out[4]["n_stop"] == 2  # 'a' is an en stopword, two hits


def test_token_stats_arrow_mixed_batch_scatter(spark):
    # one unicode row inside an ASCII batch must not change ASCII rows'
    # results (fast path + fallback scattered back by index)
    ascii_rows = [(i, f"tok{i} common word word") for i in range(50)]
    mixed = ascii_rows + [(99, "Ünïcode ünïcode ünïcode word")]
    da = _doc_dir(spark, ascii_rows)
    dm = _doc_dir(spark, mixed)
    docs_a = spark.read.parquet(os.path.join(da, "documents.parquet"))
    docs_m = spark.read.parquet(os.path.join(dm, "documents.parquet"))
    # force ONE batch so fast and slow paths share it
    a = {
        r["doc_id"]: r.asDict()
        for r in ts.token_stats_arrow(
            docs_a.coalesce(1), "doc_id", "text"
        ).collect()
    }
    m = {
        r["doc_id"]: r.asDict()
        for r in ts.token_stats_arrow(
            docs_m.coalesce(1), "doc_id", "text"
        ).collect()
    }
    for did, row in a.items():
        assert m[did] == row
    assert m[99]["n_tokens"] == 4
    assert m[99]["n_distinct"] == 2  # 'ünïcode' x3 after lower + 'word'
    assert m[99]["top_cnt"] == 3
