"""Similarity search over embedding columns (array<float>).

Two paths, per the north star (BASELINE.json) and the top-k literature
in PAPERS.md:

* ``brute_force_topk`` — exact: broadcast the (small) query set, score
  every (query, vector) pair with a JVM-side cosine expression, take
  per-query top-k with a ranking window. At scale this is ONE pass over
  the data with zero shuffle for scoring (broadcast nested-loop) and a
  single hash shuffle on query_id for the window — the right exact plan
  for |queries| ≪ |vectors|.

* ``lsh_topk`` — approximate: sign-of-projection bucketing (SRP-style
  LSH). Projection planes are taken from the dataset itself (fixed
  vec_ids) so the scheme is deterministic and oracle-portable; buckets
  shrink the candidate set by ~2^planes. The same idea extends to IVF
  (k-means centroids as planes) without changing the dataflow.

Scores are quantized to DECIMAL(10,4) BEFORE ranking so that ordering
(and therefore top-k membership) is bit-stable across engines; ties
break on vec_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_implementation_spark.functions.vectors import dot, norm

COS_Q = "decimal(10,4)"


def _staged_score(q_emb: str, e_emb: str) -> Column:
    """Quantized cosine of one (query, vector) pair from L2 norms
    STAGED as columns once per row BEFORE the join: ``_qn`` on the
    query side, ``_vn`` on the scanned side (``norm`` of the same
    array). Each pair then runs one interpreted dot fold instead of
    the dot plus four norm folds the inline ``when(denom != 0,
    dot/denom)`` form costs (Catalyst evaluates ``denom`` twice and
    has no CSE across the HOF folds). The values are bit-identical to
    that form: the same folds, and ``_qn * _vn`` is the same IEEE
    product. NULL semantics too: a NULL, zero or ragged side gives a
    NULL or zero norm or a NULL dot, and the pair scores NULL."""
    denom = F.col("_qn") * F.col("_vn")
    return F.when(denom != 0, dot(F.col(q_emb), F.col(e_emb)) / denom).cast(
        COS_Q
    )


def _local_frame(spark, ddl: str, columns: list[list]) -> DataFrame:
    """Driver-built rows as a ``LocalRelation``: ``createDataFrame``
    over an Arrow table. The row-list form plans as a ``LogicalRDD``,
    so each collect or broadcast of it is a Spark job (~120–200 ms on
    a 4-core host); a ``LocalRelation`` collects on the driver with no
    job. Spark builds the ``LocalRelation`` only while the Arrow payload
    stays below ``spark.sql.execution.arrow.localRelationThreshold``
    (48 MiB by default); above it the frame is a ``LogicalRDD`` again
    and its collects run jobs. ``columns`` holds one value list per
    ``ddl`` field, in order; the schema, nullability included, is
    exactly ``ddl``'s."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = to_arrow_schema(StructType.fromDDL(ddl))
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, schema)],
        schema=schema,
    )
    return spark.createDataFrame(table, ddl)


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
    impl: str = "arrow",
    max_queries: int = 10_000,
) -> DataFrame:
    """Exact per-query top-k by cosine. ``queries`` must be small.
    Self-matches (same id) are excluded.

    ``impl="arrow"`` (default, round 13): the query matrix is
    collected (``max_queries``-guarded — the same small-queries
    contract the broadcast form trusted implicitly) and each Arrow
    batch scores as ONE (n,d)@(d,q) matmul; only each batch's
    per-query top-k candidate rows leave Python (≤ batches·q·k rows —
    at 100 TB the n·q score-row explosion of the crossJoin never
    materializes), and the final ranking window runs on that reduced
    set. Exactness: the true global top-k per query is a subset of
    the per-batch top-ks; candidate ordering uses the same quantized
    score (np_quantize_q4's exact-fold boundary replay — bit-equal to
    the expr form's DECIMAL(10,4) cast) and the same vec_id tiebreak,
    and the emitted double ``qi/10⁴`` round-trips the decimal cast
    exactly, so the final window reproduces the expr ranking bit for
    bit (parity pytest-pinned). NULL-score pairs (zero/null/ragged
    embeddings — the expr form's WHEN yields NULL, which the ranking
    window sorts LAST, so they surface only when a query has fewer
    than k real candidates) are preserved: each batch also emits its
    k smallest-id null-score candidates per query, with cos_sim NULL.
    ``"expr"`` is the crossJoin + HOF-fold A/B arm."""
    if impl not in ("arrow", "expr"):
        raise ValueError(f"impl must be 'arrow' or 'expr', got {impl!r}")
    if impl == "arrow":
        return _brute_force_topk_arrow(
            vectors, queries, k, id_col, emb_col, query_id_col, max_queries
        )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias(query_id_col),
            F.col(emb_col).alias("_q_emb"),
            norm(F.col(emb_col)).alias("_qn"),
        )
    )
    scored = (
        vectors.select(
            F.col(id_col), F.col(emb_col), norm(F.col(emb_col)).alias("_vn")
        )
        .crossJoin(q)
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            F.col(query_id_col),
            F.col(id_col),
            _staged_score("_q_emb", emb_col).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, query_id_col, id_col, k)


def _brute_force_topk_arrow(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    emb_col: str,
    query_id_col: str,
    max_queries: int,
) -> DataFrame:
    """mapInPandas brute-force kernel (see brute_force_topk): per Arrow
    batch, one (n,d)@(d,q) matmul + per-query partial top-k; the final
    exact ranking window runs over ≤ batches·q·2k candidate rows."""
    import math

    from pyspark.sql import types as T

    ship_module_by_value()

    # one job: a limit over the query scan collected as Arrow (a
    # Row collect of the limit runs incremental take jobs); the cap+1
    # rows bound what reaches the driver before the guard raises
    qrows = (
        queries.select(F.col(id_col), F.col(emb_col))
        .limit(max_queries + 1)
        .toArrow()
        .to_pylist()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"brute_force_topk(impl='arrow') collects the query set; "
            f"it exceeds max_queries={max_queries}. Raise the cap, or "
            f"use impl='expr' (broadcast crossJoin) for larger sets."
        )
    q_ids = [r[id_col] for r in qrows]
    q_vals = [
        [float(x) for x in r[emb_col]] if r[emb_col] is not None else None
        for r in qrows
    ]
    q_norms = [
        math.sqrt(sum(x * x for x in v)) if v is not None else None
        for v in q_vals
    ]

    pre = vectors.select(F.col(id_col), F.col(emb_col))
    in_schema = pre.schema
    qid_field = queries.select(F.col(id_col)).schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(query_id_col, qid_field.dataType),
            in_schema[id_col],
            T.StructField("cos_sim", T.DoubleType(), True),
        ]
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        nq = len(q_ids)
        # dims may differ per query (ragged) — use the modal dim of the
        # valid queries for the matmul matrix; other queries score as
        # null pairs (zip_with-padding semantics)
        dims = [len(v) for v in q_vals if v is not None]
        # modal dim; deterministic tie-break (smallest) so a 50/50
        # ragged query set can't flip behavior between runs
        d = max(sorted(set(dims)), key=dims.count) if dims else 0
        qmat = np.zeros((nq, d), dtype=np.float64)
        q_ok = np.zeros(nq, dtype=bool)
        for j, v in enumerate(q_vals):
            if v is not None and len(v) == d:
                qmat[j] = v
                q_ok[j] = True
        qn = np.array(
            [x if x is not None else np.nan for x in q_norms],
            dtype=np.float64,
        )
        qid_arr = np.array(q_ids)

        for pdf in batches:
            n = len(pdf)
            if n == 0 or nq == 0:
                continue
            embs = pdf[emb_col].to_numpy()
            ids = pdf[id_col].to_numpy()
            ok, m = _stack_rows(embs, d)
            vn = np.sqrt(np.einsum("ij,ij->i", m, m))
            denom = vn[:, None] * qn[None, :]
            not_self = ids[:, None] != qid_arr[None, :]
            valid = (
                ok[:, None]
                & q_ok[None, :]
                & np.isfinite(denom)
                & (denom != 0.0)
            )
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(valid, (m @ qmat.T) / denom, -np.inf)

            def exact_at(flat_ix: int) -> float:
                i, j = divmod(flat_ix, nq)
                acc = 0.0
                for a, b in zip(q_vals[j], embs[i]):
                    acc += float(a) * float(b)
                accn = 0.0
                for x in embs[i]:
                    accn += float(x) * float(x)
                return acc / (q_norms[j] * math.sqrt(accn))

            qscore = np_quantize_q4(cos, exact_at)

            out_q, out_v, out_s = [], [], []
            for j in range(nq):
                col = qscore[:, j]
                fin = np.nonzero(np.isfinite(col) & not_self[:, j])[0]
                if len(fin):
                    order = fin[
                        np.lexsort((ids[fin], -col[fin]))
                    ][:k]
                    out_q.extend([q_ids[j]] * len(order))
                    out_v.extend(ids[order])
                    out_s.extend(col[order] / 10_000.0)
                # null-score pairs (the expr form's NULL rows): smallest
                # ids, surfaced only if the final window needs fillers
                nul = np.nonzero(~np.isfinite(col) & not_self[:, j])[0]
                if len(nul):
                    order = nul[np.argsort(ids[nul])][:k]
                    out_q.extend([q_ids[j]] * len(order))
                    out_v.extend(ids[order])
                    out_s.extend([None] * len(order))
            if out_q:
                yield pd.DataFrame(
                    {
                        query_id_col: out_q,
                        id_col: out_v,
                        "cos_sim": pd.array(out_s, dtype="float64"),
                    }
                )

    cand = pre.mapInPandas(gen, out_schema)
    scored = cand.withColumn("cos_sim", F.col("cos_sim").cast(COS_Q))
    return _rank_topk(scored, query_id_col, id_col, k)


def _rank_topk(scored: DataFrame, query_id_col: str, id_col: str, k: int) -> DataFrame:
    """Rank on the DECIMAL score (cross-engine-stable ordering), then
    emit the score as double (identical decimal→double on both engines;
    avoids Decimal-object vs float dtype skew at the result boundary)."""
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .withColumn("cos_sim", F.col("cos_sim").cast("double"))
    )


def _with_buckets(
    df: DataFrame,
    planes: DataFrame,
    id_col: str,
    emb_col: str,
    keep_emb: bool = False,
) -> DataFrame:
    """Attach an SRP bucket string: sign of dot(embedding, plane_j) for
    each plane, concatenated in plane order.

    The planes (a handful of P×d vectors) are collected to the driver
    and shipped with the task, so the whole bucket computation is ONE
    map-only pass — no crossJoin row explosion, no groupBy shuffle, no
    join-back (the same driver-side-small design as k-means
    centroids). ``keep_emb`` also carries the embedding through,
    saving callers the re-join.

    Per Arrow batch, ONE (n,d)@(d,P) matmul yields all P dots and the
    signs become the bit string vectorized (round 13: 3.3× over P
    interpreted HOF dot folds per row). The bits equal the expression
    ``when(dot(emb, plane) >= 0, "1").otherwise("0")`` the DuckDB twin
    replays: a BLAS dot can only disagree with the left fold inside a
    ~1e-14 band around 0, and every |dot| < 1e-9 is recomputed through
    Spark's exact left fold before the sign is taken. Null/ragged
    embeddings produce the all-zeros bucket (a NULL dot), zero vectors
    the all-ones bucket (0.0 ≥ 0) — pinned against the expression
    reference in tests/similarity_reference.py."""
    from pyspark.sql import types as T

    ship_module_by_value()

    plane_vals = [
        [float(x) for x in r.plane_emb]
        for r in sorted(
            planes.select("plane_id", "plane_emb").collect(),
            key=lambda r: r.plane_id,
        )
    ]
    pre = df.select(F.col(id_col), F.col(emb_col))
    in_schema = pre.schema
    out_fields = [in_schema[id_col]]
    if keep_emb:
        out_fields.append(in_schema[emb_col])
    out_schema = T.StructType(
        out_fields + [T.StructField("bucket", T.StringType(), False)]
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        pmat = np.array(plane_vals, dtype=np.float64)  # P x d
        p, d = pmat.shape

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            embs = pdf[emb_col].to_numpy()
            ok, m = _stack_rows(embs, d)
            dots = m @ pmat.T  # n x P
            boundary = ok[:, None] & (np.abs(dots) < 1e-9)
            if boundary.any():
                for i, j in zip(*np.nonzero(boundary)):
                    acc = 0.0
                    for a, b in zip(embs[i], plane_vals[j]):
                        acc += float(a) * b
                    dots[i, j] = acc
            bits = np.where(ok[:, None] & (dots >= 0.0), "1", "0")
            out = {id_col: pdf[id_col].to_numpy()}
            if keep_emb:
                out[emb_col] = pdf[emb_col].to_numpy()
            out["bucket"] = ["".join(r) for r in bits]
            yield pd.DataFrame(out)

    return pre.mapInPandas(gen, out_schema)


def _stack_rows(embs, d: int):
    """Validity mask (non-NULL and exactly ``d`` long) and the valid
    rows stacked into an (n, d) float64 matrix; invalid rows stay
    all-zero. Shared by every Arrow-batched scoring kernel here."""
    import numpy as np

    ok = np.fromiter(
        (e is not None and len(e) == d for e in embs),
        dtype=bool,
        count=len(embs),
    )
    m = np.zeros((len(embs), d), dtype=np.float64)
    for i in np.nonzero(ok)[0]:
        m[i] = np.asarray(embs[i], dtype=np.float64)
    return ok, m


def _centroid_table(cents):
    """Driver-held ``(id, values)`` centroids → ids, float rows, and
    norms as Python left folds (the IEEE sequence of the SQL twin's
    list_sum and of Spark's norm fold)."""
    import math

    vals = [[float(x) for x in emb] for _, emb in cents]
    norms = [math.sqrt(sum(x * x for x in v)) for v in vals]
    return [int(cid) for cid, _ in cents], vals, norms


def ship_module_by_value() -> None:
    """Register THIS module for cloudpickle by-value shipping: the
    arrow assignment/screen closures reference np_quantize_q4, and the
    driver contract hands us SparkSessions whose Python workers may
    not have the package on sys.path (same contract as
    operators/inference.embed_documents and multimodal._ship_codecs_
    by_value — the verify skill's /tmp canary catches regressions)."""
    from pyspark import cloudpickle

    import mapreduce_implementation_spark.operators.similarity as _self

    cloudpickle.register_pickle_by_value(_self)


def np_quantize_q4(cos, exact_cos):
    """Quantize a float64 cosine ndarray to DECIMAL(10,4)-scaled
    integers (×10⁴), replicating Spark's double→DECIMAL(10,4) cast
    EXACTLY — including the shortest-decimal-repr HALF_UP semantics
    the fast path alone cannot see.

    Fast path: ``sign(c)·floor(|c|·10⁴ + 0.5)`` — agrees with the cast
    whenever ``|c|·10⁴ + 0.5`` is ≥1e-6 away from an integer. Entries
    inside that band (the only place summation-order noise OR
    shortest-repr rounding can flip the result; observed BLAS-vs-fold
    deltas are ≲1e-10 in these scaled units) are recomputed through
    ``exact_cos(flat_index) → float``, which must replay Spark's exact
    left-fold arithmetic; the recomputed double is then quantized via
    ``Decimal(repr(c))`` — bit-identical to the JVM cast, which rounds
    ``BigDecimal.valueOf(double)`` = ``Double.toString`` (shortest
    round-trip repr, the same algorithm as Python ``repr``) with
    HALF_UP. Non-finite entries (−inf null markers) pass through.

    This is the exact-parity backstop behind every numpy screen and
    the arrow assignment: outside the band the two roundings cannot
    disagree, inside it the Spark arithmetic itself is replayed."""
    import numpy as np

    with np.errstate(invalid="ignore"):
        t = np.abs(cos) * 10_000.0 + 0.5
        fl = np.floor(t)
        q = np.sign(cos) * fl
        frac = t - fl
        boundary = np.isfinite(cos) & (np.minimum(frac, 1.0 - frac) < 1e-6)
    if boundary.any():
        from decimal import ROUND_HALF_UP, Decimal

        flat = q.reshape(-1)
        for ix in np.nonzero(boundary.reshape(-1))[0]:
            c = exact_cos(int(ix))
            flat[ix] = float(
                Decimal(repr(float(c)))
                .quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
                .scaleb(4)
            )
    return q


MICRO = 1_000_000


def quantize_micro(emb: Column | str) -> Column:
    """Embedding elements → integer micro-units (round(x*1e6), HALF_UP —
    identical to DuckDB's round-away-from-zero on this domain). Cosine
    is scale-invariant, so clustering on the int vectors equals
    clustering on the floats while every cross-engine comparison stays
    integer-exact."""
    from mapreduce_implementation_spark.functions.vectors import as_double

    col = F.col(emb) if isinstance(emb, str) else emb
    return F.transform(as_double(col), lambda v: F.round(v * MICRO).cast("long"))


def train_centroids(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    *,
    sample_n: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Spherical k-means (Lloyd) producing REAL trained IVF centroids,
    deterministically and engine-reproducibly:

    * init: the k rows ranked first by ``md5(vec_id)`` — a seeded
      pseudo-random draw both engines order identically.
    * assign + update, fused in one mapInPandas pass per iteration
      (_train_sums_arrow): argmax quantized cosine against the current
      centroids (ties → smaller centroid id, the assign_inverted_lists
      kernel), then per-centroid per-dimension integer sums (exact in
      any aggregation order — THE property that makes distributed
      training reproducible; float sums are order-dependent), reduced
      by one k×d-row groupBy; ``floor(sum/count)`` in micro-units on
      the driver; empty clusters keep their previous centroid.

    Centroids are k×d values — held on the driver between iterations
    (the same design as MLlib's KMeans), so each iteration is one
    bounded Spark job and the lineage never grows. Returns
    DataFrame[centroid_id int, centroid_emb array<long>] in micro-unit
    scale (cosine downstream is scale-invariant), as a driver-local
    relation (``LocalRelation``, built from Arrow; _local_frame): every
    consumer that collects it (assign_inverted_lists, each
    append_to_ivf_index and ivf_topk_from_index call) reads it on the
    driver with no Spark job, while its k×d longs stay below
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MiB by
    default, ~6M values); a larger set is an RDD-backed frame whose
    collects run jobs.

    ``sample_n`` trains Lloyd on a deterministic bounded sample of
    ~``sample_n`` rows, selected by a HASH THRESHOLD
    (``xxhash64(vec_id, "trainsample") % 2³⁰ < 2³⁰·sample_n/N`` after
    one column-pruned counting pass): a map-side filter, no sort. An
    exact-N ``orderBy().limit()`` was tried first and measured 4×
    WORSE than full-corpus training at 200k vectors — TakeOrdered
    merges every partition's top-sample_n list in one task, which at
    sample_n=10⁵ is a multi-million-row single-threaded merge; the
    threshold filter trades exact size (binomial, ±√sample_n) for
    zero movement. This is the standard IVF quantizer practice (FAISS
    trains coarse quantizers on bounded samples): per-iteration Lloyd
    cost drops from O(N·k·d) to O(sample_n·k·d) while assignment
    quality at probe time is driven by centroid POSITIONS, which
    converge long before the full corpus is seen — probe recall
    parity is pinned on the planted-neighbor fixture
    (tests/test_similarity.py). The init draw is the md5-ranked top-k
    WITHIN the sample — deterministic for a fixed input set. None
    (default) trains on the full corpus — the oracle-replayed exact
    protocol.

    The DuckDB twin (plans/similarity_queries.py) unrolls these exact
    iterations as chained CTEs."""
    import math

    from mapreduce_implementation_spark.caching import track_cache
    from mapreduce_implementation_spark.operators.dedup import spread

    if sample_n is not None and sample_n < k:
        raise ValueError(f"sample_n={sample_n} must be >= k={k}")
    # widened (single-file scans serialize otherwise) and cached: the
    # quantized vectors are read 2×iters+1 times across the Lloyd jobs
    vq_full = spread(
        vectors.select(F.col(id_col).alias("vec_id"), F.col(emb_col))
    ).select("vec_id", quantize_micro(emb_col).alias("ev"))
    vq = vq_full
    sampled = False
    if sample_n is not None:
        # column-pruned count (the quantize expression is not needed
        # for a count), then a map-side hash-threshold filter — see
        # the docstring for why NOT orderBy().limit(). n_rows
        # (round-14, build-job unification): a caller that already
        # knows the corpus size (a calibrate_corpus pre-flight, a
        # catalog row count) passes it and this builder runs ZERO
        # jobs before the Lloyd iterations.
        n = vq_full.count() if n_rows is None else int(n_rows)
        if n > sample_n:
            denom = 1 << 30
            thresh = max(1, int(denom * (sample_n / n)))
            vq = vq_full.where(
                F.pmod(
                    F.xxhash64(F.col("vec_id"), F.lit("trainsample")),
                    F.lit(denom),
                )
                < thresh
            )
            sampled = True
    vq = track_cache(vq)
    spark = vectors.sparkSession
    init_rows = (
        vq.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(k)
        .collect()
    )
    if sampled and len(init_rows) < k:
        # The hash-threshold sample is binomial (±√sample_n): for
        # sample_n close to k the REALIZED sample can hold fewer than
        # k rows, which would silently train fewer than k centroids.
        # Fall back to full-corpus training — the cost the default
        # pays — rather than raise on a probabilistic shortfall.
        vq = track_cache(vq_full)
        init_rows = (
            vq.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
            .limit(k)
            .collect()
        )
    centroids: list[tuple[int, list[int]]] = [
        (i, list(r.ev)) for i, r in enumerate(init_rows)
    ]
    for _ in range(iters):
        # Fused update (r16): assignment + per-centroid integer sums in
        # one mapInPandas pass — each task returns at most k×d partial
        # rows, pre-reduced by one tiny groupBy so the driver collects
        # exactly k×d rows regardless of task count (driver-side reduce
        # of tasks×k×d partials was measured WORSE than the unfused
        # shape at k=64: 1.94 s vs 1.53 s, while this form reads
        # 1.16 s — the collect, not the exchange, is the scaling
        # hazard; see _train_sums_arrow's parity notes)
        sums = (
            _train_sums_arrow(vq, centroids, "ev")
            .groupBy("centroid_id", "pos")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        by_cid: dict[int, dict[int, tuple[int, int]]] = {}
        for r in sums:
            by_cid.setdefault(r.centroid_id, {})[r.pos] = (r.s, r.n)
        new_centroids = []
        for cid, old in centroids:
            dims = by_cid.get(cid)
            if not dims:
                new_centroids.append((cid, old))  # empty cluster: keep
                continue
            # floor of the DOUBLE division, matching the SQL twin
            # FLOOR(CAST(s AS DOUBLE)/n) bit-for-bit
            new_centroids.append(
                (
                    cid,
                    [
                        int(math.floor(dims[p][0] / dims[p][1]))
                        for p in range(len(old))
                    ],
                )
            )
        centroids = new_centroids
    return _local_frame(
        spark,
        "centroid_id int, centroid_emb array<long>",
        [[cid for cid, _ in centroids], [emb for _, emb in centroids]],
    )


def train_two_level_centroids(
    vectors: DataFrame,
    k_coarse: int = 32,
    k_fine: int = 32,
    iters: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    *,
    sample_n: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Two-level (coarse → fine) centroid hierarchy — the IMI-style
    answer to the flat assignment's O(N · k · d) per-corpus cost: with
    k = k_coarse × k_fine effective cells, per-row assignment work
    drops to O((k_coarse + k_fine) · d). This is what lets
    semantic_dedup scale its cluster count with the corpus
    (SemDeDup wants ~N/1000 clusters; flat scoring at k=10⁵ is
    unpayable, two-level at 320×320 is two small argmaxes).

    Level 1: real Lloyd training (train_centroids). Level 2: within
    each coarse cell, ``k_fine`` deterministic md5-ranked member
    vectors (sampling init, no per-cell Lloyd — the standard residual
    shortcut; cells are already locally coherent). The fine selection
    reuses sampling.stratified_fixed_n — two-phase top-N per cell, no
    whole-cell single-task sort. Empty coarse cells keep their coarse
    centroid as the single fine member so assignment is total.

    Returns ``(coarse, fine)``:
    ``coarse = DataFrame[centroid_id int, centroid_emb array<long>]``
    (micro-quantized, as train_centroids) and
    ``fine = DataFrame[coarse_id int, centroid_id int, centroid_emb
    array<double>]`` with globally unique
    ``centroid_id = coarse_id * k_fine + rank``."""
    from mapreduce_implementation_spark.operators.sampling import (
        stratified_fixed_n,
    )

    if k_fine < 1 or k_coarse < 1:
        raise ValueError("k_coarse and k_fine must be >= 1")
    spark = vectors.sparkSession
    # sample_n bounds the COARSE Lloyd pass (see train_centroids);
    # the fine level is already a bounded per-cell top-N selection
    coarse = train_centroids(
        vectors, k=k_coarse, iters=iters, id_col=id_col, emb_col=emb_col,
        sample_n=sample_n,
    )
    assigned = assign_inverted_lists(
        vectors, coarse, 1, id_col=id_col, emb_col=emb_col,
        keep_cols=(emb_col,),
    )
    picks = stratified_fixed_n(assigned, "centroid_id", k_fine, key_col=id_col)
    rows = picks.select("centroid_id", id_col, emb_col).collect()
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(int(r["centroid_id"]), []).append(r)
    coarse_rows = {
        int(r.centroid_id): [float(x) for x in r.centroid_emb]
        for r in coarse.collect()
    }
    fine_rows = []
    for cid, cemb in sorted(coarse_rows.items()):
        members = by_cell.get(cid)
        if not members:
            fine_rows.append((cid, cid * k_fine, cemb))
            continue
        members.sort(key=lambda r: int(r[id_col]))  # any fixed order
        for j, m in enumerate(members):
            fine_rows.append(
                (cid, cid * k_fine + j, [float(x) for x in m[emb_col]])
            )
    fine = _local_frame(
        spark,
        "coarse_id int, centroid_id int, centroid_emb array<double>",
        [[row[i] for row in fine_rows] for i in range(3)],
    )
    return coarse, fine


def assign_two_level(
    vectors: DataFrame,
    coarse: DataFrame,
    fine: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Two-level assignment: argmax-cosine coarse cell (ties → smaller
    id, same convention as the flat path), then argmax among THAT
    cell's fine centroids — per-row score work O((k_coarse + k_fine)·d)
    instead of the flat O(k_total · d).

    Both stages run FUSED in one mapInPandas pass: per Arrow batch, one
    matmul against the coarse matrix picks the cell, then one matmul
    per distinct chosen cell against that cell's fine block (fine is
    k1·k2 rows — driver-small by construction). Map-only: no broadcast
    join, no per-vector argmax exchange. Against the round-9 expression
    form (literal coarse argmax + broadcast fine join + ``max(struct)``
    aggregate) the round-13 A/B at 800k vectors measured the hierarchy
    build 3.0× and the two-level semantic e2e 3.8× faster (BASELINE.md).

    Ranking is the flat path's contract at both stages: quantized
    DECIMAL(10,4) cosine (np_quantize_q4's exact-fold replay at the
    rounding boundaries), score DESC, centroid id ASC; NULL scores
    (null/ragged/zero rows) never beat real ones, so such a row takes
    the smallest coarse cell and that cell's smallest fine id. Pinned
    against the expression reference in tests/similarity_reference.py
    (tests/test_two_level.py).

    Returns DataFrame[id_col, *keep_cols, centroid_id] with the GLOBAL
    fine centroid id — one row per input row (ids are assumed unique,
    as everywhere in the similarity stack)."""
    from pyspark.sql import types as T

    cents = sorted(
        (
            (int(r.centroid_id), [float(x) for x in r.centroid_emb])
            for r in coarse.collect()
        ),
    )
    if not cents:
        raise ValueError("coarse centroid set is empty")
    fine_rows = sorted(
        (
            (
                int(r.coarse_id),
                int(r.centroid_id),
                [float(x) for x in r.centroid_emb],
            )
            for r in fine.select(
                "coarse_id", "centroid_id", "centroid_emb"
            ).collect()
        ),
        key=lambda t: (t[0], t[1]),
    )
    have = {cid for cid, _, _ in fine_rows}
    missing = [cid for cid, _ in cents if cid not in have]
    if missing:
        raise ValueError(
            f"coarse cells {missing[:5]} have no fine centroids; pass "
            f"the (coarse, fine) pair from train_two_level_centroids"
        )

    ship_module_by_value()

    coarse_ids, coarse_vals, coarse_norms = _centroid_table(cents)
    fine_by_cell: dict[int, list[tuple[int, list[float]]]] = {}
    for ccell, fid, vals in fine_rows:
        fine_by_cell.setdefault(ccell, []).append((fid, vals))

    pre = vectors.select(
        F.col(id_col),
        F.col(emb_col),
        *[F.col(c) for c in keep_cols if c != emb_col],
        norm(F.col(emb_col)).alias("_vn"),
    )
    in_schema = pre.schema
    out_schema = T.StructType(
        [in_schema[id_col]]
        + [in_schema[c] for c in keep_cols]
        + [T.StructField("centroid_id", T.IntegerType(), False)]
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        cmat = np.array(coarse_vals, dtype=np.float64)
        cn = np.array(coarse_norms, dtype=np.float64)
        ccid = np.array(coarse_ids, dtype=np.int64)
        k1, d = cmat.shape
        blocks = {}
        for ccell, members in fine_by_cell.items():
            fids, fvals, fnorms = _centroid_table(members)
            blocks[ccell] = (
                np.array(fids, dtype=np.int32),
                np.array(fvals, dtype=np.float64),
                np.array(fnorms, dtype=np.float64),
                fvals,
            )

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            embs = pdf[emb_col].to_numpy()
            vn = pdf["_vn"].to_numpy(dtype=np.float64)
            ok, m = _stack_rows(embs, d)
            ok &= np.isfinite(vn)
            denom = vn[:, None] * cn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(
                    ok[:, None] & (denom != 0.0), (m @ cmat.T) / denom, -np.inf
                )

            def exact_coarse(flat_ix: int) -> float:
                i, j = divmod(flat_ix, k1)
                acc = 0.0
                for a, b in zip(coarse_vals[j], embs[i]):
                    acc += a * float(b)
                return acc / (coarse_norms[j] * float(vn[i]))

            q = np_quantize_q4(cos, exact_coarse)
            cell_ix = np.argmax(q, axis=1)  # first max = smallest cid
            cells = ccid[cell_ix]

            fine_out = np.empty(n, dtype=np.int32)
            for ccell in np.unique(cells):
                sel = np.nonzero(cells == ccell)[0]
                fids, fmat, fn, fvals = blocks[int(ccell)]
                msub = m[sel]
                vsub = vn[sel]
                oksub = ok[sel]
                dsub = vsub[:, None] * fn[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    fcos = np.where(
                        oksub[:, None] & (dsub != 0.0),
                        (msub @ fmat.T) / dsub,
                        -np.inf,
                    )

                def exact_fine(flat_ix: int) -> float:
                    i, j = divmod(flat_ix, len(fids))
                    acc = 0.0
                    for a, b in zip(fvals[j], embs[sel[i]]):
                        acc += a * float(b)
                    return acc / (float(fn[j]) * float(vsub[i]))

                fq = np_quantize_q4(fcos, exact_fine)
                fine_out[sel] = fids[np.argmax(fq, axis=1)]

            out = {id_col: pdf[id_col].to_numpy()}
            for c in keep_cols:
                out[c] = pdf[c].to_numpy()
            out["centroid_id"] = fine_out
            yield pd.DataFrame(out)

    return pre.mapInPandas(gen, out_schema)


def assign_inverted_lists(
    df: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """IVF assignment: nearest ``nprobe`` centroids per vector by
    quantized cosine (ties → smaller centroid_id). ``centroids`` is
    DataFrame[centroid_id int, centroid_emb array<numeric>] — k×d,
    collected to the driver and shipped with the task, so the whole
    assignment is ONE map-only mapInPandas pass: per Arrow batch, ONE
    (n, d) @ (d, k) matmul against the centroid matrix. No crossJoin
    row explosion, no per-vector ranking-window shuffle — at 100 TB
    this is a map-only pass over the vectors (centroids are
    driver-small by construction, as in MLlib). Measured (BASELINE.md
    r13, 800k vectors) 6.1× over the round-12 expression form, whose
    n·k interpreted HOF dot folds (CodegenFallback) were ≈100% of the
    semantic slice e2e.

    Returns DataFrame[id_col, *keep_cols, centroid_id] — one row per
    (vector, probed list), ordered score DESC, centroid_id ASC: the
    oracle's ROW_NUMBER ordering. Bit-parity with that quantized
    ranking, term by term:

    * ``_vn`` is computed SPARK-side in the projection (the same
      ``functions.vectors.norm`` fold the oracle's cosine runs);
    * centroid norms use Python's left-to-right fold — the same IEEE
      sequence as the SQL twin's list_sum;
    * the matmul dot differs from the fold only in summation ORDER
      (≲1e-15 relative); np_quantize_q4 recomputes any
      boundary-adjacent score through an EXACT left-fold replay +
      shortest-repr HALF_UP quantization, so the quantized score is
      bit-equal to Spark's DECIMAL(10,4) cast everywhere. For
      integer-micro inputs (the Lloyd path) every product and partial
      sum is an exactly-representable integer (< 2⁵³), so even the
      raw matmul is bit-exact in any order;
    * ranking: stable argsort on (−score), columns pre-sorted by
      centroid_id. Null scores (null/ragged embedding, zero norm)
      become −inf: never picked over a real score, and an all-null row
      still emits the smallest-cid probes (NULLS LAST).

    Pinned against the expression reference in
    tests/similarity_reference.py."""
    from pyspark.sql import types as T

    cents = [
        (int(r.centroid_id), [float(x) for x in r.centroid_emb])
        for r in sorted(
            centroids.select("centroid_id", "centroid_emb").collect(),
            key=lambda r: r.centroid_id,
        )
    ]
    if not cents:
        raise ValueError("centroid set is empty; train or supply >= 1 centroid")

    ship_module_by_value()

    cent_ids, cent_vals, cent_norms = _centroid_table(cents)

    pre = df.select(
        F.col(id_col),
        F.col(emb_col),
        *[F.col(c) for c in keep_cols if c != emb_col],
        norm(F.col(emb_col)).alias("_vn"),
    )
    in_schema = pre.schema
    out_schema = T.StructType(
        [in_schema[id_col]]
        + [in_schema[c] for c in keep_cols]
        + [T.StructField("centroid_id", T.IntegerType(), False)]
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        cmat = np.array(cent_vals, dtype=np.float64)
        cn = np.array(cent_norms, dtype=np.float64)
        cid_arr = np.array(cent_ids, dtype=np.int32)

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            embs = pdf[emb_col].to_numpy()
            vn = pdf["_vn"].to_numpy(dtype=np.float64)
            order = _np_batch_order(
                embs, vn, cmat, cn, cent_vals, cent_norms, nprobe
            )
            idx = np.repeat(np.arange(n), order.shape[1])
            out = {id_col: pdf[id_col].to_numpy()[idx]}
            for c in keep_cols:
                out[c] = pdf[c].to_numpy()[idx]
            out["centroid_id"] = cid_arr[order].reshape(-1)
            yield pd.DataFrame(out)

    return pre.mapInPandas(gen, out_schema)


def _np_batch_order(embs, vn, cmat, cn, cent_vals, cent_norms, nprobe):
    """The per-batch assignment core of :func:`assign_inverted_lists`,
    shared with the fused training-update kernel and the driver-side
    probe assignment so all three rank with the EXACT same arithmetic
    (matmul + np_quantize_q4 boundary replay + stable argsort — see
    assign_inverted_lists' parity notes). Returns an (n, nprobe) array
    of COLUMN indices into the caller's centroid arrays."""
    import numpy as np

    k, d = cmat.shape
    ok, m = _stack_rows(embs, d)
    ok &= np.isfinite(vn)
    denom = vn[:, None] * cn[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.where(
            ok[:, None] & (denom != 0.0), (m @ cmat.T) / denom, -np.inf
        )

    def exact_at(flat_ix: int) -> float:
        i, j = divmod(flat_ix, k)
        acc = 0.0
        ev = embs[i]
        cv = cent_vals[j]
        for a, b in zip(cv, ev):
            acc += a * float(b)
        return acc / (cent_norms[j] * float(vn[i]))

    q = np_quantize_q4(cos, exact_at)
    return np.argsort(-q, axis=1, kind="stable")[:, :nprobe]


def _clean_int_vector(e, d: int) -> bool:
    """True when ``e`` is a right-length vector whose every element is
    non-null and non-NaN — the rows the fused Lloyd kernel may stack
    into one int64 matrix. Arrow hands a list<long> column containing
    null elements to pandas as float arrays with NaN (or object arrays
    with None), so element cleanliness must be checked, not assumed
    (ADVICE r16)."""
    import numpy as np

    if e is None or len(e) != d:
        return False
    a = np.asarray(e)
    if a.dtype == object:
        return not any(v is None or v != v for v in a)
    if np.issubdtype(a.dtype, np.floating):
        return bool(np.isfinite(a).all())
    return True


def _train_sums_arrow(df: DataFrame, cents, emb_col: str = "ev") -> DataFrame:
    """Fused Lloyd-update kernel (r16, guide §2.3 "aggregate before you
    shuffle" applied to the Python boundary): assignment AND the
    per-centroid per-dimension integer sums compute in ONE mapInPandas
    pass, emitting at most k×d partial rows (centroid_id, pos, s, n)
    per TASK. The previous shape shipped every assigned row back to
    the JVM (N rows × d-long arrays per iteration), posexploded to
    N×d rows, and partial-aggregated them — correct, but the Arrow
    transfer and the explode/hash-agg pass grow with N while the
    information content is k×d integers per task.

    Parity with the unfused path (assign_inverted_lists carrying the
    vector, posexplode, groupBy sums), term by term: the ranking is
    :func:`_np_batch_order` — the byte-identical assignment core
    assign_inverted_lists uses; the sums are int64 adds of the same micro-unit
    values posexplode summed (exact integers, any order; np.int64
    wraps like the JVM long); a NULL vector contributes nothing
    (posexplode of NULL emits no rows) while a short/ragged vector
    contributes each element at its position — exactly the exploded
    semantics. Pinned by tests/test_similarity.py
    (test_train_centroids_null_element_vector_parity against that
    unfused form, test_train_centroids_impl_invariant, and the
    oracle-replayed Lloyd rows)."""
    from pyspark.sql import types as T

    ship_module_by_value()

    cent_ids, cent_vals, cent_norms = _centroid_table(cents)

    pre = df.select(F.col(emb_col), norm(F.col(emb_col)).alias("_vn"))
    out_schema = T.StructType(
        [
            T.StructField("centroid_id", T.IntegerType(), False),
            T.StructField("pos", T.IntegerType(), False),
            T.StructField("s", T.LongType(), False),
            T.StructField("n", T.LongType(), False),
        ]
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        cmat = np.array(cent_vals, dtype=np.float64)
        cn = np.array(cent_norms, dtype=np.float64)
        k, d = cmat.shape
        acc: dict[tuple[int, int], list[int]] = {}  # (cid, pos) -> [s, n]

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            embs = pdf[emb_col].to_numpy()
            vn = pdf["_vn"].to_numpy(dtype=np.float64)
            assign = _np_batch_order(
                embs, vn, cmat, cn, cent_vals, cent_norms, 1
            )[:, 0]
            # "full" = vectorizable: right length AND every element
            # non-null/non-NaN (ADVICE r16: Arrow surfaces a list<long>
            # with null elements as floats-with-NaN or objects-with-
            # None; np.asarray(int64) on those raised and, worse, the
            # unfused posexplode tolerated them — sum skips the null,
            # count(lit(1)) still counts the position). Anything not
            # clean routes to the per-element fallback below, which
            # replays exactly those exploded semantics.
            full = np.fromiter(
                (_clean_int_vector(e, d) for e in embs),
                dtype=bool,
                count=n,
            )
            if full.any():
                rows_ix = np.nonzero(full)[0]
                mi = np.stack(
                    [np.asarray(embs[i], dtype=np.int64) for i in rows_ix]
                )
                ai = assign[full]
                for j in np.unique(ai):
                    sel = mi[ai == j]
                    cid = cent_ids[int(j)]
                    col_sums = sel.sum(axis=0, dtype=np.int64)
                    cnt = int(sel.shape[0])
                    for p in range(d):
                        st = acc.setdefault((cid, p), [0, 0])
                        st[0] = int(np.int64(st[0]) + col_sums[p])
                        st[1] += cnt
            # short/ragged/null-element vectors: per-element, the
            # exploded semantics — a NULL element still counts the
            # position (count(lit(1))) while contributing nothing to
            # the sum
            for i in np.nonzero(~full)[0]:
                e = embs[i]
                if e is None:
                    continue
                cid = cent_ids[int(assign[i])]
                for p, v in enumerate(e):
                    st = acc.setdefault((cid, p), [0, 0])
                    st[1] += 1
                    if v is None or v != v:  # None or NaN (any float)
                        continue
                    st[0] = int(np.int64(st[0]) + np.int64(int(v)))
        if acc:
            keys = sorted(acc)
            yield pd.DataFrame(
                {
                    "centroid_id": [c for c, _ in keys],
                    "pos": [p for _, p in keys],
                    "s": [acc[kk][0] for kk in keys],
                    "n": [acc[kk][1] for kk in keys],
                }
            )

    return pre.mapInPandas(gen, out_schema)


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-flat approximate top-k: every vector lives in exactly one
    inverted list (nearest centroid); each query scores only its
    ``nprobe`` nearest lists — candidates shrink ~|lists|/nprobe ×.

    This build takes ``centroids`` as given (deterministic data rows in
    the oracle-checked query; production drops in k-means centroids —
    the dataflow is identical). A vector belongs to one list, so probed
    candidates are naturally duplicate-free. At scale, pre-materialize
    the assignment as a ``centroid_id``-partitioned table: probing then
    prunes partitions at the scan."""
    vb = assign_inverted_lists(
        vectors, centroids, 1, id_col, emb_col, keep_cols=(emb_col,)
    ).withColumn("_vn", norm(F.col(emb_col)))
    qb = assign_inverted_lists(
        queries, centroids, nprobe, id_col, emb_col, keep_cols=(emb_col,)
    ).select(
        F.col(id_col).alias(query_id_col),
        F.col(emb_col).alias("_q_emb"),
        norm(F.col(emb_col)).alias("_qn"),
        F.col("centroid_id"),
    )
    scored = (
        vb.join(F.broadcast(qb), "centroid_id")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            F.col(query_id_col),
            F.col(id_col),
            _staged_score("_q_emb", emb_col).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, query_id_col, id_col, k)


SQ8_CODE_COL = "emb_q"
SQ8_SCALE_COL = "emb_scale"


def quantize_sq8(
    df: DataFrame,
    emb_col: str = "embedding",
    code_col: str = SQ8_CODE_COL,
    scale_col: str = SQ8_SCALE_COL,
) -> DataFrame:
    """Per-vector int8 scalar quantization (the classic SQ8 index
    storage pattern from the FAISS line of work, public literature):
    ``scale = max|x| / 127``, ``code_i = round(x_i / scale)`` in
    [-127, 127], stored as ``array<tinyint>`` + one double scale.

    Pure expressions (scan-stage, no shuffle, no Python). Reconstruction
    ``code_i · scale`` is within ``scale/2`` of ``x_i`` per component
    (pytest-bounded). Edge semantics: NULL embedding → NULL codes;
    empty array → empty codes (NULL scale); an all-zeros vector →
    all-zero codes (scale 0), whose cosine is NULL downstream — the
    same null-safe zero-vector contract as ``_staged_score``.

    Why it matters at 100 TB: the probe's cost is dominated by
    SCANNING the inverted lists it prunes down to, and SQ8 cuts those
    list bytes ~4× (4-byte floats → 1-byte codes) at a recall cost
    bounded by the quantization noise (measured in the rehearsal —
    identical planted-mate recall at dim 64). Cosine is
    SCALE-INVARIANT, so probing scores the integer codes directly;
    the stored scale exists for magnitude reconstruction, not
    scoring.

    REGIME (measured both ways, BASELINE.md): this is a STORAGE/IO
    trade, not a universal probe speedup — at 800k the 3.5× byte
    reduction wins the probe (5.93 → 4.97 s); at 200k the scan is
    small enough that the codes' tinyint→double cast inside the
    cosine fold costs more than the I/O saved (3.42 vs 5.05 s). Take
    SQ8 when inverted lists are large relative to cache (the 100 TB
    case); keep floats for small hot indexes."""
    from mapreduce_implementation_spark.functions.vectors import as_double

    emb = as_double(F.col(emb_col))
    with_scale = df.withColumn(
        scale_col,
        F.array_max(F.transform(emb, lambda v: F.abs(v))) / 127.0,
    )
    codes = F.when(
        F.col(scale_col) > 0,
        F.transform(
            emb, lambda v: F.round(v / F.col(scale_col)).cast("tinyint")
        ),
    ).otherwise(F.transform(emb, lambda v: F.lit(0).cast("tinyint")))
    return with_scale.withColumn(code_col, codes)


def _ann_calibration_section(calibration: dict) -> dict:
    """The ``calibrate_ann`` report (or its ``"ann"`` section)."""
    return calibration.get("ann", calibration)


ANN_CALIBRATION_STAMP = "_mris_ann_calibration.json"


def stamp_index_calibration(index_dir: str, calibration: dict) -> None:
    """Persist the calibrated ANN knobs NEXT TO the index data
    (round-16 verdict item 4 — the readback half of the start()-time
    validation): ``<index_dir>/_mris_ann_calibration.json`` holding
    the ``calibrate_ann`` ``"ann"`` section. The underscore prefix
    keeps it invisible to parquet partition discovery (Spark's hidden-
    file convention), and the write goes through ``pyarrow.fs`` so
    object-store index dirs work. Overwrites any previous stamp — the
    calibration is part of the index contract, one per index."""
    import json

    import pyarrow.fs as pafs

    fs, path = pafs.FileSystem.from_uri(index_dir)
    path = path.rstrip("/")
    fs.create_dir(path, recursive=True)
    with fs.open_output_stream(f"{path}/{ANN_CALIBRATION_STAMP}") as f:
        f.write(
            json.dumps(_ann_calibration_section(calibration)).encode()
        )


def read_index_calibration(index_dir: str) -> dict | None:
    """Read back the stamp written by :func:`stamp_index_calibration`
    (None when the index carries no stamp — pre-round-16 indexes, or
    builds that never calibrated)."""
    import json

    import pyarrow.fs as pafs

    fs, path = pafs.FileSystem.from_uri(index_dir)
    target = f"{path.rstrip('/')}/{ANN_CALIBRATION_STAMP}"
    info = fs.get_file_info(target)
    if info.type == pafs.FileType.NotFound:
        return None
    with fs.open_input_stream(target) as f:
        return json.loads(f.read().decode())


def existing_index_layout(spark, path: str) -> str | None:
    """Sniff a materialized index's storage layout: ``"int8"`` (SQ8
    codes), ``"float"`` (raw embeddings), or None when nothing is
    committed yet. Benign failures (ADVICE r13 narrowed them
    deliberately — anything else must propagate or it would silently
    disarm the mixed-layout guard): PATH_NOT_FOUND (no directory),
    and UNABLE_TO_INFER_SCHEMA (directory exists but holds no data
    files — the state ``stamp_index_calibration`` leaves before the
    first batch lands, since the stamp is a hidden non-parquet
    file)."""
    from pyspark.errors import AnalysisException

    try:
        cols = spark.read.parquet(path).columns
    except AnalysisException as e:
        cond = (
            getattr(e, "getCondition", None)
            or getattr(e, "getErrorClass", lambda: None)
        )()
        benign = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
        if cond not in benign and not any(b in str(e) for b in benign):
            raise
        return None
    return "int8" if SQ8_CODE_COL in cols else "float"


def materialize_ivf_index(
    vectors: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    quantize: str | None = None,
    calibration: dict | None = None,
) -> None:
    """Write the IVF assignment as a ``centroid_id``-partitioned parquet
    dataset — the at-scale index layout: one directory per inverted
    list, so probing ``nprobe`` lists prunes every other partition at
    planning time (``PartitionFilters`` on the probe scan, plan-gated).
    Built once per corpus (sources/materialize.ensure_table) and reused
    by every query batch; the assignment itself is the map-only arrow
    kernel from assign_inverted_lists. The write CLUSTERS on
    centroid_id (one shuffle) so each inverted list lands as ~one file
    instead of one per (task, list) — with the assignment now 6×
    faster (round 13), the T·V-file commit was the build's dominant
    term (A/B in BASELINE.md), and fewer, bigger list files also read
    faster at probe time.

    ``quantize="int8"`` stores SQ8 codes (quantize_sq8) INSTEAD of the
    float embeddings — ~4× smaller inverted lists, which is ~4× less
    probe scan I/O; ``ivf_topk_from_index`` detects the layout from
    the index schema and scores the codes directly (cosine is
    scale-invariant). ``quantize="auto"`` takes the storage layout
    from the ``calibration`` report.

    ``calibration`` (round-15 verdict item 4, the miners' pattern):
    the ``calibrate_ann`` report for THIS corpus. The trained centroid
    count must equal the calibrated ``nlist`` — a mismatch means the
    recall-vs-nprobe curve was measured at a different points-per-list
    and its nprobe recommendation does not transfer, so it raises
    like the miners' knob checks."""
    from mapreduce_implementation_spark.sources.sinks import (
        write_partitioned_dataset,
    )

    if quantize not in (None, "int8", "auto"):
        raise ValueError(
            f"quantize must be None, 'int8' or 'auto', got {quantize!r}"
        )
    if quantize == "auto" and calibration is None:
        raise ValueError(
            "quantize='auto' reads the layout from a calibrate_ann "
            "report — pass calibration=, or pin the layout explicitly"
        )
    if calibration is not None:
        cal = _ann_calibration_section(calibration)
        if "nlist" in cal:
            n_cents = centroids.count()
            if n_cents != cal["nlist"]:
                raise ValueError(
                    f"calibration recommends nlist={cal['nlist']} but "
                    f"{n_cents} centroids were trained — the measured "
                    "recall-vs-nprobe curve holds at the calibrated "
                    "points-per-list only; retrain or recalibrate"
                )
        if quantize == "auto":
            quantize = cal.get("quantize")
    assigned = assign_inverted_lists(
        vectors, centroids, 1, id_col, emb_col, keep_cols=(emb_col,)
    )
    if quantize == "int8":
        assigned = quantize_sq8(assigned, emb_col).drop(emb_col)
    write_partitioned_dataset(assigned, path, ["centroid_id"], cluster=True)


def append_to_ivf_index(
    new_vectors: DataFrame,
    centroids: DataFrame,
    path: str,
    batch_id: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    quantize: str | None = None,
) -> None:
    """INCREMENTAL IVF maintenance: assign only the new batch against
    the FROZEN centroid set and add it to a materialized index laid
    out as ``centroid_id=X/batch_id=Y/`` — the ingest-family face of
    the index (build once, append per batch, probe always).

    Why this shape survives 100 TB:

    * per-batch cost is O(|batch| · k · d) map-only assignment plus a
      partitioned write — the committed corpus is never re-assigned or
      re-written (a full ``materialize_ivf_index`` rebuild is
      O(corpus) per batch);
    * DYNAMIC partition overwrite on ``(centroid_id, batch_id)`` makes
      replays idempotent: an at-least-once redelivery of batch ``b``
      overwrites exactly the ``batch_id=b`` leaf directories it wrote
      before (the assignment is deterministic, so the rows are
      byte-identical) — the same exactly-once-at-the-sink contract as
      every foreachBatch sink in streaming/pipeline.py;
    * probes are unchanged: ``ivf_topk_from_index`` filters on
      ``centroid_id``, which prunes every other centroid's directory
      tree — ``batch_id`` subdirectories are just extra leaves of the
      probed lists, and the extra partition column rides along
      harmlessly. Plan-gated in tests/test_similarity.py.

    The centroids are the index contract (as with SRP planes): every
    append MUST use the snapshot the index was created with — retrain
    ⇒ rebuild. Use a FRESH path for an incremental index: mixing this
    two-level layout with materialize_ivf_index's one-level layout in
    one directory breaks parquet partition discovery (uniform depth
    required); the initial corpus is simply batch 0.

    ``quantize`` mirrors materialize_ivf_index — the LAYOUT is part of
    the index contract too: every append must quantize exactly like
    the batches before it (a mixed float/SQ8 index would unify
    schemas with nulls and silently rank the two halves on different
    noise floors)."""
    if quantize not in (None, "int8"):
        raise ValueError(f"quantize must be None or 'int8', got {quantize!r}")
    # layout guard (review r13b): a mixed float/SQ8 dataset would read
    # under ONE file's schema (no mergeSchema), the other half's rows
    # would score NULL in the probe's sniffed column and silently
    # vanish from every top-k — refuse loudly instead (None from the
    # sniffer means first batch: nothing committed yet).
    have = existing_index_layout(new_vectors.sparkSession, path)
    if have is not None and have != ("int8" if quantize == "int8" else "float"):
        want = quantize or "float"
        raise ValueError(
            f"index at {path} is {have}-encoded but this append is "
            f"{want}-encoded; the quantize setting is part of the "
            "index contract — match it, or rebuild under a fresh path"
        )
    assigned = (
        assign_inverted_lists(
            new_vectors, centroids, 1, id_col, emb_col, keep_cols=(emb_col,)
        )
        .withColumn("batch_id", F.lit(int(batch_id)))
    )
    if quantize == "int8":
        assigned = quantize_sq8(assigned, emb_col).drop(emb_col)
    (
        assigned.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("centroid_id", "batch_id")
        .parquet(path)
    )


def ivf_topk_from_index(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int | None = 2,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int = 100_000,
    calibration: dict | None = None,
) -> DataFrame:
    """IVF top-k probing a MATERIALIZED index (materialize_ivf_index).

    Query assignments are computed once and collected (queries are
    small by contract — same reason they broadcast), so the probed
    centroid ids become LITERAL partition predicates: the index scan
    reads ONLY the probed inverted-list directories (PartitionFilters),
    never the full table — at 100 TB that is nprobe/k_lists of the
    corpus per query batch. Results are identical to ivf_topk on the
    same centroids (pytest-pinned).

    The small-queries contract is ENFORCED, not trusted:
    ``max_queries`` caps the driver collect (nprobe assignments per
    query × ~embedding bytes each — 100k queries ≈ low-GB driver heap)
    and raises before collecting anything larger. A corpus-sized query
    set belongs in ``ivf_topk`` (distributed join against the
    assignment table), not here.

    ``calibration`` (round-15 verdict item 4): the ``calibrate_ann``
    report. ``nprobe=None`` probes at the calibrated depth; an
    explicit nprobe SHALLOWER than calibrated raises (it would probe
    below the measured recall target — the knob the curve exists to
    set), while a deeper one is allowed (recall only rises).

    Cost at the warm state (index committed, ``centroids`` from
    train_centroids): the capped query set is collected as Arrow in
    ONE job (a Row collect of a limit runs incremental take jobs); the
    centroid collect runs no job (a driver-local relation); the query
    rows are ranked on the driver (r17) and broadcast from a
    driver-local frame that also carries each query's norm. The index
    side stages its norm once per scanned row before the join, so each
    (query, vector) pair costs one dot fold. The rest is the index
    read's schema-inference job and the action's broadcast, shuffle
    and result jobs: 5 jobs for an 8-query probe. The two driver-local
    frames (centroids, broadcast queries) run no job of their own only
    while each one's Arrow payload stays below
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MiB by
    default; _local_frame); above it each collect of the centroids
    runs a job as well."""
    if calibration is not None:
        cal = _ann_calibration_section(calibration)
        if nprobe is None:
            nprobe = cal["nprobe"]
        elif "nprobe" in cal and nprobe < cal["nprobe"]:
            raise ValueError(
                f"nprobe={nprobe} probes shallower than the calibrated "
                f"{cal['nprobe']} (measured recall "
                f"{cal.get('recall')} at target "
                f"{cal.get('target_recall')}) — pass nprobe=None to "
                "adopt the calibration, or probe at least as deep"
            )
    elif nprobe is None:
        raise ValueError(
            "nprobe=None adopts the calibrated depth — pass "
            "calibration=, or set nprobe explicitly"
        )
    # The guard rides the collect itself (no extra job): cap+1 rows is
    # the most that ever reaches the driver, corpus-sized input or not.
    # One job: the limit is collected as Arrow (a Row collect of it runs
    # incremental take jobs). The nearest-centroid ranking then runs
    # DRIVER-SIDE via the shared _np_batch_order (r17); parity is
    # structural: the ranking core is byte-identical (incl. the
    # np_quantize_q4 boundary replay), and the one term that moves, the
    # ``_vn`` norm Spark computes in the assignment projection, is
    # replayed by _norm_fold_py with the same IEEE left fold (pinned
    # bit-exact in tests/test_similarity.py).
    qrows = (
        queries.select(F.col(id_col), F.col(emb_col))
        .limit(max_queries + 1)
        .toArrow()
        .to_pylist()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"ivf_topk_from_index collects query assignments to the "
            f"driver; query set exceeds max_queries={max_queries}. "
            f"Use ivf_topk (distributed) for large query sets, or "
            f"raise max_queries if the driver heap genuinely allows it."
        )
    cent_rows = sorted(
        centroids.select("centroid_id", "centroid_emb").collect(),
        key=lambda r: r.centroid_id,
    )
    cents = [
        (int(r.centroid_id), [float(x) for x in r.centroid_emb])
        for r in cent_rows
    ]
    assigned = _assign_rows_local(qrows, cents, nprobe, id_col, emb_col)
    probe_ids = sorted({cid for _, _, cid in assigned})
    # the query norm rides the broadcast rows: the Spark fold's value
    # (_norm_fold_py), NULL for a NULL embedding as the fold gives
    qb = F.broadcast(
        _local_frame(
            spark,
            f"{query_id_col} long, _q_emb array<double>, _qn double, "
            "centroid_id int",
            [
                [qid for qid, _, _ in assigned],
                [emb for _, emb, _ in assigned],
                [
                    None if emb is None else _norm_fold_py(emb)
                    for _, emb, _ in assigned
                ],
                [cid for _, _, cid in assigned],
            ],
        )
    )
    index = spark.read.parquet(index_path)
    # layout sniff: an SQ8 index (materialize_ivf_index quantize="int8")
    # carries codes instead of floats — cosine is scale-invariant, so
    # the codes score DIRECTLY (no dequantization column, no join to a
    # scale); the only difference from the float index is the bounded
    # quantization noise, measured in the rehearsal
    vec_col = SQ8_CODE_COL if SQ8_CODE_COL in index.columns else emb_col
    scored = (
        index.where(F.col("centroid_id").isin(probe_ids))
        .select(
            "centroid_id",
            id_col,
            vec_col,
            norm(F.col(vec_col)).alias("_vn"),
        )
        .join(qb, "centroid_id")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            F.col(query_id_col),
            F.col(id_col),
            _staged_score("_q_emb", vec_col).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, query_id_col, id_col, k)


def _norm_fold_py(e) -> float:
    """Bit-exact Python replay of ``functions.vectors.norm`` (Spark's
    ``sqrt(aggregate(arr, 0.0, acc + v*v))`` left fold): same IEEE adds
    in the same index order from the same 0.0, ``math.sqrt`` = the JVM
    sqrt (both correctly-rounded IEEE). NULL array / NULL element →
    NaN, matching the Spark fold's NULL propagation as a float64
    column read."""
    import math

    if e is None:
        return float("nan")
    acc = 0.0
    for v in e:
        if v is None:
            return float("nan")
        fv = float(v)
        acc += fv * fv
    return math.sqrt(acc)


def _assign_rows_local(
    qrows, cents, nprobe: int, id_col: str, emb_col: str
) -> list[tuple]:
    """Driver-side nearest-centroid assignment for a BOUNDED collected
    query set (r17 — the ivf_topk_from_index probe): ranks with the
    byte-identical _np_batch_order kernel the distributed arrow
    assignment uses, with ``_vn`` replayed by _norm_fold_py. Returns
    ``(query_id, emb as float list, centroid_id)`` tuples — one per
    (query, probed list), the same rows the Spark-side
    assign_inverted_lists(keep_cols=(emb,)) collect produced."""
    import numpy as np

    cent_ids, cent_vals, cent_norms = _centroid_table(cents)
    n = len(qrows)
    if n == 0:
        return []
    embs = np.empty(n, dtype=object)
    vn = np.empty(n, dtype=np.float64)
    for i, r in enumerate(qrows):
        embs[i] = r[emb_col]
        vn[i] = _norm_fold_py(r[emb_col])
    cmat = np.array(cent_vals, dtype=np.float64)
    cn = np.array(cent_norms, dtype=np.float64)
    order = _np_batch_order(embs, vn, cmat, cn, cent_vals, cent_norms, nprobe)
    out = []
    for i, r in enumerate(qrows):
        emb = (
            [float(x) for x in r[emb_col]]
            if r[emb_col] is not None
            else None
        )
        qid = int(r[id_col])
        for j in order[i]:
            out.append((qid, emb, cent_ids[int(j)]))
    return out


def _query_probe_buckets(
    queries: DataFrame,
    planes: DataFrame,
    id_col: str,
    emb_col: str,
    query_id_col: str,
    probes: int,
) -> DataFrame:
    """Multi-probe SRP bucket set per query: the query's own bucket
    plus, for ``probes > 1``, the (probes-1) Hamming-distance-1 buckets
    obtained by flipping its LEAST-CONFIDENT bits first (smallest |dot|
    margin — the standard multi-probe perturbation order). A
    near-boundary query's true neighbors usually sit one such flip
    away, so recall rises at a bounded probes× candidate cost — the
    SRP analog of IVF's nprobe. Probed buckets are pairwise distinct
    (each variant flips a different single bit), so candidates stay
    duplicate-free.

    Per-plane dots are STAGED as columns (Catalyst has no CSE across
    the bit/flip/order expressions that reuse them)."""
    plane_rows = sorted(
        planes.select("plane_id", "plane_emb").collect(), key=lambda r: r.plane_id
    )
    n = len(plane_rows)
    probes = max(1, min(probes, n + 1))
    staged = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(emb_col).alias("_q_emb"),
        *[
            dot(
                F.col(emb_col),
                F.lit([float(x) for x in r.plane_emb]),
            ).alias(f"_d{j}")
            for j, r in enumerate(plane_rows)
        ],
    )
    bits = [
        F.when(F.col(f"_d{j}") >= 0, F.lit("1")).otherwise(F.lit("0"))
        for j in range(n)
    ]
    flips = [
        F.when(F.col(f"_d{j}") >= 0, F.lit("0")).otherwise(F.lit("1"))
        for j in range(n)
    ]
    variants = [F.concat(*bits)]
    if probes > 1:
        margin_order = F.array_sort(
            F.array(
                *[
                    F.struct(
                        F.abs(F.col(f"_d{j}")).alias("m"), F.lit(j).alias("j")
                    )
                    for j in range(n)
                ]
            )
        )
        for v in range(probes - 1):
            fj = F.element_at(margin_order, v + 1)["j"]
            variants.append(
                F.concat(
                    *[
                        F.when(F.lit(j) == fj, flips[j]).otherwise(bits[j])
                        for j in range(n)
                    ]
                )
            )
    return staged.select(
        F.col(query_id_col),
        F.col("_q_emb"),
        F.explode(F.array(*variants)).alias("bucket"),
    )


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    planes: DataFrame,
    k: int = 10,
    probes: int = 1,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's SRP bucket
    (``probes=1``) or its multi-probe bucket set (``probes>1`` — see
    _query_probe_buckets; each vector still lives in exactly one
    bucket, only the tiny query side fans out).

    ``planes`` is DataFrame[plane_id int, plane_emb array<float>] —
    deterministic projection directions (dataset rows or centroids).
    The candidate join shuffles on the bucket string only; per-bucket
    skew is bounded by 2^|planes| tuning at scale.
    """
    vb = _with_buckets(
        vectors, planes, id_col, emb_col, keep_emb=True
    ).withColumn("_vn", norm(F.col(emb_col)))
    qb = _query_probe_buckets(
        queries, planes, id_col, emb_col, query_id_col, probes
    ).withColumn("_qn", norm(F.col("_q_emb")))
    scored = (
        vb.join(F.broadcast(qb), "bucket")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            F.col(query_id_col),
            F.col(id_col),
            _staged_score("_q_emb", emb_col).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, query_id_col, id_col, k)
