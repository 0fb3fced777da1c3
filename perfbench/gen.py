"""Seeded input generators for the benchmark, with ground truth.

Every generator is a pure function of ``(seed, size)``: the same seed
gives byte-identical inputs, and the program under test only ever sees
the files written here. Ground truth (near-dup cluster labels, exact
top-10 neighbours) is computed beside the inputs and kept on the
benchmark's side.

Workload inputs and why they have this shape:

* ``corpus_build`` — a Zipf near-dup text corpus (``synth_corpus``).
  ``FRAC_CLUSTERED`` of the docs fall into clusters whose sizes follow
  the floor(1/u) law (cluster c holds a 1/(c(c+1)) share, at its
  expectation so that every seed does the same work): cluster 1 alone
  holds 15% of the corpus, the boilerplate cohort the MinHash bucket cap
  exists for; mid-tail clusters exercise pair mining and connected
  components; the rest are singletons. A member shares its cluster's
  ``WORDS``-word base text and appends an 8-word member-unique tail, so
  mates are near-dups (Jaccard ~0.8) and never exact dups. This is the
  law of ``scale_rehearsal.synth_corpus``, drawn with numpy from the seed
  instead of Spark's xxhash64 so the ground truth comes for free.
* ``job_mix`` — the ten star-schema/event/document tables the registry
  queries read (``job_tables``), with the schemas, value domains and
  key relations of the reference testdata (TPC-H-ish star, a 30-word
  document vocabulary with 5% " dup"-suffixed near-dups and a few exact
  duplicates, JSON ``props`` on events). The DuckDB oracle runs over
  the same files. Its IVF index holds 64-d vectors under the same
  cluster law (``VectorStream``, after ``scale_rehearsal.synth_vectors``):
  member = cluster base + ``NOISE`` x member-unique perturbation (mate
  cosine ~0.98, non-mates ~0). Appended batches are later draws from
  the law, probe queries are fresh members of clusters 1..8, and the
  exact top-10 (``exact_topk``) is computed with numpy.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = 60
TAIL_WORDS = 8
VOCAB = 30_000
FRAC_CLUSTERED = 0.3
N_STRATA = 20
DIM = 64
NOISE = 0.15


def _rng(seed: int, tag: str) -> np.random.Generator:
    """One independent stream per (seed, purpose): the seed is folded
    into every draw the way synth_corpus folds its salts into xxhash64."""
    return np.random.default_rng([seed, *tag.encode()])


def cluster_sizes(n_clustered: int) -> list[int]:
    """Member count of clusters 1, 2, ...: the expectation of the
    floor(1/u) law, n/(c(c+1)) for cluster c, while that is >= 2; the
    law's thin tail becomes pairs. Fixed sizes keep the work a run does
    the same for every seed; the seed only moves content and order."""
    sizes, c = [], 1
    while (m := n_clustered // (c * (c + 1))) >= 2:
        sizes.append(m)
        c += 1
    sizes += [2] * ((n_clustered - sum(sizes)) // 2)
    return sizes


def _cluster_law(rng: np.random.Generator, n: int) -> np.ndarray:
    """Cluster id per item (>= 1) or -1 for a singleton, in seeded
    random order."""
    out = np.full(n, -1, dtype=np.int64)
    sizes = cluster_sizes(int(n * FRAC_CLUSTERED))
    out[: sum(sizes)] = np.repeat(np.arange(1, len(sizes) + 1), sizes)
    return rng.permutation(out)


def synth_corpus(seed: int, n_docs: int) -> tuple[pa.Table, np.ndarray]:
    """Docs ``(doc_id long, text string, lang string)`` and the
    ground-truth cluster id per doc (-1 = singleton)."""
    rng = _rng(seed, "corpus")
    cluster = _cluster_law(rng, n_docs)
    # one base text per distinct cluster and per singleton
    keys, inverse = np.unique(
        np.where(cluster > 0, cluster, -1 - np.arange(n_docs)), return_inverse=True
    )
    base_words = rng.integers(0, VOCAB, size=(len(keys), WORDS))
    bases = [" ".join(f"w{w}" for w in row) for row in base_words]
    tail_salt = int(rng.integers(0, 1 << 30))
    texts = [
        bases[inverse[i]]
        + "".join(f" u{tail_salt}d{i}x{j}" for j in range(TAIL_WORDS))
        for i in range(n_docs)
    ]
    ids = np.arange(n_docs, dtype=np.int64)
    table = pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [f"l{i % N_STRATA}" for i in range(n_docs)],
        }
    )
    return table, cluster


def dup_counts(cluster: np.ndarray) -> dict[int, int]:
    """Ground-truth cluster id -> member count, for clusters of >= 2."""
    ids, counts = np.unique(cluster[cluster > 0], return_counts=True)
    return {int(c): int(m) for c, m in zip(ids, counts) if m >= 2}


class VectorStream:
    """Vectors under the cluster law, drawn batch by batch from one
    seeded stream: batch ``b`` always holds the same vectors for the
    same seed, whatever was drawn before it."""

    def __init__(self, seed: int, n_bases: int = 4096):
        self.seed = seed
        rng = _rng(seed, "bases")
        self._bases = rng.uniform(-1.0, 1.0, size=(n_bases, DIM))

    def batch(
        self, b: int, n: int, id_offset: int, members: bool = False
    ) -> tuple[np.ndarray, np.ndarray]:
        """``(ids, float32 matrix)`` for batch ``b`` of ``n`` vectors;
        ``members`` draws one fresh member of each of clusters 1..n
        (near-dup lookups)."""
        rng = _rng(self.seed, f"batch{b}")
        cluster = np.arange(1, n + 1) if members else _cluster_law(rng, n)
        base = np.empty((n, DIM))
        clustered = cluster > 0
        base[clustered] = self._bases[cluster[clustered] - 1]
        base[~clustered] = rng.uniform(-1.0, 1.0, size=(int((~clustered).sum()), DIM))
        emb = base + NOISE * rng.uniform(-1.0, 1.0, size=(n, DIM))
        ids = np.arange(id_offset, id_offset + n, dtype=np.int64)
        return ids, emb.astype(np.float32)


def vectors_table(ids: np.ndarray, emb: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "vec_id": ids,
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.reshape(-1)), DIM
            ).cast(pa.list_(pa.float32())),
        }
    )


def exact_topk(
    index_emb: np.ndarray, index_ids: np.ndarray, q_emb: np.ndarray, k: int = 10
) -> tuple[np.ndarray, np.ndarray]:
    """Exact cosine top-k per query: ``(ids (q, k), cosines (q, n))``."""
    a = index_emb.astype(np.float64)
    a /= np.linalg.norm(a, axis=1, keepdims=True)
    q = q_emb.astype(np.float64)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    cos = q @ a.T
    top = np.argsort(-cos, axis=1, kind="stable")[:, :k]
    return index_ids[top], cos


# --- job_mix tables -------------------------------------------------------

DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def _days(rng, n, start: dt.date, end: dt.date) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    d = base + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def job_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten registry tables at scale factor ``sf`` (sf 0.1 = 600k
    lineitem rows, 100k events, 5k docs)."""
    rng = _rng(seed, "tables")
    n_cust = int(150_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_part = int(200_000 * sf)
    n_supp = int(10_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs = int(50_000 * sf)
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"part {i}" for i in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
            "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY"])[
                rng.integers(0, 5, n_part)
            ],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": _money(rng, n_part, 900.0, 2100.0),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (secs * 1e6).astype(
        "timedelta64[us]"
    )
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": _money(rng, n_ev, 0.0, 560.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    words = np.array(DOC_VOCAB)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))])
        for _ in range(n_docs)
    ]
    # 5% near-dups (another doc's text + " dup") and a few exact copies
    n_near = n_docs // 20
    for i, src in zip(
        rng.choice(n_docs, n_near, replace=False), rng.integers(0, n_docs, n_near)
    ):
        if i != src:
            texts[i] = texts[src] + " dup"
    for i, src in zip(rng.integers(0, n_docs, 8), rng.integers(0, n_docs, 8)):
        texts[i] = texts[src]
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    emb = rng.normal(0.0, 1.0, size=(n_emb, DIM))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = vectors_table(
        np.arange(n_emb, dtype=np.int64), emb.astype(np.float32)
    ).append_column("label", pa.array(rng.integers(0, 10, n_emb), pa.int32()))
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
