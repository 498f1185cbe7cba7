"""Seeded input generator for the benchmark.

Everything the benchmark feeds the engine comes from here, as a pure
function of the seed: the same seed gives byte-identical files, another
seed gives other data of the same shape and size.

- ``write_corpus``: the ten catalog tables (``catalog.TABLES``) with the
  schemas, value ranges and cardinalities of the read-only test corpus
  (TESTDATA.md, FIXTURES.md), one parquet file each. Document text draws
  from a Zipf vocabulary whose head is that corpus's 31 words, so the
  contract queries' fixed terms stay hot, and a share of documents are
  near-duplicates.
- ``serve_inputs``: the retrieval corpus (clustered 64-d unit vectors,
  Zipf text), the posts shard that lands on top of it (near-duplicate
  and re-delivered shares), the takedown, and the ANN/BM25 request
  stream.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
# the test corpus's whole vocabulary; kept as the Zipf head
HEAD_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut")
PART_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "LARGE", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def vocabulary(n_words: int) -> list[str]:
    """Head words first (most frequent), then synthetic tail words."""
    return HEAD_WORDS + [f"t{i:05d}" for i in range(max(0, n_words - len(HEAD_WORDS)))]


def zipf_probs(n: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def zipf_texts(rng, n_docs: int, vocab: list[str], lo: int, hi: int) -> list[str]:
    p = zipf_probs(len(vocab))
    lens = rng.integers(lo, hi, n_docs)
    words = rng.choice(len(vocab), size=int(lens.sum()), p=p)
    out, at = [], 0
    for n in lens:
        out.append(" ".join(vocab[w] for w in words[at : at + n]))
        at += n
    return out


def near_duplicate(rng, text: str, vocab: list[str], edits: int = 1) -> str:
    """Substitute ``edits`` words: Jaccard over 3-shingles stays high."""
    words = text.split()
    for _ in range(edits):
        words[int(rng.integers(len(words)))] = vocab[int(rng.integers(len(HEAD_WORDS)))]
    return " ".join(words)


def unit_rows(x: np.ndarray) -> np.ndarray:
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def clustered_vectors(rng, n: int, n_clusters: int, spread: float):
    centers = unit_rows(rng.normal(size=(n_clusters, DIM)))
    labels = rng.integers(0, n_clusters, n)
    vecs = unit_rows(centers[labels] + spread * rng.normal(size=(n, DIM)) / np.sqrt(DIM))
    return vecs, labels.astype(np.int32)


def _vec_array(vecs: np.ndarray) -> pa.Array:
    return pa.array(list(vecs), type=pa.list_(pa.float32()))


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def corpus_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """The ten catalog tables; ``scale=1`` matches the test corpus's sf0.01
    row counts (lineitem 60k, orders 15k, documents/embeddings 500)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_li, n_ev, n_doc = int(15000 * scale), int(60000 * scale), int(10000 * scale), int(500 * scale)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    day0 = np.datetime64("1995-01-01", "D")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(day0 + rng.integers(0, 2400, n_ord)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    okey = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(day0 + 1 + rng.integers(0, 2500, n_li)),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    vocab = vocabulary(400)
    texts = zipf_texts(rng, n_doc, vocab, 8, 90)
    for i in rng.choice(n_doc, size=n_doc // 10, replace=False):
        texts[i] = near_duplicate(rng, texts[int(rng.integers(n_doc))], vocab)
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    vecs, labels = clustered_vectors(rng, n_doc, 10, 1.0)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_doc), pa.int64()),
        "embedding": _vec_array(vecs),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_corpus(sf_dir: str, seed: int, scale: float = 1.0) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in corpus_tables(seed, scale).items():
        _write(table, os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# retrieval corpus, posts shards, request stream
# ---------------------------------------------------------------------------

POST_FIELDS = "id bigint, date_gmt string, title string, content string, embedding array<float>"


# retrieval_serve sizes: one shard lands on the history, then a takedown
N_HISTORY = 1000  # documents (and vectors) the history indexes are built from
N_VOCAB = 5000
N_CLUSTERS = 32
SHARD_DOCS = 100
PAGE_SIZE = 25  # posts per fetched page
NEAR_DUP_SHARE = 0.10
REDELIVERY_SHARE = 0.05
TAKEDOWN = 10  # ids removed from every index after the shard lands
N_REQUESTS = 64  # request stream length; a run uses a prefix
BATCH = 16  # probes or queries per request
TERMS = (2, 5)  # BM25 query length range


def _post(pid: int, text: str, vec: np.ndarray) -> dict:
    return {
        "id": int(pid),
        "date_gmt": f"2024-02-01T{pid % 24:02d}:00:00",
        "title": " ".join(text.split()[:4]),
        "content": text,
        "embedding": [float(x) for x in vec],
    }


class ShardFetcher:
    """Picklable page fetcher over one shard's pre-generated records —
    ``posts_pipeline`` fans ``fetch(page)`` out to Python workers."""

    def __init__(self, records: list[dict], page_size: int):
        self.pages = [records[i : i + page_size] for i in range(0, len(records), page_size)]

    def __call__(self, page: int) -> list[dict]:
        return self.pages[page - 1] if 1 <= page <= len(self.pages) else []


def serve_inputs(seed: int) -> dict:
    rng = np.random.default_rng([seed, 2])
    vocab = vocabulary(N_VOCAB)
    n = N_HISTORY
    texts = zipf_texts(rng, n, vocab, 40, 100)
    vecs, _ = clustered_vectors(rng, n, N_CLUSTERS, 1.2)

    # the shard: new posts (a share of them near-duplicates of history
    # documents) plus re-delivered history ids
    n_dup = int(SHARD_DOCS * NEAR_DUP_SHARE)
    n_redeliver = int(SHARD_DOCS * REDELIVERY_SHARE)
    n_new = SHARD_DOCS - n_redeliver
    new_texts = zipf_texts(rng, n_new, vocab, 40, 100)
    new_vecs, _ = clustered_vectors(rng, n_new, N_CLUSTERS, 1.2)
    recs = []
    for j in range(n_new):
        if j < n_dup:
            src = int(rng.integers(n))
            new_texts[j] = near_duplicate(rng, texts[src], vocab)
            new_vecs[j] = unit_rows(vecs[src : src + 1] + 0.01 * rng.normal(size=(1, DIM)))[0]
        recs.append(_post(n + j, new_texts[j], new_vecs[j]))
    for src in rng.choice(n, size=n_redeliver, replace=False):
        recs.append(_post(int(src), texts[src], vecs[src]))
    shard = [recs[i] for i in rng.permutation(len(recs))]

    takedown = np.concatenate([
        rng.choice(n, size=TAKEDOWN // 2, replace=False),
        rng.choice(np.arange(n, n + n_new), size=TAKEDOWN - TAKEDOWN // 2, replace=False),
    ]).astype(np.int64)

    # request stream: ANN probes near a Zipf-chosen cluster member (hot
    # and cold regions), BM25 queries drawn from the Zipf vocabulary
    p_vocab = zipf_probs(len(vocab))
    kinds = rng.permutation(np.array(["ann", "bm25"] * (N_REQUESTS // 2)))
    requests = []
    for kind in kinds:
        if kind == "ann":
            src = rng.choice(n, size=BATCH, p=zipf_probs(n, 0.6))
            probes = unit_rows(vecs[src] + 0.3 * rng.normal(size=(BATCH, DIM)) / np.sqrt(DIM))
            requests.append(("ann", probes))
        else:
            qs = []
            for _ in range(BATCH):
                k = int(rng.integers(*TERMS))
                qs.append(sorted({vocab[w] for w in rng.choice(len(vocab), size=k, p=p_vocab)}))
            requests.append(("bm25", qs))
    return {
        "texts": texts,
        "vecs": vecs,
        "shard": shard,
        "takedown": takedown,
        "requests": requests,
        "first_shard_id": n,
    }


def write_serve_corpus(sf_dir: str, inputs: dict) -> None:
    """History documents/embeddings in the catalog layout, plus the
    posts table the shards land against (history ids, normalized the
    way ``posts_pipeline`` lands them)."""
    os.makedirs(sf_dir, exist_ok=True)
    texts, vecs = inputs["texts"], inputs["vecs"]
    n = len(texts)
    _write(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": ["en"] * n,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    }), os.path.join(sf_dir, "documents.parquet"))
    _write(pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": _vec_array(vecs),
        "label": pa.array([0] * n, pa.int32()),
    }), os.path.join(sf_dir, "embeddings.parquet"))
    base = dt.datetime(2024, 1, 1)
    posts_dir = os.path.join(sf_dir, "posts")
    os.makedirs(posts_dir, exist_ok=True)
    _write(pa.table({
        "id": pa.array(range(n), pa.int64()),
        "date_gmt": [str(base + dt.timedelta(hours=i)) for i in range(n)],
        "title": [" ".join(s.split()[:4]) for s in texts],
        "content": texts,
        "embedding": [json.dumps([float(x) for x in v], separators=(",", ":")) for v in vecs[:, :2]],
        "word_count": pa.array([len(s.split()) for s in texts], pa.int64()),
    }), os.path.join(posts_dir, "part-00000-history.parquet"))
