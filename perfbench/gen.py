"""Seeded input generators.

Every generator takes a seed and an output directory, writes parquet
files there with pyarrow (never through the program under test) and
returns the input properties it set. The same seed gives byte-identical
files; a different seed gives different ones. Nothing here imports
pyspark, so generation cost stays out of the program's set-up time.
"""

from __future__ import annotations

import os
from typing import Dict, List

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The word list of the synthetic corpus: short lowercase words, the
# shape of the repo's own documents fixture, so every generated document
# passes the program's quality rules.
VOCAB = (
    "a the of and to in is it for on data spark query table row column "
    "key value hash sort merge join group agg filter scan stream window "
    "batch part line order small big fast slow vector index shard token "
    "block plan stage task cache store file page node edge graph model "
    "train test text word byte split count rank score level range set"
).split()


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per (seed, input): adding an input later
    # does not shift the draws of the others
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


_DAY_US = 86_400 * 1_000_000
_EPOCH_1992 = np.datetime64("1992-01-01", "us").astype(np.int64)


def _timestamps(rng, n: int, days: int) -> pa.Array:
    us = _EPOCH_1992 + rng.integers(0, days, n) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


# -- sql_analyst: TPC-H-shaped tables at scale factor 0.1 -------------------

N_ORDERS = 150_000
N_LINEITEM = 600_000
N_PART = 20_000
N_CUSTOMER = 15_000

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def gen_tpch(seed: int, out_dir: str) -> Dict:
    """lineitem, orders and customer, sized like TPC-H sf0.1; l_partkey
    refers to 20 000 parts whose prices set l_extendedprice."""
    rng = _rng(seed, "tpch")
    ok = np.arange(1, N_ORDERS + 1, dtype=np.int64)
    lines_per = rng.integers(1, 8, N_ORDERS)
    l_ok = np.repeat(ok, lines_per)[:N_LINEITEM]
    if len(l_ok) < N_LINEITEM:  # pad with a last order (never at these sizes)
        l_ok = np.concatenate([l_ok, np.full(N_LINEITEM - len(l_ok), N_ORDERS)])
    starts = np.r_[0, np.flatnonzero(np.diff(l_ok)) + 1]
    l_ln = np.arange(N_LINEITEM) - np.repeat(starts, np.diff(np.r_[starts, N_LINEITEM]))
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    partkey = rng.integers(1, N_PART + 1, N_LINEITEM)
    price = np.round(rng.uniform(900.0, 2100.0, N_PART), 2)
    lineitem = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(1, 1001, N_LINEITEM),
        "l_linenumber": pa.array(l_ln + 1, type=pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[partkey - 1], 2),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": pa.array(np.array(["R", "A", "N"])[rng.integers(0, 3, N_LINEITEM)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, N_LINEITEM)]),
        "l_shipdate": _timestamps(rng, N_LINEITEM, 2520),
    })
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, N_CUSTOMER + 1, N_ORDERS),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, N_ORDERS)]),
        "o_totalprice": np.round(rng.uniform(800.0, 500_000.0, N_ORDERS), 2),
        "o_orderdate": _timestamps(rng, N_ORDERS, 2400),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, N_ORDERS)]),
    })
    customer = pa.table({
        "c_custkey": np.arange(1, N_CUSTOMER + 1, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, N_CUSTOMER + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), type=pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)]),
    })
    size = 0
    for name, tbl in (("lineitem", lineitem), ("orders", orders),
                      ("customer", customer)):
        size += _write(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {
        "rows": {"lineitem": N_LINEITEM, "orders": N_ORDERS,
                 "customer": N_CUSTOMER},
        "bytes": size,
    }


# -- corpus documents with planted exact and near duplicates ---------------


def _doc_words(rng, n_docs: int, min_words: int, max_words: int) -> List[np.ndarray]:
    # Zipf-like word frequencies, as in natural text
    p = 1.0 / np.arange(1, len(VOCAB) + 1)
    p /= p.sum()
    lens = rng.integers(min_words, max_words + 1, n_docs)
    flat = rng.choice(len(VOCAB), size=int(lens.sum()), p=p)
    return np.split(flat, np.cumsum(lens)[:-1])


def _text(words: np.ndarray) -> str:
    return " ".join(VOCAB[w] for w in words)


def plant_corpus(rng, n_originals: int, exact_share: float, near_share: float,
                 min_words: int = 40, max_words: int = 90):
    """Distinct originals plus planted copies.

    Originals take the lowest ids, so a dedup that keeps the lowest id
    of a duplicate group keeps every original. An exact copy repeats an
    original's text; a near copy replaces one word of an original, which
    keeps the word-3-gram Jaccard similarity at or above 35/41 = 0.85
    for documents of 40 words or more. Returns (ids, texts, origin) where
    origin[i] is the id of the copied original, or -1 for an original.
    """
    n_exact = int(round(n_originals * exact_share))
    n_near = int(round(n_originals * near_share))
    words = _doc_words(rng, n_originals, min_words, max_words)
    texts = [_text(w) for w in words]
    origin = [-1] * n_originals
    src = rng.integers(0, n_originals, n_exact + n_near)
    for j, s in enumerate(src):
        if j < n_exact:
            texts.append(texts[s])
        else:
            w = words[s].copy()
            pos = rng.integers(0, len(w))
            w[pos] = (w[pos] + 1 + rng.integers(0, len(VOCAB) - 1)) % len(VOCAB)
            texts.append(_text(w))
        origin.append(int(s))
    ids = np.arange(len(texts), dtype=np.int64)
    return ids, texts, np.array(origin, dtype=np.int64)


CORPUS_ORIGINALS = 600
CORPUS_EXACT_SHARE = 0.10
CORPUS_NEAR_SHARE = 0.10
EMBED_DIM = 64
EMBED_CLUSTERS = 16


def gen_corpus(seed: int, out_dir: str) -> Dict:
    """Documents with planted exact and near copies, plus one embedding
    per document: originals scatter around ``EMBED_CLUSTERS`` centroids
    (pairwise cosine about 0.5), an exact copy repeats its original's
    vector and a near copy sits at cosine about 0.999 from it."""
    rng = _rng(seed, "corpus")
    ids, texts, origin = plant_corpus(
        rng, CORPUS_ORIGINALS, CORPUS_EXACT_SHARE, CORPUS_NEAR_SHARE
    )
    n = len(ids)
    centroids = rng.standard_normal((EMBED_CLUSTERS, EMBED_DIM))
    vecs = centroids[rng.integers(0, EMBED_CLUSTERS, n)] + rng.standard_normal((n, EMBED_DIM))
    copies = origin >= 0
    vecs[copies] = vecs[origin[copies]]
    near = np.flatnonzero(copies)[int(round(CORPUS_ORIGINALS * CORPUS_EXACT_SHARE)):]
    vecs[near] += 0.03 * rng.standard_normal((len(near), EMBED_DIM))
    vecs = vecs.astype(np.float32)
    order = rng.permutation(n)  # file order is not id order
    size = _write(pa.table({
        "doc_id": ids[order],
        "text": pa.array([texts[i] for i in order]),
        "source": pa.array([f"src{i % 4}" for i in order]),
    }), os.path.join(out_dir, "documents.parquet"))
    size += _write(pa.table({
        "vec_id": ids[order],
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)),
            pa.array(vecs[order].reshape(-1)),
        ),
    }), os.path.join(out_dir, "embeddings.parquet"))
    return {
        "docs": n,
        "originals": CORPUS_ORIGINALS,
        "exact_dup_share": CORPUS_EXACT_SHARE,
        "near_dup_share": CORPUS_NEAR_SHARE,
        "words_per_doc": [40, 90],
        "embedding_dim": EMBED_DIM,
        "embedding_clusters": EMBED_CLUSTERS,
        "bytes": size,
        "_origin": origin,
        "_texts": texts,
        "_vecs": vecs,
        "_n_exact": int(round(CORPUS_ORIGINALS * CORPUS_EXACT_SHARE)),
    }


# -- stream increments: docs and events with repeats of earlier increments --

STREAM_INCREMENTS = 40
STREAM_DOCS = 300
STREAM_EVENTS = 2_000
STREAM_REPEAT_SHARE = 0.20


def gen_stream(seed: int, out_dir: str) -> Dict:
    """Pre-generates every increment into ``out_dir/staged``; the
    benchmark lands them one at a time. An increment repeats
    ``STREAM_REPEAT_SHARE`` of its documents and events from earlier
    increments (the first increment repeats within itself)."""
    rng = _rng(seed, "stream")
    staged = os.path.join(out_dir, "staged")
    all_texts: List[str] = []
    all_events: List[np.ndarray] = []
    size = 0
    incs = []
    next_doc, next_event = 0, 0
    for i in range(STREAM_INCREMENTS):
        n_rep = int(round(STREAM_DOCS * STREAM_REPEAT_SHARE))
        n_new = STREAM_DOCS - n_rep
        words = _doc_words(rng, n_new, 12, 60)
        new_texts = [_text(w) for w in words]
        pool = all_texts if all_texts else new_texts
        rep_texts = [pool[k] for k in rng.integers(0, len(pool), n_rep)]
        texts = new_texts + rep_texts
        doc_ids = np.arange(next_doc, next_doc + len(texts), dtype=np.int64)
        next_doc += len(texts)
        all_texts.extend(new_texts)
        e_rep = int(round(STREAM_EVENTS * STREAM_REPEAT_SHARE))
        e_new = STREAM_EVENTS - e_rep
        ev_ids = np.arange(next_event, next_event + e_new, dtype=np.int64)
        next_event += e_new
        users = rng.integers(0, 200, e_new)
        fresh = np.stack([ev_ids, users], axis=1)
        epool = np.vstack(all_events) if all_events else fresh
        rep = epool[rng.integers(0, len(epool), e_rep)]
        ev = np.vstack([fresh, rep])
        all_events.append(fresh)
        d = os.path.join(staged, f"{i:04d}")
        size += _write(pa.table({"doc_id": doc_ids, "text": pa.array(texts)}),
                       os.path.join(d, "docs", f"part-{i:04d}.parquet"))
        size += _write(pa.table({
            "event_id": ev[:, 0],
            "user_id": ev[:, 1],
            "event_type": pa.array(np.array(["view", "click", "buy"])[ev[:, 0] % 3]),
            "value": (ev[:, 0] % 97) / 7.0,
        }), os.path.join(d, "events", f"part-{i:04d}.parquet"))
        incs.append({"docs": texts, "event_ids": ev[:, 0]})
    return {
        "increments": STREAM_INCREMENTS,
        "docs_per_increment": STREAM_DOCS,
        "events_per_increment": STREAM_EVENTS,
        "repeat_share": STREAM_REPEAT_SHARE,
        "bytes": size,
        "_increments": incs,
    }
