"""A batch LLM-corpus job: the write-heavy use of the operators.

One operation is one whole job over the generated corpus:

1. ``minhash_verified_dedup`` drops exact and near duplicates;
2. ``prepare_corpus`` (quality filter, exact dedup, byte-level BPE with
   merges from ``learn_bpe_merges``, context-window chunks), written out;
3. ``pack_token_blocks`` then ``export_shards`` write training blocks;
4. the document embeddings go through ``blocked_pair_cosine`` (pairs
   above a threshold), ``knn_join`` (top-k) and ``semantic_dedup``.

``learn_bpe_merges`` is one-time program work and runs in set-up.
"""

from __future__ import annotations

import os
from collections import Counter
from typing import Dict, List, Tuple

import numpy as np

from perfbench import gen
from perfbench.workloads import Op, Workload

N_MERGES = 4
CHUNK_LEN = 64
BLOCK = 128
SHARDS = 4
JACCARD = 0.8
NEAR_RECALL_FLOOR = 0.95
SEM_RECALL_FLOOR = 0.9
PAIR_COSINE = 0.9
SEM_COSINE = 0.95
TOP_K = 5
SAMPLE = 40


def shingles(text: str, n: int = 3) -> set:
    """Distinct word n-grams, the program's shingle definition."""
    w = text.split()
    return {" ".join(w[i:i + n]) for i in range(max(len(w) - n + 1, 1))}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def decode(ids, merges: List[Tuple[str, str]]) -> str:
    """Byte-level BPE ids back to text: ids 0-255 are bytes, id 255 + k
    is merge k (1-based) whose symbols are chr(0x100 + byte)."""
    table = {}
    for k, (lhs, rhs) in enumerate(merges, start=1):
        table[255 + k] = lhs + rhs
    syms = "".join(chr(0x100 + i) if i < 256 else table[i] for i in ids)
    return bytes(ord(c) - 0x100 for c in syms).decode("utf-8")


class CorpusBatch(Workload):
    # two timed jobs: one job's latency spread twice as much between runs
    min_ops = 2

    def __init__(self):
        super().__init__("corpus_batch", "document")

    def generate(self, seed: int, out_dir: str) -> None:
        self.dir = out_dir
        self.props = gen.gen_corpus(seed, out_dir)
        self.rng = np.random.default_rng([seed, 11])

    def setup(self, spark) -> None:
        import vinum_spark
        from vinum_spark.operators import text as X

        docs = vinum_spark.read_parquet(os.path.join(self.dir, "documents.parquet")).df
        self.merges = X.learn_bpe_merges(
            docs, n_merges=N_MERGES, byte_level=True,
            token_pattern=X.GPT2ISH_SPLIT_PATTERN,
        )
        self.merge_list = [
            (r.lhs, r.rhs) for r in self.merges.orderBy("merge_rank").collect()
        ]

    def pass_ops(self, index: int) -> List[Op]:
        out = os.path.join(self.dir, "out", f"pass{index}")
        return [Op("job", lambda: self._job(out), meta={"out": out})]

    def _job(self, out: str):
        import vinum_spark
        from pyspark.sql import functions as F
        from vinum_spark.operators import dedup as D, sampling as SM, similarity as S
        from vinum_spark.operators.pipeline import CorpusConfig, prepare_corpus

        docs = vinum_spark.read_parquet(os.path.join(self.dir, "documents.parquet")).df
        kept = D.minhash_verified_dedup(docs.select("doc_id", "text"), threshold=JACCARD)
        prepared = prepare_corpus(
            kept.join(docs.select("doc_id", "source"), "doc_id"),
            CorpusConfig(quality_filter=True, dedup=True,
                         tokenize_with=self.merges, chunk_max_len=CHUNK_LEN),
        )
        chunks_dir = os.path.join(out, "chunks")
        # the operators above are lazy; their Spark jobs run in the
        # benchmark's actions, which get spans of their own
        with self.span("bench.write_prepared"):
            prepared.select("doc_id", "chunk_id", "token_ids").write.parquet(chunks_dir)
        spark = docs.sparkSession
        seqs = spark.read.parquet(chunks_dir).select(
            (F.col("doc_id") * 1000 + F.col("chunk_id")).alias("seq_id"), "token_ids"
        )
        blocks = SM.pack_token_blocks(seqs, block_size=BLOCK, key_col="seq_id",
                                      n_shards=SHARDS)
        blocks = blocks.select(
            (F.col("shard") * 1_000_000 + F.col("block_id")).alias("block_key"),
            "token_ids",
        )
        SM.export_shards(blocks, os.path.join(out, "shards"), "block_key", SHARDS)

        emb = vinum_spark.read_parquet(os.path.join(self.dir, "embeddings.parquet")).df
        pairs = S.blocked_pair_cosine(emb, threshold=PAIR_COSINE, n_blocks=4)
        with self.span("bench.collect_pairs"):
            pairs = pairs.toPandas()
        knn = S.knn_join(emb.filter(F.col("vec_id") % 25 == 0), emb, k=TOP_K, n_blocks=4)
        with self.span("bench.collect_knn"):
            knn = knn.toPandas()
        sem = S.semantic_dedup(emb, dim=gen.EMBED_DIM, threshold=SEM_COSINE)
        with self.span("bench.collect_semantic_dedup"):
            sem = sem.toPandas()
        return self.props["docs"], {"pairs": pairs, "knn": knn, "sem": sem}

    def install_tracing(self, tracer) -> None:
        from vinum_spark.operators import dedup, pipeline, sampling, similarity, text

        tracer.wrap(dedup, "minhash_verified_dedup", "operators.dedup.minhash_verified_dedup")
        # called by minhash_verified_dedup through its module globals
        tracer.wrap(dedup, "minhash_candidate_pairs", "operators.dedup.minhash_candidate_pairs",
                    keep_result=True)
        tracer.wrap(pipeline, "prepare_corpus", "operators.pipeline.prepare_corpus")
        tracer.wrap(text, "learn_bpe_merges", "operators.text.learn_bpe_merges")
        tracer.wrap(sampling, "pack_token_blocks", "operators.sampling.pack_token_blocks")
        tracer.wrap(sampling, "export_shards", "operators.sampling.export_shards")
        for name in ("blocked_pair_cosine", "knn_join", "semantic_dedup"):
            tracer.wrap(similarity, name, f"operators.similarity.{name}")

    def observe(self, op: Op, tracer) -> None:
        """After a traced job: candidate pairs and how many verify."""
        cands = tracer.results.pop("operators.dedup.minhash_candidate_pairs", [])
        texts = self.props["_texts"]
        n_cand = n_ver = 0
        for df in cands:
            pairs = df.toPandas()
            n_cand += len(pairs)
            n_ver += sum(
                jaccard(shingles(texts[a]), shingles(texts[b])) >= JACCARD
                for a, b in zip(pairs.iloc[:, 0], pairs.iloc[:, 1])
            )
        op.meta["candidates"] = (n_cand, n_ver)

    def layer_metrics(self, ops: List[Op], tracer) -> Dict[str, float]:
        cand = sum(o.meta.get("candidates", (0, 0))[0] for o in ops)
        ver = sum(o.meta.get("candidates", (0, 0))[1] for o in ops)
        n = self.props["docs"]
        emitted = sum(len(o.result["pairs"]) for o in ops)
        return {
            "operators.dedup.candidate_yield": ver / cand if cand else 0.0,
            "operators.similarity.pair_yield":
                emitted / (len(ops) * n * (n - 1) / 2) if ops else 0.0,
        }

    def check(self, ops: List[Op]) -> List[Tuple[int, str]]:
        import pyarrow.parquet as pq

        texts = self.props["_texts"]
        origin = self.props["_origin"]
        vecs = self.props["_vecs"].astype(np.float64)
        n_exact = self.props["_n_exact"]
        n_orig = self.props["originals"]
        near = {
            i for i in range(n_orig + n_exact, len(texts))
            if jaccard(shingles(texts[i]), shingles(texts[origin[i]])) >= JACCARD
        }
        unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        fails = []
        for k, op in enumerate(ops):
            if op.error:
                continue
            out = op.meta["out"]
            chunks = pq.read_table(os.path.join(out, "chunks")).to_pandas()
            kept = set(chunks["doc_id"].tolist())
            for msg in self._check_dedup(kept, near, n_orig, n_exact, len(texts)):
                fails.append((k, msg))
            for msg in self._check_tokens(chunks, out, texts):
                fails.append((k, msg))
            for msg in self._check_vectors(op.result, unit, origin):
                fails.append((k, msg))
        return fails

    def _check_dedup(self, kept, near, n_orig, n_exact, n):
        if not all(i in kept for i in range(n_orig)):
            yield "an original document was merged away"
        if any(i in kept for i in range(n_orig, n_orig + n_exact)):
            yield "a planted exact duplicate survived"
        removed = sum(1 for i in near if i not in kept)
        if near and removed / len(near) < NEAR_RECALL_FLOOR:
            yield f"near-duplicate recall {removed}/{len(near)} below {NEAR_RECALL_FLOOR}"
        if any(i not in kept for i in range(n_orig + n_exact, n) if i not in near):
            yield "a document below the Jaccard threshold was dropped"

    def _check_tokens(self, chunks, out, texts):
        import pyarrow.parquet as pq

        sample = self.rng.choice(sorted(set(chunks["doc_id"])), SAMPLE, replace=False)
        by_doc = chunks[chunks["doc_id"].isin(sample)].sort_values(["doc_id", "chunk_id"])
        for doc, g in by_doc.groupby("doc_id"):
            ids = [i for arr in g["token_ids"] for i in arr]
            if decode(ids, self.merge_list) != texts[doc]:
                yield f"doc {doc}: token ids do not decode to its text"
                break
        blocks = pq.read_table(os.path.join(out, "shards")).to_pandas()
        if not (blocks["token_ids"].map(len) == BLOCK).all():
            yield "a token block has the wrong length"
        have = Counter(i for arr in chunks["token_ids"] for i in arr)
        packed = Counter(i for arr in blocks["token_ids"] for i in arr)
        if packed - have:
            yield "token blocks hold ids that no chunk has"
        lost = sum(have.values()) - sum(packed.values())
        if not 0 <= lost < SHARDS * BLOCK:
            yield f"packing lost {lost} tokens, more than one partial block per shard"

    def _check_vectors(self, res, unit, origin):
        n = len(unit)
        sample = self.rng.choice(n, SAMPLE, replace=False)
        cos = unit[sample] @ unit.T
        pairs = res["pairs"]
        got = {(int(a), int(b)) for a, b in zip(pairs["id_a"], pairs["id_b"])}
        for row, i in zip(cos, sample):
            want = {j for j in np.flatnonzero(row >= PAIR_COSINE + 1e-6) if j != i}
            border = {j for j in np.flatnonzero(np.abs(row - PAIR_COSINE) <= 1e-6)}
            have = {b if a == i else a for a, b in got if i in (a, b)}
            if (have - border) != want:
                yield f"cosine pairs of {i} differ from the exact ones"
                break
        knn = res["knn"]
        for q in knn["query_id"].unique()[:SAMPLE]:
            exact = np.sort(unit[q] @ unit.T)[::-1][:TOP_K]
            got_cos = knn[knn["query_id"] == q].sort_values("rank")["cosine"].to_numpy()
            # the operator reports cosines rounded to 4 decimals
            if not np.allclose(got_cos, exact, atol=6e-5):
                yield f"top-{TOP_K} cosines of query {q}: {got_cos} != exact {exact}"
                break
        sem = res["sem"].set_index("vec_id")["kept"]
        copies = np.flatnonzero(origin >= 0)
        if not sem.loc[np.flatnonzero(origin < 0)].all():
            yield "semantic dedup dropped an original"
        removed = (~sem.loc[copies]).mean()
        if removed < SEM_RECALL_FLOOR:
            yield f"semantic dedup recall {removed:.3f} below {SEM_RECALL_FLOOR}"
