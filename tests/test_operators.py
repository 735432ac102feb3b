"""Unit tests for the LLM-pipeline operators over tiny synthetic data."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "src0"),
        (1, "the quick brown fox jumps over the lazy dog", "src0"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat", "src1"),  # near dup
        (3, "completely different content about spark engines", "src1"),
        (4, "  The QUICK brown   fox jumps over the lazy dog  ", "src2"),  # norm dup
        (5, "", "src2"),  # empty
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_dedup_exact(docs):
    from vinum_spark.operators import dedup_exact

    kept = dedup_exact(docs).select("doc_id").toPandas()["doc_id"].tolist()
    # 1 (exact dup) and 4 (whitespace/case-normalized dup) are removed
    assert sorted(kept) == [0, 2, 3, 5]


def test_minhash_lsh_dedup(docs):
    from vinum_spark.operators import minhash_lsh_dedup

    kept = (
        minhash_lsh_dedup(docs, n_hashes=32, bands=16)
        .select("doc_id")
        .toPandas()["doc_id"]
        .tolist()
    )
    assert 0 in kept and 3 in kept
    assert 1 not in kept  # identical signature as 0


def test_ngram_jaccard_pairs(docs):
    from vinum_spark.operators import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5).toPandas()
    pair_set = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert (0, 1) in pair_set  # identical docs
    jac_01 = float(pairs[(pairs.id_a == 0) & (pairs.id_b == 1)].jaccard.iloc[0])
    assert jac_01 == 1.0


def test_simhash_near_duplicates_close(docs):
    from vinum_spark.operators import simhash

    h = {
        int(r["doc_id"]): int(r["simhash"])
        for r in simhash(docs).select("doc_id", "simhash").collect()
        if r["simhash"] is not None
    }
    assert h[0] == h[1]  # identical text → identical simhash
    ham_near = bin(h[0] ^ h[2]).count("1")
    ham_far = bin(h[0] ^ h[3]).count("1")
    assert ham_near < ham_far  # near-dup is closer than unrelated doc


def test_text_stats(docs):
    from vinum_spark.operators import with_token_count, with_text_stats

    out = with_text_stats(docs).filter(F.col("doc_id") == 0).collect()[0]
    assert out["n_tokens"] == 9
    assert out["n_words"] == 9
    assert out["punct_ratio"] == 0.0
    empty = with_token_count(docs).filter(F.col("doc_id") == 5).collect()[0]
    assert empty["n_tokens"] == 0


def test_fingerprint_normalizes(docs):
    from vinum_spark.operators import with_fingerprint

    fp = {
        int(r["doc_id"]): r["fingerprint"]
        for r in with_fingerprint(docs).collect()
    }
    assert fp[0] == fp[1] == fp[4]
    assert fp[0] != fp[2]


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(7)
    base = rng.standard_normal(8)
    rows = [
        (0, [float(x) for x in base]),
        (1, [float(x) for x in base + 0.01 * rng.standard_normal(8)]),  # near 0
        (2, [float(x) for x in -base]),  # opposite
        (3, [float(x) for x in rng.standard_normal(8)]),
        (4, [float(x) for x in rng.standard_normal(8)]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk(vectors):
    from vinum_spark.operators import cosine_topk

    q = vectors.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    top = cosine_topk(vectors, q, k=2).toPandas()
    assert top.vec_id.tolist()[:2] == [0, 1]
    assert top.cosine.iloc[0] == pytest.approx(1.0)


def test_ivf_recovers_close_neighbor(vectors):
    from vinum_spark.operators import ivf_index, ivf_topk

    q = vectors.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    top = ivf_topk(vectors, q, k=2, n_cells=4, nprobe=1).toPandas()
    assert 0 in top.vec_id.tolist()  # query's own cell is probed first
    cells = ivf_index(vectors, dim=8, n_cells=4).toPandas()
    assert cells.ivf_cell.between(0, 3).all()
    # identical vectors land in the same cell: 0 and its 0.01-perturbed twin
    by_id = cells.set_index("vec_id").ivf_cell
    assert by_id[0] == by_id[1]


def test_lsh_recovers_close_neighbor(vectors):
    from vinum_spark.operators import lsh_bucket_topk

    q = vectors.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    top = lsh_bucket_topk(vectors, q, k=2, n_planes=8, hamming_radius=1).toPandas()
    assert 0 in top.vec_id.tolist()
    assert 1 in top.vec_id.tolist()  # 0.01-perturbed twin shares the bucket
    assert 2 not in top.vec_id.tolist()  # opposite vector is far in sign-LSH


# --------------------------------------------------------------------------
# Candidate-generation / exact-verify compositions (the scale path:
# bounded candidates from LSH banding, exact verification on candidates)
# --------------------------------------------------------------------------


def test_minhash_candidate_pairs_cover_exact(docs):
    from vinum_spark.operators import minhash_candidate_pairs, ngram_jaccard_pairs

    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, n=2, threshold=0.5).collect()
    }
    cands = {
        (r.id_a, r.id_b)
        for r in minhash_candidate_pairs(docs, n_hashes=64, bands=32).collect()
    }
    assert exact, "fixture must contain at least one near-dup pair"
    assert exact <= cands  # candidates are a superset of qualifying pairs
    for id_a, id_b in cands:
        assert id_a < id_b


def test_ngram_jaccard_verify_equals_corpus_wide(docs):
    """verify(candidates) must reproduce the corpus-wide exact result when
    candidates cover all qualifying pairs — the q28 gate composition."""
    from vinum_spark.operators import (
        minhash_candidate_pairs,
        ngram_jaccard_pairs,
        ngram_jaccard_verify,
    )

    full = ngram_jaccard_pairs(docs, n=2, threshold=0.5).collect()
    cands = minhash_candidate_pairs(docs, n_hashes=64, bands=32)
    verified = ngram_jaccard_verify(docs, cands, n=2, threshold=0.5).collect()
    as_map = lambda rows: {(r.id_a, r.id_b): r.jaccard for r in rows}
    assert as_map(full) == as_map(verified)


def test_ngram_jaccard_verify_filters_false_candidates(docs, spark):
    from vinum_spark.operators import ngram_jaccard_verify

    # hand a deliberately bad candidate (0, 3): exact verify must drop it
    pairs = spark.createDataFrame([(0, 3), (0, 1)], "id_a long, id_b long")
    out = ngram_jaccard_verify(docs, pairs, n=2, threshold=0.5).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(0, 1)}


def test_simhash_candidate_pairs_find_near_dups(docs):
    from vinum_spark.operators import simhash_candidate_pairs

    pairs = {
        (r.id_a, r.id_b)
        for r in simhash_candidate_pairs(docs, hamming_threshold=3).collect()
    }
    assert (0, 1) in pairs  # exact dup: Hamming 0
    for id_a, id_b in pairs:
        assert id_a < id_b
    assert (3, 5) not in pairs and (0, 3) not in pairs  # unrelated docs


def test_blocked_pair_cosine_matches_bruteforce(vectors):
    """Block-grid exact all-pairs == brute-force on every pair, for every
    block count (1 block degenerates to a single bucket; 16 > n rows)."""
    from vinum_spark.operators import blocked_pair_cosine

    rows = {r.vec_id: np.array(r.embedding, dtype="float64") for r in vectors.collect()}
    want = {}
    for i in sorted(rows):
        for j in sorted(rows):
            if i < j:
                c = float(rows[i] @ rows[j] / (np.linalg.norm(rows[i]) * np.linalg.norm(rows[j])))
                if c >= 0.2:
                    want[(i, j)] = round(c, 6)
    for n_blocks in (1, 3, 16):
        got = {
            (r.id_a, r.id_b): round(r.cosine, 6)
            for r in blocked_pair_cosine(vectors, 0.2, n_blocks=n_blocks).collect()
        }
        assert got == want, f"n_blocks={n_blocks}"


def test_blocked_pair_cosine_plan_is_equi_join(vectors):
    from vinum_spark.operators import blocked_pair_cosine

    df = blocked_pair_cosine(vectors, 0.2, n_blocks=4)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_lsh_candidates_plus_verify_on_planted_neardups(spark):
    """The high-threshold scale path: on a corpus with PLANTED near-dups
    (cos > 0.95) and background noise (cos < 0.5), LSH band candidates +
    exact cosine verify reproduces exact blocked all-pairs."""
    from vinum_spark.operators import (
        blocked_pair_cosine,
        cosine_verify,
        lsh_candidate_pairs,
    )

    rng = np.random.RandomState(11)
    rows = []
    vid = 0
    for base_i in range(20):
        base = rng.standard_normal(16)
        rows.append((vid, [float(x) for x in base])); vid += 1
        if base_i < 5:  # plant a near-dup of the first five
            rows.append((vid, [float(x) for x in base + 0.05 * rng.standard_normal(16)])); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {
        (r.id_a, r.id_b): round(r.cosine, 6)
        for r in blocked_pair_cosine(df, 0.9, n_blocks=4).collect()
    }
    assert len(exact) == 5  # the planted pairs, nothing else
    cands = lsh_candidate_pairs(df, dim=16, n_planes=16, band_bits=4)
    got = {
        (r.id_a, r.id_b): round(r.cosine, 6)
        for r in cosine_verify(df, cands, 0.9).collect()
    }
    assert got == exact


def test_lsh_blocked_cosine_pairs_matches_two_operator_pipeline(spark):
    """The fused per-bucket-block kernel (round 19) must return exactly
    the pairs the two-operator pipeline (lsh_candidate_pairs +
    cosine_verify) returns — same candidate set by construction (shared
    bucket-frame helper), same >= threshold decisions — at every
    block_rows, including one small enough that the block grid splits
    every bucket (the hot-bucket spread path)."""
    from vinum_spark.operators import (
        cosine_verify,
        lsh_blocked_cosine_pairs,
        lsh_candidate_pairs,
    )

    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    for base_i in range(30):
        base = rng.standard_normal(16)
        rows.append((vid, [float(x) for x in base])); vid += 1
        if base_i < 8:
            rows.append((vid, [float(x) for x in base + 0.04 * rng.standard_normal(16)])); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cands = lsh_candidate_pairs(df, dim=16, n_planes=16, band_bits=4)
    want = {
        (r.id_a, r.id_b): round(r.cosine, 6)
        for r in cosine_verify(df, cands, 0.9).collect()
    }
    assert len(want) >= 6  # the planted pairs actually exercise the path
    for block_rows in (1024, 3):  # 3 -> every bucket splits into blocks
        got = {
            (r.id_a, r.id_b): round(r.cosine, 6)
            for r in lsh_blocked_cosine_pairs(
                df, dim=16, threshold=0.9, n_planes=16, band_bits=4,
                block_rows=block_rows,
            ).collect()
        }
        assert got == want, f"block_rows={block_rows}"
        assert all(a < b for a, b in got)


def test_minhash_verified_dedup_matches_exact_rule(docs):
    """Survivors must equal the exact domination rule: b dropped iff
    some a<b has jaccard(a,b) >= threshold — computed brute-force."""
    from vinum_spark.operators import minhash_verified_dedup, ngram_jaccard_pairs

    exact_drops = {
        r.id_b for r in ngram_jaccard_pairs(docs, n=2, threshold=0.5).collect()
    }
    all_ids = {r.doc_id for r in docs.collect()}
    kept = {
        r.doc_id
        for r in minhash_verified_dedup(docs, n=2, threshold=0.5, bands=32).collect()
    }
    assert kept == all_ids - exact_drops


# ---------------------------------------------------------------- winnowing


def test_winnowing_identical_docs_share_all_fingerprints(spark):
    from vinum_spark.operators.text import winnowing_fingerprints

    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(0, text), (1, text)], "doc_id long, text string"
    )
    fps = winnowing_fingerprints(df, k=8, window=4).toPandas()
    a = set(fps[fps.doc_id == 0].fingerprint)
    b = set(fps[fps.doc_id == 1].fingerprint)
    assert a and a == b


def test_winnowing_guarantee_shared_substring(spark):
    """Winnowing guarantee: a shared substring of length >= k + window - 1
    contributes at least one common fingerprint."""
    from vinum_spark.operators.text import winnowing_fingerprints

    shared = "abcdefghijklmnopqrstuvwxyz0123456789"  # len 36 >= 8 + 4 - 1
    df = spark.createDataFrame(
        [
            (0, f"prefix one {shared} tail xxxxxxx"),
            (1, f"totally different preamble {shared} and another ending"),
        ],
        "doc_id long, text string",
    )
    fps = winnowing_fingerprints(df, k=8, window=4).toPandas()
    a = set(fps[fps.doc_id == 0].fingerprint)
    b = set(fps[fps.doc_id == 1].fingerprint)
    assert a & b


def test_winnowing_short_and_empty_docs_yield_no_rows(spark):
    from vinum_spark.operators.text import winnowing_fingerprints

    df = spark.createDataFrame(
        [(0, ""), (1, "tiny"), (2, None)], "doc_id long, text string"
    )
    assert winnowing_fingerprints(df, k=8, window=4).count() == 0


def test_winnowing_max_doc_freq_drops_hot_fingerprints(spark):
    from vinum_spark.operators.text import winnowing_fingerprints

    boiler = "standard header boilerplate text shared by every document"
    rows = [(i, f"{boiler} unique tail number {i}!{i}?{i}") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    unfiltered = winnowing_fingerprints(df, k=8, window=4).toPandas()
    hot = unfiltered.groupby("fingerprint").size()
    assert (hot >= 6).any()  # the boilerplate produces corpus-wide fps
    filtered = winnowing_fingerprints(df, k=8, window=4, max_doc_freq=5).toPandas()
    kept_freq = filtered.groupby("fingerprint").size()
    assert (kept_freq <= 5).all()


def test_winnowing_shared_pairs_finds_near_dups_only(spark):
    from vinum_spark.operators.text import winnowing_shared_pairs

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    df = spark.createDataFrame(
        [
            (0, base),
            (1, base + " with a small suffix change"),
            (2, "entirely unrelated document talking about spark catalyst"),
        ],
        "doc_id long, text string",
    )
    pairs = winnowing_shared_pairs(
        df, k=8, window=4, max_doc_freq=None, min_shared=3
    ).toPandas()
    assert set(zip(pairs.id_a, pairs.id_b)) == {(0, 1)}


def test_winnowing_plan_single_md5(spark):
    """The gram-hash array must be materialized in its own projection:
    inlined into the windowing lambda it re-executes per window element
    (O(len^2) md5 calls per doc — minutes, not sub-second, on 500 docs).
    Pin: exactly one md5 in the executed plan."""
    from vinum_spark.operators.text import winnowing_fingerprints

    df = spark.createDataFrame([(0, "x" * 50)], "doc_id long, text string")
    fps = winnowing_fingerprints(df, k=8, window=4)
    fps.count()
    plan = fps._jdf.queryExecution().executedPlan().toString()
    assert plan.count("md5") == 1


def test_winnowing_matches_pure_python_reference(spark):
    """Independent-implementation cross-check (third implementation
    besides the Spark operator and the DuckDB oracle): a 15-line pure
    Python winnowing over seeded random docs must produce the exact
    same fingerprint sets."""
    import hashlib
    import random

    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    docs = []
    for i in range(40):
        body = " ".join(rng.choice(words) for _ in range(rng.randint(0, 30)))
        if i % 3 == 0:
            body += " the quick brown fox jumps over the lazy dog"
        docs.append((i, body))

    k, w = 8, 4

    def py_winnow(text):
        s = " ".join(text.strip().split()).lower()
        hashes = [
            hashlib.md5(s[p : p + k].encode()).hexdigest()
            for p in range(len(s) - k + 1)
        ]
        return {
            min(hashes[i : i + w]) for i in range(len(hashes) - w + 1)
        }

    from vinum_spark.operators.text import winnowing_fingerprints

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = winnowing_fingerprints(df, k=k, window=w).toPandas()
    for i, body in docs:
        assert set(got[got.doc_id == i].fingerprint) == py_winnow(body), i


def test_connected_components_labels_min_id(spark):
    from vinum_spark.operators import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "id_a long, id_b long",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_chain_beyond_one_hop(spark):
    """Transitive closure: a 6-node path collapses to one component even
    though no single pair spans it."""
    from vinum_spark.operators import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "id_a long, id_b long"
    )
    comps = {r["component"] for r in connected_components(edges).collect()}
    assert comps == {0}


def test_connected_components_nonconvergence_raises(spark):
    from vinum_spark.operators import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iterations=2)


def test_connected_components_star_chain_of_60(spark):
    """A 60-node chain: min-label needs 59 rounds (raises at
    max_iterations=25); large-star/small-star converges in O(log^2 n)
    rounds under the same budget — the VERDICT r7 escape hatch for
    adversarial chain-shaped graphs."""
    from vinum_spark.operators import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "id_a long, id_b long"
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iterations=25)
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            edges, max_iterations=25, algorithm="star"
        ).collect()
    }
    assert got == {i: 0 for i in range(60)}


def test_connected_components_star_matches_default(spark):
    """Both algorithms must produce identical labels on a mixed graph
    (multiple components, duplicate + reversed edges, self-contained
    pairs)."""
    import random

    from vinum_spark.operators import connected_components

    rng = random.Random(8)
    edges = [(i, i + 1) for i in range(0, 20, 2)]           # 10 pairs
    edges += [(100 + rng.randrange(12), 100 + rng.randrange(12))
              for _ in range(30)]                            # random blob
    edges += [(b, a) for a, b in edges[:5]] + edges[:3]      # dupes/reversed
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    default = {
        (r["node"], r["component"])
        for r in connected_components(df).collect()
    }
    star = {
        (r["node"], r["component"])
        for r in connected_components(df, algorithm="star").collect()
    }
    assert default == star


def test_connected_components_bad_algorithm_raises(spark):
    from vinum_spark.operators import connected_components

    df = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="algorithm"):
        connected_components(df, algorithm="magic")


def test_dedup_clusters_groups_transitive_dups(docs):
    from vinum_spark.operators import dedup_clusters

    pdf = dedup_clusters(docs, n=3, threshold=0.5).toPandas()
    by_doc = pdf.set_index("doc_id")
    # docs 0, 1, 4 are normalization-identical; 2 is a near-dup of them
    assert by_doc.loc[0, "component"] == 0
    assert by_doc.loc[1, "component"] == 0
    assert by_doc.loc[4, "component"] == 0
    assert by_doc.loc[2, "component"] == 0  # transitive via any of 0/1/4
    assert by_doc.loc[0, "cluster_size"] == 4
    assert 3 not in by_doc.index  # unique doc never appears


def test_lsh_signature_plane_bounds(spark):
    from vinum_spark.operators.similarity import lsh_signature

    df = spark.createDataFrame([(1, [0.1] * 4)], "vec_id long, embedding array<float>")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_planes"):
        lsh_signature(df, dim=4, n_planes=64)
    assert lsh_signature(df, dim=4, n_planes=8).collect()[0]["lsh_sig"] >= 0


def test_lsh_and_ivf_null_vectors_yield_null_not_crash(spark):
    """NULL / wrong-length embeddings must produce NULL signature/cell
    (excluded from banding and probes), never a crashed Arrow batch."""
    from vinum_spark.operators.similarity import ivf_index, lsh_signature

    df = spark.createDataFrame(
        [(1, [0.5] * 8), (2, None), (3, [0.1] * 3)],
        "vec_id long, embedding array<double>",
    )
    sig = {r["vec_id"]: r["lsh_sig"] for r in lsh_signature(df, dim=8, n_planes=8).collect()}
    assert sig[1] is not None and sig[2] is None and sig[3] is None
    cell = {r["vec_id"]: r["ivf_cell"] for r in ivf_index(df, dim=8, n_cells=4).collect()}
    assert cell[1] is not None and cell[2] is None and cell[3] is None


def test_pq_encode_shapes_and_nulls(spark, vectors):
    from vinum_spark.operators.similarity import pq_encode

    out = pq_encode(vectors, dim=8, m=2, n_codes=4).collect()
    assert any(r["pq_code"] is not None for r in out)
    for r in out:
        assert r["pq_code"] is None or len(r["pq_code"]) == 2


def test_pq_topk_with_trained_books_recovers_neighbor(spark, vectors):
    from vinum_spark.operators.similarity import (
        cosine_topk,
        pq_topk,
        train_pq_codebooks,
    )

    q = vectors.filter("vec_id = 0").select("embedding").collect()[0][0]
    books = train_pq_codebooks(vectors, 8, m=2, n_codes=4, sample=64)
    ann = [r["vec_id"] for r in pq_topk(
        vectors, q, k=2, m=2, n_codes=4, rerank=8, codebooks=books
    ).collect()]
    exact = [r["vec_id"] for r in cosine_topk(vectors, q, k=2).collect()]
    assert ann[0] == exact[0]  # top-1 must survive quantization + rerank


def test_pq_rejects_indivisible_dim(spark, vectors):
    from vinum_spark.operators.similarity import pq_encode

    with pytest.raises(ValueError, match="divisible"):
        pq_encode(vectors, dim=8, m=3)


def test_pq_training_is_deterministic(spark, vectors):
    import numpy as np

    from vinum_spark.operators.similarity import train_pq_codebooks

    a = train_pq_codebooks(vectors, 8, m=2, n_codes=4, sample=64)
    b = train_pq_codebooks(vectors.repartition(5), 8, m=2, n_codes=4, sample=64)
    assert np.allclose(a, b)


def test_knn_join_matches_exact_per_query(spark, vectors):
    from vinum_spark.operators.similarity import cosine_topk, knn_join

    q = vectors.filter("vec_id = 0")
    c = vectors.filter("vec_id <> 0")
    got = [
        (r["rank"], r["vec_id"])
        for r in knn_join(q, c, k=3, n_blocks=2).orderBy("rank").collect()
    ]
    exact = [r["vec_id"] for r in cosine_topk(c, q.collect()[0]["embedding"], k=3).collect()]
    assert [v for _, v in got] == exact


def test_knn_join_every_query_gets_k_rows(spark, vectors):
    from vinum_spark.operators.similarity import knn_join

    out = knn_join(vectors, vectors, k=2, n_blocks=3).toPandas()
    counts = out.groupby("query_id").size()
    assert (counts == 2).all() and len(counts) == 5


def test_knn_join_rejects_bad_params(spark, vectors):
    from vinum_spark.operators.similarity import knn_join

    with pytest.raises(ValueError, match="k and n_blocks"):
        knn_join(vectors, vectors, k=0)


def test_pq_encode_null_and_wrong_length_yield_null(spark):
    from vinum_spark.operators.similarity import pq_encode

    rows = [
        (0, [1.0] * 8),
        (1, None),
        (2, [1.0] * 5),  # wrong length
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r["pq_code"] for r in pq_encode(df, dim=8, m=2, n_codes=4).collect()}
    assert out[0] is not None and len(out[0]) == 2
    assert out[1] is None and out[2] is None


def test_pq_cosine_metric_ignores_vector_norms(spark):
    # review regression: a same-direction vector with a huge norm must
    # not be pruned by the ADC stage (cosine metric = direction only)
    import numpy as np

    from vinum_spark.operators.similarity import pq_topk, train_pq_codebooks

    rng = np.random.RandomState(3)
    base = rng.standard_normal(8)
    rows = [(0, [float(x) for x in base])]
    rows.append((1, [float(x * 1000.0) for x in base]))  # same direction, 1000x norm
    for i in range(2, 40):
        rows.append((i, [float(x) for x in rng.standard_normal(8)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = train_pq_codebooks(df, 8, m=2, n_codes=8, sample=64)
    # tiny rerank pool: the big-norm twin must still be the found top-1
    top = pq_topk(df.filter("vec_id <> 0"), rows[0][1], k=1, m=2, n_codes=8,
                  rerank=3, codebooks=books).collect()
    assert top[0]["vec_id"] == 1


def test_knn_join_exact_tie_keeps_lower_id(spark):
    # review regression: exact-duplicate corpus vectors tie on cosine;
    # the local prune must keep the LOWER id (the global contract)
    from vinum_spark.operators.similarity import knn_join

    rows = [(100, [1.0, 0.0, 0.0, 0.0])]
    dup = [0.5, 0.5, 0.0, 0.0]
    corpus = [(7, dup), (3, dup)] + [(i, [0.0, 0.0, 1.0, float(i)]) for i in range(10, 14)]
    q = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    c = spark.createDataFrame(corpus, "vec_id long, embedding array<float>")
    got = [r["vec_id"] for r in knn_join(q, c, k=1, n_blocks=2).collect()]
    assert got == [3]


def test_knn_join_wrong_length_vector_raises(spark):
    # a wrong-length vector used to be dropped silently, shortening the
    # ranking; the shared Gram kernel now rejects it
    from vinum_spark.operators.similarity import knn_join

    q = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<float>")
    c = spark.createDataFrame(
        [(1, [1.0, 0.1]), (2, [1.0, 0.1, 0.5])],  # second is wrong-length
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="ValueError.*dimension"):
        knn_join(q, c, k=2, n_blocks=1).collect()


def test_ivfpq_recovers_close_neighbor(spark, vectors):
    # the composed index must find the deliberately-near vector (id 1)
    # for the id-0 query, like the IVF and LSH variants do
    from vinum_spark.operators.similarity import ivfpq_topk, train_pq_codebooks

    q = vectors.filter("vec_id = 0").select("embedding").collect()[0][0]
    books = train_pq_codebooks(vectors, 8, m=2, n_codes=4, sample=64)
    got = [r["vec_id"] for r in ivfpq_topk(
        vectors.filter("vec_id <> 0"), q, k=1, n_cells=4, nprobe=3,
        m=2, n_codes=4, rerank=4, codebooks=books,
    ).collect()]
    assert got == [1]  # pruning (nprobe < n_cells) must keep the near twin


def test_lsh_candidate_pairs_multi_signature(spark):
    """n_planes > 63 splits across multiple signature columns (round 9:
    the corpus-size knob — at 200k rows, 63-plane/9-bit settings put
    ~390 random rows in every band bucket; see tools/scale_embeddings
    .py). The multi-signature form must (a) accept 126 planes, (b) find
    planted near-dups through 14-bit bands, and (c) stay a band/key
    equi-join — no cartesian."""
    from vinum_spark.operators import cosine_verify, lsh_candidate_pairs

    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    planted = set()
    for base_i in range(30):
        base = rng.standard_normal(16)
        a = vid
        rows.append((vid, [float(x) for x in base])); vid += 1
        if base_i < 8:
            planted.add((a, vid))
            rows.append((vid, [float(x) for x in base + 0.03 * rng.standard_normal(16)])); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cands = lsh_candidate_pairs(df, dim=16, n_planes=126, band_bits=14)
    got = {
        (r.id_a, r.id_b)
        for r in cosine_verify(df, cands, 0.9).collect()
    }
    assert got == planted
    plan = cands._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_lsh_candidate_pairs_multi_signature_matches_single_below_cap(spark):
    """<= 63 planes must be bit-identical to the pre-multi-signature
    form: same seed, same band keys, same candidate set (pinned by
    comparing against a manual single-signature reconstruction)."""
    from pyspark.sql import functions as F

    from vinum_spark.operators import lsh_candidate_pairs
    from vinum_spark.operators.similarity import lsh_signature

    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(df, dim=16, n_planes=16, band_bits=4).collect()
    }
    # manual reconstruction of the original single-long band join
    signed = lsh_signature(df, 16, 16, "embedding", seed=42)
    bucket = signed.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("lsh_sig", b * 4)
                        .bitwiseAND(F.lit(15))
                        .alias("key"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("vec_id", "bk.band", "bk.key")
    a, b = bucket.alias("a"), bucket.alias("b")
    want = {
        (r.id_a, r.id_b)
        for r in a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
        .collect()
    }
    assert got == want


def test_lsh_candidate_pairs_band_validation(spark):
    from vinum_spark.operators import lsh_candidate_pairs

    df = spark.createDataFrame(
        [(0, [0.0] * 16)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="band_bits"):
        lsh_candidate_pairs(df, dim=16, n_planes=126, band_bits=64)
    with pytest.raises(ValueError, match="no full band fits"):
        lsh_candidate_pairs(df, dim=16, n_planes=8, band_bits=16)


# ---------------------------------------------------------------------------
# Exact-substring duplication spans (Lee et al. 2022 ExactSubstr, relational)
# ---------------------------------------------------------------------------


def _py_duplicated_spans(texts, n, min_count=2, pattern=r"[a-z0-9]+"):
    """Independent pure-python reference: window hash counts over the
    whole corpus, then per-doc merge of overlapping duplicated windows."""
    import re
    from collections import Counter

    toks = {i: re.findall(pattern, t.lower()) for i, t in texts}
    counts = Counter()
    for ws in toks.values():
        for i in range(max(0, len(ws) - n + 1)):
            counts[" ".join(ws[i : i + n])] += 1
    spans = {}
    for doc, ws in toks.items():
        starts = [
            i
            for i in range(max(0, len(ws) - n + 1))
            if counts[" ".join(ws[i : i + n])] >= min_count
        ]
        merged = []
        for s in starts:
            if merged and s <= merged[-1][1] - 1:
                merged[-1] = (merged[-1][0], max(merged[-1][1], s + n))
            else:
                merged.append((s, s + n))
        if merged:
            spans[doc] = [(s, e - s) for s, e in merged]
    return spans, {d: len(ws) for d, ws in toks.items()}


def test_duplicated_ngram_spans_matches_python_reference(spark):
    """The relational ExactSubstr re-expression (window explode -> one
    hash-count shuffle -> gaps-and-islands merge) must agree with an
    independent imperative implementation on a corpus with planted
    shared boilerplate, an intra-document repeat, and clean docs —
    and remove_duplicated_spans must drop exactly the spanned tokens."""
    from vinum_spark.operators.dedup import (
        duplicated_ngram_spans,
        remove_duplicated_spans,
    )

    boiler = "all rights reserved contact us for more information today"
    rows = [
        (1, f"unique alpha text one {boiler} tail words go here now"),
        (2, f"{boiler} another unique body two follows the header"),
        (3, "completely unique document three with no repeats at all"),
        # intra-document repeat: the same 6-token run twice in ONE doc
        (4, "intro words repeat run of six tokens exactly middle repeat "
            "run of six tokens exactly outro"),
        (5, f"prefix five {boiler} and once more {boiler} suffix five"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    n = 4
    got = {
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in duplicated_ngram_spans(docs, n=n).collect()
    }
    ref_spans, ref_lens = _py_duplicated_spans(rows, n)
    want = {
        (d, s, l) for d, spans in ref_spans.items() for s, l in spans
    }
    assert got == want

    out = {r["doc_id"]: r for r in remove_duplicated_spans(docs, n=n).collect()}
    assert set(out) == {1, 2, 3, 4, 5}  # clean docs pass through
    import re

    for d, text in rows:
        ws = re.findall(r"[a-z0-9]+", text.lower())
        covered = set()
        for s, l in ref_spans.get(d, []):
            covered.update(range(s, s + l))
        kept = " ".join(w for i, w in enumerate(ws) if i not in covered)
        assert out[d]["kept_text"] == kept, d
        assert out[d]["n_tokens"] == ref_lens[d]
        assert out[d]["dup_tokens"] == sum(
            l for _, l in ref_spans.get(d, [])
        )
        assert out[d]["n_spans"] == len(ref_spans.get(d, []))


def test_duplicated_ngram_spans_short_docs(spark):
    """Regression: a document with fewer than n tokens (or no tokens at
    all) must not crash the window builder — sequence(1, 0) is the
    DESCENDING [1, 0] in Spark, so the unguarded transform evaluated
    slice(__ws, 0, n) and raised on any short doc. Short docs simply
    contribute no windows; remove_duplicated_spans passes them through
    whole."""
    from vinum_spark.operators.dedup import (
        duplicated_ngram_spans,
        remove_duplicated_spans,
    )

    boiler = "shared boilerplate run of exactly six tokens here yes"
    rows = [
        (1, f"doc one {boiler} tail"),
        (2, f"{boiler} doc two body"),
        (3, "tiny"),              # 1 token < n
        (4, ""),                  # no tokens at all
        (5, "exactly four tokens here"),  # == n: one window, unique
        (6, "!!! ... ---"),       # tokens regex matches nothing
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    n = 4
    got = {
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in duplicated_ngram_spans(docs, n=n).collect()
    }
    ref_spans, ref_lens = _py_duplicated_spans(rows, n)
    want = {(d, s, l) for d, spans in ref_spans.items() for s, l in spans}
    assert got == want
    assert {r[0] for r in got} == {1, 2}  # only the boilerplate pair

    out = {r["doc_id"]: r for r in remove_duplicated_spans(docs, n=n).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6}
    assert out[3]["kept_text"] == "tiny" and out[3]["n_spans"] == 0
    assert out[4]["kept_text"] == "" and out[4]["n_tokens"] == 0
    assert out[5]["kept_text"] == "exactly four tokens here"
    assert out[6]["kept_text"] == "" and out[6]["n_tokens"] == 0


def test_duplicated_ngram_spans_properties(spark):
    """Structural invariants on real data: spans are within bounds,
    non-overlapping, at least n tokens long, and every span's windows
    really are corpus-duplicated (round-trip through the corpus-wide
    counts); min_count raises the bar monotonically."""
    from vinum_spark.operators.dedup import duplicated_ngram_spans

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = 8
    spans = duplicated_ngram_spans(docs, n=n).collect()
    assert spans  # the synthetic corpus plants duplicates
    by_doc = {}
    for r in spans:
        assert r["span_len"] >= n
        assert 0 <= r["span_start"]
        assert r["span_start"] + r["span_len"] <= r["n_tokens"]
        by_doc.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_len"])
        )
    for d, ss in by_doc.items():
        ss.sort()
        for (s1, l1), (s2, _) in zip(ss, ss[1:]):
            assert s1 + l1 < s2 + 1  # disjoint, maximal (gap >= 1... merged)
    strict = duplicated_ngram_spans(docs, n=n, min_count=5).collect()
    assert sum(r["span_len"] for r in strict) <= sum(
        r["span_len"] for r in spans
    )


def test_duplicated_ngram_spans_plan_shape(spark):
    """Scale pin: the expensive window/md5 explode appears EXACTLY ONCE
    in the plan (count-over-window, not a groupBy self-join that would
    recompute the subtree), and no Python appears anywhere."""
    from vinum_spark.operators.dedup import duplicated_ngram_spans

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = duplicated_ngram_spans(docs, n=8)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert plan.count("Generate posexplode") == 1, plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_remove_duplicated_spans_preserve_whitespace(spark):
    """The character-offset surgery variant: (a) EQUAL to the
    token-stream path on canonical (lowercase, single-space) input;
    (b) on raw input, case / punctuation / whitespace OUTSIDE the
    spans survive untouched while exactly the span characters (plus
    the one joining gap) are cut — the divergence fixture the
    token path cannot produce; stats columns identical either way."""
    from vinum_spark.operators.dedup import remove_duplicated_spans

    boiler = "all rights reserved contact us for more information today"
    canonical = [
        (1, f"unique alpha text one {boiler} tail words go here now"),
        (2, f"{boiler} another unique body two follows the header"),
        (3, "completely unique document three with no repeats at all"),
    ]
    docs = spark.createDataFrame(canonical, "doc_id long, text string")
    tok = {
        r["doc_id"]: tuple(r)
        for r in remove_duplicated_spans(docs, n=4).collect()
    }
    chr_ = {
        r["doc_id"]: tuple(r)
        for r in remove_duplicated_spans(
            docs, n=4, preserve_whitespace=True
        ).collect()
    }
    assert tok == chr_  # canonical input: the two paths agree exactly

    # divergence fixture: same boilerplate planted inside formatted
    # text — the char path keeps the formatting the token path loses
    raw = [
        (10, f"Unique ALPHA text,  one!\n{boiler} tail words go here now"),
        (11, f"{boiler} another unique body two follows the header"),
    ]
    rdocs = spark.createDataFrame(raw, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in remove_duplicated_spans(
            rdocs, n=4, preserve_whitespace=True
        ).collect()
    }
    # doc 10: the boilerplate span is cut through the next surviving
    # token's start; everything before/after keeps its original form
    assert out[10]["kept_text"] == (
        "Unique ALPHA text,  one!\ntail words go here now"
    )
    assert out[10]["n_spans"] == 1 and out[10]["dup_tokens"] == 9
    # doc 11: span opens the document — cut runs from char 0 to the
    # first surviving token
    assert out[11]["kept_text"] == (
        "another unique body two follows the header"
    )
    # doc-final span: consume the LEADING gap, keep the head verbatim
    tail = [(20, f"Head KEEPS case: {boiler}"),
            (21, f"{boiler} and some more text here")]
    tdocs = spark.createDataFrame(tail, "doc_id long, text string")
    tout = {
        r["doc_id"]: r
        for r in remove_duplicated_spans(
            tdocs, n=4, preserve_whitespace=True
        ).collect()
    }
    # the ": " is the leading GAP of the final span and is consumed
    # with it (the symmetric analogue of the forward cut consuming the
    # trailing gap — required for canonical-input equality, where the
    # token path leaves no trailing separator either)
    assert tout[20]["kept_text"] == "Head KEEPS case"
    # a spanless doc passes through BYTE-identical (no canonicalization)
    solo = spark.createDataFrame(
        [(30, "No  Repeats\there! at all"),
         (31, "totally different words everywhere now")],
        "doc_id long, text string",
    )
    sout = {
        r["doc_id"]: r["kept_text"]
        for r in remove_duplicated_spans(
            solo, n=4, preserve_whitespace=True
        ).collect()
    }
    assert sout[30] == "No  Repeats\there! at all"
