"""Generators: the same seed gives byte-identical inputs, another seed
gives other inputs, and the planted properties hold."""

import hashlib
import os

import numpy as np
import pytest

from perfbench import gen
from perfbench.workloads.corpus_batch import JACCARD, jaccard, shingles


def _digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("fn", [gen.gen_tpch, gen.gen_corpus, gen.gen_stream])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, fn):
    fn(5, str(tmp_path / "a"))
    fn(5, str(tmp_path / "b"))
    fn(6, str(tmp_path / "c"))
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a != c


def test_corpus_plants_the_stated_duplicates(tmp_path):
    props = gen.gen_corpus(1, str(tmp_path))
    origin, texts = props["_origin"], props["_texts"]
    n_orig, n_exact = props["originals"], props["_n_exact"]
    assert len(texts) == props["docs"] == n_orig + n_exact + int(n_orig * gen.CORPUS_NEAR_SHARE)
    assert (origin[:n_orig] == -1).all()
    for i in range(n_orig, n_orig + n_exact):
        assert texts[i] == texts[origin[i]]
    near = range(n_orig + n_exact, len(texts))
    sims = [jaccard(shingles(texts[i]), shingles(texts[origin[i]])) for i in near]
    assert np.mean([s >= JACCARD for s in sims]) > 0.9
    vecs = props["_vecs"]
    assert (vecs[n_orig:n_orig + n_exact] == vecs[origin[n_orig:n_orig + n_exact]]).all()


def test_stream_repeats_earlier_increments(tmp_path):
    props = gen.gen_stream(2, str(tmp_path))
    incs = props["_increments"]
    seen = set(incs[0]["docs"])
    for inc in incs[1:]:
        repeats = sum(t in seen for t in inc["docs"])
        assert repeats >= gen.STREAM_REPEAT_SHARE * gen.STREAM_DOCS
        seen.update(inc["docs"])
