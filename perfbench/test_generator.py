"""The generator is a pure function of the seed: the same seed gives
byte-identical inputs, a different seed different ones.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, truth  # noqa: E402


def digest(seed: int) -> str:
    h = hashlib.sha256()
    b = gen.point_batch(seed, 0, 2000, 0)
    h.update(b.tsv.encode())
    h.update(b.kept_idx.tobytes())
    for q in gen.query_cycle(seed, 0) + gen.query_cycle(seed, 0, stream=1):
        h.update(repr((q.kind, sorted(q.params.items()))).encode())
    s = gen.corpus_shard(seed, 0, 300, 0)
    h.update("\n".join(s.text).encode())
    h.update(repr(s.groups).encode())
    h.update(gen.embeddings(seed, 500).tobytes())
    h.update(repr(gen.ann_queries(seed, 0, 500, 10)).encode())
    return h.hexdigest()


def test_same_seed_same_bytes():
    assert digest(7) == digest(7)


def test_other_seed_other_bytes():
    assert digest(7) != digest(8)


def test_batch_truth_matches_rows():
    b = gen.point_batch(3, 0, 2000, 100)
    lines = b.tsv.splitlines()
    assert lines[0].split("\t")[:3] == ["X", "Y", "ID"]
    assert len(lines) - 1 == b.n_rows == 2000 + b.n_dup + b.n_bad
    rows = [ln.split("\t") for ln in lines[1:]]
    seen, kept = set(), []
    for x, y, pid, *_ in rows:
        try:
            key = (float(x), float(y))
        except ValueError:
            continue  # malformed coordinates never reach the table
        if key not in seen:  # keep-first on the coordinates
            seen.add(key)
            kept.append(int(pid[1:]))
    assert kept == sorted(b.kept_idx.tolist())


def test_planted_groups_are_near_duplicates():
    s = gen.corpus_shard(5, 0, 400, 0)
    text = dict(zip(s.doc_id.tolist(), s.text))

    def shingles(t):
        w = t.split()
        return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}

    for a, b in truth.planted_pairs(s.groups):
        sa, sb = shingles(text[a]), shingles(text[b])
        assert len(sa & sb) / len(sa | sb) > 0.5


def test_knn_truth_breaks_ties_by_id():
    lon = np.array([1.0, 0.0, 1.0, 2.0])
    lat = np.zeros(4)
    assert truth.check_knn([1, 0], 0.0, 0.0, 2, lon, lat)
    assert not truth.check_knn([1, 2], 0.0, 0.0, 2, lon, lat)
