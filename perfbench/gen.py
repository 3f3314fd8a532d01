"""Seeded input generator for the benchmark.

Every input the program sees comes from here: point TSV batches in the
reference wifi layout, the spatial query stream, text corpus shards with
planted near-duplicate clusters, and clustered embeddings. Each piece is
drawn from its own ``numpy.random.SeedSequence`` child of the run seed,
so the same seed gives byte-identical inputs and a different seed gives
different ones (pinned by ``perfbench/test_generator.py``).

The generator also returns the truth the checks compare against: which
rows survive ingest, which documents were planted as near-duplicates.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

# City-sized box (about 10 km x 11 km): geohash-5 cells (~4.9 km) split
# it into about a dozen storage partitions.
LON_MIN, LON_MAX = -74.02, -73.90
LAT_MIN, LAT_MAX = 40.66, 40.76
M_PER_DEG_LAT = 110574.0
M_PER_DEG_LON = 111320.0 * math.cos(math.radians((LAT_MIN + LAT_MAX) / 2))

_ALNUM = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))
BAD_COORDS = ["n/a", "", "40,71", "--73.9", "abc", "1.2.3"]
N_CENTERS = 12  # dense point clusters
DUP_SHARE = 0.05  # rows repeating an earlier row's coordinates
BAD_SHARE = 0.01  # rows with malformed coordinates
VOCAB = 4000  # seeded pseudo-words
DOC_DUP_SHARE = 0.1  # documents that are planted near-duplicates
DIM = 64  # embedding dimension
N_DIRECTIONS = 64  # embedding cluster directions


def _rng(seed: int, *path: int) -> np.random.Generator:
    """Independent stream for one named piece of one seed."""
    return np.random.default_rng(np.random.SeedSequence([int(seed), *path]))


# ------------------------------------------------------------------ points


@dataclass
class PointBatch:
    """One TSV batch plus the truth after keep-first dedup and dropping
    malformed rows."""

    tsv: str
    n_rows: int
    n_dup: int
    n_bad: int
    kept_idx: np.ndarray  # global point index of every surviving row
    lon: np.ndarray
    lat: np.ndarray
    zip_code: np.ndarray


def cluster_centers(seed: int) -> np.ndarray:
    r = _rng(seed, 1, 0)
    return np.column_stack(
        [r.uniform(LON_MIN + 0.01, LON_MAX - 0.01, N_CENTERS),
         r.uniform(LAT_MIN + 0.01, LAT_MAX - 0.01, N_CENTERS)]
    )


def point_batch(seed: int, batch: int, n_valid: int,
                first_index: int) -> PointBatch:
    """``n_valid`` distinct points (60 % uniform background, 40 % in
    dense clusters) plus duplicate-coordinate rows (which keep-first
    dedup must drop) and malformed-coordinate rows (which must not reach
    the table). Duplicates always come after the row they copy."""
    r = _rng(seed, 1, 1, batch)
    centers = cluster_centers(seed)
    n_bg = int(n_valid * 0.6)
    n_cl = n_valid - n_bg
    which = r.integers(0, len(centers), n_cl)
    sigma_m = np.linspace(150.0, 600.0, len(centers))[which]
    lon = np.concatenate([
        r.uniform(LON_MIN, LON_MAX, n_bg),
        centers[which, 0] + r.standard_normal(n_cl) * sigma_m / M_PER_DEG_LON,
    ])
    lat = np.concatenate([
        r.uniform(LAT_MIN, LAT_MAX, n_bg),
        centers[which, 1] + r.standard_normal(n_cl) * sigma_m / M_PER_DEG_LAT,
    ])
    lon = np.clip(lon, LON_MIN, LON_MAX)
    lat = np.clip(lat, LAT_MIN, LAT_MAX)
    perm = r.permutation(n_valid)
    lon, lat = lon[perm], lat[perm]
    zip_code = r.integers(0, 100000, n_valid)

    n_dup = int(round(n_valid * DUP_SHARE))
    n_bad = int(round(n_valid * BAD_SHARE))
    src = r.integers(0, n_valid, n_dup)
    # sort key: originals keep their order, a duplicate lands strictly
    # after its source, malformed rows anywhere
    keys = np.concatenate([
        np.arange(n_valid, dtype=np.float64),
        src + r.uniform(0.5, 1.0, n_dup) * (n_valid - src),
        r.uniform(0.0, n_valid, n_bad),
    ])
    kind = np.concatenate([
        np.zeros(n_valid, np.int8), np.ones(n_dup, np.int8),
        np.full(n_bad, 2, np.int8),
    ])
    ref = np.concatenate([np.arange(n_valid), src, np.zeros(n_bad, np.int64)])
    order = np.argsort(keys, kind="stable")
    bad_txt = r.integers(0, len(BAD_COORDS), n_bad)
    attrs = _ALNUM[r.integers(0, len(_ALNUM), (len(order), 6, 8))]

    lines = ["X\tY\tID\tNAME\tADDRESS\tCITY\tURL\tPHONE\tTYPE\tZIP"]
    kept_idx = np.empty(n_valid, np.int64)
    bad_seen = 0
    for row, o in enumerate(order):
        gid = first_index + row
        k, j = kind[o], ref[o]
        if k == 2:
            x = y = BAD_COORDS[bad_txt[bad_seen]]
            bad_seen += 1
            z = 0
        else:
            x, y, z = repr(float(lon[j])), repr(float(lat[j])), zip_code[j]
            if k == 0:
                kept_idx[j] = gid
        a = ["".join(t) for t in attrs[row]]
        lines.append(
            f"{x}\t{y}\tp{gid:08d}\t{a[0]}\t{a[1]}\t{a[2]}\t"
            f"http://{a[3]}.example\t{a[4]}\t{a[5]}\t{z:05d}"
        )
    return PointBatch(
        tsv="\n".join(lines) + "\n", n_rows=len(order), n_dup=n_dup,
        n_bad=n_bad, kept_idx=kept_idx, lon=lon, lat=lat, zip_code=zip_code,
    )


# ------------------------------------------------------------ query stream

# One cycle of the closed loop: (kind, size, origin in a cluster). Sizes
# and origin classes are fixed per slot so that every seed asks for the
# same amount of work; the seed moves positions, rotations and order.
# Sizes are metres for polygons and radii, k for KNN.
#
# The 14 selective / 6 scan split and the sizes are a design choice, not
# a measured traffic mix: no workload study or query log is behind them.
# They put the op median in the selective class while the scan class
# takes about half the loop time, so both paths move a metric.
SLOTS = (
    ("within_convex", 150, True), ("within_convex", 400, False),
    ("within_convex", 800, True), ("within_convex", 1500, False),
    ("within_concave", 200, True), ("within_concave", 600, False),
    ("within_concave", 1200, True),
    ("knn_pruned", 10, True), ("knn_pruned", 10, False),
    ("knn_pruned", 10, True), ("knn_pruned", 10, False),
    ("radius", 250, True), ("radius", 500, False), ("radius", 1000, True),
    ("knn_exact", 10, True), ("knn_exact", 100, False),
    ("within_city", 4000, False), ("top_x", 3, False),
    ("spatial_join", 1200, True), ("knn_multi", 10, True),
)
SCAN = ("knn_exact", "within_city", "top_x", "spatial_join", "knn_multi")


@dataclass
class Query:
    kind: str
    cls: str  # "selective" or "scan"
    params: dict = field(default_factory=dict)


def _origin(r: np.random.Generator, centers: np.ndarray,
            in_cluster: bool) -> tuple[float, float]:
    if in_cluster:
        c = centers[r.integers(0, len(centers))]
        return (float(c[0] + r.normal(0, 300) / M_PER_DEG_LON),
                float(c[1] + r.normal(0, 300) / M_PER_DEG_LAT))
    return (float(r.uniform(LON_MIN + 0.005, LON_MAX - 0.005)),
            float(r.uniform(LAT_MIN + 0.005, LAT_MAX - 0.005)))


def _ring_wkt(cx: float, cy: float, radii_m: np.ndarray, rot: float) -> str:
    n = len(radii_m)
    ang = rot + 2 * np.pi * np.arange(n) / n
    xs = cx + radii_m * np.cos(ang) / M_PER_DEG_LON
    ys = cy + radii_m * np.sin(ang) / M_PER_DEG_LAT
    pts = [f"{x!r} {y!r}" for x, y in zip(xs.tolist(), ys.tolist())]
    return f"POLYGON(({', '.join(pts + pts[:1])}))"


def convex_wkt(r, cx, cy, radius_m) -> str:
    """Regular hexagon: the planner's codegen'd half-plane path."""
    return _ring_wkt(cx, cy, np.full(6, radius_m), float(r.uniform(0, np.pi)))


def concave_wkt(r, cx, cy, radius_m) -> str:
    """Six-pointed star: concave, so covers() runs in the Arrow
    ray-cast UDF."""
    radii = np.where(np.arange(12) % 2 == 0, radius_m, radius_m * 0.5)
    return _ring_wkt(cx, cy, radii, float(r.uniform(0, np.pi)))


def _query(slot, cycle: int, r: np.random.Generator,
           centers: np.ndarray) -> Query:
    kind, size, in_cluster = slot
    cls = "scan" if kind in SCAN else "selective"
    lon, lat = _origin(r, centers, in_cluster)
    if kind == "within_convex":
        p = {"wkt": convex_wkt(r, lon, lat, size)}
    elif kind == "within_concave":
        p = {"wkt": concave_wkt(r, lon, lat, size)}
    elif kind in ("knn_pruned", "knn_exact"):
        p = {"lon": lon, "lat": lat, "k": size}
    elif kind == "radius":
        p = {"lon": lon, "lat": lat, "radius_m": float(size)}
    elif kind == "within_city":
        cx = (LON_MIN + LON_MAX) / 2 + r.uniform(-0.01, 0.01)
        cy = (LAT_MIN + LAT_MAX) / 2 + r.uniform(-0.01, 0.01)
        concave = cycle % 2 == 1
        make = concave_wkt if concave else convex_wkt
        p = {"wkt": make(r, cx, cy, size), "concave": concave}
    elif kind == "top_x":
        p = {"x": size}
    elif kind == "spatial_join":
        polys = []
        for i, scale in enumerate((0.5, 1.0, 1.5)):
            plon, plat = _origin(r, centers, i != 1)
            make = concave_wkt if i == 1 else convex_wkt
            polys.append((f"poly{i}", make(r, plon, plat, size * scale)))
        p = {"polygons": polys}
    elif kind == "knn_multi":
        p = {"origins": [(i, *_origin(r, centers, i % 2 == 0))
                         for i in range(4)], "k": size}
    else:
        raise ValueError(kind)
    return Query(kind, cls, p)


def query_cycle(seed: int, cycle: int, stream: int = 0) -> list[Query]:
    """One cycle of the closed-loop mix: 14 selective + 6 scan queries.
    ``stream`` separates warm-up queries (1) from measured ones (0).

    The seed orders the slots of each kind, and the kinds interleave by
    smooth weighted round robin (ties broken in a seeded order), so any
    stretch of the stream holds each kind in about its share of the
    cycle. A run that stops mid-cycle then sees about the same mix as
    one that stops at a cycle's end, where a plain shuffle would let
    the last, partial cycle tilt it to either class."""
    r = _rng(seed, 2, stream, cycle)
    centers = cluster_centers(seed)
    slots: dict[str, list] = {}
    for i in r.permutation(len(SLOTS)):
        slots.setdefault(SLOTS[i][0], []).append(SLOTS[i])
    weight = {k: len(v) for k, v in slots.items()}
    credit = dict.fromkeys(slots, 0)
    order = []
    for _ in SLOTS:
        for k in credit:
            credit[k] += weight[k]
        k = max(credit, key=credit.get)
        credit[k] -= len(SLOTS)
        order.append(slots[k].pop())
    return [_query(s, cycle, r, centers) for s in order]


# --------------------------------------------------------- curation corpus


@dataclass
class CorpusShard:
    doc_id: np.ndarray
    text: list[str]
    groups: list[list[int]]  # planted near-duplicate clusters (doc ids)


def vocabulary(seed: int) -> tuple[list[str], np.ndarray]:
    """Seeded pseudo-words with Zipf-like frequencies, plus the common
    English stopwords the quality score counts."""
    r = _rng(seed, 3, 0)
    stop = ["the", "and", "of", "to", "in", "is", "that", "for", "it", "with"]
    lens = r.integers(3, 10, VOCAB)
    words = ["".join(_ALNUM[r.integers(0, 26, k)]) for k in lens]
    vocab = stop + words
    w = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    return vocab, w / w.sum()


def corpus_shard(seed: int, shard: int, n_docs: int,
                 first_id: int) -> CorpusShard:
    """``n_docs`` documents; about ``DOC_DUP_SHARE`` of them are perturbed
    copies (2 % of tokens replaced) of a base document in the same
    shard, forming planted clusters of 2 to 4 members."""
    r = _rng(seed, 3, 1, shard)
    vocab, p = vocabulary(seed)
    vocab_arr = np.array(vocab)
    n_copies = int(n_docs * DOC_DUP_SHARE)
    n_base = n_docs - n_copies
    lens = r.integers(40, 120, n_base)
    docs = [r.choice(len(vocab), size=k, p=p) for k in lens]
    groups: dict[int, list[int]] = {}
    made = 0
    while made < n_copies:
        b = int(r.integers(0, n_base))
        k = min(int(r.integers(1, 4)), n_copies - made)
        for _ in range(k):
            t = docs[b].copy()
            pos = r.choice(len(t), size=max(1, len(t) // 50), replace=False)
            t[pos] = r.integers(0, len(vocab), len(pos))
            groups.setdefault(b, [b]).append(len(docs))
            docs.append(t)
        made += k
    perm = r.permutation(len(docs))
    new_pos = np.empty(len(docs), np.int64)
    new_pos[perm] = np.arange(len(docs))
    ids = first_id + np.arange(len(docs), dtype=np.int64)
    text = [" ".join(vocab_arr[docs[j]]) for j in perm]
    planted = [sorted(int(ids[new_pos[m]]) for m in g) for g in groups.values()]
    return CorpusShard(doc_id=ids, text=text, groups=planted)


def embeddings(seed: int, n: int) -> np.ndarray:
    """Clustered float32 vectors: unit cluster directions plus noise."""
    r = _rng(seed, 4, 0)
    c = r.standard_normal((N_DIRECTIONS, DIM))
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    lab = r.integers(0, N_DIRECTIONS, n)
    v = c[lab] + 0.2 * r.standard_normal((n, DIM))
    return v.astype(np.float32)


def ann_queries(seed: int, batch: int, n_vectors: int, q: int) -> list[int]:
    r = _rng(seed, 4, 1, batch)
    return sorted(int(x) for x in r.choice(n_vectors, size=q, replace=False))
