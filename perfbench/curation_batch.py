"""``curation_batch``: the training-data operators, with no geo layer.

Each op curates one incoming corpus shard and answers one batch of
nearest-neighbour queries, waiting for both results (a pipeline step in
a closed loop):

    minhash_lsh_pairs -> near_dup_clusters -> quality_features
        -> cluster_representatives          (keep-best dedup)
    ann_ivf_topk_multi                      (IVF search, exact re-rank)

The LSH pairs and the quality scores are materialised by the pipeline
(``localCheckpoint``) before the steps that use them, so each operator's
Spark work lands in its own span. Shards carry planted near-duplicate
clusters of known membership; embeddings are seeded clustered vectors.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import hbase_gis_spark as hgs
from hbase_gis_spark.operators.textstats import quality_features
from perfbench import gen, truth
from perfbench.layers import rate

# Pass marks for the recall checks, per op. With the planted edit rate
# (2 % of tokens) a planted pair's shingle Jaccard is ~0.8, which 16x4
# MinHash banding finds with probability > 0.999. IVF (nlist 16,
# nprobe 6) over these embeddings gives a per-op recall@10 of 0.79-0.95
# on seeds 1-8 (numpy replay of the same centroids and probes). The
# marks catch a collapse; the per-layer recall metrics show any drift.
MIN_PAIR_RECALL = 0.95
MIN_ANN_RECALL = 0.70
ANN_K = 10
SHARD_DOCS = 300
ANN_BATCH = 5
VECTORS = 5000
WARMUP_OPS = 3


class CurationBatch:
    name = "curation_batch"
    cycle = 1

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark, self.seed, self.work, self.T = spark, seed, work, tracer
        self.V = gen.embeddings(seed, VECTORS)
        self.vec_path = os.path.join(work, "vectors.parquet")
        self.vecs = None
        self.recall = {"pairs": 0, "pairs_found": 0, "false_merges": 0,
                       "ann_hits": 0, "ann_total": 0}

    def sizes(self) -> dict:
        return {"shard_docs": SHARD_DOCS, "vectors": int(len(self.V)),
                "dim": int(self.V.shape[1]), "ann_batch": ANN_BATCH}

    def _write_shard(self, shard: gen.CorpusShard, path: str) -> None:
        pq.write_table(pa.table({"doc_id": shard.doc_id, "text": shard.text}),
                       path)

    # ---------------------------------------------------------- set-up

    def setup(self, rep: int) -> None:
        pq.write_table(pa.table({
            "vec_id": np.arange(len(self.V), dtype=np.int64),
            "embedding": pa.array(list(self.V), type=pa.list_(pa.float32())),
        }), self.vec_path)
        with self.T.span("operators.similarity:read", spark_jobs=True):
            self.vecs = self.spark.read.parquet(self.vec_path)

    def warmup(self) -> None:
        """WARMUP_OPS ops on shards and query batches from seed streams
        the loop never uses. The first op runs cold (~20 s). After one
        warm-up op the loop's ops still shrank from ~7 s to ~5 s over
        its first six as the JVM's JIT caught up; after three the loop's
        first op still costs 10-25 % more CPU time than its second, and
        a fourth warm-up op (+6 s per run) left the JIT threads as busy
        per op: every op compiles new code."""
        with self.T.span("warmup"):
            for j in range(WARMUP_OPS):
                stream = 1_000_000 + j
                shard = gen.corpus_shard(self.seed, stream, SHARD_DOCS, 0)
                path = os.path.join(self.work, f"warmup{j}.parquet")
                self._write_shard(shard, path)
                self.run_on(path, gen.ann_queries(self.seed, stream,
                                                  len(self.V), ANN_BATCH))

    # ------------------------------------------------------------ loop

    def queries(self):
        i = 0
        while True:
            shard = gen.corpus_shard(self.seed, i, SHARD_DOCS, i * SHARD_DOCS)
            path = os.path.join(self.work, f"shard{i:04d}.parquet")
            self._write_shard(shard, path)
            yield gen.Query("curate", "batch", {
                "path": path, "shard": shard,
                "qids": gen.ann_queries(self.seed, i, len(self.V),
                                        ANN_BATCH)})
            i += 1

    def run(self, q: gen.Query):
        return self.run_on(q.params["path"], q.params["qids"])

    def run_on(self, path: str, qids: list[int]):
        T = self.T
        with T.span("op:curate"):
            docs = self.spark.read.parquet(path)
            with T.span("operators.dedup:lsh", spark_jobs=True) as s:
                raw = hgs.minhash_lsh_pairs(docs, threshold=0.5)
                pairs = raw.localCheckpoint()
            T.plan_metrics(s, raw)
            with T.span("operators.dedup:cc", spark_jobs=True):
                clusters = hgs.near_dup_clusters(docs, pairs)
            with T.span("operators.textstats:quality", spark_jobs=True):
                scores = quality_features(docs).select(
                    "doc_id", "quality_score").localCheckpoint()
            with T.span("operators.dedup:keep_best", spark_jobs=True):
                keep = hgs.cluster_representatives(clusters, scores).collect()
                members = clusters.collect()
            with T.span("operators.similarity:train", spark_jobs=True):
                ann = hgs.ann_ivf_topk_multi(self.vecs, qids, ANN_K)
            with T.span("operators.similarity:search", spark_jobs=True) as s:
                hits = ann.collect()
            T.plan_metrics(s, ann)
        return keep, members, hits

    def final_checks(self) -> dict[str, bool]:
        return {}

    # ---------------------------------------------------------- report

    def summary(self, plain) -> dict:
        """The workload's own figures, from untraced ops."""
        busy = sum(o.seconds for o in plain)
        rc = self.recall
        return {
            "curation_docs_per_s": rate(SHARD_DOCS * len(plain), busy),
            "ann_queries_per_s": rate(ANN_BATCH * len(plain), busy),
            "dedup_pair_recall": rc["pairs_found"] / max(rc["pairs"], 1),
            "ann_recall_at_k": rc["ann_hits"] / max(rc["ann_total"], 1),
            "dedup_false_merges": rc["false_merges"],
        }

    def layer_metrics(self, loop, setup, traced, reps: int) -> dict:
        """Candidate counts of the traced run."""
        def top_joins(layer):
            return [s.counters["joins"][0] for s, _, _ in loop
                    if s.layer == layer and s.counters.get("joins")]

        # MinHash: candidate pairs enter the last join, whose condition
        # (pushed down from the Jaccard filter) lets verified pairs out.
        # IVF: the probe filter is the condition of the query cross join.
        lsh = top_joins("operators.dedup:lsh")
        ann = top_joins("operators.similarity:search")
        cc_jobs = [s.counters.get("jobs", 0) for s, _, _ in loop
                   if s.layer == "operators.dedup:cc"]
        return {
            "dedup.candidates_per_verified_pair":
                sum(j[0] for j in lsh) / max(sum(j[1] for j in lsh), 1),
            "operators.dedup.cc_jobs": sum(cc_jobs) / max(len(cc_jobs), 1),
            "ann.candidates_per_query":
                sum(j[1] for j in ann) / max(ANN_BATCH * len(ann), 1),
        }

    # ----------------------------------------------------------- check

    def check(self, q: gen.Query, result) -> list[str]:
        """Names of the checks this op's output fails (empty if none)."""
        keep, members, hits = result
        shard: gen.CorpusShard = q.params["shard"]
        label = {int(d): int(c) for d, c in members}
        if set(label) != set(shard.doc_id.tolist()):
            return ["cluster_ids"]
        # keep-best: exactly one kept doc per cluster, drawn from it
        kept = {int(r["cluster_id"]): int(r["doc_id"]) for r in keep}
        if (len(kept) != len(keep) or set(kept) != set(label.values())
                or any(label[d] != c for c, d in kept.items())):
            return ["keep_best"]
        planted = truth.planted_pairs(shard.groups)
        found = sum(label[a] == label[b] for a, b in planted)
        group_of = {d: i for i, g in enumerate(shard.groups) for d in g}
        by_cluster: dict[int, list] = {}
        for d, c in label.items():
            by_cluster.setdefault(c, []).append(d)
        false = sum(
            1 for m in by_cluster.values() for i in range(len(m))
            for j in range(i + 1, len(m))
            if group_of.get(m[i], -1 - m[i]) != group_of.get(m[j], -2 - m[j]))
        want = truth.cosine_topk(self.V, q.params["qids"], ANN_K)
        got: dict[int, set] = {}
        for r in hits:
            got.setdefault(int(r["query_id"]), set()).add(int(r["vec_id"]))
        ann_hits = sum(len(got.get(qid, set()) & set(w))
                       for qid, w in want.items())
        ann_total = ANN_K * len(want)
        self.recall["pairs"] += len(planted)
        self.recall["pairs_found"] += found
        self.recall["false_merges"] += false
        self.recall["ann_hits"] += ann_hits
        self.recall["ann_total"] += ann_total
        wrong = []
        if found < MIN_PAIR_RECALL * len(planted):
            wrong.append("dedup_pair_recall")
        if false:
            wrong.append("dedup_false_merge")
        if ann_hits < MIN_ANN_RECALL * ann_total:
            wrong.append("ann_recall")
        if set(got) != set(want) or any(len(v) != ANN_K for v in got.values()):
            wrong.append("ann_shape")
        return wrong
