"""``spatial_mix``: the reference's query surface over a table that the
benchmark first builds through the reference's ingest path.

Set-up ingests a seeded TSV batch (wifi layout, with duplicate-geohash
and malformed rows) through ``ingest_points_tsv`` and commits it with
``write_geo_table`` into a geohash-prefix-partitioned table. Storage
layout cost therefore shows in ``setup_s`` while its read-side benefit
shows in query latency, on the same run.

The closed loop then sends one query at a time: 70 % selective (small
polygons with prefix and partition pruning, pruned 9-cell KNN, radius
search), 30 % scan (exact KNN, city-wide polygons, grouped top-X over
the whole table, spatial join, batched KNN). The op median therefore
sits inside the selective class and the 90th percentile inside the scan
class.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

import hbase_gis_spark as hgs
from hbase_gis_spark.functions.geo import geohash_col
from hbase_gis_spark.sources.ingest import (
    ingest_points_tsv, read_geo_table, write_geo_table)
from perfbench import gen, truth
from perfbench.layers import pct, rate

PREFIX_LEN = 5
POINTS = 15000


class SpatialMix:
    name = "spatial_mix"
    cycle = len(gen.SLOTS)  # ops in one whole round of the mix

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark, self.seed, self.work, self.T = spark, seed, work, tracer
        self.table = os.path.join(work, "points")
        self.tsv = os.path.join(work, "points.tsv")
        self.batch = gen.point_batch(seed, 0, POINTS, 0)
        # originals appear in file order, so their ids are ascending
        self.gid = self.batch.kept_idx
        self.lon, self.lat = self.batch.lon, self.batch.lat
        self.zip = self.batch.zip_code
        self.ingest_s: list[float] = []
        self.tb = None

    def sizes(self) -> dict:
        return {"tsv_rows": self.batch.n_rows, "tsv_bytes": len(self.batch.tsv),
                "table_rows": int(len(self.gid))}

    # ---------------------------------------------------------- set-up

    def setup(self, rep: int) -> None:
        shutil.rmtree(self.table, ignore_errors=True)
        with open(self.tsv, "w") as f:
            f.write(self.batch.tsv)
        t0 = time.perf_counter()
        # parsing, try_cast, geohash encoding and keep-first dedup run
        # lazily; materialising them here puts their cost in this span
        # and leaves partitioning and the parquet write to the next one
        with self.T.span("sources.ingest:parse", spark_jobs=True):
            df = ingest_points_tsv(self.spark, self.tsv).localCheckpoint()
        # the pipeline step drops rows whose coordinates did not parse
        with self.T.span("sources.ingest:write", spark_jobs=True):
            write_geo_table(df.filter(F.col("geohash").isNotNull()),
                            self.table, prefix_len=PREFIX_LEN, mode="append")
        self.ingest_s.append(time.perf_counter() - t0)
        if self.T.enabled:
            # encoding alone, over the same parsed coordinates: inside
            # ingest it is fused into the parse stage
            with self.T.span("functions.geo:geohash", spark_jobs=True):
                (df.select(geohash_col(F.col("lat"), F.col("lon"), 12))
                 .write.format("noop").mode("overwrite").save())
        with self.T.span("sources.ingest:read", spark_jobs=True):
            self.tb = read_geo_table(self.spark, self.table)

    def warmup(self) -> None:
        """One whole cycle of the mix, from a stream the loop never uses.
        Every query brings new literals, so Spark generates and the JVM
        compiles new code for it: after one query of each kind the
        loop's first dozen ops still cost ~20 % more CPU time than its
        later ones."""
        with self.T.span("warmup"):
            for q in gen.query_cycle(self.seed, 0, stream=1):
                self.run(q)

    def storage(self) -> tuple[int, int]:
        files = size = 0
        for root, _, names in os.walk(self.table):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
        return files, size

    def final_checks(self) -> dict[str, bool]:
        """Read-back: row count and id digest equal the generator's truth
        after keep-first dedup and dropping malformed rows."""
        ids = sorted(r[0] for r in self.tb.select("id").collect())
        want = [f"p{g:08d}" for g in self.gid]
        return {"table_readback": (
            len(ids) == len(want)
            and hashlib.sha256("\n".join(ids).encode()).hexdigest()
            == hashlib.sha256("\n".join(want).encode()).hexdigest())}

    # ---------------------------------------------------------- report

    def summary(self, plain) -> dict:
        """The workload's own figures, from untraced ops."""
        r = {}
        for cls in ("selective", "scan"):
            xs = [o.seconds for o in plain if o.query.cls == cls]
            r[f"{cls}_p50_s"] = pct(xs, 50)
            r[f"{cls}_p90_s"] = pct(xs, 90)
            r[f"{cls}_queries"] = len(xs)
        r["spatial_qps"] = rate(len(plain), sum(o.seconds for o in plain))
        files, size = self.storage()
        r["storage.files_written"] = files
        r["storage.bytes_written"] = size
        r["ingest_rows_per_s"] = self.batch.n_rows / statistics.median(self.ingest_s)
        r["stored_bytes_per_input_byte"] = size / len(self.batch.tsv)
        return r

    def layer_metrics(self, loop, setup, traced, reps: int) -> dict:
        """Scan and ingest counters of the traced run."""
        sel = {o.index for o in traced if o.query.cls == "selective"}
        returned = sum(len(o.result) for o in traced
                       if o.index in sel and not isinstance(o.result, Exception))
        scans = [s.counters for s, _, _ in loop
                 if s.op in sel and "files_read" in s.counters]
        ingest = [s.counters for s, _, _ in setup
                  if s.layer in ("sources.ingest:parse", "sources.ingest:write")]
        written = sum(s.counters["output_records"] for s, _, _ in setup
                      if s.layer == "sources.ingest:write")

        def per_rep(name):
            return sum(s.end - s.start for s, _, _ in setup
                       if s.layer == name) / reps

        return {
            "scan.files_read_per_query":
                sum(c["files_read"] for c in scans) / max(len(sel), 1),
            "scan.rows_read_per_result":
                sum(c["rows_read"] for c in scans) / max(returned, 1),
            "sources.ingest.self_s": sum(
                st for s, st, _ in setup
                if s.layer.startswith("sources.ingest")) / reps,
            "sources.ingest.parse_s": per_rep("sources.ingest:parse"),
            "sources.ingest.write_s": per_rep("sources.ingest:write"),
            "functions.geo.geohash_s": per_rep("functions.geo:geohash"),
            "sources.ingest.rows_dropped": self.batch.n_rows - written / reps,
            "shuffle.bytes_written":
                sum(c["shuffle_write_bytes"] for c in ingest) / reps,
        }

    # ------------------------------------------------------------ loop

    def queries(self):
        cycle = 0
        while True:
            yield from gen.query_cycle(self.seed, cycle)
            cycle += 1

    def _exec(self, build_span: str, exec_span: str, make_df):
        T = self.T
        with T.span(build_span):
            df = make_df()
        with T.span(exec_span, spark_jobs=True) as s:
            rows = df.collect()
        T.plan_metrics(s, df)
        return rows

    def run(self, q: gen.Query):
        tb, p, k = self.tb, q.params, q.kind
        with self.T.span(f"op:{k}"):
            if k.startswith("within"):
                concave = k == "within_concave" or p.get("concave", False)
                part = "city" if k == "within_city" else (
                    "concave" if concave else "convex")
                return self._exec(
                    "operators.within:build", f"operators.within:exec_{part}",
                    lambda: hgs.within(tb, p["wkt"], geohash_col="geohash",
                                       partition_prefix_col="gh_prefix",
                                       partition_prefix_len=PREFIX_LEN
                                       ).select("id"))
            if k == "knn_pruned":
                return self._exec(
                    "operators.knn:build", "operators.knn:pruned_exec",
                    lambda: hgs.knn(tb, p["lon"], p["lat"], p["k"],
                                    geohash_col="geohash", pruned=True,
                                    tiebreak_col="id").select("id"))
            if k == "radius":
                return self._exec(
                    "operators.knn:build", "operators.knn:radius_exec",
                    lambda: hgs.within_radius(tb, p["lon"], p["lat"],
                                              p["radius_m"]).select("id"))
            if k.startswith("knn_exact"):
                return self._exec(
                    "operators.knn:build", "operators.knn:exec",
                    lambda: hgs.knn(tb, p["lon"], p["lat"], p["k"],
                                    tiebreak_col="id").select("id"))
            if k == "top_x":
                return self._exec(
                    "operators.topx:build", "operators.topx:exec",
                    lambda: hgs.top_x(
                        tb.withColumn("cell", F.substring("geohash", 1, 6)),
                        "cell", "zip", p["x"], tiebreak_col="id").select("id"))
            if k == "spatial_join":
                return self._exec(
                    "operators.spatial_join:build", "operators.spatial_join:exec",
                    lambda: hgs.spatial_join(tb, p["polygons"]
                                             ).select("id", "poly_id"))
            if k == "knn_multi":
                return self._exec(
                    "operators.knn:build", "operators.knn:multi_exec",
                    lambda: hgs.knn_multi(tb, p["origins"], p["k"],
                                          tiebreak_col="id"
                                          ).select("query_id", "id", "rnk"))
        raise ValueError(k)

    # ----------------------------------------------------------- check

    def _pos(self, ids) -> np.ndarray:
        g = np.array([int(i[1:]) for i in ids], dtype=np.int64)
        pos = np.searchsorted(self.gid, g)
        if len(g) and (pos.max() >= len(self.gid)
                       or not np.array_equal(self.gid[pos], g)):
            raise ValueError("result holds an id that is not in the table")
        return pos

    def check(self, q: gen.Query, rows) -> list[str]:
        """Names of the checks this op's output fails (empty if none)."""
        return [] if self._correct(q, rows) else [q.kind]

    def _correct(self, q: gen.Query, rows) -> bool:
        p, k, lon, lat = q.params, q.kind, self.lon, self.lat
        if k.startswith("within"):
            ids = self._pos([r[0] for r in rows])
            return (len(set(ids.tolist())) == len(ids)
                    and truth.check_within(set(ids.tolist()), p["wkt"], lon, lat))
        if k == "radius":
            ids = set(self._pos([r[0] for r in rows]).tolist())
            return (len(ids) == len(rows)
                    and truth.check_radius(ids, p["lon"], p["lat"],
                                           p["radius_m"], lon, lat))
        if k == "knn_pruned":
            cand = truth.knn9_candidates(p["lon"], p["lat"], lon, lat)
            return truth.check_knn(self._pos([r[0] for r in rows]).tolist(),
                                   p["lon"], p["lat"], p["k"], lon, lat, cand)
        if k.startswith("knn_exact"):
            return truth.check_knn(self._pos([r[0] for r in rows]).tolist(),
                                   p["lon"], p["lat"], p["k"], lon, lat)
        if k == "top_x":
            ids = self._pos([r[0] for r in rows]).tolist()
            return (len(ids) == len(set(ids))
                    and set(ids) == truth.top_x_ids(p["x"], lon, lat, self.zip))
        if k == "spatial_join":
            by_poly: dict[str, list] = {}
            for r in rows:
                by_poly.setdefault(r[1], []).append(r[0])
            if set(by_poly) - {pid for pid, _ in p["polygons"]}:
                return False
            for pid, wkt in p["polygons"]:
                ids = self._pos(by_poly.get(pid, [])).tolist()
                if len(ids) != len(set(ids)) or not truth.check_within(
                        set(ids), wkt, lon, lat):
                    return False
            return True
        if k == "knn_multi":
            by_q: dict[int, list] = {}
            for qid, i, rnk in sorted(rows, key=lambda r: (r[0], r[2])):
                by_q.setdefault(qid, []).append(i)
            return all(
                truth.check_knn(self._pos(by_q.get(qid, [])).tolist(),
                                olon, olat, p["k"], lon, lat)
                for qid, olon, olat in p["origins"])
        raise ValueError(k)
