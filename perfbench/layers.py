"""Metric names, layer instrumentation and the per-run report.

Layers are the package's modules: session, geo.geometry, geo.planner,
geo.geohash, functions.geo, sources.ingest, operators.{within, knn,
topx, spatial_join, textstats, dedup, similarity}, plus ``spark`` (time
inside Spark jobs, from the status store). A span's layer is the part
of its name before ``:``.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass
from typing import Any

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_cpu_s": "s",
}

SELF_LAYERS = ("geo.geometry", "geo.planner", "geo.geohash", "functions.geo",
               "operators.within", "operators.knn", "operators.topx",
               "operators.spatial_join", "operators.textstats",
               "operators.dedup", "operators.similarity", "spark")

# span name -> per-layer metric holding its mean duration
SPAN_MEANS = {
    "operators.within:build": "operators.within.build_s",
    "operators.within:exec_convex": "operators.within.exec_convex_s",
    "operators.within:exec_concave": "operators.within.exec_concave_s",
    "operators.within:exec_city": "operators.within.exec_city_s",
    "operators.knn:exec": "operators.knn.exec_s",
    "operators.knn:pruned_exec": "operators.knn.pruned_exec_s",
    "operators.knn:radius_exec": "operators.knn.radius_exec_s",
    "operators.knn:multi_exec": "operators.knn.multi_exec_s",
    "operators.topx:exec": "operators.topx.exec_s",
    "operators.spatial_join:exec": "operators.spatial_join.exec_s",
    "operators.dedup:lsh": "operators.dedup.lsh_s",
    "operators.dedup:cc": "operators.dedup.cc_s",
    "operators.dedup:keep_best": "operators.dedup.keep_best_s",
    "operators.textstats:quality": "operators.textstats.quality_s",
    "operators.similarity:train": "operators.similarity.train_s",
    "operators.similarity:search": "operators.similarity.search_s",
}

PER_LAYER = {
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "op_cpu_p50_s": "s",
    "session.start_s": "s",
    "warmup_s": "s",
    "tracing.overhead_s": "s",
    **{f"{layer}.self_s": "s" for layer in SELF_LAYERS},
    "sources.ingest.self_s": "s",
    "geo.geometry.parse_s": "s",
    "operators.within.exec_s": "s",
    **{m: "s" for m in SPAN_MEANS.values()},
    "selective_p50_s": "s",
    "selective_p90_s": "s",
    "scan_p50_s": "s",
    "scan_p90_s": "s",
    "spatial_qps": "1/s",
    "scan.files_read_per_query": "count",
    "scan.rows_read_per_result": "ratio",
    "spark.jobs_per_query": "count",
    "spark.tasks_per_query": "count",
    "spark.busy_share": "ratio",
    "shuffle.bytes_per_query": "bytes",
    "sources.ingest.parse_s": "s",
    "sources.ingest.write_s": "s",
    "functions.geo.geohash_s": "s",
    "sources.ingest.rows_dropped": "count",
    "storage.files_written": "count",
    "storage.bytes_written": "bytes",
    "shuffle.bytes_written": "bytes",
    "ingest_rows_per_s": "1/s",
    "stored_bytes_per_input_byte": "ratio",
    "dedup.candidates_per_verified_pair": "ratio",
    "operators.dedup.cc_jobs": "count",
    "ann.candidates_per_query": "count",
    "curation_docs_per_s": "1/s",
    "ann_queries_per_s": "1/s",
    "dedup_pair_recall": "ratio",
    "ann_recall_at_k": "ratio",
}


@dataclass
class Op:
    """One request of the closed loop and what came back."""

    index: int
    query: Any  # gen.Query
    seconds: float
    cpu_s: float  # CPU time of the process tree during the op
    traced: bool
    result: Any  # the workload's output, or the exception it raised
    nth: int  # how many ops of the same kind came before it


def make_workload(name: str, spark, seed: int, work: str, tracer):
    """Workload modules import pyspark and the package, so they load only
    after the runner has put the checkout on the path."""
    if name == "spatial_mix":
        from perfbench.spatial_mix import SpatialMix
        return SpatialMix(spark, seed, work, tracer)
    from perfbench.curation_batch import CurationBatch
    return CurationBatch(spark, seed, work, tracer)


def instrument(T) -> None:
    """Span the calls that layers make into each other (traced run only)."""
    import hbase_gis_spark.functions.geo as fg
    import hbase_gis_spark.geo.geohash as gh
    import hbase_gis_spark.geo.geometry as geom
    import hbase_gis_spark.geo.planner as planner
    import hbase_gis_spark.operators.knn as knn
    import hbase_gis_spark.operators.spatial_join as sj
    import hbase_gis_spark.operators.within as within

    for mod in (within, sj):
        T.wrap(mod, "minimum_bounding_prefixes", "geo.planner:bounding_prefixes")
        T.wrap(mod, "parse_wkt", "geo.geometry:parse")
    T.wrap(knn, "knn_prefixes", "geo.planner:knn_prefixes")
    T.wrap(within, "convex_ccw_edges", "geo.geometry:convex_edges")
    T.wrap(planner, "convex_hull", "geo.geometry:convex_hull")
    T.wrap(planner, "polygon_from_points", "geo.geometry:polygon")
    T.wrap(geom.Polygon, "covers_polygon", "geo.geometry:covers_polygon")
    T.wrap(geom.Polygon, "centroid", "geo.geometry:centroid")
    for fn in ("encode", "neighbors", "cell_corners"):
        T.wrap(gh, fn, f"geo.geohash:{fn}")
    T.wrap(fg, "haversine_distance", "functions.geo:distance")
    for key in list(knn._METRICS):
        T.wrap(knn._METRICS, key, "functions.geo:distance")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def pct(xs: list[float], p: int) -> float:
    """p-th percentile (``statistics.quantiles``, exclusive method); 0 when
    a traced run left no untraced op to measure."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100)[p - 1]


def rate(n: float, seconds: float) -> float:
    return n / seconds if seconds else 0.0


def tracing_overhead(ops) -> float:
    """Mean traced minus mean untraced latency per query kind, weighted
    by the kind's share of ops. The first op of each kind (untraced, and
    the one most likely to pay for JIT warm-up) is left out."""
    by_kind: dict[str, tuple[list, list]] = {}
    for o in ops:
        if o.nth:
            by_kind.setdefault(o.query.kind, ([], []))[o.traced].append(o.seconds)
    pairs = [(u, t) for u, t in by_kind.values() if u and t]
    n = sum(len(u) + len(t) for u, t in pairs)
    return sum((_mean(t) - _mean(u)) * (len(u) + len(t))
               for u, t in pairs) / n if n else 0.0


def cycle_cpu(ops, cycle: int) -> float:
    """Mean CPU time of the untraced ops of the loop's whole cycles.
    Every run then weighs the same slots of the mix (scan queries too)
    the same way, wherever its loop stopped; a median per kind would
    move with which of a kind's slots (a 150 m or a 1.5 km polygon)
    the last, partial cycle held."""
    whole = len(ops) // cycle * cycle
    return _mean(o.cpu_s for o in ops if o.index < whole and not o.traced)


def report(wl, T, ops, session_s, setup_s, warmup_s, peak_mb, cores,
           traced) -> dict:
    """Every metric of the run by name. End-to-end figures come from the
    untraced ops only; layer figures from the traced ones."""
    plain = [o for o in ops if not o.traced]
    lat = [o.seconds for o in plain]
    r = {
        "setup_s": session_s + statistics.median(setup_s) + warmup_s,
        "peak_rss_mb": peak_mb,
        "op_p50_s": pct(lat, 50),
        "op_p90_s": pct(lat, 90),
        "ops_per_s": rate(len(lat), sum(lat)),
        "op_cpu_s": cycle_cpu(ops, wl.cycle),
        "op_cpu_p50_s": pct([o.cpu_s for o in plain], 50),
        "ops_measured": len(lat),
        "op_kinds": [o.query.kind for o in plain],
        "op_latencies_s": [round(x, 4) for x in lat],
        "op_cpus_s": [round(o.cpu_s, 3) for o in plain],
    }
    r.update(wl.summary(plain))
    if traced:
        r.update(_layer_metrics(wl, T, ops, session_s, setup_s, cores))
    for name in PER_LAYER:
        r.setdefault(name, 0.0)
    return r


def _layer_metrics(wl, T, ops, session_s, setup_s, cores) -> dict:
    traced = [o for o in ops if o.traced]
    n = max(len(traced), 1)
    reps = len(setup_s)
    rows = T.self_times()
    loop = [x for x in rows if x[0].op >= 0]
    setup = [x for x in rows if x[0].op < 0]
    r = {
        "session.start_s": session_s,
        "warmup_s": sum(s.end - s.start for s, _, _ in setup
                        if s.layer == "warmup"),
        "tracing.overhead_s": tracing_overhead(ops),
    }
    for layer in SELF_LAYERS:
        if layer == "spark":
            r["spark.self_s"] = sum(sp for _, _, sp in loop) / n
        else:
            r[f"{layer}.self_s"] = sum(
                st for s, st, _ in loop if s.layer.split(":")[0] == layer) / n
    r["geo.geometry.parse_s"] = sum(
        st for s, st, _ in loop if s.layer == "geo.geometry:parse") / n
    for span_name, metric in SPAN_MEANS.items():
        r[metric] = _mean(s.end - s.start for s, _, _ in loop
                          if s.layer == span_name)
    r["operators.within.exec_s"] = _mean(
        s.end - s.start for s, _, _ in loop
        if s.layer in ("operators.within:exec_convex",
                       "operators.within:exec_concave"))
    counters = [s.counters for s, _, _ in loop if s.counters]
    r["spark.jobs_per_query"] = sum(c.get("jobs", 0) for c in counters) / n
    r["spark.tasks_per_query"] = sum(c.get("tasks", 0) for c in counters) / n
    r["spark.busy_share"] = (sum(c.get("task_s", 0.0) for c in counters)
                             / (sum(o.seconds for o in traced) * cores or 1.0))
    r["shuffle.bytes_per_query"] = sum(
        c.get("shuffle_write_bytes", 0) for c in counters) / n

    r.update(wl.layer_metrics(loop, setup, traced, reps))
    return r
