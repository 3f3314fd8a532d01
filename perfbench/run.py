"""Benchmark runner for hbase_gis_spark.

    python3 perfbench/run.py --workload spatial_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It starts one Spark session on
``local[N]`` as a separate client of the ``hbase_gis_spark`` package in
that checkout, sets the workload up several times, drives its closed
loop for ``--seconds`` (and at least one whole cycle of its mix; two
and one op when traced), checks every output against independent truth,
stops every process it started and prints, as its last line, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` reports its per-layer metrics from a run in which every
other op of each kind is traced (the untraced ones give the tracing
overhead).
Earlier stdout lines hold the run stamp and the full report; the report
and the spans are also written under ``.perfbench_out/``. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
CORES = min(4, os.cpu_count() or 1)


# --------------------------------------------------------------- processes


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pids: list[int]) -> float:
    """CPU time (user + system) the processes have used, including their
    reaped children: Spark's Python workers exit into their daemon's
    count. Time the hypervisor stole is not charged to a process, nor is
    time spent waiting for a CPU that other programs hold, so this moves
    much less with the host's load than wall time does; it still grows
    when other guests slow each instruction (shared caches, cores)."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])  # u, s, cu, cs
        except (OSError, IndexError, ValueError):
            continue
    return ticks / CLK_TCK


class RssPeak(threading.Thread):
    """Peak memory of the process tree (this process, the JVM, the Python
    workers): the largest sum of their resident sets (VmRSS) over samples
    taken every 0.2 s. Summing each process's own peak (VmHWM) instead
    would count Python workers that exited before others started as if
    they had run at the same time."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self.cpu_s = 0.0  # this thread's own CPU time, so far
        self._done = threading.Event()

    def sample(self) -> None:
        kb = 0
        for pid in [os.getpid()] + descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            kb += int(line.split()[1])
                            break
            except (OSError, IndexError, ValueError):
                continue
        self.peak_kb = max(self.peak_kb, kb)

    def run(self) -> None:
        while not self._done.wait(0.2):
            self.sample()
            self.cpu_s = time.thread_time()

    def stop(self) -> float:
        self._done.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the machine since boot: steal is time the
    hypervisor ran something else while this VM wanted the CPU."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return sum(t[:8]), t[7]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[0] - start[0]
    return (end[1] - start[1]) / total if total else 0.0


def reap_leftovers() -> None:
    """Terminate any process of ours still running, and wait for it."""
    left = descendants(os.getpid())
    for pid in left:
        try:
            os.kill(pid, signal.SIGTERM)
        except OSError:
            pass
    deadline = time.monotonic() + 20
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = [p for p in left if os.path.exists(f"/proc/{p}")]


# -------------------------------------------------------------------- main


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["spatial_mix", "curation_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def start_session(work: str):
    from hbase_gis_spark import make_session

    spark = make_session(
        app="perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
        driver_mem="1g",
        extra={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hbase_gis_spark", "__init__.py")):
        print(f"perfbench: no hbase_gis_spark package under {ROOT}; run from "
              "the root of a checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    outdir = os.path.join(ROOT, ".perfbench_out")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(outdir, exist_ok=True)
    # Spark's Python workers are separate interpreters started by the
    # JVM: they find the package only through the environment they
    # inherit, not through this process's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)

    load_start = os.getloadavg()
    ticks_start = cpu_ticks()
    rss = RssPeak()
    rss.start()
    spark = None
    try:
        from perfbench import layers, trace

        t0 = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t0
        tracer = trace.Tracer(spark, enabled=bool(args.trace))
        if args.trace:
            layers.instrument(tracer)
        wl = layers.make_workload(args.workload, spark, args.seed, work, tracer)

        setup_s = []
        for rep in range(SETUP_REPS):
            tracer.begin_op(-1 - rep)
            t = time.perf_counter()
            wl.setup(rep)
            setup_s.append(time.perf_counter() - t)
        tracer.begin_op(-1 - SETUP_REPS)
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t

        def cpu_now() -> float:
            # the sampler thread's CPU grows with wall time, not work
            return (tree_cpu_s([os.getpid()] + descendants(os.getpid()))
                    - rss.cpu_s)

        failed = 0
        ops: list[layers.Op] = []
        queries = wl.queries()
        loop_t0 = time.perf_counter()
        deadline = time.perf_counter() + args.seconds
        i = 0
        per_kind: dict[str, int] = {}

        # at least one whole cycle, so that every kind of op is measured.
        # A traced run traces every other op of a kind from its second
        # on, and its overhead leaves each kind's first op out: two
        # cycles and one op more give a kind with one op per cycle (a
        # curation op) a traced op and an untraced one besides its first
        min_ops = wl.cycle * (1 + args.trace) + args.trace
        while time.perf_counter() < deadline or i < min_ops:
            q = next(queries)
            # every other op of each kind is traced, from its second on
            nth = per_kind.get(q.kind, 0)
            per_kind[q.kind] = nth + 1
            traced = bool(args.trace) and nth % 2 == 1
            tracer.enabled = traced
            tracer.begin_op(i)
            c = cpu_now()
            t = time.perf_counter()
            try:
                res = wl.run(q)
            except Exception as e:  # a failed op counts; the run goes on
                traceback.print_exc()
                res = e
            wall = time.perf_counter() - t
            ops.append(layers.Op(i, q, wall, cpu_now() - c, traced, res, nth))
            i += 1
        loop_s = time.perf_counter() - loop_t0
        tracer.enabled = bool(args.trace)

        check_t0 = time.perf_counter()
        wrong: dict[str, int] = {}
        for op in ops:
            kind = op.query.kind
            if isinstance(op.result, Exception):
                bad = [f"{kind}:{type(op.result).__name__}"]
            else:
                try:
                    bad = wl.check(op.query, op.result)
                except Exception as e:  # a broken output fails its op only
                    traceback.print_exc()
                    bad = [f"{kind}:check:{type(e).__name__}"]
            for name in bad:
                wrong[name] = wrong.get(name, 0) + 1
            failed += bool(bad)
        extra_checks = wl.final_checks()
        failed += sum(not ok for ok in extra_checks.values())
        attempted = len(ops) + len(extra_checks)
        peak_mb = rss.stop()
        check_s = time.perf_counter() - check_t0
        report = layers.report(wl, tracer, ops, session_s, setup_s, warmup_s,
                               peak_mb, CORES, bool(args.trace))
        report["error_rate"] = failed / attempted
        report["checks"] = extra_checks
        report["failed_checks"] = wrong
        stamp = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "sizes": wl.sizes(), "ops": len(ops), "setup_reps": SETUP_REPS,
            "nproc": os.cpu_count(), "spark_master": f"local[{CORES}]",
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "cpu_steal_share": steal_share(ticks_start, cpu_ticks()),
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "phases_s": {"session": session_s, "setup_reps": setup_s,
                         "warmup": warmup_s, "loop": loop_s, "check": check_s},
        }
        tag = f"{args.workload}-s{args.seed}-t{args.trace}"
        if args.trace:
            tracer.dump(os.path.join(outdir, f"{tag}.spans.jsonl"))
    finally:
        stop_t0 = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        reap_leftovers()
        if rss.is_alive():
            rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    stamp["phases_s"]["stop"] = time.perf_counter() - stop_t0
    with open(os.path.join(outdir, f"{tag}.json"), "w") as f:
        json.dump({"stamp": stamp, "report": report}, f, indent=1)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({"report": report}))
    names = layers.PER_LAYER if args.trace else layers.END_TO_END
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": report[n], "unit": u} for n, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
