"""Benchmark of the spark-graft engine: two closed-loop workloads of
registry operators, one client (this process), a fixed op sequence per run.

    python3 perfbench/run.py --workload table_formats --seed 1 --seconds 30 --trace 0

Run it from the repository root. ``--seed`` sets the generated input
tables. ``--seconds`` sets the length of the op sequence in whole rounds
(rounds = seconds / ROUND_S), never a time budget, so two commits run
identical work. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs the same sequence with spans, Spark job groups and /proc deltas and
reports the per-layer metrics instead. Every op's output is checked after
the timed phase against the key's DuckDB oracle.

The last stdout line is the result JSON; the line before it holds host
diagnostics. Traces go to ``.perfbench_out/``; scratch data lives in
``.perfbench_work/`` and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import probe  # noqa: E402

# Noise pins. Spark gets fewer cores than the host has, a heap that fits
# in RAM and a fixed GC thread count; every scratch path is inside the
# checkout. The program never fsyncs: writes stay in the page cache and
# the kernel flushes them in the background.
CPUS = max(1, min(2, (os.cpu_count() or 2) - 1))
DRIVER_MEM = "2g"
GC_THREADS = 2

# Generated-data scale (lineitem = 6M x sf rows) and the nominal seconds
# of one round of a workload's ops on a 4-vCPU host; it only sizes the op
# sequence: rounds = seconds / ROUND_S.
SCALE = {"table_formats": 0.01, "corpus_curation": 0.02}
ROUND_S = {"table_formats": 15.0, "corpus_curation": 10.0}

E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "op_geomean_s": "s", "peak_rss_mb": "MB"}


def _per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit. A layer
    a workload does not exercise reports 0 (no catalog calls in
    ``corpus_curation``)."""
    units = {
        "datagen_s": "s", "session.start_s": "s", "registry.load_s": "s",
        "warmup_s": "s",
        "operators.build_s": "s", "operators.action_s": "s", "operators.build_share": "share",
        "spark.build_jobs": "count", "spark.action_jobs": "count",
        "spark.stages": "count", "spark.tasks": "count", "spark.failed_tasks": "count",
        "cpu.driver_s": "s", "cpu.jvm_s": "s", "cpu.pyworker_s": "s", "jvm.gc_s": "s",
        "cpu.busy_share": "share", "error_rate": "share",
        "trace.ops_per_s": "1/s", "trace.overhead_s": "s",
    }
    for fmt in ("vc", "delta", "iceberg"):
        units[f"catalog.{fmt}.calls"] = "count"
        units[f"catalog.{fmt}.call_s"] = "s"
    units["catalog.build_share"] = "share"
    return units


PER_LAYER_UNITS = _per_layer_units()


def pin_environment(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -XX:ParallelGCThreads={GC_THREADS} "
        "-XX:ConcGCThreads=1"
    )
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"--conf spark.driver.extraJavaOptions='{java_opts}'",
            "pyspark-shell",
        ]),
    })
    import tempfile

    tempfile.tempdir = tmp
    return {
        "cpus": CPUS, "driver_mem": DRIVER_MEM, "gc_threads": GC_THREADS,
        "tmpdir": tmp, "flush_policy": "no fsync; page cache, background writeback",
    }


class Run:
    """State shared by the workload and the timed loop of one run."""

    def __init__(self, args, work: str):
        self.args = args
        self.seed = args.seed
        self.tracer = probe.Tracer(bool(args.trace))
        self.tree = probe.ProcessTree()
        self.spark = None
        self.groups = None
        self.tables: dict[str, str] = {}
        self.data_dir = os.path.join(work, "data")
        self.phase_s: dict[str, float] = {}

    def rounds(self) -> int:
        return max(1, round(self.args.seconds / ROUND_S[self.args.workload]))

    @contextmanager
    def timed(self, phase: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phase_s[phase] = self.phase_s.get(phase, 0.0) + time.perf_counter() - t0


def start_session(run: Run) -> None:
    import datagen

    with run.timed("datagen"):
        run.tables = datagen.write_tables(run.data_dir, run.seed, SCALE[run.args.workload])
    with run.timed("session.start"):
        from lakefs_iceberg_catalog_spark.session import get_spark

        run.spark = get_spark("perfbench")
        run.spark.sparkContext.setLogLevel("ERROR")
    run.tree.start()
    run.groups = probe.JobGroups(run.spark)
    with run.timed("registry.load"):
        import __spark_entry__

        run.queries = __spark_entry__.queries()
        run.oracles = __spark_entry__.oracle_sql()


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM: closing its stdin makes it
    exit, taking its Python worker daemon with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def run_workload(run: Run):
    """Set up, warm, run the timed sequence, check. Returns a summary."""
    import registry_workload as wl

    start_session(run)
    if run.tracer.enabled:
        wl.trace_catalog_calls(run.tracer)
    results = wl.prepare(run)
    with run.timed("warmup"):
        wl.warm(run, results)
    rounds = wl.rounds(run, results)

    host0 = probe.host_snapshot()
    cpu0, gc0 = run.tree.cpu(), probe.jvm_gc_seconds(run.spark)
    setup_s = time.time() - run.t_process_start
    latencies: dict[str, list[float]] = {}
    raised: dict[int, str] = {}
    round_s: list[float] = []
    round_tput: list[float] = []
    op_types: list[str] = []
    t0 = time.perf_counter()
    for ops in rounds:
        r0, done = time.perf_counter(), 0
        for op_type, fn in ops:
            op_id = len(op_types)
            op_types.append(op_type)
            a = time.perf_counter()
            try:
                with run.tracer.span("op", op_id):
                    fn(op_id)
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, the run goes on
                raised[op_id] = f"{op_type}: {type(exc).__name__}: {exc}"[:400]
                traceback.print_exc(file=sys.stderr)
                continue
            latencies.setdefault(op_type, []).append(time.perf_counter() - a)
            done += 1
        round_s.append(time.perf_counter() - r0)
        round_tput.append(done / round_s[-1])
    wall = time.perf_counter() - t0
    cpu1, gc1 = run.tree.cpu(), probe.jvm_gc_seconds(run.spark)
    host1 = probe.host_snapshot()

    with run.timed("verify"):
        check_failed = wl.verify(run, results)
    failed_ops = set(raised) | set(check_failed)
    rss = run.tree.peak_rss_mb()
    summary = {
        "setup_s": setup_s,
        # completed ops / wall seconds, per round; the median round stands
        # for the run, so one round hit by a host stall does not move it
        "ops_per_s": statistics.median(round_tput),
        "op_geomean_s": geomean([statistics.median(v) for v in latencies.values()]),
        "peak_rss_mb": sum(rss.values()),
        "attempted": len(op_types),
        "failed": len(failed_ops),
        "errors": {str(k): v for k, v in raised.items()} | {str(k): v for k, v in check_failed.items()},
        "round_s": round_s,
        "peak_rss_parts_mb": rss,
        "wall_s": wall,
        "latencies": latencies,
        "op_types": op_types,
        "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
        "gc_s": gc1 - gc0,
        "host": {
            "load1_before": host0["load1"],
            "load1_after": host1["load1"],
            "steal_share": probe.steal_share(host0, host1),
            "calib_ms_before": host0["calib_ms"],
            "calib_ms_after": host1["calib_ms"],
            "cpus": CPUS,
            "nproc": os.cpu_count(),
            "max_heap_mb": probe.jvm_max_heap_mb(run.spark),
        },
    }
    summary["catalog"] = wl.layer_metrics(run) if run.tracer.enabled else {}
    return summary


def per_type_stats(latencies: dict[str, list[float]]) -> dict:
    out = {}
    for typ, v in sorted(latencies.items()):
        s = sorted(v)
        out[typ] = {
            "n": len(s),
            "median_s": statistics.median(s),
            "p90_s": s[min(len(s) - 1, math.ceil(0.9 * len(s)) - 1)],
            "max_s": s[-1],
        }
    return out


def layer_metrics(run: Run, summary: dict, counts: dict[str, int]) -> dict:
    """Per-layer metrics of a traced run (names and units in PER_LAYER_UNITS)."""
    tr = run.tracer
    build, action = tr.total("operators.build"), tr.total("operators.action")
    cpu = summary["cpu"]
    m = {
        **{f"{k}_s": v for k, v in run.phase_s.items()},
        "operators.build_s": build,
        "operators.action_s": action,
        "operators.build_share": build / (build + action) if build + action else 0.0,
        **{f"spark.{k}": v for k, v in counts.items()},
        "cpu.driver_s": cpu["driver"],
        "cpu.jvm_s": cpu["jvm"],
        "cpu.pyworker_s": cpu["pyworker"],
        "jvm.gc_s": summary["gc_s"],
        "cpu.busy_share": sum(cpu.values()) / (summary["wall_s"] * CPUS),
        "error_rate": summary["failed"] / summary["attempted"],
        "trace.ops_per_s": summary["ops_per_s"],
        "trace.overhead_s": tr.bookkeeping_s,
    }
    m.update(summary["catalog"])
    return m


def op_table(run: Run, op_types: list[str], jobs: dict[int, dict[str, int]]) -> list[dict]:
    """Per timed op: type, build and action seconds, Spark jobs per phase.
    Job counts can differ by one between reps of a key: an async
    broadcast job is attributed to whichever group is current."""
    rows = [{"op": i, "type": t, **jobs.get(i, {})} for i, t in enumerate(op_types)]
    for name, t0, t1, _, op_id in run.tracer.spans:
        if name.startswith("operators.") and op_id >= 0:
            rows[op_id][name.split(".")[1] + "_s"] = t1 - t0
    return rows


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["table_formats", "corpus_curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "__spark_entry__.py")):
        print("perfbench: no __spark_entry__.py here; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    run = Run(args, work)
    run.t_process_start = probe.process_start_wall()
    pins = pin_environment(work)
    try:
        summary = run_workload(run)
        metrics_src = {k: summary[k] for k in E2E_UNITS}
        if args.trace:
            counts, jobs = run.groups.counts()
            metrics_src = layer_metrics(run, summary, counts)
            run.tracer.dump(
                os.path.join(root, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json"),
                {
                    "metrics": metrics_src,
                    "per_type": per_type_stats(summary["latencies"]),
                    "ops": op_table(run, summary["op_types"], jobs),
                },
            )
    finally:
        run.tree.stop()
        with run.timed("shutdown"):
            if run.spark is not None:
                stop_spark(run.spark)
            run.tree.reap()
        shutil.rmtree(work, ignore_errors=True)

    units = PER_LAYER_UNITS if args.trace else E2E_UNITS
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "pins": pins, "host": summary["host"],
        "phases_s": run.phase_s, "round_s": summary["round_s"], "peak_rss_parts_mb": summary["peak_rss_parts_mb"],
        "per_type": per_type_stats(summary["latencies"]),
        "errors": summary["errors"],
    }))
    print(json.dumps({
        "correct": summary["failed"] == 0,
        "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": {k: {"value": float(metrics_src.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
