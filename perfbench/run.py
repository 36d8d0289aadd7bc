#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5 --trace 0

Runs one workload (see ``workloads.py`` and ``README.md``) in one process
with a single closed-loop client on ``local[<cores>]``, from the root of
a checkout of the repository. Everything it writes lives under
``.perfbench_work/`` in that checkout and is removed on exit.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones. With ``--trace 1`` the run measures a
traced window and then an untraced one, and the metrics are the per-layer
ones, with the tracing overhead. A readable report goes to standard error.
The exit code is 1 when an output check failed.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "nosql_to_sql_migration_tool_spark"
SETUPS = 4

# Layer name -> module under the package whose public functions are
# wrapped; ``queries`` spans are opened by the query_mix loop per row.
LAYERS = {
    "session": "session",
    "sources.registry": "sources.registry",
    "queries": None,
    "workflow": "workflow",
    "operators.infer": "operators.infer",
    "plans.ddl": "plans.ddl",
    "operators.normalize_docs": "operators.normalize_docs",
    "operators.validation": "operators.validation",
    "operators.cdc": "operators.cdc",
    "hadoop_fs": "hadoop_fs",
    "streaming.ingest_stream": "streaming.ingest_stream",
    "operators.dedup": "operators.dedup",
    "operators.inverted": "operators.inverted",
}

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "ops_per_s": ("1/s", "higher"),
    "bulk_s": ("s", "lower"),
    "heap_mb": ("MB", "lower"),
}
# Metrics a window measures on its own (set-up precedes both windows and
# the heap holds what both windows left), so traced / untraced is the
# tracing overhead.
OVERHEAD_METRICS = ("ops_per_s", "bulk_s")


def per_layer_names() -> dict[str, tuple[str, str]]:
    import spans as tr

    units = {"calls": "count", "jobs": "count", "tasks": "count",
             "shuffle_bytes": "B", "spill_bytes": "B"}
    out = {
        f"{layer}.{f}": (units.get(f, "s"), "lower")
        for layer in LAYERS
        for f in tr.LAYER_FIELDS
    }
    out.update({
        "queries.construct_s": ("s", "lower"),
        "queries.plan_s": ("s", "lower"),
        "queries.execute_s": ("s", "lower"),
        "sources.registry.schema_jobs": ("count", "lower"),
        "operators.cdc.collect_jobs": ("count", "lower"),
        "operators.cdc.rows_rewritten_per_changed_row": ("ratio", "lower"),
        "streaming.ingest_stream.jobs_per_batch": ("count", "lower"),
        "streaming.ingest_stream.files_written": ("count", "lower"),
        "operators.dedup.verified_per_candidate": ("ratio", "higher"),
        "hadoop_fs.overlap_ratio": ("ratio", "higher"),
    })
    out.update({f"census.{c}": ("count", "lower") for c in tr.CENSUS})
    out.update({
        f"trace_overhead.{m}": ("ratio", "lower") for m in OVERHEAD_METRICS
    })
    return out


def _env(work: str) -> None:
    """Keep every file Spark, the JVM and the package write inside the
    run's work directory, and size the local session."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # the session's Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": (
            "--driver-memory 2g "
            f"--driver-java-options -Djava.io.tmpdir={tmp} "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false "
            # the traced run reads every job of the run back
            "--conf spark.ui.retainedJobs=100000 "
            "--conf spark.ui.retainedStages=100000 "
            "pyspark-shell"
        ),
    })


def _jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the driver JVM")


def _jvm_heap_mb(spark) -> float:
    """Driver JVM heap in use after full collections: what the window
    left live (cached frames, broadcasts, status store). Python drops its
    gateway references first. The context cleaner releases what a
    collection frees asynchronously, sometimes more than 1 s later, so
    this is the least use seen over five collections 0.5 s apart."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = []
    for i in range(5):
        if i:
            time.sleep(0.5)
        jvm.java.lang.System.gc()
        used.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
    return min(used)


def _shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        try:
            spark.stop()
        except Exception as exc:  # a broken gateway must not keep the JVM alive
            print(f"session stop failed: {exc!r}", file=sys.stderr)
    if gateway is None:
        return
    proc = gateway.proc
    try:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(60)
    except Exception:
        proc.kill()
        proc.wait(60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end(w, setup_s: list[float], heap_mb: float) -> dict[str, float]:
    return {
        "setup_s": statistics.median(setup_s),
        "ops_per_s": len(w.op_s) / sum(w.op_s),
        "bulk_s": statistics.median(w.bulk_s),
        "heap_mb": heap_mb,
    }


def report(wl_name: str, label: str, w, metrics: dict) -> None:
    import spans as tr

    err = sys.stderr
    print(f"[{wl_name}] {label} window: {len(w.op_s)} operations, "
          f"{sum(w.op_s):.2f} s measured", file=err)
    for name, value in metrics.items():
        print(f"  {name} = {value:.6g} {END_TO_END[name][0]}", file=err)
    print(f"  op latency p50 = {statistics.median(w.op_s):.4f} s "
          f"(n={len(w.op_s)})", file=err)
    p = tr.tail_percentile(len(w.op_s))
    if p is not None and p > 50:
        print(f"  op latency p{p:g} = {tr.percentile(w.op_s, p):.4f} s "
              f"(n={len(w.op_s)}, highest percentile with >= 10 samples "
              f"beyond it)", file=err)
    else:
        print("  too few operations for a tail percentile with 10 samples "
              "beyond it", file=err)
    print("  op latencies: " + " ".join(f"{x:.3f}" for x in w.op_s), file=err)
    print("  bulk phases: " + " ".join(f"{x:.3f}" for x in w.bulk_s), file=err)
    for name, value in sorted(w.counts.items()):
        print(f"  {name} = {value:.6g}", file=err)
    rate = w.failed / max(1, w.attempted)
    print(f"  error_rate = {rate:.4g} ({w.failed}/{w.attempted})", file=err)
    for problem in w.problems:
        print(f"  FAILED: {problem}", file=err)


def traced_metrics(tracer, jobs, w, window_jobs: range) -> dict[str, float]:
    """Per-layer metrics of the traced window ``w``, whose jobs have the
    ids ``window_jobs``."""
    import spans as tr

    out, census = tr.layer_metrics(tracer.spans, jobs, list(LAYERS))
    for phase in ("construct_s", "plan_s", "execute_s"):
        out[f"queries.{phase}"] = tracer.counters.get(f"queries.{phase}", 0.0)
    out["sources.registry.schema_jobs"] = census["sources.registry"]["schema"]
    out["operators.cdc.collect_jobs"] = census["operators.cdc"]["collect"]
    rewritten = sum(
        j.output_records
        for j in tr.jobs_of(tracer.spans, jobs, "operators.cdc", "apply_changes_to_path")
        if tr.job_class(j.name, j.in_sql) == "save"
    )
    changed = w.counts.get("changed_rows", 0)
    out["operators.cdc.rows_rewritten_per_changed_row"] = (
        rewritten / changed if changed else 0.0
    )
    gates = sum(1 for s in tracer.spans if s.name == "gate_batch")
    gate_jobs = tr.jobs_of(tracer.spans, jobs, "streaming.ingest_stream", "gate_batch")
    out["streaming.ingest_stream.jobs_per_batch"] = len(gate_jobs) / gates if gates else 0.0
    out["streaming.ingest_stream.files_written"] = w.counts.get("files_written", 0)
    cand = w.counts.get("candidates", 0)
    out["operators.dedup.verified_per_candidate"] = (
        w.counts.get("verified", 0) / cand if cand else 0.0
    )
    wall = tracer.counters.get("hadoop_fs.concurrent_wall_s", 0.0)
    out["hadoop_fs.overlap_ratio"] = (
        tracer.counters.get("hadoop_fs.thunk_s", 0.0) / wall if wall else 0.0
    )
    classes = [tr.job_class(j.name, j.in_sql) for j in jobs.values()
               if j.job_id in window_jobs]
    for c in tr.CENSUS:
        out[f"census.{c}"] = classes.count(c)
    return out


def print_census(jobs, window_jobs: range) -> None:
    """The traced window's jobs by call site."""
    import spans as tr

    sites: dict[tuple[str, str], int] = {}
    for j in jobs.values():
        if j.job_id in window_jobs:
            key = (tr.job_class(j.name, j.in_sql), j.name)
            sites[key] = sites.get(key, 0) + 1
    print("  job census of the traced window by call site:", file=sys.stderr)
    for (cls, name), n in sorted(sites.items(), key=lambda kv: -kv[1]):
        print(f"    {n:4d} {cls:10s} {name}", file=sys.stderr)


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    import spans as tr
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops the JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))

    sys.path.insert(0, ROOT)
    importlib.import_module(PACKAGE)  # no program in this checkout: fail here

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _env(work)
    os.chdir(work)
    spark = None
    phases: dict[str, float] = {}
    t_start = time.perf_counter()
    try:
        session = importlib.import_module(f"{PACKAGE}.session")
        wl = workloads.WORKLOADS[args.workload](args.seed)
        tracer = tr.Tracer(tr.job_counter()) if args.trace else None
        modules = {
            layer: importlib.import_module(f"{PACKAGE}.{mod}")
            for layer, mod in LAYERS.items()
            if mod is not None
        }

        def traced_if(on: bool):
            return tracer.install(modules, PACKAGE) if on else (lambda: None)

        # inputs are staged twice, untimed, to check that the seed alone
        # fixes them; the second copy is the one the program reads
        manifests = []
        for i in range(2):
            inputs = os.path.join(work, f"inputs{i}")
            wl.stage(inputs)
            manifests.append(workloads.gen.manifest(
                [os.path.join(d, f) for d, _, fs in os.walk(inputs) for f in fs]
            ))
        phases["staging"] = time.perf_counter() - t_start

        # each set-up starts a session and warms it; all but the first
        # stop the previous session first (untimed), so the first one
        # includes the JVM launch. Only the last one is traced, because
        # job ids restart with the context.
        setup_s = []
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            restore = traced_if(tracer is not None and i == SETUPS - 1)
            t0 = time.perf_counter()
            spark = session.get_spark("perfbench")
            wl.warm(spark)
            setup_s.append(time.perf_counter() - t0)
            restore()
        phases["set-ups"] = time.perf_counter() - t_start - phases["staging"]
        problems = []
        if manifests[0] != manifests[1]:
            problems.append("staged inputs differ between two stagings of one seed")

        # --trace 1: the traced window comes first, in the state a plain
        # run measures; the untraced window after it runs the same
        # operations in a warmer session, so the overhead it yields is an
        # upper bound
        labels = ["traced", "untraced"] if tracer else ["untraced"]
        windows, e2e = [], {}
        for part, label in enumerate(labels):
            t = time.perf_counter()
            traced = label == "traced"
            restore = traced_if(traced)
            first_job = tracer.next_job_id() if traced else 0
            try:
                w = wl.window(
                    spark, args.seconds, os.path.join(work, f"store{part}"),
                    tracer if traced else None,
                )
            finally:
                restore()
            if traced:
                window_jobs = range(first_job, tracer.next_job_id())
            phases[f"{label} window"] = time.perf_counter() - t
            windows.append(w)
            w.counts["jvm_peak_rss_mb"] = _jvm_peak_rss_mb()
            e2e[label] = end_to_end(w, setup_s, _jvm_heap_mb(spark))
        metrics = e2e["untraced"]
        if tracer:
            jobs = tr.read_jobs(spark.sparkContext)
            metrics = traced_metrics(tracer, jobs, windows[0], window_jobs)
            for m in OVERHEAD_METRICS:
                a, b = e2e["traced"][m], e2e["untraced"][m]
                metrics[f"trace_overhead.{m}"] = a / b if END_TO_END[m][1] == "lower" else b / a
        t = time.perf_counter()
        wl.check(spark, windows[-1])
        phases["checks"] = time.perf_counter() - t

        print("set-ups: " + " ".join(f"{x:.2f}" for x in setup_s) + " s",
              file=sys.stderr)
        for label, w in zip(labels, windows):
            report(args.workload, label, w, e2e[label])
        if tracer:
            for name in sorted(metrics):
                print(f"  {name} = {metrics[name]:.6g}", file=sys.stderr)
            print_census(jobs, window_jobs)
    finally:
        try:
            _shutdown(spark)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass

    phases["total"] = time.perf_counter() - t_start
    print("wall per phase: " + ", ".join(
        f"{k} {v:.1f} s" for k, v in phases.items()), file=sys.stderr)
    attempted = sum(w.attempted for w in windows)
    failed = sum(w.failed for w in windows) + len(problems)
    for problem in problems:
        print(f"FAILED: {problem}", file=sys.stderr)
    names = per_layer_names() if args.trace else END_TO_END
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m: {"value": float(metrics[m]), "unit": names[m][0]} for m in names
        },
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
