"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload search_serving --seed 1 \
        --seconds 10 --trace 0

Run from the root of a source checkout. It generates (or reuses) the
seeded inputs, starts a local Spark session, sets the workload up
``SETUP_REPS`` times (``setup_s`` is the median), runs the closed loop for
``--seconds``, checks every output against DuckDB outside the timed
regions, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, taken with the benchmark's wrappers installed. Scratch
state (inputs, Spark local dirs, index roots, span files) lives under
``.perfbench/`` in the checkout. See ``perfbench/DESIGN.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3
CPUS = min(4, os.cpu_count() or 1)
HEAP = "3g"
RUN = f"run-{os.getpid()}"  # this process's index roots and scratch

END_TO_END = {  # name -> unit
    "setup_s": "s", "op_p50_ms": "ms", "read_p50_ms": "ms",
    "work_per_s": "1/s",
}
_OP_LAYER = ["construct_ms", "construct_py4j_calls", "construct_jobs",
             "execute_ms", "execute_jobs", "stages", "task_cpu_ms",
             "shuffle_bytes", "spill_bytes", "task_gc_ms"]
_LAYER_UNITS = {
    # tails and memory: too noisy run to run to gate on (see DESIGN.md),
    # so they are recorded here, unbounded
    "op_p95_ms": "ms", "peak_rss_mb": "MB", "heap_retained_mb": "MB",
    "parse_ms": "ms", "construct_ms": "ms", "construct_py4j_calls": "count",
    "construct_jobs": "count", "execute_ms": "ms", "execute_jobs": "count",
    "stages": "count", "task_cpu_ms": "ms", "shuffle_bytes": "bytes",
    "spill_bytes": "bytes", "task_gc_ms": "ms", "hits_returned": "count",
    "lookup_p50_ms": "ms", "ranked_p50_ms": "ms", "analytics_p50_ms": "ms",
    "index_build_s_postings": "s", "index_build_s_positional": "s",
    "index_build_s_range": "s", "index_build_s_presence": "s",
    "index_cached_mb": "MB",
    "doc_build_rows_per_s": "1/s",
    "apply_batch_ms": "ms", "apply_jobs": "count", "maintain_jobs": "count",
    "store_upsert_ms": "ms", "store_delete_ms": "ms", "ttl_sweep_ms": "ms",
    "compact_ms": "ms", "delta_gen": "count", "files_per_segment": "count",
    "store_bytes": "bytes",
    "refresh_view_ms": "ms", "maintain_ms": "ms", "flush_ms": "ms",
    "read_after_maintain_ms": "ms",
    "churn_write_amp": "ratio", "write_amp_first_cycle": "ratio",
    "write_amp_last_cycle": "ratio",
    "first_apply_ms": "ms", "first_read_ms": "ms",
    "op_construct_ms": "ms", "op_construct_jobs": "count",
    "op_execute_ms": "ms", "op_shuffle_bytes": "bytes",
    "pins_retained": "count",
    "py4j_calls": "count", "persistent_rdds": "count", "jvm_gc_ms": "ms",
    "session_start_s": "s", "warmup_s": "s", "trace_overhead_ms": "ms",
}


def per_layer_units() -> dict[str, str]:
    """name -> unit of every per-layer metric; every workload reports every
    name (0 where the workload does not exercise that layer)."""
    from perfbench.serving import CORPUS_STAGES
    from perfbench.trace import LAYER_NAMES

    out = dict(_LAYER_UNITS)
    for stage in CORPUS_STAGES:
        out[f"op_{stage}_construct_ms"] = "ms"
        out[f"op_{stage}_execute_ms"] = "ms"
        out[f"op_{stage}_construct_jobs"] = "count"
    for layer in LAYER_NAMES:
        out[f"self_ms_{layer}"] = "ms"
    return out


WORKLOADS = ("search_serving", "index_churn")


def _preflight() -> None:
    """Refuse to run (exit 2, no result line) outside a source checkout."""
    need = ["__spark_entry__.py", "cassandra_es_index_spark/__init__.py"]
    missing = [p for p in need if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        sys.stderr.write(f"perfbench: not a source checkout, missing "
                         f"{missing} under {ROOT}\n")
        sys.exit(2)


def _environment() -> None:
    """Session hygiene owned by the benchmark: a bounded local master and
    heap, scratch dirs inside the checkout, the package importable by
    Python workers."""
    for sub in ("spark-local", "tmp", RUN):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _start_spark():
    from cassandra_es_index_spark import get_spark

    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "200",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _release_state(spark, entry) -> None:
    """Between set-up repetitions only: drop every cached frame and pinned
    RDD so each repetition builds from nothing."""
    entry._CACHE.clear()
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort at exit
            proc.kill()
            proc.wait(timeout=10)


def _make_workload(name, ctx):
    if name == "search_serving":
        from perfbench.serving import SearchServing
        return SearchServing(ctx)
    from perfbench.churn import IndexChurn
    return IndexChurn(ctx)


def _op_layer_metrics(ctx, groups) -> dict[str, float]:
    """Construction/execution breakdown over the reads (search requests,
    churn reads): medians of times, per-read means of jobs. Stages and
    task metrics are per-operation means over every phase of every
    measured operation, writes included."""
    from perfbench.common import median

    ops = [o for o in ctx.ops if not o.error]
    reads = [o for o in ops if (o.rid, "execute") in groups]
    out = dict.fromkeys(_OP_LAYER, 0.0)
    if not ops:
        return out
    if reads:
        out["construct_ms"] = median([o.construct_ms for o in reads])
        out["execute_ms"] = median([o.execute_ms for o in reads])
        for phase in ("construct", "execute"):
            out[f"{phase}_jobs"] = sum(
                groups.get((o.rid, phase), {}).get("jobs", 0)
                for o in reads) / len(reads)
    rids = {o.rid for o in ops}
    mine = [g for (rid, _), g in groups.items() if rid in rids]
    for k in ("stages", "task_cpu_ms", "shuffle_bytes", "spill_bytes",
              "task_gc_ms"):
        out[k] = sum(g[k] for g in mine) / len(ops)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="perfbench: one workload run")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _preflight()
    _environment()

    from perfbench import gen
    from perfbench.common import loadavg

    data = gen.ensure_inputs(args.seed, os.path.join(WORK, "inputs"))
    load_start = loadavg()
    t0 = time.perf_counter()
    spark = _start_spark()
    session_start_s = time.perf_counter() - t0
    try:
        return _run(args, spark, data, session_start_s, load_start)
    finally:
        _stop_spark(spark)
        shutil.rmtree(os.path.join(WORK, RUN), ignore_errors=True)


def _run(args, spark, data, session_start_s, load_start) -> int:
    import __spark_entry__ as entry

    from perfbench.common import Context, loadavg, median, pct, peak_rss_mb
    from perfbench.trace import Tracer

    tracer = Tracer(spark, enabled=bool(args.trace))
    ctx = Context(spark, tracer, data, os.path.join(WORK, RUN), entry)
    wl = _make_workload(args.workload, ctx)

    setups, warmup_s = [], 0.0
    for i in range(SETUP_REPS):
        if i:
            _release_state(spark, entry)
        tracer.request_id = f"setup{i}"
        t = time.perf_counter()
        with tracer.span("setup"):
            wl.setup()
        setups.append(time.perf_counter() - t)
        if i == 0 and hasattr(wl, "warmup"):
            tracer.request_id = "warmup"
            t = time.perf_counter()
            with tracer.span("warmup"):
                wl.warmup()
            warmup_s = time.perf_counter() - t
    tracer.request_id = None

    gc0 = tracer.jvm_gc_ms()
    self0 = tracer.self_s
    t = time.perf_counter()
    wl.measure(args.seconds)
    wall = time.perf_counter() - t
    gc_ms = tracer.jvm_gc_ms() - gc0
    rdds = tracer.persistent_rdds()
    trace_self_s = tracer.self_s - self0
    heap_mb = tracer.retained_heap_mb() if args.trace else 0.0

    wl.check()
    lat = wl.latencies()
    jvm_pid = getattr(getattr(spark.sparkContext._gateway, "proc", None),
                      "pid", None)
    e2e = {
        "setup_s": statistics.median(setups),
        "op_p50_ms": median(lat),
        "read_p50_ms": median(wl.read_latencies()),
        "work_per_s": wl.work_items() / wall,
    }
    record = {"workload": args.workload, "seed": args.seed,
              "setups_s": setups, "wall_s": wall, "n_lat": len(lat),
              "n_read": len(wl.read_latencies()),
              "loadavg_start": load_start, "loadavg_end": loadavg(),
              "failures": ctx.failures[:50],
              "ops": [[o.rid, o.cls, round(o.ms, 1)] for o in ctx.ops]}
    if args.trace:
        groups = tracer.group_metrics()
        units = per_layer_units()
        layer = dict.fromkeys(units, 0.0)
        layer.update(_op_layer_metrics(ctx, groups))
        layer["construct_py4j_calls"] = median(
            [s["py4j"] for s in tracer.spans if s["name"] == "construct"])
        layer.update(wl.layer_metrics(groups))
        n_ops = max(1, len(ctx.ops))
        rids = {o.rid for o in ctx.ops}
        layer.update({
            # top-level spans of the measured operations: every phase
            "py4j_calls": sum(s["py4j"] for s in tracer.spans
                              if s["parent"] is None and s["rid"] in rids)
                          / n_ops,
            "persistent_rdds": rdds, "jvm_gc_ms": gc_ms,
            "session_start_s": session_start_s, "warmup_s": warmup_s,
            "trace_overhead_ms": trace_self_s * 1e3 / n_ops,
            "op_p95_ms": pct(lat, 95), "peak_rss_mb": peak_rss_mb(jvm_pid),
            "heap_retained_mb": heap_mb,
        })
        selfs = tracer.self_times(lambda s: s["rid"] in rids)
        for name, ms in selfs.items():
            layer[f"self_ms_{name}"] = ms / n_ops
        record["n_spans"] = len(tracer.spans)
        tracer.write(os.path.join(
            WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
        metrics = {k: {"value": float(layer[k]), "unit": u}
                   for k, u in units.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    with open(os.path.join(
            WORK, f"record-{args.workload}-{args.seed}-{args.trace}.json"),
            "w") as f:
        json.dump({**record, "e2e": e2e}, f, indent=1)
    sys.stderr.write(json.dumps({k: v for k, v in record.items()
                                 if k != "ops"})[:4000] + "\n")
    tracer.uninstall()
    print(json.dumps({"correct": not ctx.failures,
                      "attempted": max(1, ctx.attempted),
                      "failed": len(ctx.failures), "metrics": metrics}),
          flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
