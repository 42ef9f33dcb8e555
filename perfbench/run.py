#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One run: generate (or reuse) the
seeded inputs, set the session up five times (reporting the median),
run untimed warm passes, then passes of the workload as a closed loop
with one client for ``--seconds``, then check every op once against
its oracle outside the timed region. The last stdout line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A full report (environment, inputs, samples, checks, spans) is written
to ``.perfbench/results/``. All files a run writes stay under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUP_CYCLES = 5
#: Untimed passes before the timed window. The first runs cold (on
#: corpus three times as long as a warm pass); the second still spends
#: ~10% more CPU than later ones, while the JIT finishes.
WARM_PASSES = 2
#: Span layers whose self time is reported (the text before the dot).
LAYERS = ("plans", "catalyst", "exec", "cli", "sources", "sinks", "compilestage", "io")

#: (name, unit) of every reported metric, in BENCHMARK.json order.
END_TO_END = [("setup_s", "s"), ("pass_cpu_s", "s"), ("peak_rss_mb", "MB")]
PER_LAYER = [
    ("session.start_s", "s"), ("session.heap_after_gc_mb", "MB"),
    ("session.gc_s", "s"), ("session.persisted_rdds_retained", "count"),
    ("session.process_cpu_s", "s"),
    ("plans.builder_s", "s"), ("plans.builder_jobs", "count"),
    ("plans.builder_share", "ratio"), ("plans.op_s", "s"),
    ("catalyst.plan_s", "s"), ("catalyst.exchanges", "count"),
    ("catalyst.reused_exchanges", "count"),
    ("exec.run_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.failed_tasks", "count"),
    ("exec.executor_cpu_s", "s"), ("exec.jvm_gc_s", "s"),
    ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"), ("exec.input_mb", "MB"),
    ("exec.slot_busy_ratio", "ratio"),
    ("sources.store_builds", "count"), ("sources.store_build_s", "s"),
    ("sources.store_read_s", "s"), ("sources.store_mb", "MB"),
    ("sources.scan_s", "s"),
    ("functions.udf_s", "s"), ("functions.selectors_per_s", "1/s"),
    ("compilestage.extract_s", "s"), ("compilestage.files_per_s", "1/s"),
    ("sinks.store_s", "s"), ("sinks.spark_write_s", "s"), ("sinks.duckdb_s", "s"),
    ("sinks.insert_ratio", "ratio"), ("sinks.insert_attempted", "count"),
    ("sinks.db_mb", "MB"), ("sinks.export_ms", "ms"),
    ("streaming.batches", "count"), ("streaming.batch_p50_ms", "ms"),
    ("streaming.input_rows", "count"), ("streaming.state_rows", "count"),
    ("ingest.contracts_per_s", "1/s"), ("ingest.functions_per_s", "1/s"),
    ("ingest.export_p50_ms", "ms"), ("ingest.export_p90_ms", "ms"),
    ("ingest.stored_bytes_per_input_byte", "ratio"),
    ("check.error_rate", "share"),
    ("trace.unattributed_s", "s"), ("trace.self_time_residual_s", "s"),
    ("trace.overhead_s", "s"),
] + [(f"selftime.{layer}_s", "s") for layer in LAYERS]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for smoke tests")
    return p.parse_args(argv)


def isolate_environment(run_dir: str, cpus: int) -> None:
    """Point every scratch location at the checkout, before anything
    reads it: temp files, the engine's store root and Spark scratch."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None
    # a fixed scratch dir, shared by every run in this checkout
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(WORK, "spark_local")
    os.environ["SPARK_GRAFT_STORE_ROOT"] = os.path.join(run_dir, "stores", "setup")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # every JVM (the launcher too): temp files in the checkout, and no
    # hsperfdata file, which HotSpot writes to /tmp whatever the tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


class Context:
    """What an op sees: the session, the tracer and the check ledger."""

    def __init__(self, spark, tracer, traced: bool) -> None:
        self.spark, self.tracer, self.traced = spark, tracer, traced
        self.checks: list[tuple[str, bool]] = []
        self.record: dict = {}

    def check(self, what: str, ok: bool) -> None:
        self.checks.append((what, bool(ok)))
        if not ok:
            print(f"CHECK FAILED: {what}", file=sys.stderr)

    def phase(self, name: str) -> None:
        """Tag the jobs of the current op phase (traced passes only)."""
        if self.traced and self.tracer.op:
            self.spark.sparkContext.setJobGroup(f"{self.tracer.op}|{name}", name)


def spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        # a fixed, pre-touched heap: otherwise the JVM's resident size
        # depends on when G1 decides to grow the heap, and peak RSS
        # swings by 40% between identical runs; heap use itself is
        # reported per layer (session.heap_after_gc_mb).
        # The C1 compiler only: with C2 the JIT was still compiling
        # Catalyst 8-13 s per pass after five passes, and pass times swung
        # 2x with host load. C1 is done after the first pass; the code
        # cache is sized so it never fills and flushes.
        "spark.driver.extraJavaOptions":
            "-Xms2g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 "
            "-XX:ReservedCodeCacheSize=512m -Xlog:disable -Xlog:all=warning:stderr",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # warm passes reuse their generated classes: with the default 100
        # entries the cache thrashes and each corpus pass loads ~400 new
        # classes for Janino and the JIT to compile again
        "spark.sql.codegen.cache.maxEntries": "4000",
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    return conf


def wait_persisted(spark, target: int, timeout: float = 0.5) -> int:
    """Collect garbage on both sides until the persisted-RDD count is
    back to ``target`` (the cleaner is asynchronous) or time runs out."""
    from spans import persisted_rdds

    end = time.perf_counter() + timeout
    while True:
        gc.collect()
        spark.sparkContext._jvm.java.lang.System.gc()
        n = persisted_rdds(spark)
        if n <= target or time.perf_counter() > end:
            return n
        time.sleep(0.1)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    t_run = time.perf_counter()
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate_environment(run_dir, cpus)

    import stats
    import spans as tr
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    # the engine itself: absent from a bare benchmark directory
    import duckdb
    import pyspark

    import bench
    from smart_contract_database_builder_spark.session import get_spark

    wl = WORKLOADS[args.workload](args.scale, run_dir)
    t0 = time.perf_counter()
    inputs_info = wl.prepare(os.path.join(WORK, "inputs"), args.seed)
    inputs_s = time.perf_counter() - t0
    calib_ms, calib_p50_ms = bench._machine_calibration_ms()

    # -- setup, several times --------------------------------------------
    conf = spark_conf(run_dir, bool(args.trace))
    tracer = tr.Tracer()
    setup_s, start_s = [], []
    spark = None
    for k in range(SETUP_CYCLES):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        wl.warmup(spark)
        setup_s.append(time.perf_counter() - t0)
        start_s.append(t1 - t0)
    jvm = tr.jvm_pid()
    env = {
        "calib_ms": calib_ms, "calib_p50_ms": calib_p50_ms, "nproc": cpus,
        "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
        "driver_heap_max_mb": spark.sparkContext._jvm.java.lang.Runtime
        .getRuntime().maxMemory() / 2**20,
    }

    # -- warm and timed passes -------------------------------------------------
    ctx = Context(spark, tracer, False)
    wrappers = tr.Wrappers(tracer)
    progress: list[dict] = []
    samples, passes = [], []
    # after the warm passes, whole passes until their summed wall time
    # reaches --seconds, and at least two; the untimed checks between
    # passes do not count, or their varying length would vary the number
    # of passes
    t_window = time.perf_counter()
    i = 0
    timed = lambda: [p for p in passes if not p["warm"]]  # noqa: E731
    while len(timed()) < 2 or sum(p["wall_s"] for p in timed()) < args.seconds:
        warm = i < WARM_PASSES
        # the first timed pass of a traced run is the untraced base
        traced = bool(args.trace) and i > WARM_PASSES
        if traced and not ctx.traced:
            wrappers.install()
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            spark.streams.addListener(tr.streaming_listener(progress))
        ctx.traced = traced
        wl.begin_pass(ctx, i)
        rdds_before = tr.persisted_rdds(spark)
        ops = wl.pass_ops(random.Random(args.seed * 1_000_003 + i))
        n_progress = len(progress)
        cpu0 = tr.tree_cpu_s(os.getpid())
        jit0 = jit_ms(spark)
        t_pass = time.perf_counter()
        for label, op in ops:
            tracer.op = f"p{i}:{label}"
            gc0 = tr.jvm_gc_ms(spark) if traced else 0.0
            with tracer.span("op", label=label, pass_no=i, traced=traced) as root:
                try:
                    kind = op(ctx)
                    ok = True
                except Exception:  # counted in `failed`; the run goes on
                    kind, ok = "error", False
                    print(f"OP FAILED {label}:\n{traceback.format_exc()[-3000:]}",
                          file=sys.stderr)
            if traced:
                root["gc_s"] = (tr.jvm_gc_ms(spark) - gc0) / 1e3
                root["heap_after_gc_mb"] = tr.jvm_heap_after_gc_mb(spark)
                root["udf_s"] = udf_profile_seconds(spark)
                spark.sparkContext.setJobGroup("idle", "between ops")
            samples.append({"op": tracer.op, "label": label, "kind": kind, "ok": ok,
                            "pass": i, "warm": warm, "wall_s": root["end"] - root["start"]})
        wall = time.perf_counter() - t_pass
        cpu = tr.tree_cpu_s(os.getpid()) - cpu0
        tracer.op = None
        rec = wl.end_pass(ctx, i)
        # pinned RDDs are released asynchronously (py4j finalizer, JVM GC,
        # the context cleaner); what is still held after a short settle
        # is recorded, not asserted: the engine keeps some across passes
        rec["persisted_rdds_before"] = rdds_before
        rec["persisted_rdds_after"] = wait_persisted(spark, rdds_before)
        passes.append({"pass": i, "warm": warm, "wall_s": wall, "cpu_s": cpu,
                       "jit_s": (jit_ms(spark) - jit0) / 1e3,
                       "traced": traced, "ops": len(ops), "progress": progress[n_progress:],
                       **rec})
        i += 1
    window_s = time.perf_counter() - t_window
    wrappers.remove()
    ctx.traced = False
    spark.conf.unset("spark.sql.pyspark.udf.profiler")

    # -- correctness, once, untimed ------------------------------------------
    pass_checks = len(ctx.checks)
    t0 = time.perf_counter()
    wl.verify(ctx)
    verify_s = time.perf_counter() - t0

    peak_rss = tr.driver_maxrss_mb() + tr.vm_hwm_mb(jvm)
    app_id = spark.sparkContext.applicationId
    micro = wl.micro_measures() if args.trace else {}
    stop_spark(spark)
    groups = {}
    if args.trace:
        log = tr.event_log_file(os.path.join(run_dir, "eventlog"), app_id)
        groups = tr.parse_event_log(log) if log else {}

    # -- results -------------------------------------------------------------
    failed_ops = sum(not s["ok"] for s in samples)
    failed = failed_ops + sum(not ok for _, ok in ctx.checks)
    attempted = len(samples) + len(ctx.checks)
    # metrics come from the timed passes only; the warm ones are in the report
    t_passes = [p for p in passes if not p["warm"]]
    t_samples = [s for s in samples if not s["warm"]]
    measured = [p for p in t_passes if p["traced"] == bool(args.trace)]
    keep = {p["pass"] for p in measured}
    e2e = end_to_end([s for s in t_samples if s["pass"] in keep], measured, setup_s, peak_rss)
    layers = per_layer(tracer, t_samples, t_passes, groups, wl, cpus, start_s, micro,
                       attempted, failed) if args.trace else {}
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "env": env,
        "inputs": {**inputs_info, "generate_s": inputs_s},
        "why": wl.why, "loop": "closed loop, one client",
        "timing": {"setup_s": setup_s, "session_start_s": start_s,
                   "verify_s": verify_s, "window_s": window_s,
                   "run_s": time.perf_counter() - t_run},
        "end_to_end": e2e, "per_layer": layers,
        "ingest": ingest_numbers(t_samples, t_passes, wl),
        "error_rate": stats.failure_share(attempted, failed),
        "checks": {"passes": ctx.checks[:pass_checks], "verify": ctx.checks[pass_checks:]},
        "passes": passes, "samples": samples, "record": ctx.record,
        "spans": tracer.spans if args.trace else [],
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(WORK, "results",
                       f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    summary(report, out)

    names = PER_LAYER if args.trace else END_TO_END
    values = layers if args.trace else {k: v["value"] for k, v in e2e.items()
                                          if k in dict(END_TO_END)}
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": values[n], "unit": u} for n, u in names}}
    print(json.dumps(line), flush=True)
    return 0


def jit_ms(spark) -> float:
    """Milliseconds the driver JVM's JIT compilers have spent so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(mf.getCompilationMXBean().getTotalCompilationTime())


def udf_profile_seconds(spark) -> float:
    """Python UDF time the worker-side profiler recorded since the last
    call (then cleared)."""
    coll = spark.profile.profiler_collector
    total = sum(s.total_tt for s in coll._perf_profile_results.values())
    spark.profile.clear(type="perf")
    return total


def end_to_end(samples, passes, setup_s, peak_rss) -> dict:
    """The user-facing numbers: median set-up time, pass wall and CPU
    time, per-op latency and peak memory. The printed line carries those
    in ``END_TO_END``; the wall times of passes and ops stay in the report,
    because on a shared host they vary too much from run to run to gate."""
    import stats

    q = [s["wall_s"] for s in samples if s["kind"] == "query" and s["ok"]]
    tail = stats.supported_percentile(len(q))
    out = {
        "setup_s": {"value": statistics.median(setup_s), "unit": "s",
                    "samples": len(setup_s)},
        "pass_s": {"value": statistics.median(p["wall_s"] for p in passes), "unit": "s",
                   "samples": len(passes)},
        "pass_cpu_s": {"value": statistics.median(p["cpu_s"] for p in passes), "unit": "s",
                       "samples": len(passes)},
        "query_p50_s": {"value": stats.percentile(q, 50), "unit": "s", "samples": len(q)},
        "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
    }
    if tail is not None:
        out[f"query_p{tail:g}_s"] = {"value": stats.percentile(q, tail), "unit": "s",
                                     "samples": len(q),
                                     "note": "highest percentile with >=10 samples beyond"}
    return out


def ingest_numbers(samples, passes, wl) -> dict:
    """The contract pipeline's own throughput numbers (ingest only)."""
    import stats

    m = getattr(wl, "manifest", None)
    if not m:
        return {}
    by = lambda lab: [s["wall_s"] for s in samples  # noqa: E731
                      if s["label"] == lab and s["ok"]]
    exports = [s["wall_s"] * 1e3 for s in samples if s["kind"] == "export" and s["ok"]]
    db = [p["db_mb"] * 2**20 for p in passes]
    return {
        "contracts_per_s": m["contracts"] / statistics.median(by("pre-process")),
        "functions_per_s": m["functions"] / statistics.median(by("index-functions")),
        "export_p50_ms": stats.percentile(exports, 50),
        "export_p90_ms": stats.percentile(exports, 90),
        "export_samples": len(exports),
        "stored_bytes_per_input_byte": statistics.median(db) / m["tree_bytes"],
    }


def per_layer(tracer, samples, passes, groups, wl, cpus, start_s, micro,
              attempted, failed) -> dict:
    import stats
    import spans as tr

    traced = [p for p in passes if p["traced"]]
    n = max(len(traced), 1)
    keep = {p["pass"] for p in traced}
    ops = [s for s in samples if s["pass"] in keep]
    spans = [s for s in tracer.spans if s["op"] and not s["op"].startswith("verify")
             and s["end"] is not None]
    by_op: dict[str, list] = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    span_sum = lambda name, key=None: sum(  # noqa: E731
        (s.get(key, 0) if key else s["end"] - s["start"])
        for o in ops for s in by_op.get(o["op"], []) if s["name"] == name) / n

    op_ids = {o["op"] for o in ops}

    def grp(field, phase=None):
        """Event-log ``field`` summed over the job groups of the kept
        ops (one phase, or all), per pass."""
        return sum(g[field] for name, g in groups.items()
                   if name.split("|")[0] in op_ids
                   and (phase is None or name.endswith("|" + phase))) / n

    layer_self: dict[str, float] = {}
    remainder = residual = 0.0
    for o in ops:
        lay, rem, wall = tr.layer_self_times(by_op[o["op"]])
        for k, v in lay.items():
            layer_self[k] = layer_self.get(k, 0.0) + v / n
        remainder += rem / n
        residual = max(residual, abs(sum(lay.values()) + rem - wall))
    roots = [s for o in ops for s in by_op[o["op"]] if s["parent"] is None]
    op_s = sum(o["wall_s"] for o in ops) / n
    builder_s = span_sum("plans.builder")
    store_s, write_s = span_sum("sinks.store"), span_sum("sinks.spark_write")
    progress = [e for p in traced for e in p.get("progress", [])]
    ingest = ingest_numbers(samples, passes, wl)
    inserted = [p.get("inserted", {}) for p in traced]
    m = getattr(wl, "manifest", None)
    attempted_rows = (2 * m["contracts"] + m["functions"]) if m else 0
    untraced = [p["wall_s"] for p in passes if not p["traced"]]
    traced_walls = [p["wall_s"] for p in traced]
    exports = [(s["end"] - s["start"]) * 1e3 for o in ops for s in by_op[o["op"]]
               if s["name"] == "sinks.export"]
    out = {
        "session.start_s": statistics.median(start_s),
        "session.heap_after_gc_mb": max((r.get("heap_after_gc_mb", 0) for r in roots),
                                        default=0.0),
        "session.gc_s": sum(r.get("gc_s", 0) for r in roots) / n,
        "session.process_cpu_s": sum(p["cpu_s"] for p in traced) / n,
        "session.persisted_rdds_retained": max(
            (p["persisted_rdds_after"] - p["persisted_rdds_before"] for p in traced),
            default=0),
        "plans.builder_s": builder_s,
        "plans.builder_jobs": grp("jobs", "builder"),
        "plans.builder_share": builder_s / op_s if op_s else 0.0,
        "plans.op_s": op_s,
        "catalyst.plan_s": span_sum("catalyst.plan"),
        "catalyst.exchanges": span_sum("catalyst.plan", "exchanges"),
        "catalyst.reused_exchanges": span_sum("catalyst.plan", "reused_exchanges"),
        "exec.run_s": span_sum("exec.run"),
        "exec.jobs": grp("jobs", "exec"),
        "exec.stages": grp("stages", "exec"),
        "exec.tasks": grp("tasks", "exec"),
        "exec.failed_tasks": grp("failed_tasks"),
        "exec.executor_cpu_s": grp("executor_cpu_s"),
        "exec.jvm_gc_s": grp("jvm_gc_s"),
        "exec.shuffle_read_mb": grp("shuffle_read_mb"),
        "exec.shuffle_write_mb": grp("shuffle_write_mb"),
        "exec.spill_mb": grp("spill_mb"),
        "exec.input_mb": grp("input_mb"),
        "exec.slot_busy_ratio": grp("executor_run_s") / (op_s * cpus) if op_s else 0.0,
        "sources.store_builds": sum(p.get("store_builds", 0) for p in traced) / n,
        "sources.store_build_s": span_sum("sources.store_build"),
        "sources.store_read_s": span_sum("sources.store_read"),
        "sources.store_mb": sum(p.get("store_mb", 0) for p in traced) / n,
        "sources.scan_s": span_sum("sources.scan"),
        "functions.udf_s": sum(r.get("udf_s", 0) for r in roots) / n,
        "functions.selectors_per_s": micro.get("selectors_per_s", 0.0),
        "compilestage.extract_s": micro.get("extract_s", 0.0),
        "compilestage.files_per_s": micro.get("files_per_s", 0.0),
        "sinks.store_s": store_s,
        "sinks.spark_write_s": write_s,
        "sinks.duckdb_s": store_s - write_s,
        "sinks.insert_ratio": (sum(sum(d.values()) for d in inserted) / n / attempted_rows
                               if attempted_rows else 0.0),
        "sinks.insert_attempted": attempted_rows,
        "sinks.db_mb": sum(p.get("db_mb", 0) for p in traced) / n,
        "sinks.export_ms": stats.percentile(exports, 50) if exports else 0.0,
        "streaming.batches": len(progress) / n,
        "streaming.batch_p50_ms": (stats.percentile([e["batch_ms"] for e in progress], 50)
                                   if progress else 0.0),
        "streaming.input_rows": sum(e["input_rows"] for e in progress) / n,
        "streaming.state_rows": max((e["state_rows"] for e in progress), default=0),
        "ingest.contracts_per_s": ingest.get("contracts_per_s", 0.0),
        "ingest.functions_per_s": ingest.get("functions_per_s", 0.0),
        "ingest.export_p50_ms": ingest.get("export_p50_ms", 0.0),
        "ingest.export_p90_ms": ingest.get("export_p90_ms", 0.0),
        "ingest.stored_bytes_per_input_byte": ingest.get("stored_bytes_per_input_byte", 0.0),
        "check.error_rate": stats.failure_share(attempted, failed),
        "trace.unattributed_s": remainder,
        "trace.self_time_residual_s": residual,
        "trace.overhead_s": (statistics.median(traced_walls) - statistics.median(untraced)
                             if traced_walls and untraced else 0.0),
    }
    for layer in LAYERS:
        out[f"selftime.{layer}_s"] = layer_self.get(layer, 0.0)
    return out


def summary(report: dict, path: str) -> None:
    """Human-readable lines on stderr: every metric with its unit."""
    err = sys.stderr
    print(f"== {report['workload']} seed={report['seed']} trace={report['trace']} "
          f"(report: {os.path.relpath(path, ROOT)})", file=err)
    for k, v in report["end_to_end"].items():
        extra = f" (n={v['samples']})" if "samples" in v else ""
        print(f"  {k:28s} {v['value']:.4f} {v['unit']}{extra}", file=err)
    for k, v in report["ingest"].items():
        print(f"  ingest.{k:21s} {v:.4f}", file=err)
    print(f"  {'error_rate':28s} {report['error_rate']:.4f} share", file=err)
    for k, v in report["per_layer"].items():
        print(f"  {k:34s} {v:.4f}", file=err)


if __name__ == "__main__":
    sys.exit(main())
