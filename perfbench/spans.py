"""In-memory spans, layer wrappers and the JVM / event-log probes.

A span is a dict ``{id, name, op, parent, start, end}``; spans of one op
share ``op``. The benchmark opens spans around its own calls (builder,
plan, execute, verify) in every run. A traced run additionally installs
``Wrappers`` on public functions of the engine's layer modules, so their
calls show up as child spans. Everything is kept in memory and written
once, when the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

from stats import self_times

PKG = "smart_contract_database_builder_spark"

#: span name -> public functions it wraps, as (module, attribute).
LAYER_FUNCTIONS = {
    "sources.scan": [("sources.contracts", "read_contract_files"),
                     ("sources.contracts", "parse_folder_contracts")],
    "sources.store_build": [("sources.pq_store", "write_pq_encoded"),
                            ("sources.minhash_store", "write_minhash_bands"),
                            ("sources.minhash_store", "write_minhash_sigs"),
                            ("sources.jaccard_store", "write_jaccard_pairs"),
                            ("sources.simhash_store", "write_simhash_fps"),
                            ("sources.annbucket_store", "write_emb_buckets"),
                            ("sources.cluster_store", "write_cluster_map")],
    "sources.store_read": [("sources.pq_store", "read_pq_codes"),
                           ("sources.pq_store", "read_pq_cells"),
                           ("sources.minhash_store", "read_minhash_sigs"),
                           ("sources.minhash_store", "attach_minhash_bands"),
                           ("sources.jaccard_store", "read_jaccard_pairs"),
                           ("sources.simhash_store", "read_simhash_fps"),
                           ("sources.annbucket_store", "attach_emb_buckets"),
                           ("sources.cluster_store", "read_cluster_map")],
    "plans.pin": [("plans.materialize", "pin")],
    "compilestage.extract": [("compilestage.stage", "extract_functions")],
    "sinks.store": [("sinks.duckdb_sink", "store_contracts"),
                    ("sinks.duckdb_sink", "store_functions")],
    "sinks.read": [("sinks.duckdb_sink", "read_contracts")],
    "sinks.export": [("sinks.duckdb_sink", "export_source_code")],
}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        self.op: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1]["id"] if self._stack else None
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "op": self.op,
                   "parent": parent, "start": time.perf_counter(), "end": None,
                   **attrs}
            self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def current(self) -> str | None:
        return self._stack[-1]["name"] if self._stack else None


def layer_self_times(spans: list[dict]) -> tuple[dict[str, float], float, float]:
    """Per-layer self time of one op's spans, the root's own remainder
    (time no layer claimed) and the root's wall time. The layer of a
    span is the text before the first dot of its name; the root span
    is the op itself."""
    st = self_times(spans)
    roots = [s for s in spans if s["parent"] is None]
    assert len(roots) == 1, f"one root span per op, got {len(roots)}"
    root = roots[0]
    layers: dict[str, float] = {}
    for s in spans:
        if s is root:
            continue
        layer = s["name"].split(".", 1)[0]
        layers[layer] = layers.get(layer, 0.0) + st[s["id"]]
    return layers, st[root["id"]], root["end"] - root["start"]


class Wrappers:
    """Replace layer functions by span-recording wrappers in every
    loaded engine module that holds them (``from x import f`` copies
    included), and put the originals back on ``remove``."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._patched: list[tuple[object, str, object]] = []

    def install(self) -> None:
        import importlib

        from pyspark.sql.readwriter import DataFrameWriter

        originals = {}
        for span_name, targets in LAYER_FUNCTIONS.items():
            for mod, attr in targets:
                m = importlib.import_module(f"{PKG}.{mod}")
                fn = getattr(m, attr, None)
                if fn is not None:
                    originals[id(fn)] = (fn, self._wrap(fn, span_name))
        for m in list(sys.modules.values()):
            if not getattr(m, "__name__", "").startswith(PKG):
                continue
            for attr, val in list(vars(m).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    self._patched.append((m, attr, val))
                    setattr(m, attr, hit[1])
        # the staging write of the DuckDB sink and the parquet writes of
        # the store builders: named after the layer that asked for them
        orig = DataFrameWriter.parquet
        tracer = self.tracer

        @functools.wraps(orig)
        def parquet(writer, *a, **k):
            name = ("sinks.spark_write" if tracer.current() == "sinks.store"
                    else "io.parquet_write")
            with tracer.span(name):
                return orig(writer, *a, **k)

        self._patched.append((DataFrameWriter, "parquet", orig))
        DataFrameWriter.parquet = parquet

    def _wrap(self, fn, span_name: str):
        tracer = self.tracer

        @functools.wraps(fn)
        def wrapper(*a, **k):
            with tracer.span(span_name, fn=fn.__name__):
                return fn(*a, **k)

        return wrapper

    def remove(self) -> None:
        for obj, attr, val in reversed(self._patched):
            setattr(obj, attr, val)
        self._patched.clear()


# ---------------------------------------------------------------------------
# JVM probes (py4j) and process memory
# ---------------------------------------------------------------------------


def jvm_gc_ms(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))


def jvm_heap_after_gc_mb(spark) -> float:
    """Heap in use right after the last collection, summed over the
    heap pools (``MemoryPoolMXBean.getCollectionUsage``)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    total = 0
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType().toString()) != "Heap memory":
            continue
        usage = pool.getCollectionUsage()
        if usage is not None:
            total += usage.getUsed()
    return total / 2**20


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def vm_hwm_mb(pid: int | None) -> float:
    """Peak resident set (``VmHWM``) of process ``pid`` in MB."""
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def driver_maxrss_mb() -> float:
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of process
    ``root`` and all its descendants: the driver, the JVM and the Python
    workers. Unlike wall time it does not count time the host gave to
    other tenants (steal)."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2:].split()
        procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_MB = 2**20


def parse_event_log(path: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, failed tasks and the task
    metrics summed over the group's tasks."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def group(g: str) -> dict:
        return out.setdefault(g, {
            "jobs": 0, "stages": set(), "tasks": 0, "failed_tasks": 0,
            "executor_cpu_s": 0.0, "executor_run_s": 0.0, "jvm_gc_s": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "input_mb": 0.0})

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g is None:
                    continue
                rec = group(g)
                rec["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
                    rec["stages"].add(sid)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                if g is None:
                    continue
                rec = group(g)
                rec["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    rec["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                rec["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                rec["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                rec["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                           + sr.get("Local Bytes Read", 0)) / _MB
                sw = m.get("Shuffle Write Metrics") or {}
                rec["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
                rec["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                    + m.get("Disk Bytes Spilled", 0)) / _MB
                rec["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / _MB
    for rec in out.values():
        rec["stages"] = len(rec["stages"])
    return out


def event_log_file(log_dir: str, app_id: str) -> str | None:
    hits = [p for p in glob.glob(os.path.join(log_dir, "*"))
            if os.path.basename(p).startswith(app_id) and not p.endswith(".inprogress")]
    return hits[0] if hits else None


# ---------------------------------------------------------------------------
# Structured streaming progress
# ---------------------------------------------------------------------------


def streaming_listener(sink: list):
    """A ``StreamingQueryListener`` appending one record per micro-batch
    progress event to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append({
                "batch_ms": float((p.durationMs or {}).get("triggerExecution", 0)),
                "input_rows": int(p.numInputRows or 0),
                "state_rows": int(sum(s.numRowsTotal for s in p.stateOperators)),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()
