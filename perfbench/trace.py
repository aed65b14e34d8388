"""Spans, py4j call counts and Spark job metrics, owned by the benchmark.

Nothing here changes the engine: spans are recorded by wrappers that the
benchmark installs around the public entry points of each layer, so nested
calls made by the facade (``engine.apply_mutations`` ->
``apply_mutation_batch`` -> ``ParquetIndexStore.upsert`` -> ...) get their
own child spans. A disabled tracer installs nothing and its ``span`` is a
no-op, so untraced runs measure the program alone.

Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import gc
import importlib
import json
import time

# (module, owner attribute or None for a module function, function names):
# the entry points the two workloads reach. Span names are
# "<module>.<function>" with the package prefix dropped.
# A facade module that imported a function by name gets the same wrapper
# under that name too (see ``_ALIASES``).
ENTRY_POINTS = [
    ("search.query_string", None, ["parse"]),
    ("search.es_dsl", None, ["parse_request"]),
    ("search.compile", "Compiler", ["compile"]),
    ("search.engine", "SearchEngine", [
        "search", "search_aggs", "validate", "apply_delta", "set_documents",
        "set_row_source", "cache_documents", "flush_indexes",
        "build_postings_index", "build_phrase_index", "build_range_index",
        "build_presence_index", "build_span_index"]),
    ("docmodel", None, ["build_documents"]),
    ("streaming.indexer", None, ["apply_mutation_batch"]),
    ("indexstore", "ParquetIndexStore", [
        "build", "read", "upsert", "delete_ids", "delete_expired",
        "purge_empty_segments", "compact_segments", "compact_deltas"]),
    ("engine", "CassandraEsIndexEngine", [
        "register", "search", "apply_mutations", "refresh_search_view",
        "maintain"]),
    ("operators.dedup", None, ["exact_duplicates", "dedup_clusters"]),
    ("operators.similarity", None, ["semantic_dedup"]),
]
_ALIASES = {  # function -> modules that bound it by name at import time
    ("docmodel", "build_documents"): ["engine", "indexstore"],
    ("streaming.indexer", "apply_mutation_batch"): ["engine"],
}
PKG = "cassandra_es_index_spark"

# span-name prefix -> layer, for per-layer self time
LAYERS = [
    ("search.", "search"), ("docmodel.", "docmodel"),
    ("streaming.", "indexer"), ("indexstore.", "indexstore"),
    ("engine.", "engine"), ("operators.", "operators"),
    ("execute", "execute"),
]
LAYER_NAMES = [name for _, name in LAYERS] + ["bench"]

_STAGE_METRICS = ["task_cpu_ms", "task_gc_ms", "shuffle_bytes",
                  "spill_bytes"]


def layer_of(name: str) -> str:
    for prefix, layer in LAYERS:
        if name.startswith(prefix):
            return layer
    return "bench"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.request_id: str | None = None
        self.py4j_calls = 0
        self._counting = True
        self.self_s = 0.0   # time spent in tracer bookkeeping
        self._groups: list[tuple[str, str, str]] = []  # (rid, phase, group)
        self._patched: list[tuple[object, str, object]] = []
        if enabled:
            self._count_py4j()
            self._install_wrappers()

    # -- py4j ---------------------------------------------------------------

    def _count_py4j(self) -> None:
        client = self.sc._gateway._gateway_client
        orig = client.send_command

        def send_command(*args, **kw):
            if self._counting:
                self.py4j_calls += 1
            return orig(*args, **kw)

        client.send_command = send_command
        self._patched.append((client, "send_command", None))

    @contextlib.contextmanager
    def _quiet(self):
        """Bookkeeping calls into the JVM are neither counted nor timed as
        program work."""
        t0 = time.perf_counter()
        self._counting = False
        try:
            yield
        finally:
            self._counting = True
            self.self_s += time.perf_counter() - t0

    # -- spans --------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        rec = {"name": name, "id": len(self.spans),
               "parent": self._stack[-1]["id"] if self._stack else None,
               "rid": self.request_id, "py4j0": self.py4j_calls}
        self.spans.append(rec)
        self._stack.append(rec)
        t1 = time.perf_counter()
        rec["start"] = t1
        try:
            yield rec
        finally:
            t2 = time.perf_counter()
            rec["end"] = t2
            rec["py4j"] = self.py4j_calls - rec.pop("py4j0")
            self._stack.pop()
            self.self_s += (t1 - t0) + (time.perf_counter() - t2)

    def _wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kw):
            # re-entrant calls (a recursive compile) stay in the outer span
            if tracer._stack and tracer._stack[-1]["name"] == name:
                return fn(*args, **kw)
            with tracer.span(name):
                return fn(*args, **kw)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, fn))

    def _install_wrappers(self) -> None:
        for mod_name, owner_name, fns in ENTRY_POINTS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            owner = getattr(mod, owner_name) if owner_name else mod
            for fn_name in fns:
                name = f"{mod_name}.{fn_name}"
                orig = getattr(owner, fn_name)
                self._wrap(owner, fn_name, name)
                for alias in _ALIASES.get((mod_name, fn_name), []):
                    amod = importlib.import_module(f"{PKG}.{alias}")
                    if getattr(amod, fn_name, None) is orig:
                        setattr(amod, fn_name, getattr(owner, fn_name))
                        self._patched.append((amod, fn_name, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            if orig is None:
                with contextlib.suppress(AttributeError):
                    delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patched.clear()

    # -- Spark job groups and stage metrics -----------------------------------

    @contextlib.contextmanager
    def phase(self, phase: str):
        """A span plus one Spark job group for one phase of one operation
        (a read's ``construct`` and ``execute``, or a write as a whole);
        stage metrics are read at the end of the run, once the status
        listener has caught up."""
        if not self.enabled:
            yield None
            return
        group = f"pb-{len(self._groups)}"
        with self._quiet():
            self.sc.setJobGroup(group, f"{self.request_id}:{phase}")
        self._groups.append((self.request_id, phase, group))
        try:
            with self.span(phase) as rec:
                yield rec
        finally:
            with self._quiet():
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def group_metrics(self) -> dict[tuple[str, str], dict[str, float]]:
        """(request id, phase) -> jobs, stages and summed stage metrics."""
        out: dict[tuple[str, str], dict[str, float]] = {}
        if not self.enabled:
            return out
        with self._quiet():
            tracker = self.sc.statusTracker()
            store = self.sc._jsc.sc().statusStore()
            for rid, phase, group in self._groups:
                m = out.setdefault((rid, phase), dict.fromkeys(
                    ["jobs", "stages", *_STAGE_METRICS], 0.0))
                for jid in tracker.getJobIdsForGroup(group):
                    m["jobs"] += 1
                    info = tracker.getJobInfo(jid)
                    for sid in (info.stageIds if info else []):
                        try:
                            sd = store.lastStageAttempt(sid)
                        except Exception:  # noqa: BLE001 - skipped stage
                            continue
                        m["stages"] += 1
                        m["task_cpu_ms"] += sd.executorCpuTime() * 1e-6
                        m["task_gc_ms"] += sd.jvmGcTime()
                        m["shuffle_bytes"] += (sd.shuffleReadBytes()
                                               + sd.shuffleWriteBytes())
                        m["spill_bytes"] += (sd.memoryBytesSpilled()
                                             + sd.diskBytesSpilled())
        return out

    # -- JVM state ------------------------------------------------------------

    def jvm_gc_ms(self) -> float:
        with self._quiet():
            beans = (self.sc._jvm.java.lang.management.ManagementFactory
                     .getGarbageCollectorMXBeans())
            return float(sum(b.getCollectionTime() for b in beans))

    def retained_heap_mb(self) -> float:
        """JVM heap in use after a full collection: what the session keeps
        alive (cached frames, pins, plans). Called once, after the
        measured loop. Python is collected first, so JVM objects held only
        by unreachable py4j proxies are released, not counted."""
        gc.collect()
        with self._quiet():
            jvm = self.sc._jvm
            for _ in range(2):
                jvm.java.lang.System.gc()
            bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
            return bean.getHeapMemoryUsage().getUsed() / 2**20

    def persistent_rdds(self) -> int:
        with self._quiet():
            return int(self.sc._jsc.getPersistentRDDs().size())

    def cached_mb(self) -> float:
        with self._quiet():
            infos = self.sc._jsc.sc().getRDDStorageInfo()
            return sum(i.memSize() for i in infos) / 2**20

    # -- results ---------------------------------------------------------------

    def self_times(self, keep=lambda span: True) -> dict[str, float]:
        """Per-layer self time in ms: a span's duration minus the time its
        child spans cover, summed by layer over the spans ``keep`` accepts."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        out = dict.fromkeys(LAYER_NAMES, 0.0)
        for s, c in zip(self.spans, child):
            if "end" in s and keep(s):
                out[layer_of(s["name"])] += (s["end"] - s["start"] - c) * 1e3
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
