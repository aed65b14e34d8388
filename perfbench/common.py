"""Shared pieces of the workloads: the run context, operation records,
percentiles and process measurements."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np


@dataclass
class Op:
    """One timed operation of a workload's closed loop."""

    rid: str
    cls: str
    ms: float
    construct_ms: float = 0.0
    execute_ms: float = 0.0
    rows: int = 0
    error: str | None = None


@dataclass
class Context:
    spark: object
    tracer: object
    data_dir: str
    work_dir: str
    entry: object            # the registry module (__spark_entry__)
    ops: list[Op] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    attempted: int = 0       # checked outputs plus operations

    def fail(self, what: str) -> None:
        self.failures.append(what)


def pct(values, q: float) -> float:
    """Linear-interpolated percentile; 0.0 for an empty sample."""
    return float(np.percentile(values, q)) if len(values) else 0.0


def median(values) -> float:
    return float(statistics.median(values)) if len(values) else 0.0


def _record(ctx: Context, rid: str, cls: str, body):
    """Time ``body(op, t0)`` as one ``Op`` appended to ``ctx.ops``. A failure
    is recorded on the ``Op`` and returns ``None``."""
    ctx.tracer.request_id = rid
    op = Op(rid, cls, 0.0)
    ctx.ops.append(op)
    t0 = time.perf_counter()
    try:
        out = body(op, t0)
    except Exception as exc:  # noqa: BLE001 - a failed operation is counted
        op.error = f"{type(exc).__name__}: {exc}"[:300]
        out = None
    op.ms = (time.perf_counter() - t0) * 1e3
    return out


def serve(ctx: Context, rid: str, cls: str, build):
    """Run one read: ``build()`` returns a DataFrame (construction, with
    any jobs it runs), ``collect()`` executes it. Each phase is its own
    traced phase. Returns the result columns and rows, or ``(None, None)``
    when the read failed."""
    tr = ctx.tracer

    def body(op, t0):
        with tr.phase("construct"):
            df = build()
        t1 = time.perf_counter()
        with tr.phase("execute"):
            rows = df.collect()
        op.construct_ms = (t1 - t0) * 1e3
        op.execute_ms = (time.perf_counter() - t1) * 1e3
        op.rows = len(rows)
        return df.columns, rows

    return _record(ctx, rid, cls, body) or (None, None)


def call(ctx: Context, rid: str, cls: str, fn, *args, **kw) -> bool:
    """Run one write, ``fn(*args, **kw)``, as a single traced phase named
    ``cls``. Returns whether it succeeded."""

    def body(op, t0):
        with ctx.tracer.phase(cls):
            fn(*args, **kw)
        return True

    return bool(_record(ctx, rid, cls, body))


def timed(fn, *args, **kw):
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return out, (time.perf_counter() - t0) * 1e3


def loadavg() -> list[float]:
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return []


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set (VmHWM) of this Python driver plus the driver JVM."""
    kb = _status_kb(os.getpid(), "VmHWM")
    if jvm_pid:
        kb += _status_kb(jvm_pid, "VmHWM")
    return kb / 1024.0


def dir_files(root: str) -> dict[tuple[str, int, float], int]:
    """(path, inode, mtime) -> size for every file under ``root``; two
    snapshots give the bytes written in between (new or rewritten files)."""
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            p = os.path.join(d, name)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[(p, st.st_ino, st.st_mtime_ns)] = st.st_size
    return out


def written_bytes(before: dict, after: dict) -> int:
    return sum(size for key, size in after.items() if key not in before)
