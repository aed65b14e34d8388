"""``index_churn``: one client, closed loop, writes beside reads.

Set-up registers the churn table (documents plus ``expire_at``) with the
engine facade, bulk-builds the parquet index store and the ``text``
postings index. The loop then applies the seeded mutation batches through
``CassandraEsIndexEngine.apply_mutations``; after each batch one search
checks that the batch's writes are visible, then a maintenance pass runs
(TTL sweep on the batch clock, compaction, durable postings flush),
followed by one more read. That is one maintenance cycle; the run ends on
a completed cycle, after at least ``MIN_CYCLES`` of them.

A Python replay of the mutations (last writer wins per key within a batch,
empty updates dropped, only partition deletes delete) is the oracle for
every read and for the store contents at the end.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from cassandra_es_index_spark import docmodel
from cassandra_es_index_spark.catalog import TableSpec
from cassandra_es_index_spark.engine import CassandraEsIndexEngine

from perfbench.common import call, dir_files, median, serve, written_bytes

MIN_CYCLES = 5       # one batch and one maintenance pass each
DOC_BUILD_REPS = 3
COMPACT_MAX_FILES = 4
TABLE = "churn"
BIG = 100000
COLS = ["doc_id", "text", "lang", "source", "n_chars", "expire_at"]
SCHEMA = ("ts long, op string, doc_id long, text string, lang string, "
          "source string, n_chars long, expire_at long")


class Replay:
    """Expected store contents: doc_id -> row tuple (``COLS`` order)."""

    def __init__(self, base_rows):
        self.state = {r[0]: tuple(r) for r in base_rows}

    def apply(self, batch: list[dict]) -> None:
        latest: dict[int, dict] = {}
        for m in batch:  # W3: one writer per key, the latest ts
            cur = latest.get(m["doc_id"])
            if cur is None or m["ts"] > cur["ts"]:
                latest[m["doc_id"]] = m
        for key, m in latest.items():
            if m["op"] in ("insert", "update"):
                self.state[key] = tuple(m[c] for c in COLS)
            elif m["op"] == "partition_delete":
                self.state.pop(key, None)
            # W7: an empty update changes nothing

    def expire(self, now: int) -> None:
        self.state = {k: r for k, r in self.state.items()
                      if r[5] is None or r[5] > now}

    def with_token(self, tokens: set[str]) -> set[int]:
        return {k for k, r in self.state.items()
                if tokens & set(r[1].split())}


class IndexChurn:
    def __init__(self, ctx):
        self.ctx = ctx
        with open(os.path.join(ctx.data_dir, "mutations.json")) as f:
            self.batches = json.load(f)
        self.rep = 0
        self.reads: list[tuple[str, set, set]] = []  # (rid, got, want)
        self.cycle_amp: list[float] = []
        self.applied = 0
        self.cycles = 0

    def warmup(self) -> None:
        """Untimed, once per process, on the first set-up's store: one
        write-read-maintain-read cycle, so the measured loop runs compiled
        code paths (a long-running indexer pays that cost once, not per
        batch). Its mutations come from the last batch, which the loop
        never reaches."""
        q = "#options:load-rows=false#text:spark"
        self.eng.apply_mutations(TABLE, self._batch_df(self.batches[-1]),
                                 ts_col="ts")
        self.eng.search(TABLE, q, default_field="text", limit=BIG).collect()
        self.eng.maintain(TABLE, now_epoch_s=1,
                          compact_max_files=COMPACT_MAX_FILES,
                          flush_postings_path=os.path.join(self.root, "_flush"))
        self.eng.search(TABLE, q, default_field="text", limit=BIG).collect()

    def setup(self) -> None:
        self.eng = self._engine(f"churn-{self.rep}", self._base())
        self.rep += 1

    def _base(self):
        return self.ctx.spark.read.parquet(
            os.path.join(self.ctx.data_dir, "churn_docs.parquet"))

    def _engine(self, name: str, base) -> CassandraEsIndexEngine:
        """Facade over a fresh index root: register + bulk build of the
        store, then the ``text`` postings index."""
        self.root = os.path.join(self.ctx.work_dir, name)
        shutil.rmtree(self.root, ignore_errors=True)
        eng = CassandraEsIndexEngine(self.ctx.spark,
                                     os.path.join(self.root, "idx"))
        eng.register(base, TableSpec(TABLE, ["doc_id"],
                                     ttl_column="expire_at"), build=True)
        eng.search_engine.build_postings_index(TABLE, "text", materialize=True)
        return eng

    def _batch_df(self, batch: list[dict]):
        return self.ctx.spark.createDataFrame(
            [tuple(m[k] for k in ("ts", "op", *COLS)) for m in batch], SCHEMA)

    # -- loop -------------------------------------------------------------------

    def _read(self, rid: str, cls: str, tokens: list[str]) -> None:
        q = "#options:load-rows=false#" + " OR ".join(
            f"text:{t}" for t in tokens)
        _, rows = serve(self.ctx, rid, cls, lambda: self.eng.search(
            TABLE, q, default_field="text", limit=BIG))
        if rows is not None:
            self.reads.append((rid, [r["doc_id"] for r in rows],
                               self.replay.with_token(set(tokens))))

    def measure(self, seconds: float) -> None:
        c = self.ctx
        store = self.eng.store(TABLE)
        base = store.read().select(*COLS).collect()
        self.replay = Replay(base)
        idx_root = os.path.join(self.root, "idx")
        flush = os.path.join(idx_root, "_flush")
        files = dir_files(idx_root)
        written = payload = cyc_written = cyc_payload = 0
        deadline = time.perf_counter() + seconds
        for b, batch in enumerate(self.batches[:-1]):
            df = self._batch_df(batch)
            if not call(c, f"b{b}", "apply", self.eng.apply_mutations,
                        TABLE, df, ts_col="ts"):
                break
            self.replay.apply(batch)
            self.applied += len(batch)
            size = sum(len(json.dumps(m)) for m in batch)
            after = dir_files(idx_root)
            w = written_bytes(files, after)
            files = after
            written, payload = written + w, payload + size
            cyc_written, cyc_payload = cyc_written + w, cyc_payload + size
            # the batch's own writes, then the previous batch's marker:
            # documents this batch rewrote must have dropped it
            self._read(f"b{b}.read", "read", [f"mk{b}"])
            self._read(f"b{b}.read2", "read", [f"mk{max(b - 1, 0)}"])
            now = b + 1
            if not call(c, f"m{b}", "maintain", self.eng.maintain, TABLE,
                        now_epoch_s=now, compact_max_files=COMPACT_MAX_FILES,
                        flush_postings_path=flush):
                break
            self.replay.expire(now)
            after = dir_files(idx_root)
            w = written_bytes(files, after)
            files = after
            written += w
            cyc_written += w
            self.cycle_amp.append(cyc_written / max(1, cyc_payload))
            cyc_written = cyc_payload = 0
            self.cycles += 1
            self._read(f"m{b}.read", "read_after_maintain", [f"mk{b}"])
            if self.cycles >= MIN_CYCLES and time.perf_counter() >= deadline:
                break
        self.write_amp = written / max(1, payload)
        c.tracer.request_id = None

    # -- checks -------------------------------------------------------------------

    def check(self) -> None:
        c = self.ctx
        for op in c.ops:
            c.attempted += 1
            if op.error:
                c.fail(f"{op.rid}: {op.error}")
        for rid, got, want in self.reads:
            c.attempted += 1
            if len(got) != len(set(got)) or set(got) != want:
                c.fail(f"{rid}: hits {sorted(set(got) ^ want)[:10]} differ "
                       f"from the replay")
        c.attempted += 1
        stored = self.eng.store(TABLE).read().select(*COLS).collect()
        got = {r[0]: tuple(r) for r in stored}
        if len(stored) != len(got) or got != self.replay.state:
            diff = sorted(set(got.items()) ^ set(self.replay.state.items()))
            c.fail(f"store contents differ from the replay: {diff[:3]}")

    # -- metrics --------------------------------------------------------------------

    def work_items(self) -> int:
        return self.applied

    def _steady(self, cls: str) -> list[float]:
        """Latencies of ``cls`` after the first maintenance pass. The first
        batch and its read still use the set-up's postings index, which
        maintenance drops (see DESIGN.md), so they are a different
        operation; they are reported as ``first_apply_ms`` and
        ``first_read_ms``."""
        return [o.ms for o in self.ctx.ops if o.cls == cls and not o.error
                and not o.rid.startswith("b0")]

    def latencies(self) -> list[float]:
        return self._steady("apply")

    def read_latencies(self) -> list[float]:
        return self._steady("read")

    def _doc_build_rows_per_s(self) -> float:
        """``docmodel`` alone: the cached churn base through
        ``build_documents`` with every column evaluated (a no-op sink);
        rows per second, median of ``DOC_BUILD_REPS``. Runs after the
        measured loop, under its own request id."""
        c = self.ctx
        c.tracer.request_id = "doc_build"
        base = self._base().cache()
        n_rows = base.count()
        spec = self.eng.store(TABLE).spec
        secs = []
        for _ in range(DOC_BUILD_REPS):
            t0 = time.perf_counter()
            (docmodel.build_documents(base, spec).write.format("noop")
             .mode("overwrite").save())
            secs.append(time.perf_counter() - t0)
        base.unpersist()
        c.tracer.request_id = None
        return n_rows / median(secs)

    def layer_metrics(self, groups) -> dict[str, float]:
        c = self.ctx
        per_rid: dict[tuple[str, str], float] = {}
        for s in c.tracer.spans:
            if "end" in s and s["rid"] is not None:
                key = (s["rid"], s["name"])
                per_rid[key] = per_rid.get(key, 0.0) + (
                    s["end"] - s["start"]) * 1e3

        def span_p50(name: str) -> float:
            return median([v for (rid, n), v in per_rid.items()
                           if n == name
                           and not rid.startswith(("setup", "warmup"))])

        def ops_p50(cls: str) -> float:
            return median([o.ms for o in c.ops if o.cls == cls
                           and not o.error])

        def jobs_per_op(cls: str) -> float:
            ops = [o for o in c.ops if o.cls == cls and not o.error]
            return (sum(groups.get((o.rid, cls), {}).get("jobs", 0)
                        for o in ops) / len(ops)) if ops else 0.0

        store = self.eng.store(TABLE)
        counts = store.segment_file_counts()
        return {
            "doc_build_rows_per_s": self._doc_build_rows_per_s(),
            "apply_jobs": jobs_per_op("apply"),
            "maintain_jobs": jobs_per_op("maintain"),
            "apply_batch_ms": span_p50("streaming.indexer.apply_mutation_batch"),
            "store_upsert_ms": span_p50("indexstore.upsert"),
            "store_delete_ms": span_p50("indexstore.delete_ids"),
            "ttl_sweep_ms": span_p50("indexstore.delete_expired"),
            "compact_ms": span_p50("indexstore.compact_segments"),
            "refresh_view_ms": span_p50("engine.refresh_search_view"),
            "flush_ms": span_p50("search.engine.flush_indexes"),
            "maintain_ms": ops_p50("maintain"),
            "read_after_maintain_ms": ops_p50("read_after_maintain"),
            "delta_gen": store.delta_stats()["gen"],
            "files_per_segment": (sum(counts.values()) / len(counts)
                                  if counts else 0.0),
            "store_bytes": sum(dir_files(store.path).values()),
            "churn_write_amp": self.write_amp,
            "write_amp_first_cycle": (self.cycle_amp[0]
                                      if self.cycle_amp else 0.0),
            "write_amp_last_cycle": (self.cycle_amp[-1]
                                     if self.cycle_amp else 0.0),
            "first_apply_ms": sum(o.ms for o in c.ops if o.rid == "b0"),
            "first_read_ms": sum(o.ms for o in c.ops if o.rid == "b0.read"),
        }
