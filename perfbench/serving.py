"""``search_serving``: one client, closed loop, reads only.

Indexes are built once at set-up. The request stream comes in rounds;
each round holds the seeded requests of one round of ``requests.json``
(lookups, a ranked top-10 and analytics over Zipf-drawn terms) and a
nested aggregation. The first round also holds the fixed registry
requests (``REGISTRY``; they repeat exactly across runs), which end with
one pass of each corpus-operator stage (``CORPUS_STAGES``). A run serves
at least ``MIN_ROUNDS`` rounds, so its medians rest on many seeded
requests. A request's latency is its ``search()`` (or ``search_aggs()``,
or operator) call plus ``collect()`` of the response.

Corpus stages are LLM-data operator passes over the generated corpus. Their
construction runs the jobs of their eager pins, and pins are never
released between requests: a long-lived session gets no such guard, and
``pins_retained`` shows them.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from cassandra_es_index_spark.catalog import TableSpec
from cassandra_es_index_spark.search import SearchEngine

from perfbench.checks import Oracle, same_rows
from perfbench.common import median, serve, timed

# Corpus stages: text statistics (functions.text), exact dedup
# (operators.dedup), SemDeDup with connected components and pins
# (operators.similarity). Other stages are left out to keep a run inside
# its time budget (see DESIGN.md).
CORPUS_STAGES = ["text_stats", "dedup_exact", "semantic_dedup"]
# (class, ``__spark_entry__.queries()`` name); every one has an oracle
REGISTRY = [
    ("ranked", "search_bm25_topk"), ("analytics", "search_significant_terms"),
    ("lookup", "search_fuzzy_boost"), ("analytics", "search_dsl_aggs"),
    ("ranked", "search_rrf"), ("ranked", "search_rescore"),
    ("analytics", "events_date_histogram"), ("ranked", "search_knn_hybrid"),
    *(("corpus", stage) for stage in CORPUS_STAGES),
]
READ_CLASSES = ("lookup", "ranked", "analytics")
MIN_ROUNDS = 2
NO_ROWS = "#options:load-rows=false#"
BIG = 100000

# request kind -> (query text builder, DuckDB predicate over doc_toks)
_QS = {
    "qs_term": (lambda t: f"text:{t[0]}", "list_contains(toks, '{0}')"),
    "qs_term_rows": (lambda t: f"text:{t[0]}", "list_contains(toks, '{0}')"),
    "qs_and": (lambda t: f"text:{t[0]} AND text:{t[1]}",
               "list_contains(toks, '{0}') AND list_contains(toks, '{1}')"),
    "qs_not": (lambda t: f"text:{t[0]} AND NOT text:{t[1]}",
               "list_contains(toks, '{0}') AND NOT list_contains(toks, '{1}')"),
    "qs_prefix": (lambda t: f"text:{t[0]}*",
                  "len(list_filter(toks, x -> starts_with(x, '{0}'))) > 0"),
    "qs_phrase": (lambda t: f'text:"{t[0]} {t[1]}"',
                  "(' ' || text || ' ') LIKE '% {0} {1} %'"),
    "qs_or_top10": (lambda t: f"text:{t[0]} text:{t[1]}",
                    "list_contains(toks, '{0}') OR list_contains(toks, '{1}')"),
}


def _nested_agg_body(lo: int, hi: int) -> str:
    return json.dumps({
        "query": {"range": {"user_id": {"gte": lo, "lte": hi}}},
        "aggs": {"n": {"nested": {"path": "items"}, "aggs": {
            "by": {"terms": {"field": "items.et"},
                   "aggs": {"s": {"sum": {"field": "items.v"}}}}}}}})


class SearchServing:
    def __init__(self, ctx):
        self.ctx = ctx
        with open(os.path.join(ctx.data_dir, "requests.json")) as f:
            self.rounds = json.load(f)
        self.registry = ctx.entry.queries()
        self.oracle_sql = ctx.entry.oracle_sql()
        self.kinds: dict[str, float] = {}
        self.parse_ms: list[float] = []
        self._responses: list[tuple[dict, list[str], list]] = []
        self.pins_retained = 0

    # -- set-up -----------------------------------------------------------------

    def setup(self) -> None:
        """Register the registry's documents/events engines and build every
        index the stream is served from, materialized."""
        c, e = self.ctx, self.ctx.entry
        spark, data = c.spark, c.data_dir
        kinds = dict.fromkeys(
            ["documents", "postings", "positional", "range", "presence"], 0.0)

        def add(kind, fn, *a, **kw):
            with c.tracer.span(f"setup.{kind}"):
                _, ms = timed(fn, *a, **kw)
            kinds[kind] += ms / 1e3

        for t in ("documents", "embeddings"):
            raw = e._t(spark, data, t).cache()
            add("documents", raw.count)
            e._CACHE[e._ck(spark, data, f"table:{t}")] = raw
        eng = e._docs_engine(spark, data)  # registers, declares the indexes
        add("documents", eng.cache_documents, "documents")
        add("postings", eng.build_postings_index, "documents", "text",
            materialize=True)
        add("postings", eng.build_postings_index, "documents", "lang",
            materialize=True)
        add("positional", eng.build_phrase_index, "documents", "text",
            materialize=True)
        add("presence", eng.build_presence_index, "documents", "source",
            materialize=True)
        add("range", eng.build_range_index, "documents", "n_chars",
            materialize=True)
        ev = e._events_capped_engine(spark, data)
        add("postings", ev.build_postings_index, "events_capped",
            "event_type", materialize=True)
        add("range", ev.build_range_index, "events_capped", "ts",
            materialize=True)
        add("postings", lambda: e._doc_postings(spark, data).count())
        add("postings", lambda: e._doc_lengths(spark, data).count())
        # nested fixture: each user's events as array<struct<et, v>>
        events = e._t(spark, data, "events")
        sessions = (events.groupBy("user_id").agg(F.sort_array(
            F.collect_list(F.struct(F.col("event_type").alias("et"),
                                    F.col("value").alias("v"))))
            .alias("items")).persist())
        add("documents", sessions.count)
        nested = SearchEngine(spark)
        nested.register(sessions, TableSpec("sessions", ["user_id"]))
        self.docs, self.nested, self.kinds = eng, nested, kinds

    # -- requests ---------------------------------------------------------------

    def _stream(self):
        for r, seeded in enumerate(self.rounds):
            reqs = [dict(q, rid=f"r{r}.{i}") for i, q in enumerate(seeded)]
            reqs.append({"kind": "nested_agg", "cls": "analytics",
                         "rid": f"r{r}.n", "range": [r * 7 % 200,
                                                     r * 7 % 200 + 60]})
            if r == 0:
                reqs += [{"kind": "registry", "cls": cls, "name": name,
                          "rid": f"r{r}.{name}"} for cls, name in REGISTRY]
            yield reqs

    def _query(self, req) -> str | None:
        k, t = req["kind"], req.get("terms")
        if k in _QS:
            q = _QS[k][0](t)
            return q if k == "qs_term_rows" else NO_ROWS + q
        if k == "dsl_bool_range":
            lo, hi = req["range"]
            return NO_ROWS + json.dumps({"size": BIG, "query": {"bool": {
                "must": [{"term": {"text": t[0]}}],
                "filter": [{"range": {"n_chars": {"gte": lo, "lte": hi}}}]}}})
        if k == "dsl_terms_lang":
            return NO_ROWS + json.dumps({"size": BIG,
                                         "query": {"terms": {"lang": t}}})
        if k == "agg_terms_lang":
            return json.dumps({"query": {"term": {"text": t[0]}}, "aggs": {
                "by_lang": {"terms": {"field": "lang", "size": 10}}}})
        return None

    def _build(self, req):
        k = req["kind"]
        c = self.ctx
        if k == "registry":
            return self.registry[req["name"]](c.spark, c.data_dir)
        if k == "nested_agg":
            return self.nested.search_aggs("sessions",
                                           _nested_agg_body(*req["range"]))
        q = self._query(req)
        if k == "agg_terms_lang":
            return self.docs.search_aggs("documents", q, default_field="text")
        limit = 10 if k == "qs_or_top10" else BIG
        return self.docs.search("documents", q, default_field="text",
                                limit=limit)

    def measure(self, seconds: float) -> None:
        """Whole rounds until ``seconds`` have passed, at least
        ``MIN_ROUNDS``."""
        c = self.ctx
        pins0 = c.tracer.persistent_rdds()
        deadline = time.perf_counter() + seconds
        for r, reqs in enumerate(self._stream()):
            for req in reqs:
                cols, rows = serve(c, req["rid"], req["cls"],
                                   lambda req=req: self._build(req))
                if cols is not None:
                    self._responses.append((req, cols, rows))
            if r + 1 >= MIN_ROUNDS and time.perf_counter() >= deadline:
                break
        self.pins_retained = c.tracer.persistent_rdds() - pins0
        c.tracer.request_id = None
        if c.tracer.enabled:
            self._time_parse()

    def _time_parse(self) -> None:
        """``parse_ms``: ``SearchEngine.validate`` on the same requests."""
        tr = self.ctx.tracer
        for req, _, _ in self._responses:
            q = self._query(req)
            if q is None or req["kind"] == "agg_terms_lang":  # not a search
                continue
            tr.request_id = req["rid"] + ".parse"
            with tr.span("parse"):
                err, ms = timed(self.docs.validate, "documents", q, "text")
            if err is None:
                self.parse_ms.append(ms)
        tr.request_id = None

    # -- checks -------------------------------------------------------------------

    def check(self) -> None:
        c = self.ctx
        oracle = Oracle(c.data_dir)
        expected: dict[str, object] = {}
        try:
            for op in c.ops:
                c.attempted += 1
                if op.error:
                    c.fail(f"{op.rid}: {op.error}")
            for req, cols, rows in self._responses:
                c.attempted += 1
                key = json.dumps({k: v for k, v in req.items()
                                  if k not in ("rid", "cls")}, sort_keys=True)
                if key not in expected:
                    expected[key] = self._expected(oracle, req)
                if not self._agrees(req, expected[key], cols, rows):
                    c.fail(f"{req['rid']} {key}: output disagrees with DuckDB")
        finally:
            oracle.close()

    def _expected(self, oracle: Oracle, req):
        k, t = req["kind"], req.get("terms")
        if k == "registry":
            return oracle.rows(self.oracle_sql[req["name"]])
        if k == "nested_agg":
            return oracle.rows(
                "SELECT event_type AS key, count(*)::BIGINT AS doc_count, "
                "round(sum(value), 4) AS s FROM events "
                "WHERE user_id BETWEEN ? AND ? GROUP BY 1", req["range"])
        if k == "qs_term_rows":
            return oracle.rows(
                "SELECT doc_id, text, lang, source, n_chars FROM doc_toks "
                f"WHERE {_QS[k][1].format(*t)}")
        if k in _QS:
            return oracle.ids(_QS[k][1].format(*t))
        if k == "dsl_bool_range":
            return oracle.ids("list_contains(toks, ?) AND n_chars BETWEEN ? "
                              "AND ?", [t[0], *req["range"]])
        if k == "dsl_terms_lang":
            return oracle.ids("list_contains(?, lang)", [t])
        if k == "agg_terms_lang":
            return oracle.rows(
                "SELECT lang AS key, count(*)::BIGINT AS doc_count "
                "FROM doc_toks WHERE list_contains(toks, ?) GROUP BY 1", [t[0]])
        raise ValueError(k)

    @staticmethod
    def _agrees(req, want, cols, rows) -> bool:
        k = req["kind"]
        if k in ("registry", "qs_term_rows"):
            got_cols = [x for x in cols if x != "_score"] \
                if k == "qs_term_rows" else cols
            idx = [cols.index(x) for x in got_cols]
            return same_rows(want[0], want[1], got_cols,
                             [tuple(r[i] for i in idx) for r in rows])
        if k == "nested_agg":
            got = [(r["key"], r["doc_count"], round(r["s"], 4)) for r in rows]
            return same_rows(want[0], want[1], ["key", "doc_count", "s"], got)
        if k == "agg_terms_lang":
            got = [(r["key"], r["doc_count"]) for r in rows]
            return same_rows(want[0], want[1], ["key", "doc_count"], got)
        ids = [r["doc_id"] for r in rows]
        if k == "qs_or_top10":
            return set(ids) <= want and len(ids) == len(set(ids)) \
                == min(10, len(want))
        return len(ids) == len(set(ids)) and set(ids) == want

    # -- metrics --------------------------------------------------------------------

    def work_items(self) -> int:
        return len(self.ctx.ops)

    def latencies(self) -> list[float]:
        return [o.ms for o in self.ctx.ops if not o.error]

    def read_latencies(self) -> list[float]:
        return [o.ms for o in self.ctx.ops
                if o.cls in READ_CLASSES and not o.error]

    def layer_metrics(self, groups) -> dict[str, float]:
        ops = self.ctx.ops
        out = {f"{cls}_p50_ms": median([o.ms for o in ops if o.cls == cls])
               for cls in READ_CLASSES}
        out.update(self._corpus_metrics(groups))
        out["parse_ms"] = median(self.parse_ms)
        out["hits_returned"] = (sum(o.rows for o in ops) / len(ops)
                                if ops else 0.0)
        for kind in ("postings", "positional", "range", "presence"):
            out[f"index_build_s_{kind}"] = self.kinds.get(kind, 0.0)
        out["index_cached_mb"] = self.ctx.tracer.cached_mb()
        return out

    def _corpus_metrics(self, groups) -> dict[str, float]:
        """Per corpus stage, and over all stages: construction and
        execution time, jobs run during construction, shuffle bytes."""
        ops = [o for o in self.ctx.ops if o.cls == "corpus" and not o.error]

        def jobs(o, phase="construct"):
            return groups.get((o.rid, phase), {}).get("jobs", 0)

        out: dict[str, float] = {}
        for stage in CORPUS_STAGES:
            mine = [o for o in ops if o.rid.endswith("." + stage)]
            out[f"op_{stage}_construct_ms"] = median(
                [o.construct_ms for o in mine])
            out[f"op_{stage}_execute_ms"] = median(
                [o.execute_ms for o in mine])
            out[f"op_{stage}_construct_jobs"] = median([jobs(o)
                                                        for o in mine])
        out["op_construct_ms"] = median([o.construct_ms for o in ops])
        out["op_execute_ms"] = median([o.execute_ms for o in ops])
        out["op_construct_jobs"] = median([jobs(o) for o in ops])
        out["op_shuffle_bytes"] = median(
            [sum(groups.get((o.rid, ph), {}).get("shuffle_bytes", 0)
                 for ph in ("construct", "execute")) for o in ops])
        out["pins_retained"] = self.pins_retained
        return out
