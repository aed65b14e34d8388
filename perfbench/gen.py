"""Seeded inputs for the benchmark.

Everything the workloads consume is derived from ``seed`` here and
nowhere else:

- ``documents``, ``events`` and ``embeddings`` parquet tables with the same
  column names and types as the engine's registry fixtures, so
  ``__spark_entry__.queries()`` and ``oracle_sql()`` run on them unchanged;
- ``requests.json``: the seeded search requests (``search_serving``);
- ``mutations.json``: the mutation batches (``index_churn``).

The vocabulary head is the fixtures' 31 words; a Zipf-distributed tail of
made-up words gives posting lists whose lengths span orders of magnitude.
Inputs are cached on disk by seed; ``ensure_inputs`` returns the cached
directory when it is complete.

Self-test (same seed -> byte-identical files, another seed -> different):

    python3 perfbench/gen.py --self-test
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import shutil
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HEAD = ("spark window merge table column vector stream value data small join "
        "filter big group hash customer sort order slow line part fast row "
        "the agg key query a scan batch dup").split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
EPOCH_2024 = dt.datetime(2024, 1, 1)
DIM = 64

N_DOCS = 1500
N_EVENTS = 15000
N_USERS = 300
N_EMBEDDINGS = 400
TAIL_WORDS = 3000
TAIL_SHARE = 0.15
ROUNDS = 6           # rounds of seeded requests
BATCHES = 20         # mutation batches
BATCH_MUTATIONS = 120
_LAYOUT_VERSION = 3
REPEATS = 3  # exact repeats per round of seeded requests
_SYLLABLES = [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"]


def tail_word(rank: int) -> str:
    """Deterministic made-up word for tail rank ``rank`` (0-based): letters
    only, at least three syllables, so it never equals a head word."""
    out, n = [], rank
    for _ in range(3):
        out.append(_SYLLABLES[n % len(_SYLLABLES)])
        n //= len(_SYLLABLES)
    while n:
        out.append(_SYLLABLES[n % len(_SYLLABLES)])
        n //= len(_SYLLABLES)
    return "".join(out)


class Vocab:
    """Head words (uniform) plus a Zipf(1.2) tail."""

    def __init__(self, n_tail: int, tail_share: float):
        self.tail = [tail_word(r) for r in range(n_tail)]
        w = 1.0 / np.arange(1, n_tail + 1) ** 1.2
        self.tail_p = w / w.sum()
        self.tail_share = tail_share

    def words(self, rng: np.random.Generator, n: int) -> list[str]:
        is_tail = rng.random(n) < self.tail_share
        head = rng.integers(0, len(HEAD), n)
        tail = rng.choice(len(self.tail), n, p=self.tail_p)
        return [self.tail[t] if it else HEAD[h]
                for it, h, t in zip(is_tail, head, tail)]

    def text(self, rng: np.random.Generator) -> str:
        return " ".join(self.words(rng, int(rng.integers(10, 101))))


def _documents(rng, vocab, n):
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.05:
            # near duplicate of an earlier document (the fixtures' "dup" docs)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        else:
            texts.append(vocab.text(rng))
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[x] for x in langs], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _events(rng, n, users):
    span_us = 30 * 86400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, n))
    base = np.datetime64(EPOCH_2024, "us")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(base + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(
            [EVENT_TYPES[x] for x in rng.integers(0, len(EVENT_TYPES), n)],
            pa.string()),
        "value": pa.array(np.round(rng.exponential(40.0, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    })


def _embeddings(rng, n):
    vecs = rng.normal(0.0, 0.13, (n, DIM)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _pick(rng, seq):
    return seq[int(rng.integers(0, len(seq)))]


def _requests(rng, vocab, docs_text, rounds):
    """Seeded requests, one list per round: 11 fresh requests, then
    ``REPEATS`` exact repeats of earlier requests of the stream. Terms come
    from the head, middle (tail ranks 0-49) and far tail (ranks 400+) of
    the vocabulary."""
    mid = vocab.tail[:50]
    far = vocab.tail[400:]
    seen: list[dict] = []
    out = []
    for _ in range(rounds):
        head, m, f = _pick(rng, HEAD), _pick(rng, mid), _pick(rng, far)
        words = _pick(rng, docs_text).split()
        j = int(rng.integers(0, len(words) - 1))
        lo = int(rng.integers(40, 600))
        batch = [
            {"kind": "qs_term", "cls": "lookup", "terms": [head]},
            {"kind": "qs_term", "cls": "lookup", "terms": [m]},
            {"kind": "qs_term_rows", "cls": "lookup", "terms": [f]},
            {"kind": "qs_and", "cls": "lookup", "terms": [head, m]},
            {"kind": "qs_not", "cls": "lookup", "terms": [m, head]},
            {"kind": "qs_prefix", "cls": "lookup", "terms": [m[:3]]},
            {"kind": "qs_phrase", "cls": "lookup",
             "terms": [words[j], words[j + 1]]},
            {"kind": "dsl_bool_range", "cls": "lookup", "terms": [m],
             "range": [lo, lo + int(rng.integers(50, 400))]},
            {"kind": "dsl_terms_lang", "cls": "lookup",
             "terms": sorted({_pick(rng, LANGS), _pick(rng, LANGS)})},
            {"kind": "qs_or_top10", "cls": "ranked", "terms": [m, f]},
            {"kind": "agg_terms_lang", "cls": "analytics", "terms": [m]},
        ]
        seen.extend(batch)
        batch += [dict(_pick(rng, seen)) for _ in range(REPEATS)]
        out.append(batch)
    return out


def _mutations(rng, vocab, n_docs, batches, per_batch):
    """Mutation batches over the churn table (documents + ``expire_at``).

    Keys are drawn mostly from a hot set so keys repeat across and within
    batches (last-writer-wins, W3); inserts take fresh ids. Every upsert
    text carries the batch marker token ``mk<batch>`` so a read can check
    the batch's writes are visible. ``ts`` is strictly increasing, so no
    two mutations share (key, ts)."""
    hot = rng.choice(n_docs, max(1, n_docs // 5), replace=False)
    next_id = n_docs
    ts = 0
    out = []
    for b in range(batches):
        rows = []
        for _ in range(per_batch):
            r = rng.random()
            if r < 0.2:
                op, key = "insert", next_id
                next_id += 1
            else:
                key = int(_pick(rng, hot) if rng.random() < 0.7
                          else rng.integers(0, next_id))
                op = ("update" if r < 0.8 else
                      "partition_delete" if r < 0.9 else "empty_update")
            ts += int(rng.integers(1, 1000))
            row = {"ts": ts, "op": op, "doc_id": key}
            if op in ("insert", "update"):
                text = vocab.text(rng) + f" mk{b}"
                row.update(text=text, lang=_pick(rng, LANGS),
                           source=f"src{int(rng.integers(0, 20))}",
                           n_chars=len(text),
                           expire_at=(int(rng.integers(1, batches))
                                      if rng.random() < 0.1 else None))
            else:
                row.update(text=None, lang=None, source=None, n_chars=None,
                           expire_at=None)
            rows.append(row)
        out.append(rows)
    return out


def _churn_docs(rng, docs, batches):
    """The churn base table: ``documents`` plus ``expire_at`` (epoch
    seconds on the maintenance clock, which counts batches). One row in
    ten expires during the run, the rest never."""
    n = docs.num_rows
    hit = rng.random(n) < 0.1
    at = rng.integers(1, batches, n)
    return docs.append_column("expire_at", pa.array(
        [int(a) if h else None for h, a in zip(hit, at)], pa.int64()))


def generate(seed: int, out_dir: str) -> None:
    # one generator per input, so changing one input leaves the others
    rngs = [np.random.default_rng([seed, i]) for i in range(6)]
    vocab = Vocab(TAIL_WORDS, TAIL_SHARE)
    os.makedirs(out_dir, exist_ok=True)
    docs = _documents(rngs[0], vocab, N_DOCS)
    tables = {"documents": docs,
              "events": _events(rngs[1], N_EVENTS, N_USERS),
              "embeddings": _embeddings(rngs[2], N_EMBEDDINGS),
              "churn_docs": _churn_docs(rngs[3], docs, BATCHES)}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    texts = docs.column("text").to_pylist()
    with open(os.path.join(out_dir, "requests.json"), "w") as f:
        json.dump(_requests(rngs[4], vocab, texts, ROUNDS), f)
    with open(os.path.join(out_dir, "mutations.json"), "w") as f:
        json.dump(_mutations(rngs[5], vocab, N_DOCS, BATCHES,
                             BATCH_MUTATIONS), f)


def ensure_inputs(seed: int, cache_root: str) -> str:
    """Generate the inputs for ``seed`` once; later calls reuse them."""
    out = os.path.join(cache_root, f"v{_LAYOUT_VERSION}-{seed}")
    if os.path.exists(os.path.join(out, "_complete")):
        return out
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(seed, tmp)
    open(os.path.join(tmp, "_complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()


def self_test() -> int:
    with tempfile.TemporaryDirectory(dir=os.getcwd()) as tmp:
        a, b, c = (os.path.join(tmp, x) for x in "abc")
        generate(11, a)
        generate(11, b)
        generate(12, c)
        same, other = digest(a) == digest(b), digest(a) != digest(c)
    print(json.dumps({"same_seed_identical": same,
                      "other_seed_differs": other}))
    return 0 if same and other else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--self-test", action="store_true", required=True)
    ap.parse_args()
    return self_test()


if __name__ == "__main__":
    sys.exit(main())
