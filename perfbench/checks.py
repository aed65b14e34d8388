"""Output checks against DuckDB over the generated parquet.

Checks run outside every timed region. A mismatch is counted as a failed
operation, never skipped.
"""

from __future__ import annotations

import math
import os

import duckdb

TABLES = ("documents", "events", "embeddings")


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "isoformat"):
        iso = v.isoformat()
        return iso[:-9] if iso.endswith("T00:00:00") else iso
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _sort_key(row: tuple):
    """Rows sort by their non-float values first, so two rows whose floats
    differ only in the last place still pair up."""
    return (repr(tuple(v for v in row if not isinstance(v, float))),
            tuple(v for v in row if isinstance(v, float)))


def canonical(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Column names sorted, rows as a sorted multiset of normalized
    values (the registry oracle gate's comparison)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    vals = sorted((tuple(_norm(r[i]) for i in order) for r in rows),
                  key=_sort_key)
    return [cols[i] for i in order], vals


def _last_place(v: float) -> float:
    """One unit in the last decimal place of ``repr(v)``."""
    text = repr(v)
    if "e" in text or "." not in text:
        return 0.0
    return 10.0 ** -len(text.split(".")[1])


def same_value(a, b) -> bool:
    """Equal; or two floats within 1e-9 relative; or two floats one unit
    apart in the finer last decimal place they print with, when that
    place is the 4th decimal or finer. The last case is a rounding tie:
    the oracles round (``ROUND(v, 4)``, ``ROUND(v, 6)``) a value such as an
    average of two-decimal values that ends in 5 one place further, and
    the last bit of each engine's unrounded double sends it opposite
    ways."""
    if isinstance(a, float) and isinstance(b, float):
        if math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12):
            return True
        unit = min(_last_place(a), _last_place(b))
        return 0.0 < unit <= 1e-4 and abs(a - b) <= unit * (1 + 1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(map(same_value, a, b))
    return a == b


class Oracle:
    """DuckDB views over the generated tables."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute("SET memory_limit = '1GB'")
        self.con.execute("SET max_temp_directory_size = '1GB'")
        tmp = os.path.join(os.environ.get("TMPDIR", "."), "duckdb")
        self.con.execute(f"SET temp_directory = '{tmp}'")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.con.execute(
            "CREATE VIEW doc_toks AS SELECT doc_id, text, lang, source, "
            "n_chars, string_split(text, ' ') AS toks FROM documents")

    def rows(self, sql: str, params=None) -> tuple[list[str], list[tuple]]:
        cur = self.con.execute(sql, params or [])
        return [d[0] for d in cur.description], cur.fetchall()

    def ids(self, where: str, params=None) -> set:
        return {r[0] for r in self.con.execute(
            f"SELECT doc_id FROM doc_toks WHERE {where}", params or []
        ).fetchall()}

    def close(self) -> None:
        self.con.close()


def same_rows(cols_a, rows_a, cols_b, rows_b) -> bool:
    ca, va = canonical(cols_a, rows_a)
    cb, vb = canonical(cols_b, rows_b)
    return ca == cb and len(va) == len(vb) and all(map(same_value, va, vb))
