"""Independent correctness oracles: DuckDB for SQL results, numpy for
vector top-k. Results compare as multisets of rows (order-insensitive):
first by row count and a value hash, then, when the hash differs, row
by row with a float tolerance, because two engines may sum doubles in
different orders."""

from __future__ import annotations

import decimal
import hashlib
import math

import duckdb
import numpy as np

REL_TOL = 1e-9
ABS_TOL = 1e-6


def _norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, decimal.Decimal, np.integer, np.floating)):
        return float(v)
    return str(v)


def _key(v):
    # None sorts first and never compares against a number
    return (0, 0) if v is None else (1, v) if isinstance(v, float) else (2, str(v))


def rows_of(table) -> list[tuple]:
    """Sorted, normalized rows of a pyarrow Table."""
    cols = [[_norm(v) for v in c.to_pylist()] for c in table.columns]
    rows = list(zip(*cols)) if cols else []
    return sorted(rows, key=lambda r: tuple(_key(v) for v in r))


def value_hash(rows: list[tuple]) -> str:
    h = hashlib.sha1()
    for r in rows:
        h.update(repr(tuple(round(v, 6) if isinstance(v, float) else v for v in r)).encode())
    return h.hexdigest()


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    if value_hash(got) == value_hash(want):
        return True
    return all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w)) for g, w in zip(got, want)
    )


class DuckOracle:
    """An in-memory DuckDB holding the same generated files the engine
    reads."""

    def __init__(self, views: dict[str, str]):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for name, select in views.items():
            self.con.execute(f"CREATE TABLE {name} AS {select}")

    def rows(self, sql: str) -> list[tuple]:
        return rows_of(self.con.execute(sql).fetch_arrow_table())

    def scalar(self, sql: str):
        return self.con.execute(sql).fetchone()[0]

    def close(self) -> None:
        self.con.close()


def cosine_topk_ref(corpus_ids, corpus, query_ids, queries, k: int) -> dict[int, list[tuple[int, float]]]:
    """Brute-force top-k ``(neighbour id, cosine)`` per query: cosine
    rounded to six decimals, ties by ascending id, self matches excluded
    (the engine's documented order)."""
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = np.round(cn @ qn.T, 6)
    out = {}
    for j, qid in enumerate(query_ids):
        order = np.lexsort((corpus_ids, -sims[:, j]))
        out[int(qid)] = [
            (int(corpus_ids[i]), float(sims[i, j])) for i in order if corpus_ids[i] != qid
        ][:k]
    return out
