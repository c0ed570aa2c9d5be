"""Reference answers, computed without Spark.

Select, facets, stats, BM25, phrase and rollup answers come from DuckDB
over the generated documents; ``{!knn}`` from numpy cosine; near-dup
pairs from exact shingle Jaccard in Python; the ingest index state from
a cell-by-cell model of the documented merge semantics. All of it runs
outside the timed region.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pyarrow as pa

from gen import tokens

_TOKENS_SQL = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"
SCORE_TOL = 2e-6
STATS_RTOL = 1e-9


class Oracle:
    """DuckDB over one document table (id, text, source, price)."""

    def __init__(self, docs: pa.Table):
        self.con = duckdb.connect()
        self.con.register("docs_arrow", docs)
        self.con.execute(
            f"CREATE TABLE docs AS SELECT id, text, source, price, {_TOKENS_SQL} AS toks FROM docs_arrow"
        )
        self.con.execute(
            "CREATE TABLE post AS SELECT id, term, count(*) AS tf "
            "FROM (SELECT id, unnest(toks) AS term FROM docs) GROUP BY id, term"
        )
        self._scores: dict[tuple, dict] = {}

    def close(self) -> None:
        self.con.close()

    @staticmethod
    def _where(req: dict) -> tuple[str, list]:
        preds, args = [], []
        for t in req.get("terms", []):
            preds.append("list_contains(toks, ?)")
            args.append(t.lower())
        if req.get("source") is not None:
            preds.append("source = ?")
            args.append(req["source"])
        if req.get("price_band"):
            preds.append("price BETWEEN ? AND ?")
            args += list(req["price_band"])
        return (" AND ".join(preds) or "TRUE"), args

    def select(self, req: dict) -> dict:
        where, args = self._where(req)
        page = self.con.execute(
            f"SELECT id, price FROM docs WHERE {where} "
            f"ORDER BY price DESC NULLS LAST, id ASC LIMIT 10 OFFSET {int(req['start'])}",
            args,
        ).fetchall()
        facets = self.con.execute(
            f"SELECT source, count(*) AS n FROM docs WHERE {where} "
            "GROUP BY source ORDER BY n DESC, source ASC",
            args,
        ).fetchall()
        out = {"docs": page, "facets": facets}
        if req.get("stats"):
            out["stats"] = self.con.execute(
                "SELECT min(price), max(price), sum(price::DECIMAL(30,6))::DOUBLE, "
                "sum(price::DECIMAL(30,6))::DOUBLE / count(price), stddev_samp(price), "
                f"count(price), count(*) - count(price) FROM docs WHERE {where}",
                args,
            ).fetchone()
        return out

    def bm25_scores(self, terms: list[str], k1: float = 1.2, b: float = 0.75) -> dict:
        """Every matching doc's BM25 score (rounded as the library rounds)."""
        key = tuple(sorted({t.lower() for t in terms}))
        if key not in self._scores:
            rows = self.con.execute(
                f"""
                WITH dl AS (SELECT id, sum(tf) AS dl FROM post GROUP BY id),
                st AS (SELECT count(*)::DOUBLE AS n_docs, sum(dl)::DOUBLE / count(*) AS avg_dl FROM dl),
                hits AS (SELECT * FROM post WHERE list_contains(?::VARCHAR[], term)),
                dft AS (SELECT term, count(*) AS df_t FROM hits GROUP BY term)
                SELECT h.id, round(sum(
                    ln(1 + (n_docs - df_t + 0.5) / (df_t + 0.5))
                    * (tf * {k1 + 1}) / (tf + {k1} * (1 - {b} + {b} * dl / avg_dl))), 6)
                FROM hits h JOIN dft USING (term) JOIN dl USING (id), st GROUP BY h.id
                """,
                [list(key)],
            ).fetchall()
            self._scores[key] = dict(rows)
        return self._scores[key]

    def phrase(self, terms: list[str], slop: int) -> dict:
        """{id: occurrences} for an in-order phrase within ``slop``."""
        terms = [t.lower() for t in terms]
        rows = self.con.execute(
            "SELECT id, toks FROM docs WHERE list_has_all(toks, ?::VARCHAR[])", [terms]
        ).fetchall()
        out = {}
        for doc_id, toks in rows:
            n = phrase_occurrences(toks, terms, slop)
            if n:
                out[doc_id] = n
        return out

    def rollup(self, term: str) -> dict:
        return dict(
            self.con.execute(
                "SELECT source, count(*) FROM docs WHERE list_contains(toks, ?) GROUP BY source",
                [term.lower()],
            ).fetchall()
        )


def phrase_occurrences(toks: list[str], terms: list[str], slop: int) -> int:
    """Distinct start positions from which the terms occur in order, each
    next term at its smallest position after the previous one, with the
    whole chain spanning at most len(terms) - 1 + slop positions."""
    positions = {t: [i for i, x in enumerate(toks) if x == t] for t in set(terms)}
    window = len(terms) - 1 + slop
    n = 0
    for s in positions[terms[0]]:
        c = s
        for t in terms[1:]:
            nxt = [p for p in positions[t] if p > c]
            if not nxt:
                c = None
                break
            c = nxt[0]
        if c is not None and c - s <= window:
            n += 1
    return n


def topk_ok(got: list[tuple], scores: dict, k: int) -> bool:
    """A reported top-k is right when each reported score matches the
    reference score of that id, the list is ordered by (score desc, id),
    and nothing it left out scores clearly higher than its last entry.
    The tolerance absorbs last-digit rounding differences between
    engines, which can also swap near-tied neighbours."""
    if len(got) != min(k, len(scores)):
        return False
    for doc_id, score in got:
        if doc_id not in scores or abs(scores[doc_id] - score) > SCORE_TOL:
            return False
    for (id_a, s_a), (id_b, s_b) in zip(got, got[1:]):
        if s_a < s_b - SCORE_TOL or (s_a == s_b and id_a > id_b):
            return False
    if got and len(scores) > len(got):
        floor = got[-1][1]
        reported = {d for d, _ in got}
        if any(s > floor + SCORE_TOL for d, s in scores.items() if d not in reported):
            return False
    return True


def knn_scores(embeddings: np.ndarray, vector: list[float]) -> dict:
    e = embeddings.astype(np.float64)
    q = np.asarray(vector, dtype=np.float64)
    cos = (e @ q) / (np.linalg.norm(e, axis=1) * np.linalg.norm(q))
    return {i: round(float(c), 6) for i, c in enumerate(cos)}


def close(a, b, rtol: float = STATS_RTOL) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=rtol, abs_tol=1e-9)


# ------------------------------------------------------------ near-dups


def shingle_set(text: str, n: int = 3) -> set[str]:
    toks = tokens(text)
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return round(len(sa & sb) / len(sa | sb), 6) if sa | sb else 0.0


def min_label_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find over an edge list → {node: smallest node in its component}."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


# ---------------------------------------------------------- ingest model


class IndexModel:
    """The index state the documented merge semantics imply: newest cell
    per (row, qualifier) and newest row tombstone by (ts, seq); a row is
    live when its newest event of any kind is a put."""

    def __init__(self, qualifiers: list[str]):
        self.qualifiers = qualifiers
        self.cells: dict[str, dict] = {}

    def apply(self, cells) -> None:
        for c in cells:
            row = self.cells.setdefault(c.row_key, {})
            cur = row.get(c.qualifier)
            if cur is None or (c.ts, c.seq) > (cur[0], cur[1]):
                row[c.qualifier] = (c.ts, c.seq, c.op, c.value)

    def doc(self, key: str) -> dict | None:
        row = self.cells.get(key)
        if not row:
            return None
        newest = max(row.values(), key=lambda v: (v[0], v[1]))
        if newest[2] != "put":
            return None
        out = {"id": key}
        for q in self.qualifiers:
            v = row.get(q)
            out[q] = v[3] if v is not None and v[2] == "put" else None
        return out

    def live_docs(self) -> list[dict]:
        return [d for d in (self.doc(k) for k in sorted(self.cells)) if d is not None]

    def live_bytes(self) -> int:
        return sum(
            len(v.encode()) for d in self.live_docs() for v in d.values() if v is not None
        )


def docs_table(docs: list[dict]) -> pa.Table:
    return pa.table(
        {
            "id": [d["id"] for d in docs],
            "text": [d["text"] for d in docs],
            "source": [d["source"] for d in docs],
            "price": [None if d["price"] is None else float(d["price"]) for d in docs],
        }
    )
