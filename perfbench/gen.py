"""Seeded input generators for the workloads.

Everything here is pure Python/numpy and depends only on the seed it is
given: the same seed yields byte-identical parquet files and request
pools. Each generator also returns the input properties the report
prints, so every result says what it was measured on.
"""

from __future__ import annotations

import re
import statistics
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: English stopwords the corpus mixes in at the head of the vocabulary,
#: so quality and stopword features see realistic text.
HEAD_WORDS = ("the", "and", "of", "to", "a", "in", "is", "it", "for", "with")
_SYLLABLES = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]
_TOKEN_RE = re.compile(r"[^a-z0-9]+")
SOURCES = 12
QUALIFIERS = ["text", "source", "price"]
T0 = datetime(2024, 1, 1)


def tokens(text: str | None) -> list[str]:
    """Python twin of the library's analyzer (lowercase, split on
    non-alphanumeric runs, drop empties)."""
    if text is None:
        return []
    return [t for t in _TOKEN_RE.split(text.lower()) if t]


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose)."""
    return np.random.default_rng([seed, *stream.encode()])


@dataclass
class Vocabulary:
    words: list[str]
    probs: np.ndarray
    #: ranks below this index carry half of the token mass
    head_size: int

    def sample(self, rng: np.random.Generator, n: int) -> list[str]:
        return [self.words[i] for i in rng.choice(len(self.words), n, p=self.probs)]

    def query_term(self, rng: np.random.Generator, tail: bool) -> str:
        """A query term drawn by the corpus' Zipf law (mostly head terms)
        or, with ``tail``, uniformly over the vocabulary (mostly tail
        terms), so term selectivity spans head to tail."""
        if not tail:
            return self.sample(rng, 1)[0]
        return self.words[int(rng.integers(len(HEAD_WORDS), len(self.words)))]

    def is_tail(self, word: str) -> bool:
        return self.words.index(word) >= self.head_size


def make_vocabulary(rng: np.random.Generator, size: int, zipf_s: float = 1.1) -> Vocabulary:
    words = list(HEAD_WORDS)
    seen = set(words)
    while len(words) < size:
        w = "".join(rng.choice(_SYLLABLES, int(rng.integers(2, 5))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    probs = 1.0 / np.arange(1, size + 1) ** zipf_s
    probs /= probs.sum()
    head_size = int(np.searchsorted(np.cumsum(probs), 0.5)) + 1
    return Vocabulary(words, probs, head_size)


def make_text(rng: np.random.Generator, vocab: Vocabulary, lo: int, hi: int) -> str:
    return " ".join(vocab.sample(rng, int(rng.integers(lo, hi))))


def unit_vectors(rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    v = rng.standard_normal((n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def price(rng: np.random.Generator) -> str:
    """Prices travel through the cell log as fixed-scale decimal strings."""
    return f"{rng.integers(100, 100000) / 100:.2f}"


def write_parquet(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


# ------------------------------------------------------------------ cells

CELL_SCHEMA = pa.schema(
    [
        ("op", pa.string()),
        ("row_key", pa.string()),
        ("family", pa.string()),
        ("qualifier", pa.string()),
        ("value", pa.string()),
        ("ts", pa.timestamp("us")),
        ("seq", pa.int64()),
    ]
)


@dataclass
class Cell:
    op: str
    row_key: str
    qualifier: str | None
    value: str | None
    ts: int  # seconds after T0
    seq: int


def cells_table(cells: list[Cell]) -> pa.Table:
    return pa.table(
        {
            "op": [c.op for c in cells],
            "row_key": [c.row_key for c in cells],
            "family": ["cf"] * len(cells),
            "qualifier": [c.qualifier for c in cells],
            "value": [c.value for c in cells],
            "ts": [T0 + timedelta(seconds=c.ts) for c in cells],
            "seq": [c.seq for c in cells],
        },
        schema=CELL_SCHEMA,
    )


def row_cells(key: str, fields: dict[str, str], ts: int, seq: int) -> list[Cell]:
    return [Cell("put", key, q, v, ts, seq + i) for i, (q, v) in enumerate(fields.items())]


# ----------------------------------------------------------------- search


@dataclass
class SearchInputs:
    docs: list[dict]
    vocab: Vocabulary
    embeddings: np.ndarray
    docs_path: str
    emb_path: str
    exact_pairs: list[tuple[int, int]]
    near_pairs: list[tuple[int, int]]
    semantic_pairs: list[tuple[int, int]]
    pool: list[dict]
    #: per request kind, two halves of that kind's pool entries (even and
    #: odd positions), each as (pool indices, Zipf weights); page view i
    #: draws from half i % 2, so the shapes a run sends do not depend on
    #: the draws
    by_kind: dict[str, list[tuple[list[int], np.ndarray]]]
    properties: dict = field(default_factory=dict)


#: one results page: the requests a client sends per page view, in order
PAGE = ("select", "bm25", "phrase", "knn", "rollup")
#: planted duplicate shares of the corpus (each planted pair copies one doc)
PLANTED = {"exact": 0.05, "near": 0.05, "semantic": 0.05}
DIM = 64


def plant_duplicates(
    rng: np.random.Generator, vocab: Vocabulary, texts: list[str], emb: np.ndarray
) -> tuple[list[tuple[int, int]], ...]:
    """Overwrite disjoint doc pairs with exact, near and semantic copies.
    Returns the planted exact, near-dup and semantic pairs as (low id,
    high id)."""
    n = len(texts)
    slots = iter(rng.permutation(n).tolist())
    exact, near, semantic = [], [], []
    for _ in range(int(PLANTED["exact"] * n)):
        src, dst = next(slots), next(slots)
        # case differences still fingerprint as the same document
        texts[dst] = texts[src].upper() if rng.random() < 0.3 else texts[src]
        exact.append((min(src, dst), max(src, dst)))
    for _ in range(int(PLANTED["near"] * n)):
        src, dst = next(slots), next(slots)
        toks = texts[src].split()
        # one substituted token keeps 3-shingle Jaccard well above 0.5
        toks[int(rng.integers(0, len(toks)))] = vocab.words[int(rng.integers(len(HEAD_WORDS), len(vocab.words)))]
        texts[dst] = " ".join(toks)
        near.append((min(src, dst), max(src, dst)))
    for _ in range(int(PLANTED["semantic"] * n)):
        src, dst = next(slots), next(slots)
        v = emb[src] + 0.08 * rng.standard_normal(emb.shape[1]) / np.sqrt(emb.shape[1])
        emb[dst] = (v / np.linalg.norm(v)).astype(np.float32)
        semantic.append((min(src, dst), max(src, dst)))
    return exact, near, semantic


def zipf_weights(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1)
    return w / w.sum()


def make_search_inputs(seed: int, work: str, n_docs: int, pool_size: int) -> SearchInputs:
    rng = rng_for(seed, "search")
    vocab = make_vocabulary(rng, 4000)
    src_p = 1.0 / np.arange(1, SOURCES + 1) ** 0.8
    src_p /= src_p.sum()
    texts = [make_text(rng, vocab, 40, 90) for _ in range(n_docs)]
    emb = unit_vectors(rng, n_docs, DIM)
    exact, near, semantic = plant_duplicates(rng, vocab, texts, emb)
    docs = [
        {
            "id": i,
            "text": texts[i],
            "source": f"s{int(rng.choice(SOURCES, p=src_p)):02d}",
            "price": float(price(rng)),
        }
        for i in range(n_docs)
    ]
    docs_path = write_parquet(
        pa.table(
            {
                "id": pa.array(np.arange(n_docs), pa.int64()),
                "text": texts,
                "source": [d["source"] for d in docs],
                "price": [d["price"] for d in docs],
            }
        ),
        f"{work}/docs.parquet",
    )
    emb_path = write_parquet(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_docs), pa.int64()),
                "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            }
        ),
        f"{work}/embeddings.parquet",
    )

    pool, by_kind = [], {}
    for kind in PAGE:
        n = max(2, pool_size // len(PAGE))
        ids = list(range(len(pool), len(pool) + n))
        by_kind[kind] = [(ids[half::2], zipf_weights(len(ids[half::2]))) for half in (0, 1)]
        pool += [make_request(rng, kind, vocab, texts, j) for j in range(n)]

    tail_hits = statistics.fmean(
        sum(p * any(vocab.is_tail(t) for t in pool[i].get("terms", [])) for i, p in zip(ids, probs))
        for halves in by_kind.values()
        for ids, probs in halves
    )
    return SearchInputs(
        docs=docs,
        vocab=vocab,
        embeddings=emb,
        docs_path=docs_path,
        emb_path=emb_path,
        exact_pairs=exact,
        near_pairs=near,
        semantic_pairs=semantic,
        pool=pool,
        by_kind=by_kind,
        properties={
            "n_docs": n_docs,
            "vocabulary_size": len(vocab.words),
            "vocabulary_head_terms": vocab.head_size,
            "request_pool": len(pool),
            "page": list(PAGE),
            "tail_term_request_share": round(float(tail_hits), 4),
            "planted_duplicate_shares": PLANTED,
        },
    )


def make_request(rng: np.random.Generator, kind: str, vocab: Vocabulary, texts: list[str], j: int) -> dict:
    """The ``j``-th request of ``kind``. Its shape (term count, filters,
    paging, phrase length, slop) follows ``j``, so every seed sends the
    same shapes; the seed picks terms, values and vectors. Terms alternate
    between the corpus' Zipf law and uniform draws over the vocabulary."""

    def terms(n: int) -> list[str]:
        return [vocab.query_term(rng, tail=(j + i) % 2 == 1) for i in range(n)]

    if kind == "select":
        source = f"s{int(rng.integers(0, SOURCES)):02d}"
        if j % 2 == 0:
            # full-text page: q + fq + sort + paging + facet
            return {
                "kind": "select",
                "terms": terms(1 + j // 2 % 2),
                "source": source if j % 4 == 0 else None,
                "start": 10 if j % 6 == 4 else 0,
                "stats": False,
            }
        # dashboard: a price band over one source, facet + stats
        lo = int(rng.integers(1, 500))
        return {
            "kind": "select",
            "terms": [],
            "source": source,
            "price_band": (lo, lo + int(rng.integers(100, 500))),
            "start": 0,
            "stats": True,
        }
    if kind == "bm25":
        return {"kind": "bm25", "terms": terms(1 + j % 3)}
    if kind == "phrase":
        toks = tokens(texts[int(rng.integers(0, len(texts)))])
        n = 2 + j % 2
        at = int(rng.integers(0, len(toks) - n + 1))
        return {"kind": "phrase", "terms": toks[at : at + n], "slop": int(j % 3 == 2)}
    if kind == "knn":
        return {"kind": "knn", "vector": [round(float(x), 6) for x in rng.standard_normal(DIM)]}
    return {"kind": "rollup", "terms": terms(1)}


# ----------------------------------------------------------------- ingest


@dataclass
class IngestInputs:
    vocab: Vocabulary
    bootstrap_path: str
    bootstrap_cells: list[Cell]
    next_key: int
    next_seq: int
    clock: int
    properties: dict = field(default_factory=dict)


def make_ingest_bootstrap(seed: int, work: str, n_docs: int) -> IngestInputs:
    rng = rng_for(seed, "ingest")
    vocab = make_vocabulary(rng, 3000)
    cells: list[Cell] = []
    for i in range(n_docs):
        fields = {"text": make_text(rng, vocab, 15, 40), "source": f"s{int(rng.integers(0, SOURCES)):02d}", "price": price(rng)}
        cells += row_cells(f"r{i:07d}", fields, ts=i, seq=3 * i)
    path = write_parquet(cells_table(cells), f"{work}/bootstrap.parquet")
    return IngestInputs(vocab, path, cells, next_key=n_docs, next_seq=3 * n_docs, clock=n_docs)


#: The reference's write regime (BASELINE.md, reference README.md:5 and
#: application.properties:10-16): a commit every 30 s, "several million rows
#: a day" (about 35 rows/s), and index buffers that flush at 10 000 adds or
#: 2 000 deletes. So one commit carries about 30 x 35 = 1050 row changes,
#: and the buffer sizes put deletes at one per five adds. workloads.SIZES
#: scales the commit down to fit the benchmark's time budget.
REFERENCE_COMMIT_ROWS = 30 * 35
DELETE_SHARE = 2_000 / (10_000 + 2_000)
#: Assumptions, not reference figures: the reference gives no split of its
#: adds into new rows and updates of existing rows, and no rate of cells
#: that arrive after a newer version of their row.
UPDATE_SHARE_OF_ADDS = 0.5
STALE_SHARE = 0.05


class BatchMaker:
    """Seeded CDC micro-batches: new rows, updates, row deletes and
    out-of-order (stale) cells, with keys skewed toward recent rows."""

    def __init__(self, seed: int, inputs: IngestInputs, batch_keys: int):
        self.rng = rng_for(seed, "ingest-batches")
        self.vocab = inputs.vocab
        self.next_key = inputs.next_key
        self.seq = inputs.next_seq
        self.clock = inputs.clock
        self.batch_keys = batch_keys
        #: a key counts as recent when it is among the newest RECENT_SHARE of rows
        self.recent_share = 0.10
        self.n_keys = 0
        self.n_recent = 0
        self.n_cells = 0
        self.n_stale = 0
        self.n_deletes = 0

    def _existing_key(self) -> int:
        # exponential recency skew: most touches land on the newest rows
        back = int(self.rng.exponential(0.08 * self.next_key))
        return max(0, self.next_key - 1 - back)

    def make(self, path: str) -> list[Cell]:
        cells: list[Cell] = []
        keys: set[int] = set()
        new_share = (1 - DELETE_SHARE - STALE_SHARE) * (1 - UPDATE_SHARE_OF_ADDS)
        while len(keys) < self.batch_keys:
            r = self.rng.random()
            self.clock += 10
            if r < new_share:
                k = self.next_key
                self.next_key += 1
                fields = {
                    "text": make_text(self.rng, self.vocab, 15, 40),
                    "source": f"s{int(self.rng.integers(0, SOURCES)):02d}",
                    "price": price(self.rng),
                }
                cells += row_cells(f"r{k:07d}", fields, self.clock, self.seq)
                self.seq += 3
            else:
                # one key per batch: redraw the key, not the kind of change,
                # so collisions do not tilt the mix toward new rows
                k = self._existing_key()
                while k in keys:
                    k = self._existing_key()
                key = f"r{k:07d}"
                if r < 1 - DELETE_SHARE - STALE_SHARE:
                    q = QUALIFIERS[int(self.rng.integers(0, 3))]
                    value = {
                        "text": make_text(self.rng, self.vocab, 15, 40),
                        "source": f"s{int(self.rng.integers(0, SOURCES)):02d}",
                        "price": price(self.rng),
                    }[q]
                    cells.append(Cell("put", key, q, value, self.clock, self.seq))
                elif r < 1 - STALE_SHARE:
                    cells.append(Cell("delete", key, None, None, self.clock, self.seq))
                    self.n_deletes += 1
                else:
                    # out-of-order: a cell stamped before the row was created,
                    # so it must lose to whatever the index already holds
                    cells.append(Cell("put", key, "price", price(self.rng), k - 1_000_000, self.seq))
                    self.n_stale += 1
                self.seq += 1
            keys.add(k)
            self.n_recent += k >= self.next_key * (1 - self.recent_share)
        self.n_keys += len(keys)
        self.n_cells += len(cells)
        write_parquet(cells_table(cells), path)
        return cells

    def properties(self, index_docs: int) -> dict:
        return {
            "batch_keys": self.batch_keys,
            "index_docs_at_start": index_docs,
            "batch_to_index_ratio": round(self.batch_keys / index_docs, 4),
            "batch_to_reference_commit_ratio": round(self.batch_keys / REFERENCE_COMMIT_ROWS, 4),
            "delete_key_share": round(self.n_deletes / max(1, self.n_keys), 4),
            "recent_key_share": round(self.n_recent / max(1, self.n_keys), 4),
            "recent_window_share": self.recent_share,
            "out_of_order_cell_share": round(self.n_stale / max(1, self.n_cells), 4),
        }
