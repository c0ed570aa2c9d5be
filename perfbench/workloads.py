"""The workloads: search (curate, index, then read-only requests) and
ingest (CDC commits, each followed by reads).

Each workload sets up through the library's public calls, then runs one
closed-loop step at a time; the harness stops starting steps once the
timed operations add up to the requested seconds. Every answer is kept
and checked after the loop, outside the timed region.
"""

from __future__ import annotations

import contextlib
import hashlib
import inspect
import os
import re
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

import gen
import oracle
from gen import QUALIFIERS

from hbase_increment_index_spark.api import SecondaryIndex
from hbase_increment_index_spark.pipeline.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    near_dup_clusters,
    release_cached_intermediates,
    semantic_dedup,
    semantic_pairs,
)
from hbase_increment_index_spark.pipeline.similarity import build_lsh_buckets, knn_query
from hbase_increment_index_spark.pipeline.text import quality_features
from hbase_increment_index_spark.search.inverted import (
    build_inverted_index,
    build_positional_index,
    phrase_match_from_index,
    sloppy_phrase_from_index,
)
from hbase_increment_index_spark.search.ranking import bm25_topk_from_index
from hbase_increment_index_spark.search.streaming_expr import StreamCompiler
from hbase_increment_index_spark.streaming.cdc_stream import merge_microbatch

#: tail latency percentile for read requests; at least 10 samples must lie
#: beyond it, so a run needs 10 / (1 - TAIL_PCT / 100) reads to report it
TAIL_PCT = 75

#: workload sizes. An ingest batch is a fifth of the reference's 30 s
#: commit (gen.REFERENCE_COMMIT_ROWS) and touches 1/50 of the bootstrapped
#: index.
SIZES = {
    "search": {"n_docs": 1500, "pool": 60},
    "ingest": {"n_docs": 10500, "batch_keys": 210},
}
#: tiny inputs for the smoke test (``--scale toy``)
TOY_SIZES = {
    "search": {"n_docs": 200, "pool": 15},
    "ingest": {"n_docs": 100, "batch_keys": 4},
}


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(np.ceil(pct / 100 * len(s))) - 1))]


def tail(values: list[float]) -> float:
    return percentile(values, TAIL_PCT) if values else 0.0


def dir_files(paths: list[str]) -> dict[str, tuple]:
    out = {}
    for root in paths:
        for dirpath, _, names in os.walk(root):
            for n in names:
                p = os.path.join(dirpath, n)
                st = os.stat(p)
                out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def dir_bytes(paths: list[str]) -> int:
    return sum(v[1] for v in dir_files(paths).values())


class Workload:
    name = ""
    #: loop steps a run makes even when they take longer than --seconds,
    #: so every run's medians rest on the same number of samples
    min_steps = 1

    def __init__(self, seed: int, work: str, tracer, sizes: dict):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.sizes = sizes
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.properties: dict = {}

    def span(self, name: str, record: bool = True):
        return self.tracer.span(name) if record else contextlib.nullcontext({})

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def setup(self, spark) -> None:
        raise NotImplementedError

    def step(self) -> float:
        """Run one closed-loop step; return its timed seconds."""
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def summary(self, timed_s: float) -> dict[str, tuple[float, str, int]]:
        raise NotImplementedError


# ----------------------------------------------------------------- reads


class Reader:
    """Issues the five Solr-style request kinds against committed files."""

    def __init__(self, workload: Workload):
        self.w = workload

    def run(self, req: dict, frames: dict, record: bool = True):
        kind = req["kind"]
        if kind == "select":
            q = " AND ".join(f"text:{t}" for t in req["terms"])
            if req.get("price_band"):
                lo, hi = req["price_band"]
                q = f"price:[{lo} TO {hi}]"
            fq = [F.col("source") == req["source"]] if req.get("source") else None
            with self.w.span("api.search", record) as rec:
                resp = (
                    SecondaryIndex(self.w.spark, ["cf"], QUALIFIERS, key_field="id")
                    .attach(frames["docs"])
                    .search(
                        q=q or None,
                        text_fields={"text"},
                        fq=fq,
                        fl=["id", "price"],
                        sort=[F.col("price").desc()],
                        start=req["start"],
                        rows=10,
                        facet_fields=["source"],
                        stats_fields=["price"] if req.get("stats") else None,
                    )
                )
                out = {
                    "docs": [tuple(r) for r in resp.docs.collect()],
                    "facets": [tuple(r) for r in resp.facets["source"].collect()],
                }
                if req.get("stats"):
                    out["stats"] = tuple(resp.stats["price"].collect()[0])
                rec["rows"] = len(out["docs"])
            return out
        if kind == "bm25":
            with self.w.span("search.ranking.bm25", record) as rec:
                out = [tuple(r) for r in bm25_topk_from_index(frames["postings"], "id", req["terms"], k=10).collect()]
                rec["rows"] = len(out)
            return out
        if kind == "phrase":
            with self.w.span("search.inverted.phrase", record) as rec:
                if req["slop"]:
                    df = sloppy_phrase_from_index(frames["positions"], req["terms"], "id", req["slop"])
                else:
                    df = phrase_match_from_index(frames["positions"], req["terms"], "id")
                out = {r[0]: r[1] for r in df.collect()}
                rec["rows"] = len(out)
            return out
        if kind == "knn":
            text = "{!knn f=embedding topK=10}[" + ", ".join(repr(x) for x in req["vector"]) + "]"
            with self.w.span("pipeline.similarity.knn", record) as rec:
                out = [tuple(r) for r in knn_query(frames["embeddings"], text).collect()]
                rec["rows"] = len(out)
            return out
        expr = f'rollup(search(docs, q="text:{req["terms"][0]}"), over="source", count(*))'
        with self.w.span("search.streaming_expr", record) as rec:
            out = {r[0]: r[1] for r in frames["compiler"].compile(expr).collect()}
            rec["rows"] = len(out)
        return out


def check_read(req: dict, got, ref: oracle.Oracle, embeddings: np.ndarray | None = None) -> bool:
    kind = req["kind"]
    if kind == "select":
        want = ref.select(req)
        if [d for d, _ in got["docs"]] != [d for d, _ in want["docs"]]:
            return False
        if not all(oracle.close(a, b) for (_, a), (_, b) in zip(got["docs"], want["docs"])):
            return False
        if got["facets"] != want["facets"]:
            return False
        if req.get("stats"):
            return all(oracle.close(a, b) for a, b in zip(got["stats"], want["stats"]))
        return True
    if kind == "bm25":
        return oracle.topk_ok(got, ref.bm25_scores(req["terms"]), 10)
    if kind == "phrase":
        return got == ref.phrase(req["terms"], req["slop"])
    if kind == "knn":
        return oracle.topk_ok(got, oracle.knn_scores(embeddings, req["vector"]), 10)
    return got == ref.rollup(req["terms"][0])


# ---------------------------------------------------------------- search


class Search(Workload):
    """Set-up curates the generated corpus, builds the inverted and
    positional postings and warms each request kind. Each loop step is one
    page view: one read-only request of each kind, in order, each drawn
    with Zipf repeats from that kind's part of a seeded pool."""

    name = "search"
    min_steps = 3

    def setup(self, spark) -> None:
        self.spark = spark
        inp = gen.make_search_inputs(self.seed, self.work, self.sizes["n_docs"], self.sizes["pool"])
        self.inp = inp
        self.properties = inp.properties
        docs = spark.read.parquet(inp.docs_path)
        vecs = spark.read.parquet(inp.emb_path)
        self.curate = curate_pass(self, docs, vecs, inp)
        idx = f"{self.work}/index"
        with self.span("search.inverted.build"):
            build_inverted_index(docs, "id", "text").write.parquet(f"{idx}_postings")
            build_positional_index(docs, "id", "text").write.parquet(f"{idx}_positions")
        self.frames = {
            "docs": docs,
            "postings": spark.read.parquet(f"{idx}_postings"),
            "positions": spark.read.parquet(f"{idx}_positions"),
            "embeddings": vecs,
            "compiler": StreamCompiler({"docs": docs}, text_fields={"text"}),
        }
        self.reader = Reader(self)
        # one warm-up request per kind, and one of the other select shape
        for kind, halves in inp.by_kind.items():
            for ids, _ in halves[: 2 if kind == "select" else 1]:
                self.reader.run(inp.pool[ids[0]], self.frames, record=False)
        self.draw = gen.rng_for(self.seed, "search-draws")
        self.answers: list[tuple[int, object]] = []
        self.latency: list[tuple[str, float]] = []
        self.pages: list[float] = []

    def step(self) -> float:
        page = 0.0
        for kind in gen.PAGE:
            ids, probs = self.inp.by_kind[kind][len(self.pages) % 2]
            i = ids[int(self.draw.choice(len(ids), p=probs))]
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                got = self.reader.run(self.inp.pool[i], self.frames)
            except Exception as exc:  # noqa: BLE001 — a failed request is counted, not fatal
                got = exc
            dt = time.perf_counter() - t0
            self.answers.append((i, got))
            self.latency.append((kind, dt))
            page += dt
        self.pages.append(page)
        return page

    def check(self) -> None:
        check_curate(self, self.inp, self.curate)
        ref = oracle.Oracle(oracle.docs_table(self.inp.docs))
        try:
            for i, got in self.answers:
                req = self.inp.pool[i]
                if isinstance(got, Exception):
                    self.fail(f"{req['kind']} raised {type(got).__name__}: {str(got)[:200]}")
                elif not check_read(req, got, ref, self.inp.embeddings):
                    self.fail(f"{req['kind']} wrong answer for pool entry {i}")
        finally:
            ref.close()

    def summary(self, timed_s: float) -> dict:
        lat = [dt for _, dt in self.latency]
        out = {
            "search_p50_s": (statistics.median(lat), "s", len(lat)),
            "search_tail_s": (tail(lat), "s", len(lat)),
            "search_rps": (len(lat) / timed_s, "1/s", len(lat)),
            "curate_job_s": (self.curate["seconds"], "s", 1),
        }
        for kind in gen.PAGE:
            ks = [dt for k, dt in self.latency if k == kind]
            out[f"search_{kind}_p50_s"] = (statistics.median(ks), "s", len(ks))
        n = len(self.pages)
        out["page_p50_s"] = (statistics.median(self.pages), "s", n)
        # a page view's cost from every request: the sum over the kinds of
        # each kind's median latency
        out["op_p50_s"] = (sum(out[f"search_{k}_p50_s"][0] for k in gen.PAGE), "s", len(lat))
        out["ops_per_s"] = (n / timed_s, "1/s", n)
        return out


# ---------------------------------------------------------------- curate

SEM_THRESHOLD = 0.9
_WS = re.compile(r"\s+")


def curate_pass(w: Workload, docs, vecs, inp: gen.SearchInputs) -> dict:
    """The batch curation pass: exact dedup, then near-dup clusters, then
    quality features, then semantic dedup, each call timed as a span."""
    out: dict = {"seconds": 0.0}
    calls = (
        ("exact", "pipeline.dedup.exact", lambda: sorted(r[0] for r in exact_dedup(docs, "id", "text").select("id").collect())),
        ("near", "pipeline.dedup.near_dup", lambda: [tuple(r) for r in near_dup_clusters(docs, "id", "text").collect()]),
        ("quality", "pipeline.text.quality", lambda: [tuple(r) for r in quality_features(docs, "text").select("id", "n_tokens", "quality_score").collect()]),
        ("semantic", "pipeline.dedup.semantic", lambda: [tuple(r) for r in semantic_dedup(vecs, threshold=SEM_THRESHOLD, dim=gen.DIM).collect()]),
    )
    recs = {}
    for key, span, call in calls:
        w.attempted += 1
        t0 = time.perf_counter()
        try:
            with w.span(span) as recs[key]:
                out[key] = call()
        except Exception as exc:  # noqa: BLE001 — a failed call is counted, not fatal
            out[key] = exc
        out["seconds"] += time.perf_counter() - t0
    # the verified pairs behind the clusters: an identical call returns the
    # memoized pair frame near_dup_clusters just built; then free its caches
    try:
        out["pairs"] = [tuple(r) for r in minhash_lsh_pairs(docs, "id", "text", threshold=0.5).collect()]
    except Exception as exc:  # noqa: BLE001
        out["pairs"] = exc
    release_cached_intermediates()
    # the hyperplane-LSH bucket of every vector, with the planes
    # semantic_dedup pairs within by default, so the check can name every
    # pair it must find
    planes = inspect.signature(semantic_pairs).parameters["n_planes"].default
    try:
        rows = build_lsh_buckets(vecs, n_planes=planes, dim=gen.DIM).select("vec_id", "bucket").collect()
        out["buckets"] = {r[0]: r[1] for r in rows}
    except Exception as exc:  # noqa: BLE001
        out["buckets"] = exc
    if not isinstance(out["pairs"], Exception) and not isinstance(out["near"], Exception):
        recs["near"]["pairs"] = len(out["pairs"])
        recs["near"]["planted_recall"] = planted_recall(out["near"], inp.near_pairs)
    if not isinstance(out["semantic"], Exception):
        recs["semantic"]["planted_recall"] = planted_recall(out["semantic"], inp.semantic_pairs)
    return out


def planted_recall(clusters: list[tuple], planted: list[tuple[int, int]]) -> float:
    """Share of planted pairs whose two ids share a cluster label."""
    comp = {i: c for i, c, _ in clusters}
    hit = sum(comp.get(a) is not None and comp.get(a) == comp.get(b) for a, b in planted)
    return hit / max(1, len(planted))


def check_curate(w: Workload, inp: gen.SearchInputs, out: dict) -> None:
    texts = [d["text"] for d in inp.docs]
    checks = {"exact": _check_exact, "near": _check_near, "quality": _check_quality, "semantic": _check_semantic}
    for key, check in checks.items():
        got = out[key]
        if isinstance(got, Exception):
            w.fail(f"{key} raised {type(got).__name__}: {str(got)[:200]}")
        elif not check(inp, texts, got, out):
            w.fail(f"curate {key} wrong answer")


def fingerprint(text: str) -> str:
    """md5 of lowercased, trimmed, whitespace-collapsed text."""
    return hashlib.md5(_WS.sub(" ", text.lower().strip(" ")).encode()).hexdigest()


def _check_exact(inp, texts, got, out) -> bool:
    """Survivors are the smallest id of each fingerprint group."""
    keep: dict[str, int] = {}
    for i, t in enumerate(texts):
        keep.setdefault(fingerprint(t), i)
    return got == sorted(keep.values())


def _check_near(inp, texts, got, out) -> bool:
    """Each reported pair's Jaccard is exact and above threshold, the
    clusters are the connected components of the reported pairs, and
    every planted exact copy (Jaccard 1) and near copy (one substituted
    token, Jaccard about 0.9) shares a cluster with its source."""
    pairs = out["pairs"]
    if isinstance(pairs, Exception):
        return False
    for a, b, jac in pairs:
        if not a < b or jac < 0.5 or oracle.jaccard(texts[a], texts[b]) != jac:
            return False
    labels = oracle.min_label_components([(a, b) for a, b, _ in pairs])
    want = {i: (labels.get(i), labels.get(i) in (None, i)) for i in range(len(texts))}
    if {i: (c, k) for i, c, k in got} != want:
        return False
    return planted_recall(got, inp.exact_pairs + inp.near_pairs) == 1.0


def quality_reference(text: str) -> tuple[int, float]:
    """(n_tokens, quality_score) as pipeline.text.quality_features defines them."""
    toks = gen.tokens(text)
    n_tok = len(toks)
    n_stop = sum(t in gen.HEAD_WORDS for t in toks)
    avg = len(_WS.sub("", text)) / n_tok if n_tok else 0.0
    stop = n_stop / n_tok if n_tok else 0.0
    score = 0.4 * min(n_tok / 100.0, 1.0) + 0.3 * (1.0 if 2 <= avg <= 12 else 0.0) + 0.3 * min(stop * 5, 1.0)
    return n_tok, round(score, 6)


def _check_quality(inp, texts, got, out) -> bool:
    for i, n_tok, score in got:
        want_n, want_s = quality_reference(texts[i])
        if n_tok != want_n or abs(score - want_s) > 1e-6:
            return False
    return len(got) == len(texts)


def _check_semantic(inp, texts, got, out) -> bool:
    """The clusters are exactly the connected components of the pairs
    semantic_dedup must find: every two vectors in one LSH bucket whose
    cosine (numpy, over all pairs) reaches the threshold. Planted copies
    (cosine about 0.997) that share a bucket are among them; copies the
    hyperplanes split are the documented LSH recall loss."""
    buckets = out["buckets"]
    if isinstance(buckets, Exception) or len(got) != len(texts):
        return False
    e = inp.embeddings.astype(np.float64)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    bucket = np.array([buckets[i] for i in range(len(e))])
    edges = np.triu((np.round(e @ e.T, 6) >= SEM_THRESHOLD) & (bucket[:, None] == bucket[None, :]), k=1)
    labels = oracle.min_label_components(list(zip(*(ix.tolist() for ix in np.nonzero(edges)))))
    want = {i: (labels.get(i), labels.get(i) in (None, i)) for i in range(len(e))}
    return {i: (c, k) for i, c, k in got} == want


# ---------------------------------------------------------------- ingest


class Ingest(Workload):
    name = "ingest"
    min_steps = 2

    def setup(self, spark) -> None:
        self.spark = spark
        inp = gen.make_ingest_bootstrap(self.seed, self.work, self.sizes["n_docs"])
        self.maker = gen.BatchMaker(self.seed, inp, self.sizes["batch_keys"])
        self.model = oracle.IndexModel(QUALIFIERS)
        self.model.apply(inp.bootstrap_cells)
        self.vocab = inp.vocab
        self.idx = f"{self.work}/index"
        self.idx_dirs = [self.idx + s for s in ("", "_state", "_postings", "_facets")]
        with self.span("streaming.bootstrap"):
            merge_microbatch(
                spark, spark.read.parquet(inp.bootstrap_path), 0, self.idx, QUALIFIERS,
                postings_field="text", facet_field="source",
            )
        self.reader = Reader(self)
        self.read_rng = gen.rng_for(self.seed, "ingest-reads")
        self.batch_id = 0
        self.commit_s: list[float] = []
        self.visible_s: list[float] = []
        self.read_s: list[float] = []
        self.cells = 0
        self.reads: list[tuple[dict, object, int]] = []
        self.snapshots: list[list[dict]] = []
        self.iteration(record=False)
        self.maker.n_keys = self.maker.n_recent = self.maker.n_cells = self.maker.n_stale = self.maker.n_deletes = 0

    def iteration(self, record: bool) -> float:
        self.batch_id += 1
        path = f"{self.work}/batch_{self.batch_id:05d}.parquet"
        cells = self.maker.make(path)
        touched = sorted({c.row_key for c in cells})
        before = dir_files(self.idx_dirs) if self.tracer.traced and record else None
        spark = self.spark
        if record:
            self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.span("streaming.commit", record) as rec:
                merge_microbatch(
                    spark, spark.read.parquet(path), self.batch_id, self.idx, QUALIFIERS,
                    postings_field="text", facet_field="source",
                )
            commit = time.perf_counter() - t0
            rows = spark.read.parquet(self.idx).filter(F.col("id").isin(touched)).collect()
            visible = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 — a failed commit is counted, not fatal
            if not record:
                raise
            self.fail(f"commit {self.batch_id} raised {type(exc).__name__}: {str(exc)[:200]}")
            self.model.apply(cells)
            return time.perf_counter() - t0
        self.model.apply(cells)
        want = [d for d in (self.model.doc(k) for k in touched) if d is not None]
        got = sorted((r.asDict() for r in rows), key=lambda d: d["id"])
        if record:
            self.cells += len(cells)
            self.commit_s.append(commit)
            self.visible_s.append(visible)
            if got != want:
                self.fail(f"commit {self.batch_id}: read-after-commit differs from the applied batch")
            if before is not None:
                after = dir_files(self.idx_dirs)
                written = [p for p, v in after.items() if before.get(p) != v]
                rec["files_written"] = len(written)
                rec["bytes_written"] = sum(after[p][1] for p in written)
                batch_bytes = sum(len(c.row_key) + len(c.value or "") for c in cells)
                rec["write_amp"] = rec["bytes_written"] / max(1, batch_bytes)
        timed = visible
        frames = {
            "docs": spark.read.parquet(self.idx).withColumn("price", F.col("price").cast("double")),
            "postings": spark.read.parquet(f"{self.idx}_postings"),
        }
        snap = len(self.snapshots)
        if record:
            self.snapshots.append(self.model.live_docs())
        for kind in ("select", "bm25"):
            req = gen.make_request(self.read_rng, kind, self.vocab, [], self.batch_id)
            if record:
                self.attempted += 1
            t1 = time.perf_counter()
            try:
                got_r = self.reader.run(req, frames, record)
            except Exception as exc:  # noqa: BLE001 — a failed read is counted, not fatal
                got_r = exc
            dt = time.perf_counter() - t1
            timed += dt
            if record:
                self.read_s.append(dt)
                self.reads.append((req, got_r, snap))
        return timed

    def step(self) -> float:
        return self.iteration(record=True)

    def check(self) -> None:
        refs: dict[int, oracle.Oracle] = {}
        try:
            for req, got, snap in self.reads:
                if isinstance(got, Exception):
                    self.fail(f"{req['kind']} raised {type(got).__name__}: {str(got)[:200]}")
                    continue
                if snap not in refs:
                    refs[snap] = oracle.Oracle(oracle.docs_table(self.snapshots[snap]))
                if not check_read(req, got, refs[snap]):
                    self.fail(f"{req['kind']} after commit {snap} wrong answer")
        finally:
            for r in refs.values():
                r.close()
        self.properties = self.maker.properties(self.sizes["n_docs"])

    def summary(self, timed_s: float) -> dict:
        n = len(self.commit_s)
        out = {
            "commit_p50_s": (statistics.median(self.commit_s), "s", n),
            "visible_p50_s": (statistics.median(self.visible_s), "s", n),
            "ingest_cells_s": (self.cells / sum(self.commit_s), "1/s", n),
            "index_space_amp": (dir_bytes(self.idx_dirs) / self.model.live_bytes(), "ratio", 1),
            "search_p50_s": (statistics.median(self.read_s), "s", len(self.read_s)),
            "search_tail_s": (tail(self.read_s), "s", len(self.read_s)),
            "search_rps": (len(self.read_s) / timed_s, "1/s", len(self.read_s)),
        }
        out["op_p50_s"] = out["visible_p50_s"]
        out["ops_per_s"] = (n / timed_s, "1/s", n)
        return out


WORKLOADS = {w.name: w for w in (Search, Ingest)}
