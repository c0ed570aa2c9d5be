"""Materialized inverted index — the engine-side analogue of the Solr/
Lucene index the reference delegates query-time work to (reference
README.md:9-10, pom.xml:87-109).

On-the-fly tokenization (search.tokenize) answers ad-hoc queries; this
module materializes ``(term, id, tf)`` postings once so repeated
full-text queries become posting joins instead of corpus scans — the
classic build-once/query-many trade Solr makes.

Layout at 100 TB: postings written ``repartitionByRange('term')`` (or
bucketed by term) so a term lookup is a partition-pruned read of one
range; document frequency is a second tiny table derivable from the
first. Query = broadcast the query terms against the postings, then
semi-join doc ids back to the store — the corpus itself is never
re-tokenized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hbase_increment_index_spark.search.tokenize import posting_list


def build_inverted_index(corpus: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(term, id, tf) postings — one explode + one map-side-combined
    groupBy over the corpus."""
    return (
        posting_list(corpus, id_col, text_col)
        .groupBy("term", id_col)
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def write_inverted_index(postings: DataFrame, path: str, n_ranges: int = 32) -> None:
    """Persist postings range-partitioned by term (term lookups become
    partition-pruned range reads)."""
    postings.repartitionByRange(n_ranges, "term").write.mode("overwrite").parquet(path)


def term_match_ids(postings: DataFrame, id_col: str, terms: list[str], op: str = "and") -> DataFrame:
    """Doc ids matching the term set via the materialized index.

    AND = ids whose distinct matched-term count equals |terms|;
    OR = any posting hit. No corpus scan, no tokenization at query time.
    """
    terms_norm = sorted({t.lower() for t in terms})
    spark = postings.sparkSession
    tdf = spark.createDataFrame([(t,) for t in terms_norm], ["term"])
    hits = postings.join(F.broadcast(tdf), "term")
    if op == "or":
        return hits.select(id_col).distinct()
    matched = hits.groupBy(id_col).agg(F.countDistinct("term").alias("_nt"))
    return matched.filter(F.col("_nt") == len(terms_norm)).select(id_col)


def search_with_index(
    corpus: DataFrame, postings: DataFrame, id_col: str, terms: list[str], op: str = "and"
) -> DataFrame:
    """Full-text match through the inverted index: posting lookup →
    semi-join back to the document store (projection/filters on the
    store still push down — the semi-join only constrains ids)."""
    ids = term_match_ids(postings, id_col, terms, op)
    return corpus.join(ids, id_col, "left_semi")


def merge_postings(
    postings: DataFrame,
    changed_docs: DataFrame,
    deleted_ids: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Incremental index maintenance — the postings-level twin of
    cdc.index_builder.merge_state, and the exact capability the
    reference exists to provide (keep a full-text index in sync with a
    mutating row store, reference README.md:5-10; its Solr client does
    add+deleteById per batch, SolrIndexTools.java:60-63,127-131).

    A micro-batch touches ``changed_docs`` (new/updated, with current
    text) and ``deleted_ids``. Updated/deleted docs' old postings are
    dropped with an anti-join on id, then the changed docs' fresh
    postings are appended. Postings for untouched docs pass through
    unchanged — at 100 TB the anti-join broadcasts the (tiny) touched-id
    set against the postings table, so the big side never shuffles, the
    same plan class as the cell-state merge.

    Equivalent by construction to rebuilding from the post-mutation
    corpus (tested); idempotent for re-delivered batches. The dropped
    ids need no ``distinct``: an anti-join ignores duplicate keys, so
    the two id sets are broadcast as one union with no shuffle.
    """
    touched = changed_docs.select(id_col).unionByName(deleted_ids.select(id_col))
    kept = postings.join(F.broadcast(touched), id_col, "left_anti")
    fresh = build_inverted_index(changed_docs, id_col, text_col)
    return kept.unionByName(fresh.select(*kept.columns))


def build_positional_index(
    corpus: DataFrame, id_col: str, text_col: str, terms: list[str] | None = None
) -> DataFrame:
    """Lucene-style POSITIONAL postings ``(term, id, positions)`` —
    sorted 0-based token positions per (term, doc). One posexplode +
    one map-side-combined groupBy; tf is ``size(positions)``, so this
    strictly generalizes build_inverted_index. At 100 TB the layout
    story is identical (range-partition/bucket by term); positions add
    ~one int per token, the same order Lucene pays for its .pos file.

    ``terms`` restricts the build to the given query terms — the
    ad-hoc (no materialized index) serving path: the term filter runs
    codegen-side right after posexplode, so the groupBy shuffle
    carries only the query terms' postings instead of the whole
    corpus's. Positions stay global (posexplode numbers the full
    token stream before the filter), so slices are byte-identical to
    the corresponding rows of the unrestricted index — the same rows a
    range-partitioned materialized index would partition-prune to."""
    from hbase_increment_index_spark.search.tokenize import tokens

    exploded = corpus.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "term")
    )
    if terms is not None:
        exploded = exploded.filter(
            F.col("term").isin([t.lower() for t in terms])
        )
    return exploded.groupBy("term", id_col).agg(
        F.array_sort(F.collect_list("pos")).alias("positions")
    )


def phrase_match_from_index(
    postings_pos: DataFrame, phrase_terms: list[str], id_col: str
) -> DataFrame:
    """Index-served phrase query (Solr ``q=f:"w1 w2 ..."`` on an
    indexed field): docs containing the exact consecutive token
    sequence, with occurrence counts — no corpus scan, no
    re-tokenization, no regex.

    Valid start positions fold left across the phrase:
    ``S_k = S_{k-1} ∩ (positions(term_k) − k)`` via ``array_intersect``
    on the (tiny) per-term posting slices, joined per doc. Each join
    input is one term's postings — the filter prunes the range-
    partitioned index to one term's range at scale — and docs drop out
    as soon as the running intersection empties, so the join tree
    narrows monotonically. Repeated phrase terms work naturally (the
    same slice joins twice with different shifts)."""
    terms = [t.lower() for t in phrase_terms]
    cur = postings_pos.filter(F.col("term") == terms[0]).select(
        F.col(id_col), F.col("positions").alias("starts")
    )
    for k, t in enumerate(terms[1:], 1):
        nxt = postings_pos.filter(F.col("term") == t).select(
            F.col(id_col), F.col("positions").alias("_p")
        )
        cur = (
            cur.join(nxt, id_col)
            .withColumn(
                "starts",
                F.array_intersect("starts", F.transform("_p", lambda x: x - F.lit(k))),
            )
            .filter(F.size("starts") > 0)
            .drop("_p")
        )
    return cur.select(
        F.col(id_col), F.size("starts").cast("long").alias("n_occurrences")
    )


def sloppy_phrase_from_index(
    postings_pos: DataFrame, phrase_terms: list[str], id_col: str, slop: int = 0
) -> DataFrame:
    """Index-served sloppy phrase (Solr ``q=f:"w1 w2"~N``): docs where
    the terms appear IN ORDER with total span ≤ (k-1) + slop extra
    positions. slop=0 reduces exactly to the consecutive phrase.
    (Lucene's full slop also admits out-of-order transpositions at
    extra cost; the in-order form is the common subset and keeps the
    semantics oracle-checkable.)

    Plan: same per-term posting-slice joins as phrase_match_from_index;
    the candidate chains fold left with a GREEDY smallest-next-position
    step per term (array HOFs on the tiny per-doc position lists).
    Greedy minimizes the chain end, so the final span check decides
    matching exactly; docs drop out as soon as no chain survives, so
    the join tree narrows monotonically. ``n_occurrences`` counts
    distinct start positions with a surviving chain."""
    terms = [t.lower() for t in phrase_terms]
    k = len(terms)
    cur = postings_pos.filter(F.col("term") == terms[0]).select(
        F.col(id_col),
        F.transform(
            "positions", lambda p: F.struct(p.alias("s"), p.alias("c"))
        ).alias("chains"),
    )
    for t in terms[1:]:
        nxt = postings_pos.filter(F.col("term") == t).select(
            F.col(id_col), F.col("positions").alias("_p")
        )
        stepped = F.filter(
            F.transform(
                F.col("chains"),
                lambda ch: F.struct(
                    ch["s"].alias("s"),
                    F.array_min(
                        F.filter(F.col("_p"), lambda q: q > ch["c"])
                    ).alias("c"),
                ),
            ),
            lambda ch: ch["c"].isNotNull(),
        )
        cur = (
            cur.join(nxt, id_col)
            .withColumn("chains", stepped)
            .filter(F.size("chains") > 0)
            .drop("_p")
        )
    window = k - 1 + slop
    matched = F.filter(F.col("chains"), lambda ch: ch["c"] - ch["s"] <= F.lit(window))
    return (
        cur.select(F.col(id_col), F.size(matched).cast("long").alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )


def span_near_from_index(
    postings_pos: DataFrame,
    term_a: str,
    term_b: str,
    id_col: str,
    distance: int,
) -> DataFrame:
    """Index-served Lucene SpanNearQuery with ``inOrder=false`` (Solr
    {!surround} ``AN`` / XML spanNear): ids where the two terms occur
    within ``distance`` positions of each other in either order.

    Plan: the two per-term (id, positions) posting slices — each a
    term-pruned read of the (range-partitioned) positional index —
    join on id, then the proximity predicate evaluates on the two
    intersected position lists. Work ∝ postings of the two query
    terms; the HOF runs only on ids containing BOTH terms (the join
    already intersected), never on the corpus. Contrast the
    scan-serving form: per-row position extraction over every
    document, with the interpreted proximity HOF as the corpus-scan
    bottleneck (reference's Lucene delegates this to its .pos file,
    pom.xml:87-109)."""
    a = postings_pos.filter(F.col("term") == term_a.lower()).select(
        F.col(id_col), F.col("positions").alias("_pa")
    )
    b = postings_pos.filter(F.col("term") == term_b.lower()).select(
        F.col(id_col), F.col("positions").alias("_pb")
    )
    near = F.exists(
        F.col("_pa"),
        lambda x: F.exists(F.col("_pb"), lambda y: F.abs(x - y) <= F.lit(distance)),
    )
    return a.join(b, id_col).filter(near).select(id_col)


def merge_positional_postings(
    postings_pos: DataFrame,
    changed_docs: DataFrame,
    deleted_ids: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Positional twin of merge_postings: identical anti-join +
    fresh-build topology (drop touched ids broadcast-anti, rebuild the
    touched docs' position lists, pass everything else through)."""
    touched = (
        changed_docs.select(id_col)
        .unionByName(deleted_ids.select(id_col))
        .distinct()
    )
    kept = postings_pos.join(F.broadcast(touched), id_col, "left_anti")
    fresh = build_positional_index(changed_docs, id_col, text_col)
    return kept.unionByName(fresh.select(*kept.columns))
