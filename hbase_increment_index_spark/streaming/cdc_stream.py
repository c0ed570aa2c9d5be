"""Streaming index maintenance — the reference's timer-flush loop as
Structured Streaming (SURVEY.md §2.1 S8/S9; reference
SolrIndexTools.java:47-82, application.properties:10-16).

Mapping:

  30 s Timer commit            → trigger(processingTime='30 seconds')
  10k add / 2k delete buffers  → micro-batch contents (Spark batches)
  commit-only-if-data          → foreachBatch no-ops on empty batches
  Semaphore single-writer      → micro-batches are serialized per query
  crash loses buffers          → checkpointLocation (exactly-once)

The merge inside foreachBatch is the same ``merge_state`` algebra the
batch path uses (its touched half, ``merge_slice``) — one code path for
both, which is the point of Structured Streaming. The persisted index
is the compacted CELL STATE (with tombstones), so conflict resolution
is by cell (ts, seq) and micro-batch boundaries can never change the
result; the flat document table is the derived serving view.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from hbase_increment_index_spark.cdc.index_builder import (
    compact_state,
    documents_from_state,
    merge_slice,
    merge_state,
)

CELL_LOG_DDL = (
    "op string, row_key string, family string, qualifier string, "
    "value string, ts timestamp, seq long"
)


def read_cell_stream(
    spark: SparkSession, log_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a directory of CDC-log parquet files —
    the stand-in for the coprocessor's hook feed. maxFilesPerTrigger is
    the back-pressure knob (the analogue of the reference's batch
    thresholds, application.properties:14,16)."""
    return (
        spark.readStream.schema(CELL_LOG_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(log_dir)
    )


def start_index_maintenance(
    cell_stream: DataFrame,
    index_path: str,
    checkpoint_path: str,
    qualifiers: list[str],
    trigger_seconds: int | None = 30,
    available_now: bool = False,
    postings_field: str | None = None,
    facet_field: str | None = None,
    rollup_key_field: str | None = None,
    rollup_value_field: str | None = None,
) -> StreamingQuery:
    """Continuously fold CDC micro-batches into the index.

    Each micro-batch runs ``merge_microbatch``: it reads, shuffles and
    re-derives only the batch's touched row keys — their state cells
    (broadcast semi-join, ``merge_slice``), their documents and, when
    enabled, their postings and facet/rollup contributions. The rest of
    every table passes through a broadcast anti-join unshuffled. Each
    table is then written to a staging directory and swapped in by
    rename. Plain parquet rewrites whole directories, so the bytes
    written per commit are still O(index); a MERGE-capable table format
    (Delta/Iceberg), or ``merge_microbatch_cow``'s bucketed layout,
    would make them O(batch). Plain parquet keeps this
    container-dependency-free.

    With ``postings_field`` set, the FULL-TEXT index is maintained too
    (the reference's actual job — keep Solr in sync with the row store,
    reference README.md:5-10): postings of the touched row keys drop
    through a broadcast anti-join and the delta's fresh postings append
    (search.inverted.merge_postings). Written to
    ``index_path + "_postings"``.

    With ``facet_field`` set, a materialized facet-count view over that
    document field is maintained as well (the aggregate analogue — a
    Solr facet over the live index): the touched docs' pre-image counts
    are journaled before any swap, the delta's counts are added, and
    the ±delta merges into ``index_path + "_facets"`` via groupBy-sum
    with zero-count dropout. ``rollup_key_field``/``rollup_value_field``
    maintain a (count, Σvalue) view at ``index_path + "_rollup"`` the
    same way. Its ``sum_value`` is 0, not SQL's null, for a group
    none of whose docs carries a value: the ±delta fold cannot tell
    "no values left" from "values summing to 0", so a fresh build
    agrees with it.
    """
    spark = cell_stream.sparkSession

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_microbatch(
            spark, batch, batch_id, index_path, qualifiers,
            postings_field=postings_field, facet_field=facet_field,
            rollup_key_field=rollup_key_field,
            rollup_value_field=rollup_value_field,
        )

    writer = cell_stream.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def merge_microbatch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    qualifiers: list[str],
    postings_field: str | None = None,
    facet_field: str | None = None,
    rollup_key_field: str | None = None,
    rollup_value_field: str | None = None,
) -> None:
    """One micro-batch fold — the foreachBatch body of
    ``start_index_maintenance``, module-level so recovery semantics are
    directly testable.

    Per batch, only the touched row keys are read, shuffled and
    re-derived:

    1. the touched-key set is computed once and pinned;
    2. the touched keys' current state cells are re-compacted with the
       batch (``merge_slice``) and pinned; ``documents_from_state`` of
       that slice is the document delta;
    3. each table becomes ``table ⋉̸ touched ∪ delta`` (broadcast
       anti-join): the state, the serving view at ``index_path``, and
       the postings (``merge_postings`` over the delta); the facet and
       rollup views fold ``+delta − pre-image`` into their counts;
    4. every table is written to a staging directory and swapped in by
       two FileSystem renames (live → displaced, staging → live); the
       state swaps last, so a committed state means a committed index.

    The pass-through half of step 3 is still a full read and rewrite of
    each plain-parquet table: bytes written stay O(index). It is
    coalesced, without a shuffle, to the live table's partition count,
    so a table's part-file count does not grow with the commits.

    Crash recovery: after a crash, Structured Streaming re-invokes this
    with the SAME batch. Re-merging an already-merged slice is a no-op
    (``merge_state`` resolves by cell (ts, seq)), so the state, index
    and postings are idempotent; a live table left without ``_SUCCESS``
    mid-swap is restored from its displaced copy first. A crash before
    the state's swap replays as the same merge (or, in batch 0, the
    same bootstrap) over tables some of which already hold the batch.
    The facet and rollup ``±delta`` is not idempotent, so their
    pre-image is journaled (``<view>._pre_<batch_id>``) before any
    swap, and the displaced view (``<view>._base_<batch_id>``) stays as
    the base until the commit ends: a replay folds the same delta into
    the same base. A rollup group whose docs carry no value sums to 0
    (see ``start_index_maintenance``).
    """
    if rollup_key_field is not None and rollup_value_field is None:
        raise ValueError(
            "rollup_key_field requires rollup_value_field (the summed column)"
        )
    if batch.isEmpty():  # commit-only-if-data (SolrIndexTools.java:66-67)
        return

    state_path = index_path + "_state"
    postings_path = index_path + "_postings"
    tables = [state_path, index_path] + ([postings_path] if postings_field else [])
    views = []  # (view path, grouped field, key column, summed field)
    if facet_field is not None:
        views.append((index_path + "_facets", facet_field, "facet_value", None))
    if rollup_key_field is not None:
        views.append(
            (index_path + "_rollup", rollup_key_field, "key", rollup_value_field)
        )
    fs = _Dirs(spark, index_path)
    fs.recover(tables, [v[0] for v in views])

    writes: list[tuple[DataFrame, str]] = []  # (frame, directory)
    swaps: list[tuple[str, str, str]] = []  # (live, staging, displaced)

    def stage(frame: DataFrame, live: str, displaced: str | None = None) -> None:
        staging = f"{live}._staging_{batch_id}"
        writes.append((frame, staging))
        swaps.append((live, staging, displaced or f"{live}._old_{batch_id}"))

    # Bootstrap-vs-merge is decided by an EXPLICIT existence probe of
    # the committed state (its _SUCCESS marker), never by catching read
    # errors: a transient IO failure must fail the micro-batch
    # (checkpoint retries it) rather than silently reset the state.
    merging = fs.committed(state_path)
    if merging:
        touched = batch.select("row_key").distinct().localCheckpoint(eager=True)
        ids = touched.withColumnRenamed("row_key", "id")
        state = spark.read.parquet(state_path)
        new_slice = merge_slice(state, batch, touched).localCheckpoint(eager=True)
    else:
        new_slice = compact_state(batch).localCheckpoint(eager=True)
    delta = documents_from_state(new_slice, qualifiers).localCheckpoint(eager=True)

    if merging:
        index = spark.read.parquet(index_path)
        new_docs = _replace_rows(index, ids, "id", delta)
    else:
        new_docs = delta
    stage(new_docs, index_path)

    if postings_field is not None:
        from hbase_increment_index_spark.search.inverted import (
            build_inverted_index,
            merge_postings,
        )

        if merging and fs.committed(postings_path):
            live = spark.read.parquet(postings_path)
            postings = _coalesce_like(
                merge_postings(
                    live, delta.select("id", postings_field), ids, "id", postings_field
                ),
                live,
            )
        else:
            postings = build_inverted_index(new_docs, "id", postings_field)
        stage(postings, postings_path)

    if merging and views:
        # the touched docs as they were before this batch, read once:
        # every view's pre-image journal and fold read the pinned slice
        old_docs = index.join(F.broadcast(ids), "id", "left_semi").localCheckpoint(
            eager=True
        )
    journals = []
    for view_path, field, key, summed in views:
        pre_path = f"{view_path}._pre_{batch_id}"
        base_path = f"{view_path}._base_{batch_id}"
        if merging and (fs.committed(view_path) or fs.committed(base_path)):
            if fs.committed(pre_path):
                pre = spark.read.parquet(pre_path)
            else:
                pre = _aggregate(old_docs, field, key, summed)
                writes.append((pre, pre_path))
            base = base_path if fs.committed(base_path) else view_path
            view = _fold(
                spark.read.parquet(base),
                _aggregate(delta, field, key, summed),
                pre,
                key,
            )
            journals.append(pre_path)
        else:
            view = _aggregate(new_docs, field, key, summed)
        stage(view, view_path, displaced=base_path)

    # the state swaps last: a committed state is the commit marker, so
    # ``merging`` implies every other table was committed before it
    if merging:
        stage(_replace_rows(state, touched, "row_key", new_slice), state_path)
    else:
        stage(new_slice, state_path)

    # every write commits before the first swap
    for frame, path in writes:
        frame.write.mode("overwrite").parquet(path)
    for live, staging, displaced in swaps:
        fs.swap(live, staging, displaced)
    # journals before displaced views: a base without its pre-image
    # marks a finished swap (see _Dirs.recover)
    for path in journals + [displaced for _, _, displaced in swaps]:
        fs.delete(path)


def _replace_rows(
    table: DataFrame, keys: DataFrame, key: str, rows: DataFrame
) -> DataFrame:
    """``table`` with the rows of ``keys`` replaced by ``rows``: the
    untouched rows pass through a broadcast anti-join and ``rows``
    append, coalesced to the table's own width."""
    kept = table.join(F.broadcast(keys), key, "left_anti")
    return _coalesce_like(kept.unionByName(rows), table)


def _coalesce_like(frame: DataFrame, table: DataFrame) -> DataFrame:
    """``frame`` coalesced, without a shuffle, to the number of scan
    partitions of ``table`` (one per small file, one per
    ``maxPartitionBytes`` of a large one), so a rewrite writes as many
    part files as the table it replaces."""
    return frame.coalesce(max(1, table.rdd.getNumPartitions()))


def _aggregate(
    docs: DataFrame, field: str, key: str, summed: str | None
) -> DataFrame:
    """Per-value (count, [Σ summed]) of ``field`` over ``docs``: the
    facet view, or with ``summed`` the rollup view (exact decimals). A
    group whose docs carry no value sums to zero, not null, so that
    ``_fold`` and a rebuild agree whatever the commit history."""
    aggs = [F.count(F.lit(1)).alias("n")]
    if summed is not None:
        total = F.sum(F.col(summed).cast("decimal(30,6)"))
        aggs.append(F.coalesce(total, F.lit(0)).alias("sum_value"))
    return docs.groupBy(F.col(field).alias(key)).agg(*aggs)


def _fold(base: DataFrame, plus: DataFrame, minus: DataFrame, key: str) -> DataFrame:
    """``base + plus − minus`` per key, dropping keys whose count falls
    to zero: the additive-aggregate IVM step (facets.merge_rollup_sums
    semantics)."""
    summed = "sum_value" in base.columns
    neg = [(-F.col("n")).cast("long").alias("n")]
    aggs = [F.sum("n").alias("n")]
    if summed:
        neg.append((-F.col("sum_value")).alias("sum_value"))
        aggs.append(F.sum("sum_value").cast("decimal(30,6)").alias("sum_value"))
    return (
        base.unionByName(plus)
        .unionByName(minus.select(key, *neg))
        .groupBy(key)
        .agg(*aggs)
        .filter(F.col("n") > 0)
    )


class _Dirs:
    """The directory moves of a commit, through the Hadoop FileSystem
    of the index path, so they work on any scheme (file://, hdfs://,
    s3a://)."""

    def __init__(self, spark: SparkSession, path: str):
        self._path = spark._jvm.org.apache.hadoop.fs.Path
        self._fs = self._path(path).getFileSystem(spark._jsc.hadoopConfiguration())

    def committed(self, path: str) -> bool:
        return bool(self._fs.exists(self._path(path, "_SUCCESS")))

    def delete(self, path: str) -> None:
        self._fs.delete(self._path(path), True)

    def rename(self, src: str, dst: str) -> None:
        if not self._fs.rename(self._path(src), self._path(dst)):
            raise OSError(f"rename {src} -> {dst} failed")

    def swap(self, live: str, staging: str, displaced: str) -> None:
        """Move ``live`` aside to ``displaced`` and ``staging`` into its
        place. A ``displaced`` copy kept from an interrupted attempt
        already holds the pre-commit table, so ``live`` is dropped."""
        if self._fs.exists(self._path(displaced)):
            self.delete(live)
        elif self._fs.exists(self._path(live)):
            self.rename(live, displaced)
        self.rename(staging, live)

    def recover(self, tables: list[str], views: list[str]) -> None:
        """Undo what an interrupted commit left behind, before a new one
        starts. Staging directories are dropped. A table without
        ``_SUCCESS`` next to a displaced ``._old_*`` copy died mid-swap
        and gets the copy back; other ``._old_*`` copies are leftovers
        of finished swaps. A view's ``._base_<id>`` without its
        ``._pre_<id>`` journal is one too; with it, the base is what the
        replay of batch ``<id>`` folds into."""
        parent = self._path(tables[0]).getParent()
        if not self._fs.exists(parent):
            return
        names = {st.getPath().getName() for st in self._fs.listStatus(parent)}
        for live in tables + views:
            prefix = self._path(live).getName() + "."
            old = []
            for name in sorted(n for n in names if n.startswith(prefix)):
                tag, _, bid = name[len(prefix):].rpartition("_")
                path = str(self._path(parent, name))
                if tag == "_staging":
                    self.delete(path)
                elif tag == "_old" and live in tables:
                    old.append(path)
                elif tag == "_base" and live in views:
                    if not self.committed(f"{live}._pre_{bid}"):
                        self.delete(path)
            if old and not self.committed(live):
                self.delete(live)
                self.rename(old.pop(), live)
            for path in old:
                self.delete(path)


def merge_microbatch_cow(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    qualifiers: list[str],
    n_buckets: int = 64,
    postings_field: str | None = None,
    shingle_field: str | None = None,
    shingle_n: int = 3,
    fingerprint_field: str | None = None,
    cluster_threshold: float | None = None,
) -> None:
    """Copy-on-write micro-batch fold — ``merge_microbatch`` with the
    full-table rewrite replaced by ``sinks.merge_upsert_parquet``:
    the cell state and the document serving view both live as
    hash-bucket-partitioned parquet, and a batch rewrites ONLY the
    bucket directories containing a touched row key. This is the
    production shape the plain-rewrite path's docstring promises
    ("a MERGE-capable table format"), delivered dependency-free:
    micro-batch cost is ∝ |batch| + impacted buckets, independent of
    accumulated index size — the reference's deferred-cost contract
    (README.md:5-10) holds even as the index grows unbounded.
    ``cluster_threshold`` (r14) additionally folds the near-dup CC
    LABEL and PAIR stores per batch (requires ``shingle_field`` — see
    the cluster section below).

    Per batch: (1) read ONLY the touched keys' current cells
    (broadcast semi-join; bucket pruning applies), (2) re-compact that
    slice + the batch through the same ``merge_state`` algebra as the
    rewrite path — out-of-order safety and tombstone retention are
    code-shared, so the two layouts can never drift — and (3) COW-merge
    the new slice back. The serving view merges the same way; touched
    keys whose row is now fully tombstoned become COW deletes.
    Exactly-once under replay for the same reason as merge_microbatch:
    re-merging an already-merged slice is idempotent by (ts, seq)."""
    from hbase_increment_index_spark.sinks import merge_upsert_parquet, read_merged_table

    state_path = index_path + "_state_cow"
    docs_path = index_path + "_docs_cow"
    postings_path = index_path + "_postings_cow"

    if batch.isEmpty():
        return
    from hbase_increment_index_spark.sinks import merged_table_exists

    touched = batch.select("row_key").distinct()
    # postings need the touched docs' OLD text (to find terms whose
    # posting lists shrink) — capture the slice before the docs table
    # is merged over; batch-bounded, so the checkpoint is tiny
    old_docs_slice = None
    _text_fields = [
        f
        for f in {postings_field, shingle_field, fingerprint_field}
        if f is not None
    ]
    if _text_fields and merged_table_exists(spark, docs_path):
        from hbase_increment_index_spark.sinks import read_merged_table as _rmt

        old_docs_slice = (
            _rmt(spark, docs_path)
            .join(F.broadcast(touched), "row_key", "left_semi")
            .select("row_key", *_text_fields)
            .localCheckpoint(eager=True)
        )
    if merged_table_exists(spark, state_path):
        old_slice = read_merged_table(spark, state_path).join(
            F.broadcast(touched), "row_key", "left_semi"
        )
        new_slice = merge_state(old_slice, batch)
    else:
        new_slice = compact_state(batch)
    # pin the batch-sized slice BEFORE the state overwrite: its lineage
    # reads the pre-merge state files, which the COW rewrite replaces —
    # the docs derivation below must not re-execute against vanished parts
    new_slice = new_slice.localCheckpoint(eager=True)
    merge_upsert_parquet(spark, state_path, new_slice, "row_key", n_buckets=n_buckets)

    # serving-view delta: docs for touched keys, deletes for touched
    # keys whose row is now fully tombstoned (documents_from_state
    # drops them, so they show up only as missing ids)
    docs_delta = documents_from_state(new_slice, qualifiers).withColumnRenamed(
        "id", "row_key"
    )
    gone = touched.join(
        F.broadcast(docs_delta.select("row_key")), "row_key", "left_anti"
    )
    cols = [c for c in docs_delta.columns if c != "row_key"]
    delta = docs_delta.withColumn("_del", F.lit(False)).unionByName(
        gone.select(
            "row_key",
            *[F.lit(None).cast(docs_delta.schema[c].dataType).alias(c) for c in cols],
            F.lit(True).alias("_del"),
        )
    )
    merge_upsert_parquet(
        spark, docs_path, delta, "row_key", n_buckets=n_buckets, delete_col="_del"
    )

    if postings_field is not None:
        # COW postings maintenance, keyed by TERM: the delta is bounded
        # by the batch's vocabulary, never the index. Touched terms =
        # terms of the touched docs' old text ∪ new text. For those
        # terms only: current posting rows are read back (directory
        # pruning on the term buckets — a ≤n_buckets isin list), rows
        # of touched DOCS dropped, fresh postings for the new text
        # appended, and terms whose posting list vanished entirely
        # become COW deletes (dynamic overwrite cannot empty a key).
        from hbase_increment_index_spark.search.inverted import build_inverted_index
        from hbase_increment_index_spark.search.tokenize import tokens

        new_docs_slice = docs_delta.select("row_key", postings_field)

        def _terms(frame: DataFrame) -> DataFrame:
            return frame.select(
                F.explode(F.array_distinct(tokens(postings_field))).alias("term")
            ).distinct()

        touched_terms = _terms(new_docs_slice)
        if old_docs_slice is not None:
            touched_terms = touched_terms.unionByName(_terms(old_docs_slice)).distinct()
        touched_terms = touched_terms.localCheckpoint(eager=True)

        if merged_table_exists(spark, postings_path):
            tt_kb = [
                r["kb"]
                for r in touched_terms.select(
                    F.pmod(F.xxhash64("term"), F.lit(n_buckets)).alias("kb")
                )
                .distinct()
                .collect()
            ]
            cur = (
                spark.read.parquet(postings_path)
                .filter(F.col("kb").isin(tt_kb))
                .drop("kb")
                .join(F.broadcast(touched_terms), "term", "left_semi")
            )
            kept = cur.join(F.broadcast(touched), "row_key", "left_anti")
            fresh = build_inverted_index(new_docs_slice, "row_key", postings_field)
            delta_p = kept.unionByName(fresh.select(*kept.columns))
        else:
            from hbase_increment_index_spark.sinks import read_merged_table as _rmt

            delta_p = build_inverted_index(
                _rmt(spark, docs_path).select("row_key", postings_field),
                "row_key",
                postings_field,
            )
        vanished = touched_terms.join(
            F.broadcast(delta_p.select("term").distinct()), "term", "left_anti"
        )
        pcols = [c for c in delta_p.columns if c != "term"]
        delta_p = delta_p.withColumn("_del", F.lit(False)).unionByName(
            vanished.select(
                "term",
                *[
                    F.lit(None).cast(delta_p.schema[c].dataType).alias(c)
                    for c in pcols
                ],
                F.lit(True).alias("_del"),
            )
        )
        merge_upsert_parquet(
            spark, postings_path, delta_p, "term", n_buckets=n_buckets, delete_col="_del"
        )

    if shingle_field is not None:
        # COW shingle-postings maintenance (the e2s dedup-index store,
        # folded by the SAME micro-batch as state/docs/postings):
        # rows (sh, row_key) keyed by shingle. The COW sink's
        # hash-bucket column is the SAME formula as the e2s store's
        # (pmod(xxhash64(sh), n)) but under a different name and
        # modulus — partition column 'kb' with THIS function's
        # n_buckets (default 64), vs the serve functions' 'shb' with
        # their own n_buckets (default SHINGLE_STORE_BUCKETS=32). To
        # serve pairing off the merged table, go through
        # pipeline.dedup.read_cow_shingle_store (renames kb->shb) and
        # pass THIS n_buckets to the serve call: the bucket prune is a
        # pure function of the shingle only under the same modulus.
        # Touched shingles = old text's ∪ new text's; their buckets
        # prune the read-back; shingles whose last posting left become
        # COW deletes. The (row_key, n_sh) sizes side table folds in
        # the same pass.
        from hbase_increment_index_spark.pipeline.dedup import shingle_grams

        shingles_path = index_path + "_shingles_cow"
        shsizes_path = index_path + "_shsizes_cow"
        new_sh_slice = docs_delta.select("row_key", shingle_field)

        def _sh_postings(frame: DataFrame) -> DataFrame:
            return frame.select(
                "row_key",
                F.explode(shingle_grams(shingle_field, shingle_n)).alias("sh"),
            ).distinct()

        fresh_s = _sh_postings(new_sh_slice).localCheckpoint(eager=True)
        touched_sh = fresh_s.select("sh").distinct()
        if old_docs_slice is not None:
            touched_sh = touched_sh.unionByName(
                _sh_postings(old_docs_slice).select("sh")
            ).distinct()
        touched_sh = touched_sh.localCheckpoint(eager=True)

        if merged_table_exists(spark, shingles_path):
            sh_kb = [
                r["kb"]
                for r in touched_sh.select(
                    F.pmod(F.xxhash64("sh"), F.lit(n_buckets)).alias("kb")
                )
                .distinct()
                .collect()
            ]
            cur_s = (
                spark.read.parquet(shingles_path)
                .filter(F.col("kb").isin(sh_kb))
                .drop("kb")
                .join(F.broadcast(touched_sh), "sh", "left_semi")
            )
            kept_s = cur_s.join(F.broadcast(touched), "row_key", "left_anti")
            delta_s = kept_s.unionByName(fresh_s.select(*kept_s.columns))
        else:
            from hbase_increment_index_spark.sinks import read_merged_table as _rmt

            delta_s = _sh_postings(
                _rmt(spark, docs_path).select("row_key", shingle_field)
            )
        vanished_s = touched_sh.join(
            F.broadcast(delta_s.select("sh").distinct()), "sh", "left_anti"
        )
        scols = [c for c in delta_s.columns if c != "sh"]
        delta_s = delta_s.withColumn("_del", F.lit(False)).unionByName(
            vanished_s.select(
                "sh",
                *[
                    F.lit(None).cast(delta_s.schema[c].dataType).alias(c)
                    for c in scols
                ],
                F.lit(True).alias("_del"),
            )
        )
        merge_upsert_parquet(
            spark, shingles_path, delta_s, "sh", n_buckets=n_buckets, delete_col="_del"
        )

        # sizes side table: fresh counts for touched docs; touched docs
        # with no surviving shingles (incl. deleted rows) COW-delete out
        fresh_sizes = fresh_s.groupBy("row_key").agg(
            F.count(F.lit(1)).alias("n_sh")
        )
        if merged_table_exists(spark, shsizes_path):
            gone_sz = touched.join(
                F.broadcast(fresh_sizes.select("row_key")), "row_key", "left_anti"
            )
            delta_sz = fresh_sizes.withColumn("_del", F.lit(False)).unionByName(
                gone_sz.select(
                    "row_key",
                    F.lit(None).cast("long").alias("n_sh"),
                    F.lit(True).alias("_del"),
                )
            )
        else:
            from hbase_increment_index_spark.sinks import read_merged_table as _rmt

            delta_sz = (
                _sh_postings(_rmt(spark, docs_path).select("row_key", shingle_field))
                .groupBy("row_key")
                .agg(F.count(F.lit(1)).alias("n_sh"))
                .withColumn("_del", F.lit(False))
            )
        merge_upsert_parquet(
            spark, shsizes_path, delta_sz, "row_key", n_buckets=n_buckets,
            delete_col="_del",
        )

    if fingerprint_field is not None:
        # COW fingerprint-store maintenance (the e1h exact-dedup store,
        # folded by the SAME micro-batch): rows (fp, row_key) — one per
        # live doc — KEYED BY fp, so the partition column kb =
        # pmod(xxhash64(fp), n_buckets) IS the e1h fpb layout under the
        # COW sink's column name (read back via
        # pipeline.dedup.read_cow_fingerprint_store and probe with THIS
        # n_buckets — the same modulus contract as the shingle store
        # above). fp is NOT unique (exact duplicates share it), so the
        # fold follows the shingle discipline: current rows of touched
        # fps read back through the bucket prune, touched DOCS' rows
        # dropped, fresh fps appended, fps whose last doc left become
        # COW deletes. A doc's fp change removes its old row (old fp
        # captured from the pre-merge docs slice) and adds the new one.
        from hbase_increment_index_spark.pipeline.text import (
            fingerprint as _fpr,
        )

        fps_path = index_path + "_fps_cow"
        fresh_f = docs_delta.select(
            _fpr(fingerprint_field).alias("fp"), "row_key"
        ).localCheckpoint(eager=True)
        touched_f = fresh_f.select("fp").distinct()
        if old_docs_slice is not None:
            touched_f = touched_f.unionByName(
                old_docs_slice.select(_fpr(fingerprint_field).alias("fp"))
            ).distinct()
        touched_f = touched_f.localCheckpoint(eager=True)
        if merged_table_exists(spark, fps_path):
            f_kb = [
                r["kb"]
                for r in touched_f.select(
                    F.pmod(F.xxhash64("fp"), F.lit(n_buckets)).alias("kb")
                )
                .distinct()
                .collect()
            ]
            cur_f = (
                spark.read.parquet(fps_path)
                .filter(F.col("kb").isin(f_kb))
                .drop("kb")
                .join(F.broadcast(touched_f), "fp", "left_semi")
                .join(F.broadcast(touched), "row_key", "left_anti")
            )
            delta_f = cur_f.unionByName(fresh_f.select(*cur_f.columns))
        else:
            from hbase_increment_index_spark.sinks import (
                read_merged_table as _rmt,
            )

            delta_f = _rmt(spark, docs_path).select(
                _fpr(fingerprint_field).alias("fp"), "row_key"
            )
        vanished_f = touched_f.join(
            F.broadcast(delta_f.select("fp").distinct()), "fp", "left_anti"
        )
        fcols = [c for c in delta_f.columns if c != "fp"]
        delta_f = delta_f.withColumn("_del", F.lit(False)).unionByName(
            vanished_f.select(
                "fp",
                *[
                    F.lit(None).cast(delta_f.schema[c].dataType).alias(c)
                    for c in fcols
                ],
                F.lit(True).alias("_del"),
            )
        )
        merge_upsert_parquet(
            spark, fps_path, delta_f, "fp", n_buckets=n_buckets, delete_col="_del"
        )

    if cluster_threshold is not None:
        # COW near-dup CLUSTER maintenance (the CC label + pair stores,
        # folded by the SAME micro-batch): labels (doc, component) keyed
        # by doc, pairs (id_a, id_b) keyed by a composed pk. The fold is
        # pipeline.dedup.commit_cluster_state — delete-then-merge over
        # the COW shingle store just merged above (post-merge store
        # minus touched ≡ pre-merge store minus touched, so ordering
        # after the shingle merge is exact), with the PERSISTED pair
        # store serving the delete step's survivor re-pairing (two
        # broadcast semi-joins, zero pairing jobs) and the batch's
        # incident pairs folding into both tables. Per-batch cost: the
        # delta pairing ∝ |batch|, plus one label-table-scale streaming
        # pass for the relabel/delta (broadcast lookups, no shuffle on
        # the label table); the COW write rewrites only the buckets the
        # delta touches. Merge ≡ rebuild over the final corpus is
        # pytest-pinned (tests/test_round14_ops.py).
        if shingle_field is None:
            raise ValueError(
                "cluster_threshold requires shingle_field (the CC fold "
                "pairs from the COW shingle store)"
            )
        from hbase_increment_index_spark.pipeline.dedup import (
            commit_cluster_state,
            connected_components,
            ngram_jaccard_pairs_from_index,
            read_cow_shingle_store,
        )

        labels_path = index_path + "_cc_labels_cow"
        pairs_path = index_path + "_cc_pairs_cow"
        postings_cc, sizes_cc = read_cow_shingle_store(
            spark, shingles_path, shsizes_path
        )
        pk = F.concat_ws(
            "\x1f", F.col("id_a").cast("string"), F.col("id_b").cast("string")
        )
        if merged_table_exists(spark, labels_path):
            stored_lab = read_merged_table(spark, labels_path).select(
                "doc", "component"
            )
            stored_prs = read_merged_table(spark, pairs_path).select(
                "id_a", "id_b"
            )
            state = commit_cluster_state(
                stored_lab,
                postings_cc,
                sizes_cc,
                docs_delta.select("row_key", shingle_field),
                gone.select("row_key"),
                "row_key",
                shingle_field,
                n=shingle_n,
                threshold=cluster_threshold,
                n_buckets=n_buckets,
                store_pairs=stored_prs,
            )
            post = state["labels"].localCheckpoint(eager=True)
            cmp = stored_lab.select(
                "doc", F.col("component").alias("_old")
            ).join(post, "doc", "full_outer")
            comp_t = post.schema["component"].dataType
            ups_l = (
                cmp.filter(
                    F.col("component").isNotNull()
                    & (
                        F.col("_old").isNull()
                        | (F.col("_old") != F.col("component"))
                    )
                )
                .select("doc", "component")
                .withColumn("_del", F.lit(False))
            )
            dels_l = cmp.filter(
                F.col("component").isNull() & F.col("_old").isNotNull()
            ).select(
                "doc",
                F.lit(None).cast(comp_t).alias("component"),
                F.lit(True).alias("_del"),
            )
            merge_upsert_parquet(
                spark, labels_path, ups_l.unionByName(dels_l), "doc",
                n_buckets=n_buckets, delete_col="_del",
            )
            # pair-store delta: every stored pair with a touched
            # endpoint dies (old identity); the batch's incident pairs
            # upsert. A pair present on BOTH sides (an update that kept
            # the similarity) must land as ONE upsert row — dedupe the
            # delete half against the upsert keys.
            ups_p = state["new_pairs"].withColumn("_del", F.lit(False))
            dead_a = stored_prs.join(
                F.broadcast(touched.withColumnRenamed("row_key", "id_a")),
                "id_a",
                "left_semi",
            )
            dead_b = stored_prs.join(
                F.broadcast(touched.withColumnRenamed("row_key", "id_b")),
                "id_b",
                "left_semi",
            )
            dels_p = (
                dead_a.unionByName(dead_b)
                .distinct()
                .withColumn("pk", pk)
                .join(
                    F.broadcast(ups_p.select(pk.alias("pk"))), "pk", "left_anti"
                )
                .drop("pk")
                .withColumn("_del", F.lit(True))
            )
            merge_upsert_parquet(
                spark, pairs_path,
                ups_p.unionByName(dels_p).withColumn("pk", pk), "pk",
                n_buckets=n_buckets, delete_col="_del",
            )
        else:
            # bootstrap: pair the CURRENT corpus once from the COW
            # shingle store (no corpus text in the plan), label it, and
            # persist both tables
            pairs0 = (
                ngram_jaccard_pairs_from_index(
                    postings_cc, sizes_cc, threshold=cluster_threshold
                )
                .select("id_a", "id_b")
                .localCheckpoint(eager=True)
            )
            labels0 = connected_components(pairs0)
            merge_upsert_parquet(
                spark, labels_path,
                labels0.withColumn("_del", F.lit(False)), "doc",
                n_buckets=n_buckets, delete_col="_del",
            )
            merge_upsert_parquet(
                spark, pairs_path,
                pairs0.withColumn("pk", pk).withColumn("_del", F.lit(False)),
                "pk", n_buckets=n_buckets, delete_col="_del",
            )


def sessionized_event_counts(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time session windows over the stream (the streaming twin of
    the batch q21b_session_window query): sessions close ``gap`` after
    their last event; the watermark bounds state for late data. Same
    [EXT] streaming-polish tier as windowed_event_counts."""
    from pyspark.sql.types import TimestampNTZType

    if isinstance(events_stream.schema["ts"].dataType, TimestampNTZType):
        events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("sum_value"),
        )
    )


def windowed_event_counts(
    events_stream: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling-window counts with late-data handling —
    the [EXT] streaming polish beyond the reference's processing-time
    world (SURVEY.md §2.4 streaming note).

    Watermarks require TIMESTAMP (with local tz); the batch catalog
    reads events.ts as TIMESTAMP_NTZ, so cast here — the instant is
    unchanged in a UTC session and the window math is tz-consistent
    either way."""
    from pyspark.sql.types import TimestampNTZType

    if isinstance(events_stream.schema["ts"].dataType, TimestampNTZType):
        events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("sum_value"),
        )
    )


def stream_stream_purchase_attribution(
    clicks_stream: DataFrame,
    purchases_stream: DataFrame,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join — click→purchase attribution: each
    purchase joins the SAME user's clicks that happened in the
    preceding ``attribution_window``. The canonical Structured
    Streaming two-stream join: watermarks on both sides plus the
    time-bound condition let the engine discard click state older than
    (watermark + window), so state is bounded regardless of stream
    length — the scale requirement for an unbounded join.

    Both inputs are event streams shaped like the events fixture
    (event_id, ts, user_id, event_type, value); filtering to the two
    roles happens here so callers can pass the same raw stream twice.
    """
    from pyspark.sql.types import TimestampNTZType

    def _norm(s: DataFrame, role: str) -> DataFrame:
        if isinstance(s.schema["ts"].dataType, TimestampNTZType):
            s = s.withColumn("ts", F.col("ts").cast("timestamp"))
        return s.select(
            F.col("event_id").alias(f"{role}_id"),
            F.col("ts").alias(f"{role}_ts"),
            F.col("user_id").alias(f"{role}_user"),
            F.col("value").alias(f"{role}_value"),
        ).withWatermark(f"{role}_ts", watermark)

    clicks = _norm(clicks_stream.filter(F.col("event_type") == "click"), "click")
    purchases = _norm(
        purchases_stream.filter(F.col("event_type") == "purchase"), "purchase"
    )
    return purchases.join(
        clicks,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {attribution_window}")
        ),
        "inner",
    ).select(
        "purchase_id", "purchase_user", "purchase_ts", "click_id", "click_ts"
    )


def dedup_within_watermark(
    events_stream: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Native streaming deduplication — Spark 3.5+
    ``dropDuplicatesWithinWatermark``: one row per key among events
    whose event times fall within the watermark horizon of each other.

    This is the engine-managed twin of stateful.streaming_dedup (the
    applyInPandasWithState form): state eviction is automatic — keys
    age out once the watermark passes them — so unlike a global
    dropDuplicates on a stream, state is BOUNDED regardless of stream
    length. Use this form when "duplicate" means re-delivery within a
    bounded disorder horizon (the CDC re-delivery case, reference
    S6/S7 buffers re-adding docs); use the stateful form when the key
    set itself must persist for the life of the stream."""
    from pyspark.sql.types import TimestampNTZType

    if isinstance(events_stream.schema["ts"].dataType, TimestampNTZType):
        events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return events_stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )
