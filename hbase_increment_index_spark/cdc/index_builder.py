"""Index-table builder — the "Solr index" as a columnar Spark table
(SURVEY.md §2.1 S3/S6/S7; reference HbaseSolrIndexCoprocesser.java:40-52,
SolrIndexTools.java:121-144).

The reference builds one flat SolrInputDocument per HBase row: unique
key + one field per qualifier. Here that is a pivot of live cells into
a wide row, written as parquet. The write path replaces the
reference's whole buffering/commit apparatus:

  reference                         Spark
  ---------                         -----
  add buffer + 10k threshold        task-level columnar buffering (free)
  delete buffer + 2k threshold      anti-join in the same job
  30 s Timer commit                 batch job boundary / stream trigger
  Semaphore(1) single-writer        atomic parquet job commit
  crash → buffer loss               job re-run, exactly-once output

Scale: ``documents_from_cells`` is one shuffle (the pivot groupBy).
Writing ``partitionBy`` a low-cardinality field gives partition
pruning on the read side; repartitioning by the unique key before
write gives bucketing-like locality for later point lookups/merges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hbase_increment_index_spark.cdc.compaction import live_cells


def documents_from_cells(cell_log: DataFrame, qualifiers: list[str]) -> DataFrame:
    """Pivot live cells into one flat document row per row_key
    (rowkey → ``id`` + one string field per qualifier), the exact
    document shape of reference HbaseSolrIndexCoprocesser.java:40-50.

    ``qualifiers`` must be the explicit field list: passing pivot
    values up front avoids an extra distinct-scan job and keeps the
    output schema stable (a requirement for any real index).
    """
    live = live_cells(cell_log)
    return (
        live.groupBy(F.col("row_key").alias("id"))
        .pivot("qualifier", qualifiers)
        .agg(F.first("value"))
    )


def write_index(
    df: DataFrame,
    path: str,
    key_col: str = "id",
    partition_by: str | None = None,
    n_buckets: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write the index table. Repartitioning by the unique key keeps
    each key in exactly one file (point-lookup locality, merge-friendly);
    ``partition_by`` adds directory-level pruning for a facet field."""
    if n_buckets:
        df = df.repartition(n_buckets, F.col(key_col))
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)


def compact_state(cell_log: DataFrame) -> DataFrame:
    """The index's merge substrate: latest event per (row_key, family,
    qualifier), INCLUDING row tombstones (deletes carry qualifier NULL,
    so the newest delete survives as its own 'cell').

    Key property (HBase's own storage model — cells carry versions,
    tombstones persist until compaction): the row-level latest event is
    always among the per-cell latest events, so
    ``live_cells(compact_state(log)) == live_cells(log)`` and
    ``compact_state`` is idempotent. That makes state merging exact and
    associative — micro-batch boundaries can never change the result
    (property-tested in tests/test_properties.py).
    """
    from hbase_increment_index_spark.cdc.compaction import latest_per_cell

    return latest_per_cell(cell_log)


def merge_slice(
    state: DataFrame, increment_cells: DataFrame, touched: DataFrame
) -> DataFrame:
    """The part of ``merge_state`` that changes: the state's cells of
    the increment's row keys, re-compacted together with the increment.
    It holds every cell of every touched key, so it is the whole new
    state of those keys. ``touched`` is the increment's distinct
    ``row_key`` set; a caller that reuses it passes it in pinned, so it
    is computed once."""
    affected = state.join(F.broadcast(touched), "row_key", "left_semi")
    return compact_state(affected.unionByName(increment_cells))


def merge_state(state: DataFrame, increment_cells: DataFrame) -> DataFrame:
    """Fold one micro-batch of CDC cells into the compacted cell state —
    the batch equivalent of one reference commit cycle
    (SolrIndexTools.java:51-82), but conflict resolution is by cell
    (ts, seq), not arrival order, so out-of-order delivery is safe.

    Plan: ``state ⋉̸ touched ∪ merge_slice``. Rows untouched by the
    increment pass through an anti-join against the (small, broadcast)
    touched-key set, so the state table is never shuffled; only the
    touched slice is re-compacted. What a write of the result costs is
    up to the storage: a plain parquet directory is rewritten whole.
    """
    touched = increment_cells.select("row_key").distinct()
    untouched = state.join(F.broadcast(touched), "row_key", "left_anti")
    return untouched.unionByName(merge_slice(state, increment_cells, touched))


def documents_from_state(state: DataFrame, qualifiers: list[str]) -> DataFrame:
    """Serving view over the cell state: identical to
    ``documents_from_cells`` (a compacted state is itself a valid cell
    log — see compact_state).

    A document depends only on its own key's cells, so applied to a
    slice that holds all cells of some keys (``merge_slice``) this
    yields exactly those keys' documents, and none for a key whose row
    is tombstoned: the delta a commit swaps into the serving view."""
    return documents_from_cells(state, qualifiers)
