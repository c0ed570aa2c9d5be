"""Streaming index maintenance: the reference's coprocessor+timer loop
(SolrIndexTools.java:47-82) as Structured Streaming, verified against
the batch path on the same mutations."""

from __future__ import annotations

import datetime as dt
import tempfile

import pytest
from pyspark.sql import functions as F

from hbase_increment_index_spark.cdc.index_builder import documents_from_cells
from hbase_increment_index_spark.streaming.cdc_stream import (
    read_cell_stream,
    start_index_maintenance,
    windowed_event_counts,
)

SCHEMA = (
    "op string, row_key string, family string, qualifier string, "
    "value string, ts timestamp, seq long"
)


def _ts(s: int):
    return dt.datetime(2024, 1, 1, 0, 0, s)


@pytest.fixture()
def dirs():
    with tempfile.TemporaryDirectory() as d:
        yield f"{d}/log", f"{d}/index", f"{d}/ckpt"


def test_stream_matches_batch(spark, dirs):
    log_dir, index_path, ckpt = dirs
    batch1 = [
        ("put", "A", "cf", "name", "v1", _ts(1), 1),
        ("put", "B", "cf", "name", "b1", _ts(2), 2),
    ]
    batch2 = [
        ("put", "A", "cf", "name", "v2", _ts(3), 3),   # overwrite A
        ("delete", "B", "cf", None, None, _ts(4), 4),  # drop B
        ("put", "C", "cf", "name", "c1", _ts(5), 5),   # new C
    ]
    spark.createDataFrame(batch1, SCHEMA).write.parquet(f"{log_dir}/b1")
    spark.createDataFrame(batch2, SCHEMA).write.parquet(f"{log_dir}/b2")

    stream = read_cell_stream(spark, f"{log_dir}/*", max_files_per_trigger=1)
    q = start_index_maintenance(
        stream, index_path, ckpt, qualifiers=["name"], available_now=True
    )
    q.awaitTermination(120)

    got = {r["id"]: r["name"] for r in spark.read.parquet(index_path).collect()}

    # batch reference: same mutations in one pass
    all_cells = spark.createDataFrame(batch1 + batch2, SCHEMA)
    want = {r["id"]: r["name"] for r in documents_from_cells(all_cells, ["name"]).collect()}

    assert got == want == {"A": "v2", "C": "c1"}


def test_restart_resumes_from_checkpoint(spark, dirs):
    """Exactly-once across restarts: stop the maintenance query, append
    new CDC files, restart with the SAME checkpoint — already-processed
    files are not re-folded, new ones are, and a restart with no new
    data leaves the index byte-identical (the crash-safety the
    reference's in-memory buffers lack, README.md:19-20)."""
    log_dir, index_path, ckpt = dirs
    batch1 = [
        ("put", "A", "cf", "name", "v1", _ts(1), 1),
        ("put", "B", "cf", "name", "b1", _ts(2), 2),
    ]
    batch2 = [
        ("put", "A", "cf", "name", "v2", _ts(3), 3),
        ("delete", "B", "cf", None, None, _ts(4), 4),
        ("put", "C", "cf", "name", "c1", _ts(5), 5),
    ]
    spark.createDataFrame(batch1, SCHEMA).write.parquet(f"{log_dir}/b1")

    def run_to_end():
        q = start_index_maintenance(
            read_cell_stream(spark, f"{log_dir}/*", max_files_per_trigger=1),
            index_path,
            ckpt,
            qualifiers=["name"],
            available_now=True,
        )
        q.awaitTermination(120)

    run_to_end()  # processes b1 only
    assert {r["id"]: r["name"] for r in spark.read.parquet(index_path).collect()} == {
        "A": "v1",
        "B": "b1",
    }

    spark.createDataFrame(batch2, SCHEMA).write.parquet(f"{log_dir}/b2")
    run_to_end()  # resumes: folds b2 on top of committed state, not b1 again
    want = {
        r["id"]: r["name"]
        for r in documents_from_cells(
            spark.createDataFrame(batch1 + batch2, SCHEMA), ["name"]
        ).collect()
    }
    got = {r["id"]: r["name"] for r in spark.read.parquet(index_path).collect()}
    assert got == want == {"A": "v2", "C": "c1"}

    run_to_end()  # no new files -> no-op restart, state untouched
    again = {r["id"]: r["name"] for r in spark.read.parquet(index_path).collect()}
    assert again == want


def test_crash_midbatch_replay_is_exactly_once(spark, dirs):
    """Crash-recovery (SCALE.md's exactly-once claim): if the process
    dies AFTER a micro-batch's sink writes but BEFORE its checkpoint
    commit — the worst crash point — Structured Streaming re-invokes
    the foreachBatch body with the SAME batch on restart. Replay that
    exact scenario through merge_microbatch (the module-level
    foreachBatch body): fold the last batch a second time over the
    already-merged state, with a half-written staging dir left behind
    by the 'crash', and assert state + docs + postings are identical
    to the uninterrupted single run."""
    import os
    import shutil

    from hbase_increment_index_spark.streaming.cdc_stream import merge_microbatch

    log_dir, index_path, ckpt = dirs
    batch1 = [
        ("put", "A", "cf", "name", "v1", _ts(1), 1),
        ("put", "B", "cf", "name", "b1", _ts(2), 2),
    ]
    batch2 = [
        ("put", "A", "cf", "name", "v2", _ts(3), 3),
        ("delete", "B", "cf", None, None, _ts(4), 4),
        ("put", "C", "cf", "name", "c1", _ts(5), 5),
    ]
    spark.createDataFrame(batch1, SCHEMA).write.parquet(f"{log_dir}/b1")
    spark.createDataFrame(batch2, SCHEMA).write.parquet(f"{log_dir}/b2")

    q = start_index_maintenance(
        read_cell_stream(spark, f"{log_dir}/*", max_files_per_trigger=1),
        index_path,
        ckpt,
        qualifiers=["name"],
        available_now=True,
        postings_field="name",
    )
    q.awaitTermination(120)  # uninterrupted run: all batches committed

    def snapshot():
        docs = {r["id"]: r["name"] for r in spark.read.parquet(index_path).collect()}
        post = {
            tuple(r)
            for r in spark.read.parquet(index_path + "_postings")
            .select("term", "id", "tf")
            .collect()
        }
        state = {
            tuple(r)
            for r in spark.read.parquet(index_path + "_state")
            .select("op", "row_key", "family", "qualifier", "value")
            .collect()
        }
        return docs, post, state

    snap = snapshot()

    # "crash" artifacts: a half-written staging dir must not break the
    # replay (it is namespaced by batch_id and ignore_errors-cleaned)
    os.makedirs(index_path + "_state._staging_99", exist_ok=True)

    # recovery: the engine re-delivers the last batch to the same body
    merge_microbatch(
        spark,
        spark.createDataFrame(batch2, SCHEMA),
        batch_id=99,
        index_path=index_path,
        qualifiers=["name"],
        postings_field="name",
    )

    assert snapshot() == snap
    assert snap[0] == {"A": "v2", "C": "c1"}
    shutil.rmtree(index_path + "_state._staging_99", ignore_errors=True)


def test_incremental_postings_maintenance(spark, dirs):
    """With postings_field set, the full-text index is maintained
    incrementally per micro-batch and ends identical to a from-scratch
    build over the final document table."""
    from hbase_increment_index_spark.search.inverted import build_inverted_index

    log_dir, index_path, ckpt = dirs
    batch1 = [
        ("put", "A", "cf", "name", "apple pie", _ts(1), 1),
        ("put", "B", "cf", "name", "banana bread", _ts(2), 2),
    ]
    batch2 = [
        ("put", "A", "cf", "name", "apple tart", _ts(3), 3),   # reindex A
        ("delete", "B", "cf", None, None, _ts(4), 4),          # drop B's postings
        ("put", "C", "cf", "name", "cherry cake", _ts(5), 5),
    ]
    spark.createDataFrame(batch1, SCHEMA).write.parquet(f"{log_dir}/b1")
    spark.createDataFrame(batch2, SCHEMA).write.parquet(f"{log_dir}/b2")

    q = start_index_maintenance(
        read_cell_stream(spark, f"{log_dir}/*", max_files_per_trigger=1),
        index_path,
        ckpt,
        qualifiers=["name"],
        available_now=True,
        postings_field="name",
    )
    q.awaitTermination(120)

    got = {
        tuple(r)
        for r in spark.read.parquet(index_path + "_postings")
        .select("term", "id", "tf")
        .collect()
    }
    want = {
        tuple(r)
        for r in build_inverted_index(spark.read.parquet(index_path), "id", "name")
        .select("term", "id", "tf")
        .collect()
    }
    assert got == want
    terms = {t for t, _, _ in got}
    assert "tart" in terms and "pie" not in terms and "banana" not in terms


def test_committed_state_probe(spark, tmp_path):
    # bootstrap-vs-merge is decided by an explicit probe, not a bare
    # except around the read (ADVICE r1): missing dir and half-written
    # dir (no _SUCCESS) both read as "no committed state"
    from hbase_increment_index_spark.streaming.cdc_stream import _Dirs

    p = str(tmp_path / "state")
    fs = _Dirs(spark, p)
    assert fs.committed(p) is False
    import os

    os.makedirs(p)  # directory exists but no _SUCCESS -> still absent
    assert fs.committed(p) is False
    spark.range(1).write.mode("overwrite").parquet(p)
    assert fs.committed(p) is True


def test_windowed_event_counts_streaming(spark, sf_dir, tmp_path):
    # rate-limited file stream over the events fixture, event-time windows
    from hbase_increment_index_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events_stream")
    events.write.parquet(src)

    stream = (
        spark.readStream.schema(events.schema).option("maxFilesPerTrigger", "4").parquet(src)
    )
    agg = windowed_event_counts(stream, window_duration="1 day", watermark="2 days")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT sum(n) AS total FROM win_counts").collect()[0]["total"]
    assert got == events.count()


def test_sessionized_event_counts_matches_batch(spark, sf_dir, tmp_path):
    # streaming session windows over micro-batched files == batch
    # session_window over the same events
    from hbase_increment_index_spark.catalog import load_table
    from hbase_increment_index_spark.streaming.cdc_stream import sessionized_event_counts

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "ev_sessions")
    events.write.parquet(src)
    stream = (
        spark.readStream.schema(events.schema).option("maxFilesPerTrigger", "4").parquet(src)
    )
    agg = sessionized_event_counts(stream, gap="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT count(*) AS n_sessions, sum(n) AS total FROM sess_counts"
    ).collect()[0]

    batch = (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .count()
    )
    assert got["total"] == events.count()
    assert got["n_sessions"] == batch.count()


def test_incremental_facet_maintenance(spark, dirs):
    """With facet_field set, a materialized facet-count view is
    maintained per micro-batch (pre-image counts subtracted, post-image
    added, zero-count values dropped) and ends identical to a facet
    computed fresh over the final document table."""
    log_dir, index_path, ckpt = dirs
    batch1 = [
        ("put", "A", "cf", "cat", "fruit", _ts(1), 1),
        ("put", "B", "cf", "cat", "fruit", _ts(2), 2),
        ("put", "C", "cf", "cat", "veg", _ts(3), 3),
    ]
    batch2 = [
        ("put", "A", "cf", "cat", "veg", _ts(4), 4),    # fruit -> veg move
        ("delete", "B", "cf", None, None, _ts(5), 5),   # last other fruit gone
        ("put", "D", "cf", "cat", "grain", _ts(6), 6),  # brand-new value
    ]
    spark.createDataFrame(batch1, SCHEMA).write.parquet(f"{log_dir}/b1")
    spark.createDataFrame(batch2, SCHEMA).write.parquet(f"{log_dir}/b2")

    q = start_index_maintenance(
        read_cell_stream(spark, f"{log_dir}/*", max_files_per_trigger=1),
        index_path,
        ckpt,
        qualifiers=["cat"],
        available_now=True,
        facet_field="cat",
    )
    q.awaitTermination(120)

    got = {
        r["facet_value"]: r["n"]
        for r in spark.read.parquet(index_path + "_facets").collect()
    }
    want = {
        r["cat"]: r["cnt"]
        for r in spark.read.parquet(index_path)
        .groupBy("cat")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == want == {"veg": 2, "grain": 1}  # 'fruit' dropped entirely


def test_watermark_drops_late_data_append_mode(spark, tmp_path):
    # Watermark guarantee is one-directional: data later than the
    # delay MAY still aggregate while the window state lives. The
    # strict drop happens once state is evicted — so: batch the
    # stream so the day-1 window is evicted+emitted (batch 3, after
    # the watermark passes its end), THEN replay a day-1 event. If
    # the engine did not drop it, append mode would re-open the
    # window and emit a SECOND day-1 row; a single (day-1, n=1) row
    # proves the drop.
    import datetime as dt
    import os
    import time as _time

    from hbase_increment_index_spark.streaming.cdc_stream import windowed_event_counts

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    src = str(tmp_path / "late_src")
    os.makedirs(src)

    def day(d, h=12):
        return dt.datetime(2024, 1, d, h, 0, 0)

    batches = [
        [(1, day(1), 1, "click", 1.0)],   # open day-1 window
        [(2, day(5), 1, "click", 1.0)],   # watermark (after) -> day 3
        [(3, day(6), 1, "click", 1.0)],   # batch runs WITH day-3 mark:
                                          # day-1 window evicted, emitted
        [(4, day(1, 13), 1, "click", 1.0)],  # late replay: state gone -> drop
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)  # distinct mtimes: file source preserves order

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long, "
                                "event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = windowed_event_counts(stream, window_duration="1 day", watermark="2 days")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_drop")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT window.start AS ws, n FROM late_drop ORDER BY ws"
    ).collect()
    # exactly one emitted row: the day-1 window with ONLY the on-time
    # event. No duplicate day-1 row (late replay dropped), and the
    # still-open day-5/day-6 windows are unemitted.
    assert [(r["ws"], r["n"]) for r in rows] == [(dt.datetime(2024, 1, 1), 1)]


def test_stream_stream_attribution_matches_batch(spark, sf_dir, tmp_path):
    # streaming click→purchase interval join == the same join in batch
    from hbase_increment_index_spark.catalog import load_table
    from hbase_increment_index_spark.streaming.cdc_stream import (
        stream_stream_purchase_attribution,
    )

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "attr_src")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)

    joined = stream_stream_purchase_attribution(
        stream, stream, attribution_window="1 hour", watermark="2 hours"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("attr")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT purchase_id, click_id FROM attr").collect()
    }

    ev = events.withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.col("user_id").alias("u"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("user_id").alias("pu"),
    )
    expect = {
        (r["purchase_id"], r["click_id"])
        for r in purchases.join(
            clicks,
            (F.col("u") == F.col("pu"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert got == expect
    assert len(got) > 0


def test_dedup_within_watermark_drops_redelivery(spark, sf_dir, tmp_path):
    """Native dropDuplicatesWithinWatermark: a re-delivered event file
    (same event_ids, within the watermark horizon) adds NOTHING; the
    output matches the batch distinct of the original."""
    from hbase_increment_index_spark.catalog import load_table
    from hbase_increment_index_spark.streaming.cdc_stream import dedup_within_watermark

    events = load_table(spark, sf_dir, "events").limit(200)
    src = str(tmp_path / "ev_dedup")
    events.write.parquet(src)
    events.write.mode("append").parquet(src)  # exact re-delivery

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    out = dedup_within_watermark(stream, keys=["event_id"], watermark="10 days")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_wm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_wm").first()
    assert got.n == got.d == events.count()


def test_incremental_rollup_maintenance(spark, dirs):
    """With rollup_key/value_field set, a (count, Σvalue) rollup view
    is maintained per micro-batch (exact decimals, ±delta merge, zero-
    count dropout) and ends identical to a rollup rebuilt fresh over
    the final document table."""
    log_dir, index_path, ckpt = dirs
    batch1 = [
        ("put", "A", "cf", "cat", "fruit", _ts(1), 1),
        ("put", "A", "cf", "price", "10.50", _ts(1), 2),
        ("put", "B", "cf", "cat", "fruit", _ts(2), 3),
        ("put", "B", "cf", "price", "4.25", _ts(2), 4),
        ("put", "C", "cf", "cat", "veg", _ts(3), 5),
        ("put", "C", "cf", "price", "2.00", _ts(3), 6),
    ]
    batch2 = [
        ("put", "A", "cf", "price", "20.00", _ts(4), 7),   # price update
        ("delete", "B", "cf", None, None, _ts(5), 8),      # drop B
        ("put", "D", "cf", "cat", "veg", _ts(6), 9),       # new veg doc
        ("put", "D", "cf", "price", "1.75", _ts(6), 10),
    ]
    spark.createDataFrame(batch1, SCHEMA).write.parquet(f"{log_dir}/b1")
    spark.createDataFrame(batch2, SCHEMA).write.parquet(f"{log_dir}/b2")

    q = start_index_maintenance(
        read_cell_stream(spark, f"{log_dir}/*", max_files_per_trigger=1),
        index_path,
        ckpt,
        qualifiers=["cat", "price"],
        available_now=True,
        rollup_key_field="cat",
        rollup_value_field="price",
    )
    q.awaitTermination(120)

    got = {
        r["key"]: (r["n"], float(r["sum_value"]))
        for r in spark.read.parquet(index_path + "_rollup").collect()
    }
    want = {
        r["cat"]: (r["n"], float(r["s"]))
        for r in spark.read.parquet(index_path)
        .groupBy("cat")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("price").cast("decimal(30,6)")).alias("s"),
        )
        .collect()
    }
    assert got == want == {"fruit": (1, 20.0), "veg": (2, 3.75)}


def test_streaming_percolation_matches_batch(spark, sf_dir, tmp_path):
    """Saved-search alerting in the stream: the percolation expression
    inside foreachBatch over micro-batched docs equals the batch run."""
    from hbase_increment_index_spark.search.tokenize import tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    src = str(tmp_path / "docs_stream")
    docs.write.parquet(src)
    saved = spark.createDataFrame(
        [(1, ["data", "stream"]), (2, ["query", "window"])], ["query_id", "req_terms"]
    )

    alerts = []

    def percolate(batch, batch_id):
        j = batch.select("doc_id", tokens("text").alias("_t")).crossJoin(
            F.broadcast(saved)
        )
        hits = j.filter(
            F.forall(F.col("req_terms"), lambda t: F.array_contains(F.col("_t"), t))
        ).select("query_id", "doc_id")
        alerts.extend((r.query_id, r.doc_id) for r in hits.collect())

    stream = (
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(percolate)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch_j = docs.select("doc_id", tokens("text").alias("_t")).crossJoin(saved)
    want = {
        (r.query_id, r.doc_id)
        for r in batch_j.filter(
            F.forall(F.col("req_terms"), lambda t: F.array_contains(F.col("_t"), t))
        ).select("query_id", "doc_id").collect()
    }
    assert set(alerts) == want and want


def test_rollup_replay_after_partial_crash(spark, dirs):
    """Crash between the index overwrite and the rollup-view write:
    the replayed batch must REUSE the journaled pre-image/base (not
    recompute from the already-merged index, which would net the delta
    to zero and lose it forever). Simulated by reproducing the exact
    on-disk state such a crash leaves, then replaying."""
    from hbase_increment_index_spark.streaming.cdc_stream import merge_microbatch

    log_dir, index_path, ckpt = dirs
    b1 = spark.createDataFrame(
        [
            ("put", "A", "cf", "cat", "x", _ts(1), 1),
            ("put", "A", "cf", "price", "10.00", _ts(1), 2),
            ("put", "B", "cf", "cat", "y", _ts(2), 3),
            ("put", "B", "cf", "price", "5.00", _ts(2), 4),
        ],
        SCHEMA,
    )
    b2 = spark.createDataFrame(
        [("put", "A", "cf", "price", "20.00", _ts(3), 5)], SCHEMA
    )
    kw = dict(
        qualifiers=["cat", "price"],
        rollup_key_field="cat",
        rollup_value_field="price",
    )
    merge_microbatch(spark, b1, 0, index_path, **kw)

    # --- reproduce the crash point for batch 1: journal written, state
    # and index already merged, view NOT yet updated
    rollup_path = index_path + "_rollup"
    touched = b2.select(F.col("row_key").alias("id")).distinct()
    (
        spark.read.parquet(index_path)
        .join(F.broadcast(touched), "id", "left_semi")
        .groupBy(F.col("cat").alias("key"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("price").cast("decimal(30,6)")).alias("sum_value"),
        )
        .write.mode("overwrite")
        .parquet(rollup_path + "._pre_1")
    )
    spark.read.parquet(rollup_path).write.mode("overwrite").parquet(
        rollup_path + "._base_1"
    )
    from hbase_increment_index_spark.cdc.index_builder import (
        documents_from_state,
        merge_state,
    )

    merged = merge_state(spark.read.parquet(index_path + "_state"), b2)
    merged.write.mode("overwrite").parquet(index_path + "_state2")
    spark.read.parquet(index_path + "_state2").write.mode("overwrite").parquet(
        index_path + "_state"
    )
    documents_from_state(
        spark.read.parquet(index_path + "_state"), ["cat", "price"]
    ).write.mode("overwrite").parquet(index_path)

    # --- replay batch 1 (what Structured Streaming does after the crash)
    merge_microbatch(spark, b2, 1, index_path, **kw)

    got = {
        r["key"]: (r["n"], float(r["sum_value"]))
        for r in spark.read.parquet(rollup_path).collect()
    }
    assert got == {"x": (1, 20.0), "y": (1, 5.0)}  # delta NOT lost

    # and a full-success double-replay is still a no-op
    merge_microbatch(spark, b2, 1, index_path, **kw)
    got2 = {
        r["key"]: (r["n"], float(r["sum_value"]))
        for r in spark.read.parquet(rollup_path).collect()
    }
    assert got2 == got


# ------------------------------------------------- commit swap and recovery

_CRASH_KW = dict(
    qualifiers=["cat", "price", "text"],
    postings_field="text",
    facet_field="cat",
    rollup_key_field="cat",
    rollup_value_field="price",
)
_CRASH_B1 = [
    ("put", "A", "cf", "cat", "x", _ts(1), 1),
    ("put", "A", "cf", "price", "10.00", _ts(1), 2),
    ("put", "A", "cf", "text", "apple pie", _ts(1), 3),
    ("put", "B", "cf", "cat", "y", _ts(2), 4),
    ("put", "B", "cf", "price", "5.00", _ts(2), 5),
    ("put", "B", "cf", "text", "banana bread", _ts(2), 6),
    ("put", "C", "cf", "cat", "x", _ts(3), 7),
    ("put", "C", "cf", "text", "cherry cake", _ts(3), 8),
]
_CRASH_B2 = [
    ("put", "A", "cf", "cat", "y", _ts(4), 9),           # A moves x -> y
    ("put", "A", "cf", "text", "apple tart", _ts(4), 10),
    ("delete", "B", "cf", None, None, _ts(5), 11),       # drop B
    ("put", "D", "cf", "cat", "x", _ts(6), 12),          # new doc
    ("put", "D", "cf", "price", "1.25", _ts(6), 13),
    ("put", "C", "cf", "text", "stale", _ts(0), 14),     # older than C's cell
]
#: the index's tables, in the order a commit swaps them in
_SUFFIXES = ("", "_postings", "_facets", "_rollup", "_state")


def _index_snapshot(spark, index_path):
    def rows(suffix, cols):
        return {tuple(r) for r in spark.read.parquet(index_path + suffix).select(*cols).collect()}

    return {
        "state": rows("_state", ["op", "row_key", "family", "qualifier", "value", "ts", "seq"]),
        "docs": rows("", ["id", "cat", "price", "text"]),
        "postings": rows("_postings", ["term", "id", "tf"]),
        "facets": rows("_facets", ["facet_value", "n"]),
        "rollup": rows("_rollup", ["key", "n", "sum_value"]),
    }


@pytest.fixture(scope="module")
def crash_layouts(spark):
    """``old``: the index after batch 0; ``new``: after batches 0 and 1
    run uninterrupted. Each crash point is assembled from the two."""
    import shutil

    from hbase_increment_index_spark.streaming.cdc_stream import merge_microbatch

    with tempfile.TemporaryDirectory() as d:
        old, new = f"{d}/old/index", f"{d}/new/index"
        merge_microbatch(spark, spark.createDataFrame(_CRASH_B1, SCHEMA), 0, old, **_CRASH_KW)
        for s in _SUFFIXES:
            shutil.copytree(old + s, new + s)
        merge_microbatch(spark, spark.createDataFrame(_CRASH_B2, SCHEMA), 1, new, **_CRASH_KW)
        yield old, new, _index_snapshot(spark, old), _index_snapshot(spark, new)


@pytest.mark.parametrize(
    "crash_point",
    [
        "bootstrap_state_without_success",
        "staged_not_swapped",
        "view_renamed_to_base",
        "state_without_success",
        "all_swapped_journals_kept",
        "pre_image_deleted_base_kept",
    ],
)
def test_commit_crash_points_replay_to_uninterrupted_result(spark, crash_layouts, tmp_path, crash_point):
    """A crash at any point of a commit leaves a layout from which
    replaying the same batch (what Structured Streaming does after a
    restart) yields exactly the uninterrupted run's state, docs,
    postings, facets and rollup. Each layout is staged by hand from the
    index before (``old``) and after (``new``) batch 1; the
    ``bootstrap_*`` one crashes batch 0, whose "before" is no index.
    Crashes between two whole swaps are left to
    ``test_commit_killed_after_each_swap_replays``."""
    import os
    import shutil

    from hbase_increment_index_spark.streaming.cdc_stream import merge_microbatch

    old, new, want_old, want_new = crash_layouts
    idx = str(tmp_path / "index")

    def swap_in(suffix, displaced="._old_1"):
        os.rename(idx + suffix, idx + suffix + displaced)
        shutil.copytree(new + suffix, idx + suffix)

    if crash_point.startswith("bootstrap_"):
        # every table but the state swapped in (there was nothing to
        # displace), the state's rename torn
        for s in _SUFFIXES[:-1]:
            shutil.copytree(old + s, idx + s)
        shutil.copytree(old + "_state", idx + "_state._staging_0")
        os.makedirs(idx + "_state/_temporary/0")
        merge_microbatch(spark, spark.createDataFrame(_CRASH_B1, SCHEMA), 0, idx, **_CRASH_KW)
        assert _index_snapshot(spark, idx) == want_old
        assert sorted(os.listdir(tmp_path)) == ["index" + s for s in sorted(_SUFFIXES)]
        return

    for s in _SUFFIXES:
        shutil.copytree(old + s, idx + s)
    # the pre-image journals, written before the first swap
    touched = spark.createDataFrame(_CRASH_B2, SCHEMA).select(F.col("row_key").alias("id")).distinct()
    old_docs = spark.read.parquet(idx).join(touched, "id", "left_semi")
    old_docs.groupBy(F.col("cat").alias("facet_value")).agg(F.count(F.lit(1)).alias("n")).write.parquet(
        idx + "_facets._pre_1"
    )
    old_docs.groupBy(F.col("cat").alias("key")).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.col("price").cast("decimal(30,6)")), F.lit(0)).alias("sum_value"),
    ).write.parquet(idx + "_rollup._pre_1")

    if crash_point == "staged_not_swapped":
        shutil.copytree(new + "_state", idx + "_state._staging_1")
        os.remove(idx + "_state._staging_1/_SUCCESS")
        os.makedirs(idx + "._staging_1/_temporary/0")
    elif crash_point == "view_renamed_to_base":
        for s in ("", "_postings"):
            swap_in(s)
        os.rename(idx + "_facets", idx + "_facets._base_1")
    else:
        for s in ("", "_postings"):
            swap_in(s)
        for s in ("_facets", "_rollup"):
            swap_in(s, displaced="._base_1")
        if crash_point == "state_without_success":
            # what an interrupted overwrite or a non-atomic rename
            # leaves: a live directory with no _SUCCESS marker
            os.rename(idx + "_state", idx + "_state._old_1")
            os.makedirs(idx + "_state/_temporary/0")
        else:
            swap_in("_state")
        if crash_point == "pre_image_deleted_base_kept":
            # clean-up deletes the journals, then the displaced copies
            # in swap order
            for s in ("_facets", "_rollup"):
                shutil.rmtree(idx + s + "._pre_1")
            for s in ("", "_postings"):
                shutil.rmtree(idx + s + "._old_1")

    merge_microbatch(spark, spark.createDataFrame(_CRASH_B2, SCHEMA), 1, idx, **_CRASH_KW)

    assert _index_snapshot(spark, idx) == want_new
    assert want_new["docs"] == {
        ("A", "y", "10.00", "apple tart"),
        ("C", "x", None, "cherry cake"),
        ("D", "x", "1.25", None),
    }
    assert sorted(os.listdir(tmp_path)) == ["index" + s for s in sorted(_SUFFIXES)]



@pytest.mark.parametrize("batch_id", [0, 1])
def test_commit_killed_after_each_swap_replays(spark, crash_layouts, tmp_path, monkeypatch, batch_id):
    """Kill the commit of batch ``batch_id`` after each of its table
    swaps in turn, in the order the commit itself runs them, then
    replay the batch: the result is the uninterrupted run's. Batch 0
    is the bootstrap, whose replay must not find a committed state
    without the tables derived from it."""
    import os
    import shutil

    from hbase_increment_index_spark.streaming import cdc_stream

    old, _, want_old, want_new = crash_layouts
    rows, want = (_CRASH_B1, want_old) if batch_id == 0 else (_CRASH_B2, want_new)
    real_swap = cdc_stream._Dirs.swap
    for k in range(1, len(_SUFFIXES)):
        idx = str(tmp_path / f"after{k}" / "index")
        if batch_id:
            for s in _SUFFIXES:
                shutil.copytree(old + s, idx + s)
        swapped = []

        def swap(self, live, staging, displaced):
            if len(swapped) == k:
                raise RuntimeError("killed mid-commit")
            swapped.append(live)
            real_swap(self, live, staging, displaced)

        monkeypatch.setattr(cdc_stream._Dirs, "swap", swap)
        with pytest.raises(RuntimeError, match="killed mid-commit"):
            cdc_stream.merge_microbatch(spark, spark.createDataFrame(rows, SCHEMA), batch_id, idx, **_CRASH_KW)
        monkeypatch.setattr(cdc_stream._Dirs, "swap", real_swap)
        cdc_stream.merge_microbatch(spark, spark.createDataFrame(rows, SCHEMA), batch_id, idx, **_CRASH_KW)
        assert _index_snapshot(spark, idx) == want, swapped
        assert sorted(os.listdir(tmp_path / f"after{k}")) == ["index" + s for s in sorted(_SUFFIXES)]

def _part_files(path):
    import os

    return sum(1 for n in os.listdir(path) if n.startswith("part-"))


def test_commit_part_file_count_is_bounded(spark, tmp_path):
    """Each commit rewrites the pass-through rows coalesced to the live
    table's width, so the part files of the index, state and postings
    do not pile up with the number of commits."""
    from hbase_increment_index_spark.streaming.cdc_stream import merge_microbatch

    idx = str(tmp_path / "index")
    tables = [idx, idx + "_state", idx + "_postings"]

    def commit(bid):
        rows = [
            ("put", f"k{(bid * 3 + j) % 17}", "cf", "text", f"w{bid} w{j}", _ts(bid % 60), bid * 10 + j)
            for j in range(3)
        ] + [("delete", f"k{(bid * 5) % 17}", "cf", None, None, _ts(bid % 60), bid * 10 + 9)]
        merge_microbatch(
            spark, spark.createDataFrame(rows, SCHEMA), bid, idx, ["text"], postings_field="text"
        )

    for bid in range(1, 12):
        commit(bid)
        if bid == 1:
            first = [_part_files(t) for t in tables]
    after = [_part_files(t) for t in tables]
    assert all(n >= 1 for n in first)
    assert all(a <= b for a, b in zip(after, first)), (after, first)


#: Spark jobs one commit with postings and facets runs under the test
#: session (AQE off): the batch probe, the touched-key, slice, delta and
#: old-docs pins, schema reads and the staging writes. The
#: commit that re-derived the whole index ran 28.
COMMIT_JOB_CEILING = 19


def test_commit_plan_guard(spark, tmp_path):
    """The commit's Spark job count must not creep back up: count the
    jobs of one merge_microbatch (postings and facets on) on a tiny
    index through its job group."""
    from hbase_increment_index_spark.streaming.cdc_stream import merge_microbatch

    idx = str(tmp_path / "index")
    kw = dict(qualifiers=["cat", "text"], postings_field="text", facet_field="cat")
    b1 = [
        ("put", "A", "cf", "cat", "x", _ts(1), 1),
        ("put", "A", "cf", "text", "apple pie", _ts(1), 2),
        ("put", "B", "cf", "cat", "y", _ts(2), 3),
        ("put", "B", "cf", "text", "banana", _ts(2), 4),
    ]
    b2 = [
        ("put", "A", "cf", "text", "apple tart", _ts(3), 5),
        ("delete", "B", "cf", None, None, _ts(4), 6),
        ("put", "C", "cf", "cat", "x", _ts(5), 7),
    ]
    merge_microbatch(spark, spark.createDataFrame(b1, SCHEMA), 0, idx, **kw)
    batch = spark.createDataFrame(b2, SCHEMA)
    sc = spark.sparkContext
    group = f"commit-plan-guard-{id(tmp_path)}"
    sc.setJobGroup(group, "merge_microbatch plan guard")
    try:
        merge_microbatch(spark, batch, 1, idx, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= COMMIT_JOB_CEILING, n_jobs
    assert {r["id"] for r in spark.read.parquet(idx).collect()} == {"A", "C"}


def test_cow_microbatch_matches_batch_and_is_cow(spark, dirs):
    """merge_microbatch_cow over out-of-order batches must serve the
    same state and documents as a one-shot batch rebuild, while the
    state table's untouched bucket directories keep their exact files
    across batches (the copy-on-write contract)."""
    import os

    from hbase_increment_index_spark.cdc.index_builder import (
        compact_state,
        documents_from_cells,
    )
    from hbase_increment_index_spark.sinks import read_merged_table
    from hbase_increment_index_spark.streaming.cdc_stream import merge_microbatch_cow

    _, index_path, _ = dirs
    b1 = [
        ("put", "A", "cf", "name", "v1", _ts(1), 1),
        ("put", "B", "cf", "name", "b1", _ts(2), 2),
        ("put", "D", "cf", "name", "d1", _ts(2), 3),
    ]
    b2 = [
        ("put", "A", "cf", "name", "v2", _ts(5), 10),
        ("delete", "B", "cf", None, None, _ts(6), 11),
        ("put", "C", "cf", "name", "c1", _ts(7), 12),
    ]
    b3 = [  # out-of-order straggler: older than b2's overwrite, must lose
        ("put", "A", "cf", "name", "stale", _ts(3), 5),
    ]
    merge_microbatch_cow(
        spark, spark.createDataFrame(b1, SCHEMA), 0, index_path, ["name"], n_buckets=8
    )

    # snapshot of D's untouched bucket before the later batches
    state_path = index_path + "_state_cow"
    kb_d = spark.createDataFrame([("D",)], "row_key string").select(
        F.pmod(F.xxhash64("row_key"), F.lit(8)).alias("kb")
    ).collect()[0]["kb"]
    kb_touched = {
        r["kb"]
        for r in spark.createDataFrame([("A",), ("B",), ("C",)], "row_key string")
        .select(F.pmod(F.xxhash64("row_key"), F.lit(8)).alias("kb"))
        .collect()
    }
    assert kb_d not in kb_touched  # fixture sanity: D's bucket stays cold

    def files_of(bucket):
        d = os.path.join(state_path, f"kb={bucket}")
        return {
            f: os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before = files_of(kb_d)
    merge_microbatch_cow(
        spark, spark.createDataFrame(b2, SCHEMA), 1, index_path, ["name"], n_buckets=8
    )
    merge_microbatch_cow(
        spark, spark.createDataFrame(b3, SCHEMA), 2, index_path, ["name"], n_buckets=8
    )
    assert files_of(kb_d) == before  # D's bucket never rewritten

    all_cells = spark.createDataFrame(b1 + b2 + b3, SCHEMA)
    want_docs = {
        (r["id"], r["name"])
        for r in documents_from_cells(all_cells, ["name"]).collect()
    }
    got_docs = {
        (r["row_key"], r["name"])
        for r in read_merged_table(spark, index_path + "_docs_cow").collect()
    }
    assert got_docs == want_docs == {("A", "v2"), ("C", "c1"), ("D", "d1")}

    want_state = {
        tuple(r)
        for r in compact_state(all_cells)
        .select("row_key", "family", "qualifier", "op", "value", "seq")
        .collect()
    }
    got_state = {
        tuple(r)
        for r in read_merged_table(spark, state_path)
        .select("row_key", "family", "qualifier", "op", "value", "seq")
        .collect()
    }
    assert got_state == want_state


def test_cow_microbatch_replay_is_idempotent(spark, dirs):
    """Replaying an already-merged micro-batch (the crash-between-
    sink-and-checkpoint case) through the COW path must be a no-op —
    same (ts, seq) conflict resolution as the rewrite path."""
    from hbase_increment_index_spark.sinks import read_merged_table
    from hbase_increment_index_spark.streaming.cdc_stream import merge_microbatch_cow

    _, index_path, _ = dirs
    b1 = [("put", "A", "cf", "name", "v1", _ts(1), 1)]
    b2 = [
        ("put", "A", "cf", "name", "v2", _ts(5), 10),
        ("put", "B", "cf", "name", "b1", _ts(6), 11),
    ]
    for i, b in enumerate([b1, b2, b2]):  # b2 delivered twice
        merge_microbatch_cow(
            spark, spark.createDataFrame(b, SCHEMA), i, index_path, ["name"], n_buckets=4
        )
    got = {
        (r["row_key"], r["name"])
        for r in read_merged_table(spark, index_path + "_docs_cow").collect()
    }
    assert got == {("A", "v2"), ("B", "b1")}


def test_cow_postings_match_fresh_build(spark, dirs):
    """COW postings maintenance: after out-of-order batches with
    updates and deletes, the term-bucketed postings table must equal a
    fresh build over the final document set — including terms whose
    posting lists vanished entirely (the COW-delete path)."""
    from hbase_increment_index_spark.search.inverted import build_inverted_index
    from hbase_increment_index_spark.sinks import read_merged_table
    from hbase_increment_index_spark.streaming.cdc_stream import merge_microbatch_cow

    _, index_path, _ = dirs
    b1 = [
        ("put", "A", "cf", "name", "apple pie recipe", _ts(1), 1),
        ("put", "B", "cf", "name", "unique banana bread", _ts(2), 2),
        ("put", "D", "cf", "name", "cherry tart", _ts(2), 3),
    ]
    b2 = [
        # update A away from 'pie': 'pie' survives nowhere -> vanished term
        ("put", "A", "cf", "name", "apple cider", _ts(5), 10),
        # delete B: 'unique', 'banana', 'bread' all vanish
        ("delete", "B", "cf", None, None, _ts(6), 11),
        ("put", "C", "cf", "name", "apple strudel", _ts(7), 12),
    ]
    for i, b in enumerate([b1, b2]):
        merge_microbatch_cow(
            spark,
            spark.createDataFrame(b, SCHEMA),
            i,
            index_path,
            ["name"],
            n_buckets=8,
            postings_field="name",
        )
    got = {
        tuple(r)
        for r in read_merged_table(spark, index_path + "_postings_cow").collect()
    }
    final_docs = read_merged_table(spark, index_path + "_docs_cow").select(
        "row_key", "name"
    )
    want = {
        tuple(r) for r in build_inverted_index(final_docs, "row_key", "name").collect()
    }
    assert got == want
    terms = {t for (t, *_rest) in got}
    assert "pie" not in terms and "banana" not in terms  # vanished terms evicted
    assert {"apple", "cider", "strudel", "cherry", "tart"} <= terms


def test_cow_shingle_store_matches_fresh_build_and_serves_pairing(spark, dirs):
    """COW shingle-store maintenance (r12): after out-of-order batches
    with updates and deletes, the shingle-bucketed (sh, row_key) table
    and its (row_key, n_sh) sizes side table must equal a fresh build
    over the final document set — including shingles whose last
    posting vanished — and the merged store must serve exact Jaccard
    pairing (ngram_jaccard_pairs_from_index) identical to the direct
    text form."""
    from pyspark.sql import functions as F

    from hbase_increment_index_spark.pipeline.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_from_index,
        shingle_grams,
    )
    from hbase_increment_index_spark.sinks import read_merged_table
    from hbase_increment_index_spark.streaming.cdc_stream import merge_microbatch_cow

    _, index_path, _ = dirs
    b1 = [
        ("put", "A", "cf", "name", "red apple pie with fresh cream", _ts(1), 1),
        ("put", "B", "cf", "name", "red apple pie with sour cream", _ts(2), 2),
        ("put", "D", "cf", "name", "totally unrelated cherry tart", _ts(2), 3),
    ]
    b2 = [
        # update A: its old shingles leave, near-dup pair with B breaks
        ("put", "A", "cf", "name", "green pear cake", _ts(5), 10),
        ("delete", "D", "cf", None, None, _ts(6), 11),
        ("put", "C", "cf", "name", "red apple pie with extra cream", _ts(7), 12),
    ]
    for i, b in enumerate([b1, b2]):
        merge_microbatch_cow(
            spark,
            spark.createDataFrame(b, SCHEMA),
            i,
            index_path,
            ["name"],
            n_buckets=8,
            shingle_field="name",
        )
    store = read_merged_table(spark, index_path + "_shingles_cow")
    sizes = read_merged_table(spark, index_path + "_shsizes_cow")
    final_docs = read_merged_table(spark, index_path + "_docs_cow").select(
        "row_key", "name"
    )
    want_store = {
        tuple(r)
        for r in final_docs.select(
            F.explode(shingle_grams("name", 3)).alias("sh"), "row_key"
        )
        .distinct()
        .select("sh", "row_key")
        .collect()
    }
    assert {tuple(r) for r in store.collect()} == want_store
    want_sizes = {
        (k, sum(1 for s, rk in want_store if rk == k))
        for k in {rk for _, rk in want_store}
    }
    assert {tuple(r) for r in sizes.collect()} == want_sizes
    # D's shingles vanished with the delete; A's old pie shingles left
    shs = {s for s, _ in want_store}
    assert not any("cherry" in s for s in shs)

    direct = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(
            final_docs, "row_key", "name", n=3, threshold=0.3
        ).collect()
    }
    served = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs_from_index(
            store.select(F.col("row_key").alias("doc"), "sh"),
            sizes.select(F.col("row_key").alias("doc"), "n_sh"),
            threshold=0.3,
        ).collect()
    }
    assert served == direct == {("B", "C", 0.333333)}


def test_cow_fingerprint_store_matches_fresh_build_and_serves_exact_dedup(
    spark, dirs
):
    """COW fingerprint-store maintenance (r13): after out-of-order
    batches with an fp-changing update, a delete, and exact-duplicate
    inserts, the fp-bucketed (fp, row_key) table must equal a fresh
    build over the final document set — including fps whose last doc
    left — and must serve store-served exact dedup
    (exact_dups_from_index via the kb->fpb adapter) identical to the
    direct fingerprint-groupBy form."""
    from pyspark.sql import functions as F

    from hbase_increment_index_spark.pipeline.dedup import (
        exact_dups_from_index,
        read_cow_fingerprint_store,
    )
    from hbase_increment_index_spark.pipeline.text import fingerprint
    from hbase_increment_index_spark.sinks import read_merged_table
    from hbase_increment_index_spark.streaming.cdc_stream import merge_microbatch_cow

    _, index_path, _ = dirs
    b1 = [
        ("put", "A", "cf", "name", "red apple pie", _ts(1), 1),
        ("put", "B", "cf", "name", "red apple pie", _ts(2), 2),  # dup of A
        ("put", "D", "cf", "name", "cherry tart", _ts(2), 3),
    ]
    b2 = [
        ("put", "A", "cf", "name", "green pear cake", _ts(5), 10),  # fp moves
        ("delete", "D", "cf", None, None, _ts(6), 11),
        ("put", "C", "cf", "name", "red apple pie", _ts(7), 12),  # dup of B
    ]
    for i, b in enumerate([b1, b2]):
        merge_microbatch_cow(
            spark,
            spark.createDataFrame(b, SCHEMA),
            i,
            index_path,
            ["name"],
            n_buckets=8,
            fingerprint_field="name",
        )
    store = read_cow_fingerprint_store(spark, index_path + "_fps_cow")
    final_docs = read_merged_table(spark, index_path + "_docs_cow").select(
        "row_key", "name"
    )
    want = {
        (r["fp"], r["row_key"])
        for r in final_docs.select(fingerprint("name").alias("fp"), "row_key").collect()
    }
    assert {(r["fp"], r["doc"]) for r in store.collect()} == want
    # D's fp vanished with the delete; A left the pie fp's member list
    # while B/C still hold it (the full member list survives — the
    # canonical-promotion contract)
    pie_fp = {fp for fp, d in want if d == "B"}.pop()
    assert {d for fp, d in want if fp == pie_fp} == {"B", "C"}
    # serve: an incoming duplicate of the pie text matches min(B, C)
    incoming = spark.createDataFrame(
        [("Z", "red apple pie"), ("Y", "green pear cake"), ("X", "novel text")],
        ["row_key", "name"],
    )
    served = {
        (r["id_new"], r["canonical_id"])
        for r in exact_dups_from_index(
            store, incoming, "row_key", "name", n_buckets=8
        ).collect()
    }
    assert served == {("Z", "B"), ("Y", "A")}
