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
    from hbase_increment_index_spark.streaming.cdc_stream import _committed_state_exists

    p = str(tmp_path / "state")
    assert _committed_state_exists(spark, p) is False
    import os

    os.makedirs(p)  # directory exists but no _SUCCESS -> still absent
    assert _committed_state_exists(spark, p) is False
    spark.range(1).write.mode("overwrite").parquet(p)
    assert _committed_state_exists(spark, p) is True


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


def test_rollup_replay_after_partial_crash(spark, dirs, monkeypatch):
    """Crash after the documents view is published and before the
    rollup view is: the replayed batch must still count the delta (a
    view maintained by delta against the already-merged documents view
    would net it to zero and lose it forever), and replaying again
    after a full success is a no-op."""
    from hbase_increment_index_spark.streaming import cdc_stream

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
    cdc_stream.merge_microbatch(spark, b1, 0, index_path, **kw)

    # --- crash batch 1 with state and documents published, rollup not
    rollup_path = index_path + "_rollup"
    publish = cdc_stream._publish
    done = []

    def crash_before_rollup(spark_, staging, path):
        if path == rollup_path:
            raise RuntimeError("simulated crash")
        publish(spark_, staging, path)
        done.append(path)

    monkeypatch.setattr(cdc_stream, "_publish", crash_before_rollup)
    with pytest.raises(RuntimeError, match="simulated crash"):
        cdc_stream.merge_microbatch(spark, b2, 1, index_path, **kw)
    monkeypatch.setattr(cdc_stream, "_publish", publish)
    assert done == [index_path + "_state", index_path]

    # --- replay batch 1 (what Structured Streaming does after the crash)
    cdc_stream.merge_microbatch(spark, b2, 1, index_path, **kw)

    got = {
        r["key"]: (r["n"], float(r["sum_value"]))
        for r in spark.read.parquet(rollup_path).collect()
    }
    assert got == {"x": (1, 20.0), "y": (1, 5.0)}  # delta NOT lost

    # and a full-success double-replay is still a no-op
    cdc_stream.merge_microbatch(spark, b2, 1, index_path, **kw)
    got2 = {
        r["key"]: (r["n"], float(r["sum_value"]))
        for r in spark.read.parquet(rollup_path).collect()
    }
    assert got2 == got


def test_microbatch_out_of_order_matches_batch(spark, dirs):
    """merge_microbatch over out-of-order batches must serve the same
    state and documents as a one-shot batch rebuild."""
    from hbase_increment_index_spark.cdc.index_builder import (
        compact_state,
        documents_from_cells,
    )
    from hbase_increment_index_spark.streaming.cdc_stream import merge_microbatch

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
    for i, b in enumerate([b1, b2, b3]):
        merge_microbatch(spark, spark.createDataFrame(b, SCHEMA), i, index_path, ["name"])

    all_cells = spark.createDataFrame(b1 + b2 + b3, SCHEMA)
    want_docs = {
        (r["id"], r["name"])
        for r in documents_from_cells(all_cells, ["name"]).collect()
    }
    got_docs = {(r["id"], r["name"]) for r in spark.read.parquet(index_path).collect()}
    assert got_docs == want_docs == {("A", "v2"), ("C", "c1"), ("D", "d1")}

    want_state = {
        tuple(r)
        for r in compact_state(all_cells)
        .select("row_key", "family", "qualifier", "op", "value", "seq")
        .collect()
    }
    got_state = {
        tuple(r)
        for r in spark.read.parquet(index_path + "_state")
        .select("row_key", "family", "qualifier", "op", "value", "seq")
        .collect()
    }
    assert got_state == want_state


def test_cow_shingle_store_matches_fresh_build_and_serves_pairing(spark, dirs):
    """Shingle-store maintenance by merge_microbatch: after out-of-order
    batches with updates and deletes, the shingle-bucketed (doc, sh)
    store and its (doc, n_sh) sizes side table must equal a fresh build
    over the final document set — including shingles whose last
    posting vanished — and the folded store must serve exact Jaccard
    pairing (ngram_jaccard_pairs_from_index) identical to the direct
    text form."""
    from pyspark.sql import functions as F

    from hbase_increment_index_spark.pipeline.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_from_index,
        shingle_grams,
    )
    from hbase_increment_index_spark.streaming.cdc_stream import merge_microbatch

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
        merge_microbatch(
            spark,
            spark.createDataFrame(b, SCHEMA),
            i,
            index_path,
            ["name"],
            shingle_field="name",
        )
    store = spark.read.parquet(index_path + "_shingles").select(
        "sh", F.col("doc").alias("row_key")
    )
    sizes = spark.read.parquet(index_path + "_shsizes").select(
        F.col("doc").alias("row_key"), "n_sh"
    )
    final_docs = spark.read.parquet(index_path).select(
        F.col("id").alias("row_key"), "name"
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
    """Fingerprint-store maintenance by merge_microbatch: after
    out-of-order batches with an fp-changing update, a delete, and
    exact-duplicate inserts, the fp-bucketed (doc, fp, fpb) store must
    equal a fresh build over the final document set — including fps
    whose last doc left — and must serve store-served exact dedup
    (exact_dups_from_index with the default buckets) identical to the
    direct fingerprint-groupBy form."""
    from pyspark.sql import functions as F

    from hbase_increment_index_spark.pipeline.dedup import exact_dups_from_index
    from hbase_increment_index_spark.pipeline.text import fingerprint
    from hbase_increment_index_spark.streaming.cdc_stream import merge_microbatch

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
        merge_microbatch(
            spark,
            spark.createDataFrame(b, SCHEMA),
            i,
            index_path,
            ["name"],
            fingerprint_field="name",
        )
    store = spark.read.parquet(index_path + "_fps")
    final_docs = spark.read.parquet(index_path).select(
        F.col("id").alias("row_key"), "name"
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
        for r in exact_dups_from_index(store, incoming, "row_key", "name").collect()
    }
    assert served == {("Z", "B"), ("Y", "A")}


# --------------------------------------------------------------------------
# the stage -> rename commit of merge_microbatch

_FOLD_KW = dict(qualifiers=["name", "cat"], postings_field="name", facet_field="cat")
_STORES = ("_state", "", "_postings", "_facets")
SCHEMA_COLS = ["op", "row_key", "family", "qualifier", "value", "ts", "seq"]


def _fold_batches(spark):
    b1 = [
        ("put", "A", "cf", "name", "apple pie", _ts(1), 1),
        ("put", "A", "cf", "cat", "fruit", _ts(1), 2),
        ("put", "B", "cf", "name", "banana bread", _ts(2), 3),
        ("put", "B", "cf", "cat", "fruit", _ts(2), 4),
        ("put", "C", "cf", "name", "carrot cake", _ts(3), 5),
        ("put", "C", "cf", "cat", "veg", _ts(3), 6),
        ("put", "D", "cf", "name", "date loaf", _ts(4), 7),
        ("put", "D", "cf", "cat", "fruit", _ts(4), 8),
    ]
    b2 = [
        ("put", "A", "cf", "name", "apple tart", _ts(10), 20),  # reindex A
        ("put", "A", "cf", "cat", "veg", _ts(10), 21),  # facet move
        ("delete", "B", "cf", None, None, _ts(11), 22),  # drop B
        ("put", "E", "cf", "name", "egg tart", _ts(12), 23),  # new doc
        ("put", "E", "cf", "cat", "grain", _ts(12), 24),
        ("put", "C", "cf", "cat", "stale", _ts(2), 25),  # older than C's cell: loses
    ]
    return spark.createDataFrame(b1, SCHEMA), spark.createDataFrame(b2, SCHEMA)


def _fold_snapshot(spark, index_path):
    def rows(suffix, cols):
        frame = spark.read.parquet(index_path + suffix).select(*cols)
        return sorted(tuple(r) for r in frame.collect())

    return {
        "state": rows("_state", SCHEMA_COLS),
        "docs": rows("", ["id", "name", "cat"]),
        "postings": rows("_postings", ["term", "id", "tf"]),
        "facets": rows("_facets", ["facet_value", "n"]),
    }


def _leftovers(index_path):
    import glob

    return sorted(
        p
        for p in glob.glob(index_path + "*")
        if any(t in p for t in ("._old", "._staging_", "._pre_", "._base_"))
    )


@pytest.fixture(scope="module")
def uninterrupted_fold(spark, tmp_path_factory):
    """State, documents, postings and facets after folding both batches
    with no crash: what every recovery must reproduce."""
    from hbase_increment_index_spark.streaming.cdc_stream import merge_microbatch

    index_path = str(tmp_path_factory.mktemp("fold") / "index")
    b1, b2 = _fold_batches(spark)
    merge_microbatch(spark, b1, 0, index_path, **_FOLD_KW)
    merge_microbatch(spark, b2, 1, index_path, **_FOLD_KW)
    snap = _fold_snapshot(spark, index_path)
    assert snap["docs"] == [
        ("A", "apple tart", "veg"),
        ("C", "carrot cake", "veg"),
        ("D", "date loaf", "fruit"),
        ("E", "egg tart", "grain"),
    ]
    assert snap["facets"] == [("fruit", 1), ("grain", 1), ("veg", 2)]
    assert _leftovers(index_path) == []
    return snap


@pytest.mark.parametrize("store", ["_state", "_facets"])
def test_crash_between_publish_renames_rolls_back(
    spark, dirs, monkeypatch, uninterrupted_fold, store
):
    """A crash between a store's two publish renames leaves the store
    path absent, its previous generation committed at ``._old`` and the
    new one committed in staging. The replay must roll the store back
    to ``._old`` (not re-bootstrap it from the batch alone) and end
    exactly where the uninterrupted fold ends."""
    import os

    from hbase_increment_index_spark.streaming import cdc_stream

    _, index_path, _ = dirs
    b1, b2 = _fold_batches(spark)
    cdc_stream.merge_microbatch(spark, b1, 0, index_path, **_FOLD_KW)

    target = index_path + store
    rename = cdc_stream._rename

    def crash_before_second_rename(fs, src, dst):
        if src.getName() == os.path.basename(target) + "._staging_1":
            raise RuntimeError("simulated crash")
        rename(fs, src, dst)

    monkeypatch.setattr(cdc_stream, "_rename", crash_before_second_rename)
    with pytest.raises(RuntimeError, match="simulated crash"):
        cdc_stream.merge_microbatch(spark, b2, 1, index_path, **_FOLD_KW)
    monkeypatch.setattr(cdc_stream, "_rename", rename)

    assert not os.path.exists(target)
    assert os.path.exists(target + "._old/_SUCCESS")
    assert os.path.exists(target + "._staging_1/_SUCCESS")

    cdc_stream.merge_microbatch(spark, b2, 1, index_path, **_FOLD_KW)
    assert _fold_snapshot(spark, index_path) == uninterrupted_fold
    assert _leftovers(index_path) == []


@pytest.mark.parametrize("published", [1, 2, 3, 4])
def test_replay_after_partial_publish(
    spark, dirs, monkeypatch, uninterrupted_fold, published
):
    """A crash after ``published`` of the four stores are swapped in
    (state, documents, postings, facets in publish order; 1-3 crash at
    the publish of the next store, e.g. 2 = the documents view is new
    and the facet view old; 4 = every store published, the crash
    before the streaming checkpoint commits): replaying the batch over
    the mix of new and old stores gives the uninterrupted result. The
    facet view is recomputed from the documents view being staged, so
    an already-published documents view cannot net the batch's delta
    to zero."""
    from hbase_increment_index_spark.streaming import cdc_stream

    _, index_path, _ = dirs
    b1, b2 = _fold_batches(spark)
    cdc_stream.merge_microbatch(spark, b1, 0, index_path, **_FOLD_KW)

    publish = cdc_stream._publish
    done = []

    def crash_after_n(spark_, staging, path):
        if len(done) == published:
            raise RuntimeError("simulated crash")
        publish(spark_, staging, path)
        done.append(path)

    monkeypatch.setattr(cdc_stream, "_publish", crash_after_n)
    if published < len(_STORES):
        with pytest.raises(RuntimeError, match="simulated crash"):
            cdc_stream.merge_microbatch(spark, b2, 1, index_path, **_FOLD_KW)
    else:
        cdc_stream.merge_microbatch(spark, b2, 1, index_path, **_FOLD_KW)
    monkeypatch.setattr(cdc_stream, "_publish", publish)
    assert done == [index_path + s for s in _STORES][:published]

    cdc_stream.merge_microbatch(spark, b2, 1, index_path, **_FOLD_KW)
    assert _fold_snapshot(spark, index_path) == uninterrupted_fold
    assert _leftovers(index_path) == []


#: Spark jobs of one commit into an index with state, postings and facets
#: (session of conftest.py: AQE off, 8 shuffle partitions)
COMMIT_JOB_BUDGET = 5


def test_commit_job_budget_and_single_write_per_store(spark, dirs, monkeypatch):
    """One commit of a small batch into an existing index stays within
    the job budget, writes every directory once and never writes a
    store in place: each store is staged, then renamed in (the old
    staging -> store copy wrote every store twice)."""
    from pyspark.sql import DataFrameWriter

    from hbase_increment_index_spark.streaming.cdc_stream import merge_microbatch

    _, index_path, _ = dirs
    b1, b2 = _fold_batches(spark)
    merge_microbatch(spark, b1, 0, index_path, **_FOLD_KW)

    written = []
    parquet = DataFrameWriter.parquet

    def recording(self, path, *a, **kw):
        written.append(path)
        return parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    sc = spark.sparkContext
    sc.setJobGroup("commit-job-budget", "one merge_microbatch commit", False)
    try:
        merge_microbatch(spark, b2, 1, index_path, **_FOLD_KW)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("commit-job-budget")
    assert len(jobs) <= COMMIT_JOB_BUDGET

    stores = {index_path + s for s in _STORES}
    assert len(written) == len(set(written))
    assert not stores & set(written)
    assert {w for w in written if "._staging_" in w} == {
        s + "._staging_1" for s in stores
    }


def test_store_file_count_flat_across_commits(spark, dirs):
    """Each commit unions a store's untouched rows with the batch's
    delta; without coalescing back, every commit would add the delta's
    partitions as new files. Over ten commits every store keeps one
    file per split size of data: one here, and one in each ``shb=``
    directory of the partitioned shingle store."""
    import os

    from hbase_increment_index_spark.streaming.cdc_stream import merge_microbatch

    _, index_path, _ = dirs

    def files(path):
        return sum(1 for f in os.listdir(path) if not f.startswith(("_", ".")))

    base = []
    for i in range(64):
        base += [
            ("put", f"k{i:03d}", "cf", "name", f"word{i % 7} text{i}", _ts(1), 2 * i),
            ("put", f"k{i:03d}", "cf", "cat", f"c{i % 5}", _ts(1), 2 * i + 1),
        ]
    def fold(cells, batch_id):
        batch = spark.createDataFrame(cells, SCHEMA)
        merge_microbatch(
            spark, batch, batch_id, index_path, **_FOLD_KW, shingle_field="name"
        )

    def shingle_files(path):
        buckets = [d for d in os.listdir(path) if d.startswith("shb=")]
        return {files(os.path.join(path, d)) for d in buckets}

    fold(base, 0)
    counts = []
    shingle_counts = []
    seq = 1000
    for b in range(1, 11):
        cells = []
        for j in range(3):
            seq += 1
            k = f"k{(b * 5 + j) % 64:03d}"
            cells.append(("put", k, "cf", "name", f"updated {b} {j}", _ts(2), seq))
        seq += 1
        cells.append(("put", f"n{b:03d}", "cf", "cat", "new", _ts(2), seq))
        seq += 1
        cells.append(("delete", f"k{(b * 11) % 64:03d}", "cf", None, None, _ts(3), seq))
        fold(cells, b)
        counts.append({s: files(index_path + s) for s in _STORES})
        shingle_counts.append(shingle_files(index_path + "_shingles"))
    assert counts == [{s: 1 for s in _STORES}] * len(counts)
    assert shingle_counts == [{1}] * len(shingle_counts)


# --------------------------------------------------------------------------
# the dedup stores on the same commit

_DEDUP_KW = dict(
    qualifiers=["name"],
    shingle_field="name",
    fingerprint_field="name",
    cluster_threshold=0.30,
)
_DEDUP_STORES = (
    "_state", "", "_shingles", "_shsizes", "_fps", "_cc_labels", "_cc_pairs"
)


def _dedup_batches(spark):
    t_a, t_p, t_x = "a b c d e", "p q r s t", "x y z w v"
    b1 = [
        ("put", "A", "cf", "name", t_a, _ts(1), 1),
        ("put", "B", "cf", "name", t_a, _ts(1), 2),
        ("put", "C", "cf", "name", t_p, _ts(1), 3),
        ("put", "E", "cf", "name", t_x, _ts(1), 4),
        ("put", "G", "cf", "name", "g h i j k", _ts(1), 5),
    ]
    b2 = [
        ("put", "B", "cf", "name", t_p, _ts(5), 10),  # moves to C's component
        ("put", "F", "cf", "name", t_x, _ts(6), 11),  # pairs with E
        ("delete", "A", "cf", None, None, _ts(7), 12),  # A's component empties
        ("put", "G", "cf", "name", "stale", _ts(0), 13),  # older than G's cell: loses
    ]
    return spark.createDataFrame(b1, SCHEMA), spark.createDataFrame(b2, SCHEMA)


def _dedup_snapshot(spark, index_path):
    def rows(suffix, cols):
        frame = spark.read.parquet(index_path + suffix).select(*cols)
        return sorted(tuple(r) for r in frame.collect())

    return {
        "state": rows("_state", SCHEMA_COLS),
        "docs": rows("", ["id", "name"]),
        "shingles": rows("_shingles", ["doc", "sh", "shb"]),
        "shsizes": rows("_shsizes", ["doc", "n_sh"]),
        "fps": rows("_fps", ["doc", "fp", "fpb"]),
        "cc_labels": rows("_cc_labels", ["doc", "component"]),
        "cc_pairs": rows("_cc_pairs", ["id_a", "id_b"]),
    }


@pytest.fixture(scope="module")
def uninterrupted_dedup_fold(spark, tmp_path_factory):
    """Every store after folding both dedup batches with no crash."""
    from hbase_increment_index_spark.streaming.cdc_stream import merge_microbatch

    index_path = str(tmp_path_factory.mktemp("dedup_fold") / "index")
    b1, b2 = _dedup_batches(spark)
    merge_microbatch(spark, b1, 0, index_path, **_DEDUP_KW)
    merge_microbatch(spark, b2, 1, index_path, **_DEDUP_KW)
    snap = _dedup_snapshot(spark, index_path)
    assert [d for d, _ in snap["docs"]] == ["B", "C", "E", "F", "G"]
    # the deleted A left every per-document store
    for store in ("shingles", "shsizes", "fps"):
        assert {r[0] for r in snap[store]} == {"B", "C", "E", "F", "G"}
    assert snap["cc_labels"] == [("B", "B"), ("C", "B"), ("E", "E"), ("F", "E")]
    assert snap["cc_pairs"] == [("B", "C"), ("E", "F")]
    assert _leftovers(index_path) == []
    return snap


@pytest.mark.parametrize("published", [1, 2, 3, 4, 5, 6])
def test_dedup_stores_replay_after_partial_publish(
    spark, dirs, monkeypatch, uninterrupted_dedup_fold, published
):
    """A crash after ``published`` of the seven stores are swapped in
    (state, documents, shingles, sizes, fingerprints, cluster labels,
    cluster pairs in publish order): replaying the batch over the mix
    of new and old stores gives the uninterrupted result on every
    store and leaves no ``._old`` or staging directory behind."""
    from hbase_increment_index_spark.streaming import cdc_stream

    _, index_path, _ = dirs
    b1, b2 = _dedup_batches(spark)
    cdc_stream.merge_microbatch(spark, b1, 0, index_path, **_DEDUP_KW)

    publish = cdc_stream._publish
    done = []

    def crash_after_n(spark_, staging, path):
        if len(done) == published:
            raise RuntimeError("simulated crash")
        publish(spark_, staging, path)
        done.append(path)

    monkeypatch.setattr(cdc_stream, "_publish", crash_after_n)
    with pytest.raises(RuntimeError, match="simulated crash"):
        cdc_stream.merge_microbatch(spark, b2, 1, index_path, **_DEDUP_KW)
    monkeypatch.setattr(cdc_stream, "_publish", publish)
    assert done == [index_path + s for s in _DEDUP_STORES][:published]

    cdc_stream.merge_microbatch(spark, b2, 1, index_path, **_DEDUP_KW)
    assert _dedup_snapshot(spark, index_path) == uninterrupted_dedup_fold
    assert _leftovers(index_path) == []


#: Spark jobs of one commit into an index with state, documents and the
#: shingle, fingerprint and cluster stores (same session as above)
DEDUP_COMMIT_JOB_BUDGET = 43


def test_dedup_commit_job_budget(spark, dirs):
    """One commit with every dedup store into an existing index stays
    within its job budget. The cluster fold runs its two legs in
    threads, which do not inherit the job group, so the commit's jobs
    are its group's plus every new job outside a group."""
    from hbase_increment_index_spark.streaming.cdc_stream import merge_microbatch

    _, index_path, _ = dirs
    b1, b2 = _dedup_batches(spark)
    merge_microbatch(spark, b1, 0, index_path, **_DEDUP_KW)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("dedup-commit-job-budget", "one dedup merge_microbatch commit", False)
    try:
        merge_microbatch(spark, b2, 1, index_path, **_DEDUP_KW)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = set(tracker.getJobIdsForGroup("dedup-commit-job-budget"))
    jobs |= set(tracker.getJobIdsForGroup(None)) - before
    assert len(jobs) <= DEDUP_COMMIT_JOB_BUDGET
