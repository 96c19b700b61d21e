"""Stateful streaming operators: dedup-across-batches and running
counts, driven through real micro-batches (file source, availableNow)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hbase_increment_index_spark.functions.skew import two_phase_agg
from hbase_increment_index_spark.streaming.stateful import running_user_counts, streaming_dedup


def test_streaming_dedup_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    # batch 1: docs 1,2 ; batch 2: doc 3 plus a DUPLICATE of doc 1's text
    spark.createDataFrame([(1, "aaa"), (2, "bbb")], "doc_id long, text string").write.parquet(
        f"{src}/b1"
    )
    spark.createDataFrame([(3, "ccc"), (4, "aaa")], "doc_id long, text string").write.parquet(
        f"{src}/b2"
    )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    fingerprinted = stream.select(
        "doc_id",
        F.md5("text").alias("fp"),
        F.pmod(F.xxhash64(F.md5("text")), F.lit(4)).alias("shard"),
    )
    out = streaming_dedup(fingerprinted)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["doc_id"]: r["first_seen"] for r in spark.sql("SELECT * FROM dedup_out").collect()}
    assert rows[1] and rows[2] and rows[3]
    assert rows[4] is False  # duplicate of doc 1, seen in an EARLIER batch


def test_streaming_dedup_state_cap(spark, tmp_path):
    # cap = 1: only the first fingerprint per shard is remembered across
    # batches; a post-cap fingerprint re-emits first_seen on its next
    # batch, but a pre-cap one stays deduped (ADVICE r1 bounded state)
    src = str(tmp_path / "src")
    # b1 fills the cap with 'aaa'; b2 then offers 'bbb' (over cap, not
    # remembered) and a dup of 'aaa'; b3 re-offers 'bbb'
    spark.createDataFrame([(1, "aaa")], "doc_id long, text string").write.parquet(f"{src}/b1")
    spark.createDataFrame(
        [(2, "bbb"), (3, "aaa")], "doc_id long, text string"
    ).write.parquet(f"{src}/b2")
    spark.createDataFrame([(4, "bbb")], "doc_id long, text string").write.parquet(f"{src}/b3")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    # single shard so both fps compete for the cap; deterministic batch
    # order via maxFilesPerTrigger + lexicographic file listing
    fingerprinted = stream.select(
        "doc_id", F.md5("text").alias("fp"), F.lit(0).alias("shard")
    )
    out = streaming_dedup(fingerprinted, max_fps_per_shard=1)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_cap_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_cap"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r["doc_id"]: r["first_seen"]
        for r in spark.sql("SELECT * FROM dedup_cap_out").collect()
    }
    assert rows[1] is True              # fresh, fills the cap
    assert rows[2] is True              # fresh but over cap -> not stored
    assert rows[3] is False             # 'aaa' held in capped state
    assert rows[4] is True              # 'bbb' was forgotten (recall trade-off)


def test_running_user_counts(spark, sf_dir, tmp_path):
    from hbase_increment_index_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events").select("user_id", "value")
    src = str(tmp_path / "ev")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = running_user_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("counts_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: r["n_events"]
        for r in spark.sql(
            "SELECT user_id, max(n_events) AS n_events FROM counts_out GROUP BY user_id"
        ).collect()
    }
    want = {r["user_id"]: r["n"] for r in events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want


def test_two_phase_agg_equals_plain(spark, sf_dir):
    from hbase_increment_index_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events")
    plain = {
        (r["event_type"]): (r["n"], r["s"])
        for r in events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(30,2)")).cast("double").alias("s"),
        )
        .collect()
    }
    saltedr = {
        (r["event_type"]): (r["n"], r["s"])
        for r in two_phase_agg(
            events,
            ["event_type"],
            "value",
            partials={
                "n": F.count(F.lit(1)),
                "s": F.sum(F.col("value").cast("decimal(30,2)")),
            },
            finals={"n": F.sum("n").cast("long"), "s": F.sum("s").cast("double")},
        ).collect()
    }
    assert plain == saltedr


def test_trending_terms_decay(spark, tmp_path):
    from hbase_increment_index_spark.streaming.stateful import trending_terms

    src = str(tmp_path / "tsrc")
    spark.createDataFrame(
        [("spark",), ("spark",), ("spark",), ("query",)], "term string"
    ).coalesce(1).write.parquet(f"{src}/b1")
    spark.createDataFrame(
        [("spark",), ("shuffle",), ("shuffle",)], "term string"
    ).coalesce(1).write.parquet(f"{src}/b2")

    stream = (
        spark.readStream.schema("term string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = (
        trending_terms(stream, decay=0.5)
        .writeStream.format("memory")
        .queryName("trend_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "tckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode: keep the LAST emission per term
    rows = spark.sql(
        "SELECT term, score, n_total FROM trend_out"
    ).collect()
    last = {}
    for r in rows:
        last[r["term"]] = (r["score"], r["n_total"])
    # spark: 3 in batch1 (score 3), then decayed 1.5 + 1 in batch2
    assert last["spark"] == (2.5, 4)
    # shuffle first seen in batch2
    assert last["shuffle"] == (2.0, 2)
    # query untouched after batch1 keeps its batch1 emission
    assert last["query"] == (1.0, 1)


def test_trending_terms_epoch_gap_decay(spark, tmp_path):
    """With epoch_col, a term absent for k epochs decays decay**k on
    next touch — scores share a common time basis."""
    from hbase_increment_index_spark.streaming.stateful import trending_terms

    src = str(tmp_path / "tsrc_e")
    spark.createDataFrame(
        [("spark", 1), ("spark", 1), ("spark", 1)], "term string, epoch long"
    ).coalesce(1).write.parquet(f"{src}/b1")
    spark.createDataFrame(
        [("other", 2)], "term string, epoch long"
    ).coalesce(1).write.parquet(f"{src}/b2")
    spark.createDataFrame(
        [("spark", 3)], "term string, epoch long"
    ).coalesce(1).write.parquet(f"{src}/b3")

    stream = (
        spark.readStream.schema("term string, epoch long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = (
        trending_terms(stream, decay=0.5, epoch_col="epoch")
        .writeStream.format("memory")
        .queryName("trend_epoch_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "tckpt_e"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    last = {}
    for r in spark.sql("SELECT term, score, n_total FROM trend_epoch_out").collect():
        last[r["term"]] = (r["score"], r["n_total"])
    # spark: 3 at epoch 1; absent epoch 2; at epoch 3 decays 0.5**2:
    # 3 * 0.25 + 1 = 1.75 (touch-only decay would give 2.5)
    assert last["spark"] == (1.75, 4)
    assert last["other"] == (1.0, 1)


def test_trending_terms_same_epoch_no_double_decay(spark, tmp_path):
    """Two micro-batches carrying the SAME epoch accumulate without a
    second decay (gap=0): counts within one epoch just add."""
    from hbase_increment_index_spark.streaming.stateful import trending_terms

    src = str(tmp_path / "tsrc_s")
    spark.createDataFrame(
        [("spark", 1)] * 3, "term string, epoch long"
    ).coalesce(1).write.parquet(f"{src}/b1")
    spark.createDataFrame(
        [("spark", 1)], "term string, epoch long"
    ).coalesce(1).write.parquet(f"{src}/b2")
    spark.createDataFrame(
        [("spark", 2)], "term string, epoch long"
    ).coalesce(1).write.parquet(f"{src}/b3")

    stream = (
        spark.readStream.schema("term string, epoch long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = (
        trending_terms(stream, decay=0.5, epoch_col="epoch")
        .writeStream.format("memory")
        .queryName("trend_same_epoch")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "tckpt_s"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    last = {}
    for r in spark.sql("SELECT term, score, n_total FROM trend_same_epoch").collect():
        last[r["term"]] = (r["score"], r["n_total"])
    # epoch1 batch1: 3; epoch1 batch2 (gap 0, no decay): 3+1=4;
    # epoch2 (gap 1): 4*0.5+1 = 3
    assert last["spark"] == (3.0, 5)
