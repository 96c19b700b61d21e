"""Streaming index maintenance — the reference's timer-flush loop as
Structured Streaming (SURVEY.md §2.1 S8/S9; reference
SolrIndexTools.java:47-82, application.properties:10-16).

Mapping:

  30 s Timer commit            → trigger(processingTime='30 seconds')
  10k add / 2k delete buffers  → micro-batch contents (Spark batches)
  commit-only-if-data          → foreachBatch no-ops on empty batches
  Semaphore single-writer      → micro-batches are serialized per query
  crash loses buffers          → checkpointLocation (exactly-once)

The merge inside foreachBatch is the ``merge_state`` algebra the batch
path uses (untouched rows + ``compact_state`` of the touched slice and
the batch) — one semantics for both, which is the point of Structured
Streaming. The persisted index is the compacted CELL STATE (with
tombstones), so conflict resolution is by cell (ts, seq) and
micro-batch boundaries can never change the result; the flat document
table is the derived serving view, and the facet and rollup views are
aggregates of that view as of the commit (as Solr computes facet
counts from the index at its last commit), not stores kept by delta.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructField, StructType

from hbase_increment_index_spark.cdc.index_builder import (
    compact_state,
    documents_from_state,
    merge_state,  # noqa: F401 — perfbench/run.py traces cdc_stream.merge_state
)
from hbase_increment_index_spark.sinks import (
    _committed_state_exists,
    _publish,
    _recover_store,
    _stage,
)

CELL_LOG_DDL = (
    "op string, row_key string, family string, qualifier string, "
    "value string, ts timestamp, seq long"
)
#: exact-decimal type of the rollup view's sums
_SUM_T = "decimal(30,6)"


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

    Each micro-batch (``merge_microbatch``): pin the batch and collect
    its touched row keys → only the touched slice of the cell state is
    re-compacted with the batch (the merge_state algebra) → every
    store (state, document serving view, postings, facet and rollup
    views) is computed once into a staging directory → each staging
    directory is published by two Hadoop FileSystem renames (store →
    ``._old``, staging → store). The commit is not atomic across
    stores, and per store its one non-atomic window is the gap between
    those two renames, where the store path is absent; the next
    micro-batch rolls such a store back to ``._old`` before it reads,
    and a replayed batch over any mix of published and unpublished
    stores gives the uninterrupted result.
    The untouched rows of every store are still copied into each new
    generation; real deployments would target a MERGE-capable table
    format (Delta/Iceberg) so a commit touches only matching files.

    With ``postings_field`` set, the FULL-TEXT index is maintained
    incrementally too (the reference's actual job — keep Solr in sync
    with the row store, reference README.md:5-10): per batch, postings
    for touched row keys are dropped and the touched keys' fresh
    postings appended (the search.inverted.merge_postings algebra) —
    the tokenizing work is ∝ batch size, never corpus size. Written to
    ``index_path + "_postings"``.

    With ``facet_field`` set, a materialized facet-count view over that
    document field is kept as well (the aggregate analogue — a Solr
    facet over the index as of its last commit): each commit stages it
    as a groupBy-count of the documents view it stages, into
    ``index_path + "_facets"``. Work ∝ the documents view, which the
    commit already reads and rewrites. ``rollup_key_field`` /
    ``rollup_value_field`` keep a (count, Σvalue) view the same way
    (``index_path + "_rollup"``).
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
    shingle_field: str | None = None,
    fingerprint_field: str | None = None,
    cluster_threshold: float | None = None,
) -> None:
    """One micro-batch fold — the foreachBatch body of
    ``start_index_maintenance``, module-level so recovery semantics are
    directly testable: after a crash between the sink writes and the
    checkpoint commit, Structured Streaming re-invokes this with the
    SAME batch; because ``merge_state`` re-compacts by cell coordinates
    + (ts, seq), replaying a batch over already-merged state is a
    no-op (exactly-once effect from at-least-once delivery +
    idempotent merge).

    The commit writes each store once and recomputes only what the
    batch touched (untouched rows are copied into the new generation,
    not recomputed):

    1. Pin the batch (its source is read once) and collect its touched
       row keys — batch-bounded, the fold's one driver collect (the
       cluster fold below adds its own, bounded by the batch's pairs).
    2. Compute every store into ``<store>._staging_<batch_id>``,
       reading only the stores as they stood before the commit (with
       fixed schemas, so no read starts a schema-inference job):
       state = untouched rows + the re-compacted touched slice; the
       documents view = old view minus touched ids + the slice's
       documents; postings = old postings minus touched ids + the
       postings of that documents delta; each aggregate view = a
       groupBy of the new documents view. The union is coalesced to
       the store's size in split-sized files (``sinks._stage``), so
       files never pile up across commits.
    3. Publish each staging directory by Hadoop ``FileSystem`` renames
       (store → ``<store>._old``, staging → store, drop ``._old``):
       ``sinks._publish``, the commit ``sinks.merge_upsert_parquet``
       uses too.

    A crash leaves each store either published or not; the only window
    where a store path is absent is between its two renames, and the
    next call rolls such a store back to ``._old`` before reading
    (``_recover_store``), so recovery never re-bootstraps from the
    batch alone. Replaying over any mix of published and unpublished
    stores is exact: state, documents and postings are idempotent by
    construction, and the aggregate views (facets, rollup) are a pure
    function of the documents view being staged, so no journal is
    needed.

    The dedup serving stores of ``pipeline.dedup`` (its default
    ``SHINGLE_STORE_BUCKETS`` buckets, 3-gram shingles) fold the same
    documents delta and are staged, published and replayed the same way:

    - ``shingle_field``: ``<index>_shingles`` (doc, sh, shb),
      partitioned by ``shb``, and its ``<index>_shsizes`` (doc, n_sh);
    - ``fingerprint_field``: ``<index>_fps`` (doc, fp, fpb),
      partitioned by ``fpb``;
    - ``cluster_threshold`` (needs ``shingle_field``): the near-dup
      components ``<index>_cc_labels`` (doc, component) and their pair
      list ``<index>_cc_pairs`` (id_a, id_b) at that n-gram Jaccard
      threshold (``commit_cluster_state`` over the staged shingles).
      Like ``keys``, what the cluster fold collects to the driver is
      bounded by the batch: its touched ids, the endpoints of its new
      pairs and the members of the components those belong to. The
      first commit into an empty index pairs the whole store instead.
    """
    if rollup_key_field is not None and rollup_value_field is None:
        raise ValueError(
            "rollup_key_field requires rollup_value_field (the summed column)"
        )
    if cluster_threshold is not None and shingle_field is None:
        raise ValueError(
            "cluster_threshold requires shingle_field (the clusters are "
            "paired from the shingle store)"
        )
    # every later use of the batch reads these blocks, never the source
    batch = batch.localCheckpoint(eager=False)
    batch_keys = batch.select("row_key").collect()
    if not batch_keys:  # commit-only-if-data (SolrIndexTools.java:66-67)
        return
    keys = sorted({r[0] for r in batch_keys if r[0] is not None})

    state_path = index_path + "_state"
    postings_path = index_path + "_postings"
    facets_path = index_path + "_facets"
    rollup_path = index_path + "_rollup"
    views = []  # (path, key field, key column, summed field | None)
    if facet_field is not None:
        views.append((facets_path, facet_field, "facet_value", None))
    if rollup_key_field is not None:
        views.append((rollup_path, rollup_key_field, "key", rollup_value_field))
    shingles_path, shsizes_path, fps_path, labels_path, pairs_path = (
        index_path + s
        for s in ("_shingles", "_shsizes", "_fps", "_cc_labels", "_cc_pairs")
    )
    stores = [state_path, index_path] + [p for p, *_ in views]
    if postings_field is not None:
        stores.append(postings_path)
    if shingle_field is not None:
        stores += [shingles_path, shsizes_path]
    if fingerprint_field is not None:
        stores.append(fps_path)
    if cluster_threshold is not None:
        stores += [labels_path, pairs_path]
    for path in stores:
        _recover_store(spark, path)
    # bootstrap-vs-merge per store is an explicit probe of the _SUCCESS
    # marker, never a caught read error: a transient IO failure must
    # fail the micro-batch (the checkpoint retries it), not reset a store
    exists = {path: _committed_state_exists(spark, path) for path in stores}

    key_t = batch.schema["row_key"].dataType
    key_ddl = key_t.simpleString()
    val_t = batch.schema["value"].dataType
    docs_schema = StructType(
        [StructField("id", key_t)] + [StructField(q, val_t) for q in qualifiers]
    )
    id_hit = F.col("id").isin(keys)
    staged: list[tuple[str, str]] = []  # (staging, store) in publish order

    def read(path: str, schema: StructType | str) -> DataFrame:
        return spark.read.schema(schema).parquet(path)

    def stage(path: str, df: DataFrame, partition_by: str | None = None) -> None:
        staging = path + f"._staging_{batch_id}"
        _stage(spark, path, staging, df, exists[path], partition_by)
        staged.append((staging, path))

    # state: untouched rows + the touched slice re-compacted with the
    # batch. The slice is pinned as the state write computes it; the
    # documents delta reads it from there.
    if exists[state_path]:
        state = read(state_path, batch.schema)
        hit = F.col("row_key").isin(keys)
        new_slice = compact_state(
            state.filter(hit).unionByName(batch)
        ).localCheckpoint(eager=False)
        # null keys match no key set: untouched, as in merge_state
        new_state = state.filter(~hit | F.col("row_key").isNull()).unionByName(
            new_slice
        )
    else:
        new_slice = compact_state(batch).localCheckpoint(eager=False)
        new_state = new_slice
    # the documents delta: touched docs still live after the batch
    # (a fully tombstoned row has none, so it drops out of the view)
    docs_delta = documents_from_state(new_slice, qualifiers).localCheckpoint(
        eager=False
    )
    if exists[index_path]:
        old_docs = read(index_path, docs_schema)
        new_docs = old_docs.filter(~id_hit).unionByName(docs_delta)
    else:
        new_docs = documents_from_state(new_state, qualifiers)

    stage(state_path, new_state)
    stage(index_path, new_docs)

    if postings_field is not None:
        from hbase_increment_index_spark.search.inverted import build_inverted_index

        if exists[postings_path]:
            postings = (
                read(postings_path, f"term string, id {key_ddl}, tf bigint")
                .filter(~id_hit)
                .unionByName(build_inverted_index(docs_delta, "id", postings_field))
            )
        else:
            postings = build_inverted_index(new_docs, "id", postings_field)
        stage(postings_path, postings)

    # the aggregate views are a function of the documents view being
    # staged, so a replay over any mix of published stores recomputes
    # them exactly; exact decimals for the summed field
    for path, field, key_col, value_field in views:
        aggs = [F.count(F.lit(1)).alias("n")]
        if value_field is not None:
            aggs.append(
                F.sum(F.col(value_field).cast(_SUM_T)).cast(_SUM_T).alias("sum_value")
            )
        stage(path, new_docs.groupBy(F.col(field).alias(key_col)).agg(*aggs))

    if shingle_field is not None or fingerprint_field is not None:
        from hbase_increment_index_spark.pipeline import dedup

        # (changed docs, touched ids, id column): each dedup merge drops
        # every touched id and adds the rows of the changed docs
        delta = (docs_delta, batch.select(F.col("row_key").alias("id")), "id")

    if shingle_field is not None:
        if exists[shingles_path]:
            old = read(shingles_path, f"doc {key_ddl}, sh string, shb bigint")
            shingles = dedup.merge_shingle_postings(old, *delta, shingle_field)
        else:
            shingles = dedup.build_shingle_postings(new_docs, "id", shingle_field)
        if exists[shsizes_path]:
            old = read(shsizes_path, f"doc {key_ddl}, n_sh bigint")
            sizes = dedup.merge_shingle_sizes(old, *delta, shingle_field)
        else:
            sizes = dedup.shingle_doc_sizes(shingles)
        stage(shingles_path, shingles, partition_by="shb")
        stage(shsizes_path, sizes)

    if fingerprint_field is not None:
        if exists[fps_path]:
            old = read(fps_path, f"doc {key_ddl}, fp string, fpb bigint")
            fps = dedup.merge_fingerprint_store(old, *delta, fingerprint_field)
        else:
            fps = dedup.build_fingerprint_store(new_docs, "id", fingerprint_field)
        stage(fps_path, fps, partition_by="fpb")

    if cluster_threshold is not None:
        # a pair's Jaccard depends on its two documents alone, so the
        # staged shingle store serves the fold as the pre-batch one would
        if exists[labels_path] and exists[pairs_path]:
            clusters = dedup.commit_cluster_state(
                read(labels_path, f"doc {key_ddl}, component {key_ddl}"),
                shingles, sizes, *delta, shingle_field,
                threshold=cluster_threshold,
                store_pairs=read(pairs_path, f"id_a {key_ddl}, id_b {key_ddl}"),
            )
            labels, pairs = clusters["labels"], clusters["pairs"]
        else:
            pairs = (
                dedup.ngram_jaccard_pairs_from_index(
                    shingles, sizes, threshold=cluster_threshold
                )
                .select("id_a", "id_b")
                .localCheckpoint(eager=True)
            )
            labels = dedup.connected_components(pairs)
        stage(labels_path, labels)
        stage(pairs_path, pairs)

    for staging, path in staged:
        _publish(spark, staging, path)


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
