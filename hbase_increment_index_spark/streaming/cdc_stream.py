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
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from hbase_increment_index_spark.cdc.index_builder import (
    compact_state,
    documents_from_state,
    merge_state,
)

CELL_LOG_DDL = (
    "op string, row_key string, family string, qualifier string, "
    "value string, ts timestamp, seq long"
)
#: exact-decimal type of the rollup view's sums
_SUM_T = "decimal(30,6)"


def _hpath(spark: SparkSession, path: str):
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path`` — scheme-agnostic:
    file://, hdfs://, s3a://."""
    hpath = _hpath(spark, path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _committed_state_exists(spark: SparkSession, path: str) -> bool:
    """True iff a previous micro-batch COMMITTED state at ``path``.

    Uses Hadoop FileSystem (scheme-agnostic: file://, hdfs://, s3a://)
    and requires the _SUCCESS marker, so a half-written directory from a
    crashed overwrite counts as absent while a transient read failure of
    existing data still surfaces as an error in the caller's read."""
    fs, _ = _fs(spark, path)
    return bool(fs.exists(_hpath(spark, path + "/_SUCCESS")))


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
    The untouched rows of state, view and postings are still copied
    into each new generation; real deployments would target a
    MERGE-capable table format (Delta/Iceberg) so a commit touches only
    matching files (``merge_microbatch_cow`` is the dependency-free
    version of that).

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
       row keys — batch-bounded, the one driver collect of the fold.
    2. Compute every store into ``<store>._staging_<batch_id>``,
       reading only the stores as they stood before the commit (with
       fixed schemas, so no read starts a schema-inference job):
       state = untouched rows + the re-compacted touched slice; the
       documents view = old view minus touched ids + the slice's
       documents; postings = old postings minus touched ids + the
       postings of that documents delta; each aggregate view = a
       groupBy of the new documents view. The union is coalesced to
       the store's size in split-sized files (``_target_files``), so
       files never pile up across commits.
    3. Publish each staging directory by Hadoop ``FileSystem`` renames
       (store → ``<store>._old``, staging → store, drop ``._old``).

    A crash leaves each store either published or not; the only window
    where a store path is absent is between its two renames, and the
    next call rolls such a store back to ``._old`` before reading
    (``_recover_store``), so recovery never re-bootstraps from the
    batch alone. Replaying over any mix of published and unpublished
    stores is exact: state, documents and postings are idempotent by
    construction, and the aggregate views (facets, rollup) are a pure
    function of the documents view being staged, so no journal is
    needed.
    """
    if rollup_key_field is not None and rollup_value_field is None:
        raise ValueError(
            "rollup_key_field requires rollup_value_field (the summed column)"
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
    stores = [state_path, index_path] + [p for p, *_ in views]
    if postings_field is not None:
        stores.append(postings_path)
    for path in stores:
        _recover_store(spark, path)
    # bootstrap-vs-merge per store is an explicit probe of the _SUCCESS
    # marker, never a caught read error: a transient IO failure must
    # fail the micro-batch (the checkpoint retries it), not reset a store
    exists = {path: _committed_state_exists(spark, path) for path in stores}

    key_t = batch.schema["row_key"].dataType
    val_t = batch.schema["value"].dataType
    docs_schema = StructType(
        [StructField("id", key_t)] + [StructField(q, val_t) for q in qualifiers]
    )
    id_hit = F.col("id").isin(keys)
    staged: list[tuple[str, str]] = []  # (staging, store) in publish order

    def stage(path: str, df: DataFrame) -> None:
        staging = path + f"._staging_{batch_id}"
        if exists[path]:
            df = df.coalesce(_target_files(spark, path))
        df.write.mode("overwrite").parquet(staging)
        staged.append((staging, path))

    # state: untouched rows + the touched slice re-compacted with the
    # batch. The slice is pinned as the state write computes it; the
    # documents delta reads it from there.
    if exists[state_path]:
        state = spark.read.schema(batch.schema).parquet(state_path)
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
        old_docs = spark.read.schema(docs_schema).parquet(index_path)
        new_docs = old_docs.filter(~id_hit).unionByName(docs_delta)
    else:
        new_docs = documents_from_state(new_state, qualifiers)

    stage(state_path, new_state)
    stage(index_path, new_docs)

    if postings_field is not None:
        from hbase_increment_index_spark.search.inverted import build_inverted_index

        if exists[postings_path]:
            postings_schema = StructType(
                [
                    StructField("term", StringType()),
                    StructField("id", key_t),
                    StructField("tf", LongType()),
                ]
            )
            postings = (
                spark.read.schema(postings_schema)
                .parquet(postings_path)
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

    for staging, path in staged:
        _publish(spark, staging, path)


def _target_files(spark: SparkSession, path: str) -> int:
    """File count for the next generation of a committed store: its
    data bytes over Spark's split size (``spark.sql.files.
    maxPartitionBytes``), at least one. Derived from the store's size,
    not from its current file count, so commits can neither pile up
    small files nor drift towards fewer, larger ones."""
    fs, hpath = _fs(spark, path)
    size = sum(
        st.getLen()
        for st in fs.listStatus(hpath)
        if st.isFile() and not st.getPath().getName().startswith(("_", "."))
    )
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return max(1, -(-size // split))


def _rename(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise OSError(f"rename {src} -> {dst} failed")


def _publish(spark: SparkSession, staging: str, path: str) -> None:
    """Swap a committed staging directory in for ``path``: two renames,
    then the old generation is dropped. A reader sees the old or the
    new directory, except between the two renames."""
    fs, hpath = _fs(spark, path)
    old = _hpath(spark, path + "._old")
    if fs.exists(hpath):
        _rename(fs, hpath, old)
    _rename(fs, _hpath(spark, staging), hpath)
    fs.delete(old, True)


def _recover_store(spark: SparkSession, path: str) -> None:
    """Undo what a crashed commit left at ``path``: a store absent
    between the two renames of ``_publish`` rolls back to its
    committed ``._old``; a leftover ``._old`` beside a committed store
    is dropped (a later rename onto it would nest the store inside).
    Staging directories need nothing: the replay of the batch
    overwrites its own."""
    fs, hpath = _fs(spark, path)
    old = _hpath(spark, path + "._old")
    if not fs.exists(old):
        return
    if not _committed_state_exists(spark, path) and _committed_state_exists(
        spark, path + "._old"
    ):
        fs.delete(hpath, True)
        _rename(fs, old, hpath)
    else:
        fs.delete(old, True)


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
