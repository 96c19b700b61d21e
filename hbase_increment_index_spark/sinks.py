"""Output sinks — SURVEY.md §2.1 S10 (reference SolrIndexTools.java:39-49
selects CloudSolrClient vs HttpSolrClient by config; here the sink is a
format+layout choice on one writer).

Parquet is the index/serving format (columnar, pruned); json mirrors a
Solr response dump; csv for interchange. Layout knobs are the scale
levers: ``partition_by`` gives directory pruning, ``n_buckets``
repartitions by key for point-lookup locality.

This module also owns how a table generation is committed (stage, then
publish by rename, recovered by the next commit): the MERGE sink
``merge_upsert_parquet`` and every store of the CDC fold
(``streaming.cdc_stream.merge_microbatch``) commit that way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FORMATS = ("parquet", "json", "csv")


def write_results(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: str | None = None,
    n_buckets: int | None = None,
    key_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    if fmt not in FORMATS:
        raise ValueError(f"unknown sink format {fmt!r}; expected one of {FORMATS}")
    if n_buckets and key_col:
        df = df.repartition(n_buckets, F.col(key_col))
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(partition_by)
    if fmt == "csv":
        writer = writer.option("header", "true")
    getattr(writer, fmt)(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    key_col: str,
    n_buckets: int,
    sort_by: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed, catalog-backed write — the 100 TB fact-fact join layout
    (SCALE.md "Bucketing / layout prescriptions").

    Unlike a plain ``repartition(n, key)`` parquet write, ``bucketBy``
    records the bucketing in the table catalog, so a join between two
    tables bucketed on the same key with the same bucket count is
    CO-LOCATED: Spark plans a SortMergeJoin with zero shuffle exchanges
    (and zero sorts if ``sort_by`` matches the join key). This is the
    difference between shuffling 100 TB per join and shuffling nothing
    — asserted in tests/test_sinks.py.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, key_col)
    if sort_by:
        writer = writer.sortBy(sort_by)
    writer.format("parquet").saveAsTable(table_name)


def export_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    fl: list[str] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
    n_files: int | None = None,
) -> None:
    """Solr ``/export`` handler: full sorted result-set export (the
    docValues streaming path Solr uses when a result is too big for
    ``start+rows`` paging — reference-surface Solr 5.x exports on
    sort+fl only, which is exactly this signature).

    A single global ``orderBy`` would funnel the result through one
    final collect; instead the export is RANGE-partitioned on the sort
    key and sorted within each partition — files are globally ordered
    (file k's rows all sort before file k+1's), each file is internally
    sorted, and every partition writes in parallel. Reading the files
    back in filename order yields the total order; range boundaries
    come from Spark's reservoir sampling of the sort key, so skewed
    keys still split evenly. At 100 TB this is the only export shape
    that works — and it doubles as the sorted-layout write for
    min/max-pruned scans.
    """
    if fmt not in FORMATS:
        raise ValueError(f"unknown sink format {fmt!r}; expected one of {FORMATS}")
    cols = [F.col(c) for c in sort_cols]
    # explicit n_files pins the file count (AQE coalesces a bare
    # repartitionByRange on small inputs); size it to the target
    # file size at scale, e.g. rows ÷ (128 MB / row width)
    out = (
        df.repartitionByRange(n_files, *cols)
        if n_files
        else df.repartitionByRange(*cols)
    ).sortWithinPartitions(*cols)
    if fl:
        out = out.select(*dict.fromkeys([*fl]))
    writer = out.write.mode(mode)
    if fmt == "csv":
        writer = writer.option("header", "true")
    getattr(writer, fmt)(path)


def merge_upsert_parquet(
    spark,
    path: str,
    delta: DataFrame,
    key_col: str,
    delete_col: str | None = None,
) -> None:
    """MERGE (upsert + optional delete) onto a plain parquet table,
    committed as one new generation: the reference's batched add/delete
    sink (SolrIndexTools.java:60-63,127-131), whose batch becomes
    visible at one commit.

    The next generation is the table minus every key in ``delta`` plus
    the delta's upsert rows projected onto the table's columns (a delta
    column the table lacks is dropped; a table column the delta lacks
    fails the merge). It is written once into ``<path>._staging`` and
    published by ``_publish``, the commit every store of the CDC fold
    uses; a crash mid-publish is rolled back by the next merge. Each
    merge copies the whole table, and in return a reader never sees a
    half-written one.

    ``delete_col``: optional boolean column in ``delta`` marking rows
    to delete instead of upsert (the S7 delete sink). Rows for a key
    appear at most once in the merged table (last-writer-wins within
    the batch is the caller's contract, as in the reference's batch).
    """
    _recover_store(spark, path)
    exists = _committed_state_exists(spark, path)
    upserts = delta if delete_col is None else delta.filter(
        ~F.coalesce(F.col(delete_col), F.lit(False))
    ).drop(delete_col)
    if exists:
        table = spark.read.parquet(path)
        keys = delta.select(key_col).distinct()
        kept = table.join(F.broadcast(keys), key_col, "left_anti")
        merged = kept.unionByName(upserts.select(*kept.columns))
    else:
        # a data-less bootstrap (empty delta, or a first batch whose
        # keys are ALL tombstoned) would commit only _SUCCESS, and every
        # later read would fail schema inference. Keep the table absent
        # until real rows arrive; the one-job probe runs only here.
        if upserts.isEmpty():
            return
        merged = upserts
    staging = path + "._staging"
    _stage(spark, path, staging, merged, exists)
    _publish(spark, staging, path)
    # readers that cached this path's file listing must re-list it
    spark.catalog.refreshByPath(path)


# ---------------------------------------------------------------------------
# The commit protocol: every store of the CDC fold (streaming.cdc_stream)
# and every merge_upsert_parquet table commits a generation this way —
# staged into a sibling directory, then published by two renames.
# ---------------------------------------------------------------------------


def _hpath(spark, path: str):
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def _fs(spark, path: str):
    """(Hadoop FileSystem, Path) for ``path`` — scheme-agnostic:
    file://, hdfs://, s3a://."""
    hpath = _hpath(spark, path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _committed_state_exists(spark, path: str) -> bool:
    """True iff a generation was COMMITTED at ``path``.

    Uses Hadoop FileSystem (scheme-agnostic: file://, hdfs://, s3a://)
    and requires the _SUCCESS marker, so a half-written directory from a
    crashed write counts as absent while a transient read failure of
    existing data still surfaces as an error in the caller's read."""
    fs, _ = _fs(spark, path)
    return bool(fs.exists(_hpath(spark, path + "/_SUCCESS")))


def _target_files(spark, path: str) -> int:
    """File count for the next generation of a committed store: its
    data bytes over Spark's split size (``spark.sql.files.
    maxPartitionBytes``), at least one. Derived from the store's size,
    not from its current file count, so commits can neither pile up
    small files nor drift towards fewer, larger ones. A partitioned
    store's files are counted in every partition directory."""
    fs, hpath = _fs(spark, path)
    size = 0
    files = fs.listFiles(hpath, True)
    while files.hasNext():
        st = files.next()
        if not st.getPath().getName().startswith(("_", ".")):
            size += st.getLen()
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return max(1, -(-size // split))


def _stage(
    spark,
    path: str,
    staging: str,
    df: DataFrame,
    exists: bool,
    partition_by: str | None = None,
) -> None:
    """Write ``df`` as the next generation of ``path`` into
    ``staging`` (overwriting what a crashed attempt left there). The
    next generation of a committed store is coalesced to its size in
    split-sized files (``_target_files``), so files never pile up
    across commits."""
    if exists:
        df = df.coalesce(_target_files(spark, path))
    writer = df.write.mode("overwrite")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(staging)


def _rename(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise OSError(f"rename {src} -> {dst} failed")


def _publish(spark, staging: str, path: str) -> None:
    """Swap a committed staging directory in for ``path``: two renames,
    then the old generation is dropped. A reader sees the old or the
    new directory, except between the two renames."""
    fs, hpath = _fs(spark, path)
    old = _hpath(spark, path + "._old")
    if fs.exists(hpath):
        _rename(fs, hpath, old)
    _rename(fs, _hpath(spark, staging), hpath)
    fs.delete(old, True)


def _recover_store(spark, path: str) -> None:
    """Undo what a crashed commit left at ``path``: a store absent
    between the two renames of ``_publish`` rolls back to its
    committed ``._old``; a leftover ``._old`` beside a committed store
    is dropped (a later rename onto it would nest the store inside).
    Staging directories need nothing: the replay overwrites its own."""
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


def read_results(spark, path: str, fmt: str = "parquet") -> DataFrame:
    if fmt not in FORMATS:
        raise ValueError(f"unknown sink format {fmt!r}")
    reader = spark.read
    if fmt == "csv":
        reader = reader.option("header", "true").option("inferSchema", "true")
    return getattr(reader, fmt)(path)
