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


def merge_state(state: DataFrame, increment_cells: DataFrame) -> DataFrame:
    """Fold one micro-batch of CDC cells into the compacted cell state —
    the batch equivalent of one reference commit cycle
    (SolrIndexTools.java:51-82), but conflict resolution is by cell
    (ts, seq), not arrival order, so out-of-order delivery is safe.

    Plan: rows untouched by the increment pass through an anti-join
    against the (small, broadcast) touched-key set — the 100 TB state
    table is never shuffled; only the touched slice is re-compacted.
    """
    touched = increment_cells.select("row_key").distinct()
    untouched = state.join(F.broadcast(touched), "row_key", "left_anti")
    affected = state.join(F.broadcast(touched), "row_key", "left_semi")
    merged = compact_state(affected.unionByName(increment_cells))
    return untouched.unionByName(merged)


def documents_from_state(state: DataFrame, qualifiers: list[str]) -> DataFrame:
    """Serving view over the cell state: identical to
    ``documents_from_cells`` (a compacted state is itself a valid cell
    log — see compact_state)."""
    return documents_from_cells(state, qualifiers)
