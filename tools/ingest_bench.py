"""Measured CDC ingest throughput — evidence for the BASELINE.md claim.

The reference sustains "several million rows/day" (README.md:5 —
≈35–70 mutations/sec averaged) through the coprocessor → buffered
Solr-commit pipeline, throughput-capped by its global commit lock
(Semaphore(1) + synchronized flush, SolrIndexTools.java:110,121).

This tool measures the Spark engine's equivalent paths over the same
cell-log model (cdc.cell_model), scaled ``--mult``× beyond sf0.1 by
re-keyed self-union:

  bootstrap   full-log compaction → committed state + document view
  steady      merge a 10% increment into committed state (the
              per-micro-batch work of streaming.cdc_stream)
  streaming   end-to-end availableNow run of start_index_maintenance
              (includes checkpointing, and per batch a new generation
              of the state and the document view: untouched rows are
              copied once into staging, only the touched slice is
              recomputed, then the generation is published by rename —
              the conservative number)

Prints one JSON line: {"n_cells": ..., "paths": {name: {"sec": s,
"rows_per_sec": r}}}.  Usage:

  python tools/ingest_bench.py [sf_dir] [--mult N] [--batches K]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

from pyspark.sql import functions as F


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    mult = 10
    batches = 8
    for i, a in enumerate(sys.argv[1:]):
        if a == "--mult":
            mult = int(sys.argv[1:][i + 1])
        if a == "--batches":
            batches = int(sys.argv[1:][i + 1])

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from hbase_increment_index_spark.catalog import load_table
    from hbase_increment_index_spark.cdc.cell_model import cell_log_from_events
    from hbase_increment_index_spark.cdc.index_builder import (
        compact_state,
        documents_from_state,
        merge_state,
    )
    from hbase_increment_index_spark.session import get_spark

    spark = get_spark(app_name="ingest-bench")
    quals = ["click", "purchase", "signup", "view"]

    events = load_table(spark, sf_dir, "events")
    copies = [
        events.select(
            (F.col("event_id") + F.lit(i * 1_000_000_000)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.lit(i * 1_000_000)).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for i in range(mult)
    ]
    scaled = copies[0]
    for c in copies[1:]:
        scaled = scaled.unionByName(c)
    log = cell_log_from_events(scaled, delete_event_type="error")

    tmp = tempfile.mkdtemp(prefix="ingest_bench_")
    out = {}
    try:
        # materialize the log as files: ingest reads from storage, not RAM
        log.repartition(batches).write.parquet(f"{tmp}/log")
        n_cells = spark.read.parquet(f"{tmp}/log").count()

        # -- bootstrap: full-log compaction + document derivation
        t0 = time.monotonic()
        state = compact_state(spark.read.parquet(f"{tmp}/log"))
        state.write.parquet(f"{tmp}/state")
        documents_from_state(spark.read.parquet(f"{tmp}/state"), quals).write.parquet(
            f"{tmp}/docs"
        )
        dt = time.monotonic() - t0
        out["bootstrap"] = {"sec": round(dt, 3), "rows_per_sec": round(n_cells / dt)}

        # -- steady-state: 90% committed, merge the remaining 10%
        full = spark.read.parquet(f"{tmp}/log")
        cut = full.selectExpr(f"approx_percentile(seq, 0.9) AS c").collect()[0]["c"]
        full.filter(F.col("seq") <= cut).write.parquet(f"{tmp}/log90")
        full.filter(F.col("seq") > cut).write.parquet(f"{tmp}/inc10")
        compact_state(spark.read.parquet(f"{tmp}/log90")).write.parquet(f"{tmp}/state90")
        n_inc = spark.read.parquet(f"{tmp}/inc10").count()
        t0 = time.monotonic()
        merged = merge_state(
            spark.read.parquet(f"{tmp}/state90"), spark.read.parquet(f"{tmp}/inc10")
        )
        merged.write.parquet(f"{tmp}/state_merged")
        documents_from_state(
            spark.read.parquet(f"{tmp}/state_merged"), quals
        ).write.parquet(f"{tmp}/docs_merged")
        dt = time.monotonic() - t0
        out["steady_10pct"] = {"sec": round(dt, 3), "rows_per_sec": round(n_inc / dt)}

        # -- streaming: micro-batched end-to-end with checkpoint
        from hbase_increment_index_spark.streaming.cdc_stream import (
            read_cell_stream,
            start_index_maintenance,
        )

        t0 = time.monotonic()
        q = start_index_maintenance(
            read_cell_stream(spark, f"{tmp}/log/*.parquet", max_files_per_trigger=max(1, batches // 4)),
            f"{tmp}/stream_index",
            f"{tmp}/ckpt",
            qualifiers=quals,
            available_now=True,
        )
        q.awaitTermination()
        dt = time.monotonic() - t0
        out["streaming_e2e"] = {"sec": round(dt, 3), "rows_per_sec": round(n_cells / dt)}

        # -- streaming with FULL index maintenance: documents + postings
        #    + facet view per micro-batch (the reference's complete job)
        t0 = time.monotonic()
        q = start_index_maintenance(
            read_cell_stream(spark, f"{tmp}/log/*.parquet", max_files_per_trigger=max(1, batches // 4)),
            f"{tmp}/stream_index_full",
            f"{tmp}/ckpt_full",
            qualifiers=quals,
            available_now=True,
            postings_field="click",
            facet_field="click",
        )
        q.awaitTermination()
        dt = time.monotonic() - t0
        out["streaming_full_maintenance"] = {
            "sec": round(dt, 3),
            "rows_per_sec": round(n_cells / dt),
        }

        print(json.dumps({"n_cells": n_cells, "mult": mult, "sf_dir": sf_dir, "paths": out}))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
