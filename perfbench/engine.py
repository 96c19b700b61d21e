"""The benchmark's side of the engine: bulk index build, one executor
per request type, and the streaming index maintenance loop.

Every call goes through the engine's public entry points
(``api.SecondaryIndex.search``, ``search.ranking.bm25_topk_from_index``,
``search.inverted.phrase_match_from_index``,
``pipeline.similarity.knn_ivf_pq_serve``,
``pipeline.dedup.incremental_near_dups_from_index``,
``streaming.cdc_stream.start_index_maintenance``). Functions are looked
up on their module at call time, so the traced run can rebind them.
"""

from __future__ import annotations

import os
import re
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import tracing

KEY = "id"
TEXT = "text"
FACET = "source"
NEARDUP_THRESHOLD = 0.5
KNN = {"k": 10, "n_probe": 4, "shortlist": 40, "m": 4}
PQ_SEEDS = list(range(16))


def cell_table(cells: list[tuple]) -> pa.Table:
    cols = list(zip(*cells)) if cells else [[]] * 7
    return pa.table({
        "op": pa.array(cols[0], pa.string()),
        "row_key": pa.array(cols[1], pa.string()),
        "family": pa.array(cols[2], pa.string()),
        "qualifier": pa.array(cols[3], pa.string()),
        "value": pa.array(cols[4], pa.string()),
        "ts": pa.array(cols[5], pa.timestamp("us")),
        "seq": pa.array(cols[6], pa.int64()),
    })


def write_inputs(inputs: gen.Inputs, root: str) -> dict[str, str]:
    """Write the generated corpus as the engine's inputs: the bulk-load
    cell log and the embedding table (vec_id = document number)."""
    os.makedirs(root, exist_ok=True)
    paths = {"cells": f"{root}/base_cells.parquet", "emb": f"{root}/embeddings.parquet"}
    pq.write_table(cell_table(inputs.base_cells()), paths["cells"])
    ks = sorted(inputs.embeddings)
    pq.write_table(pa.table({
        "vec_id": pa.array([int(k[1:]) for k in ks], pa.int64()),
        "embedding": pa.array([inputs.embeddings[k][0] for k in ks], pa.list_(pa.float32())),
        "label": pa.array([inputs.embeddings[k][1] for k in ks], pa.int32()),
    }), paths["emb"])
    return paths


class Index:
    """Paths of one built index. ``base`` holds the documents view; the
    stores merge_microbatch maintains sit beside it (``_state``,
    ``_postings``, ``_facets``); the read-only serving stores under
    ``aux``."""

    def __init__(self, base: str):
        self.base = base
        self.state = base + "_state"
        self.postings = base + "_postings"
        self.facets = base + "_facets"
        self.aux = base + "_aux"

    def dirs(self) -> list[str]:
        return [p for p in (self.base, self.state, self.postings, self.facets, self.aux)
                if os.path.isdir(p)]


def build(spark, paths: dict[str, str], idx: Index) -> None:
    """Bulk-build the index from the cell log (the "Spark builds the
    index in batch" path): compacted cell state, documents view, text
    postings and source facet counts — the exact layout the streaming
    fold maintains."""
    from pyspark.sql import functions as F

    from hbase_increment_index_spark.cdc.index_builder import compact_state, documents_from_state
    from hbase_increment_index_spark.search.inverted import build_inverted_index
    from hbase_increment_index_spark.streaming.cdc_stream import CELL_LOG_DDL

    log = spark.read.schema(CELL_LOG_DDL).parquet(paths["cells"])
    compact_state(log).write.mode("overwrite").parquet(idx.state)
    documents_from_state(spark.read.parquet(idx.state), gen.QUALIFIERS).write.mode(
        "overwrite").parquet(idx.base)
    docs = spark.read.parquet(idx.base)
    build_inverted_index(docs, KEY, TEXT).write.mode("overwrite").parquet(idx.postings)
    docs.groupBy(F.col(FACET).alias("facet_value")).agg(
        F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(idx.facets)


def build_aux(spark, paths: dict[str, str], idx: Index, timings: dict) -> None:
    """The read-only serving stores beside a built index: BM25 side
    tables, positional postings, IVF-PQ and the shingle store."""
    from pyspark.sql import functions as F

    from hbase_increment_index_spark.search.inverted import build_positional_index

    a = idx.aux
    docs = spark.read.parquet(idx.base)
    t = time.perf_counter()
    tp = spark.read.parquet(idx.postings)
    tp.groupBy(KEY).agg(F.sum("tf").alias("dl")).write.mode("overwrite").parquet(f"{a}/doclen")
    spark.read.parquet(f"{a}/doclen").agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avg_dl"),
    ).write.mode("overwrite").parquet(f"{a}/stats")
    build_positional_index(docs, KEY, TEXT).write.mode("overwrite").parquet(f"{a}/positional")
    timings["positional_s"] = time.perf_counter() - t

    from hbase_increment_index_spark.pipeline.similarity import build_ivf_pq

    t = time.perf_counter()
    cen, cb, cells, codes = build_ivf_pq(
        spark.read.parquet(paths["emb"]), dim=gen.DIM, m=KNN["m"], seed_ids=PQ_SEEDS)
    cen.write.mode("overwrite").parquet(f"{a}/ann/centroids")
    cb.write.mode("overwrite").parquet(f"{a}/ann/codebooks")
    cells.write.mode("overwrite").partitionBy("cid").parquet(f"{a}/ann/cells")
    codes.write.mode("overwrite").partitionBy("cid").parquet(f"{a}/ann/codes")
    timings["ann_s"] = time.perf_counter() - t

    from hbase_increment_index_spark.pipeline.dedup import (
        build_shingle_postings,
        shingle_doc_sizes,
        write_shingle_store,
    )

    t = time.perf_counter()
    write_shingle_store(build_shingle_postings(docs.select(KEY, TEXT), KEY, TEXT, n=3),
                        f"{a}/shingles/postings")
    shingle_doc_sizes(spark.read.parquet(f"{a}/shingles/postings")).write.mode(
        "overwrite").parquet(f"{a}/shingles/sizes")
    timings["shingle_s"] = time.perf_counter() - t


class Server:
    """Executes requests against a built index. ``live``: the index the
    streaming fold maintains; the documents view and postings are
    re-read on every request, so a reader sees each commit. Otherwise
    the bulk-built index with its read-only serving stores, opened once."""

    def __init__(self, spark, idx: Index, live: bool):
        self.spark = spark
        self.idx = idx
        self.live = live
        self._docs = self._postings = None
        if live:
            return
        self._docs, self._postings = self.docs(), self.postings()
        r = spark.read.parquet
        a = idx.aux
        self.doclen = r(f"{a}/doclen")
        self.stats = r(f"{a}/stats")
        self.positional = r(f"{a}/positional")
        self.ann = [r(f"{a}/ann/{p}") for p in ("centroids", "codebooks", "cells", "codes")]
        self.sh_postings = r(f"{a}/shingles/postings")
        self.sh_sizes = r(f"{a}/shingles/sizes")

    def docs(self):
        from pyspark.sql import functions as F

        if self._docs is not None:
            return self._docs
        return self.spark.read.parquet(self.idx.base).withColumn(
            "n_chars", F.col("n_chars").cast("long"))

    def postings(self):
        if self._postings is not None:
            return self._postings
        return self.spark.read.parquet(self.idx.postings)

    # ------------------------------------------------------ executors

    def run(self, req: dict):
        return getattr(self, "_" + req["type"])(req)

    def _bm25(self, req):
        from hbase_increment_index_spark.search import ranking

        with tracing.span("search.ranking.bm25"):
            df = ranking.bm25_topk_from_index(
                self.postings(), KEY, req["terms"], k=10,
                # the fold does not maintain the side tables
                doc_len=None if self.live else self.doclen,
                stats=None if self.live else self.stats)
            return [(r[KEY], r["score"]) for r in df.collect()]

    def _select(self, req):
        from pyspark.sql import functions as F

        from hbase_increment_index_spark import api

        si = api.SecondaryIndex(self.spark, [gen.FAMILY], gen.QUALIFIERS, key_field=KEY)
        si.attach(self.docs())
        with tracing.span("api.search"):
            resp = si.search(
                q=req["q"], text_fields={TEXT},
                fq=[F.col("lang") == req["lang"], F.col("n_chars") >= req["min_chars"]],
                sort=[F.col("n_chars").desc()], start=req["start"], rows=req["rows"],
                facet_fields=["source", "lang"], stats_fields=["n_chars"])
            page = [r[KEY] for r in resp.docs.collect()]
            facets = {}
            for f, df in resp.facets.items():
                with tracing.span("search.facets"):
                    facets[f] = [(r[f], r["n"]) for r in df.collect()]
            with tracing.span("search.facets"):
                s = resp.stats["n_chars"].collect()[0]
        stats = None if not s["count_v"] else {
            "count": s["count_v"], "min": s["min_v"], "max": s["max_v"],
            "sum": s["sum_v"], "mean": s["mean_v"]}
        return page, facets, stats

    def _phrase(self, req):
        from hbase_increment_index_spark.search import inverted

        with tracing.span("search.inverted.phrase"):
            df = inverted.phrase_match_from_index(self.positional, req["words"], KEY)
            return sorted((r[KEY], r["n_occurrences"]) for r in df.collect())

    def _knn(self, req):
        from hbase_increment_index_spark.pipeline import similarity

        with tracing.span("pipeline.similarity.knn"):
            df = similarity.knn_ivf_pq_serve(*self.ann, req["vec"], **KNN)
            return [(r["vec_id"], r["score"]) for r in df.collect()]

    def _neardup(self, req):
        from hbase_increment_index_spark.pipeline import dedup

        with tracing.span("pipeline.dedup.neardup"):
            incoming = self.spark.createDataFrame(
                [(req["id"], req["text"])], f"{KEY} string, {TEXT} string")
            df = dedup.incremental_near_dups_from_index(
                self.sh_postings, self.sh_sizes, incoming, KEY, TEXT, n=3,
                threshold=NEARDUP_THRESHOLD)
            return sorted((r["id_old"], r["jaccard"]) for r in df.collect())


class Stream:
    """The streaming fold: ``start_index_maintenance`` over a directory
    of cell-log parquet files, one file per micro-batch."""

    def __init__(self, spark, idx: Index, root: str, trigger_seconds):
        from hbase_increment_index_spark.streaming import cdc_stream

        self.log_dir = f"{root}/cell_log"
        os.makedirs(self.log_dir, exist_ok=True)
        self.n_files = 0
        self.query = cdc_stream.start_index_maintenance(
            cdc_stream.read_cell_stream(spark, self.log_dir, max_files_per_trigger=1),
            idx.base, f"{root}/checkpoint", gen.QUALIFIERS,
            trigger_seconds=trigger_seconds, postings_field=TEXT, facet_field=FACET)

    def drop(self, cells: list[tuple]) -> int:
        """Write one batch file atomically (hidden name, then rename);
        returns its bytes."""
        tmp = f"{self.log_dir}/.tmp-{self.n_files:05d}.parquet"
        pq.write_table(cell_table(cells), tmp)
        os.rename(tmp, f"{self.log_dir}/batch-{self.n_files:05d}.parquet")
        self.n_files += 1
        return os.path.getsize(f"{self.log_dir}/batch-{self.n_files - 1:05d}.parquet")

    def committed(self) -> int:
        """Number of batch files the fold has committed."""
        p = self.query.lastProgress
        if not p:
            return 0
        end = p["sources"][0].get("endOffset")
        if end is None:
            return 0
        m = re.search(r"logOffset\D*(\d+)", str(end))
        return int(m.group(1)) + 1 if m else 0

    def wait(self, n: int, timeout: float) -> bool:
        """Block until ``n`` files are committed; False on timeout or a
        failed query. Each round is one blocking call, so the wait adds
        no polling to the commit it waits for; a round can end early if
        the trigger running when the file was dropped did not see it."""
        deadline = time.perf_counter() + timeout
        while self.committed() < n:
            if not self.query.isActive or time.perf_counter() > deadline:
                return False
            try:
                self.query.processAllAvailable()
            except Exception:  # noqa: BLE001 — the query failed
                return False
        return True

    def progress(self) -> list[dict]:
        return [p for p in self.query.recentProgress if p.get("numInputRows")]

    def stop(self) -> None:
        self.query.stop()
