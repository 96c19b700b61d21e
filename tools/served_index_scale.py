"""Materialized-index serving evidence (SCALE.md protocol): build and
save the positional postings index ONCE per scale (the one-time cost a
deployment amortizes), then time phrase/span queries served from the
LOADED index at sf0.1 and at the 10x self-union. The claim under test
(SCALE.md "the build disappears"): served query cost is the two
term-pruned reads of the postings parquet and stays roughly flat in
corpus size, while the ad-hoc path pays a corpus tokenization per query.

  python tools/served_index_scale.py
"""

from __future__ import annotations

import shutil
import sys
import time
from pathlib import Path

BASE = "/root/testdata/sf0.1"
SCALED = "/tmp/sfx10_idx"
IDX = "/tmp/posidx_scale"


def best_of_3(mk) -> tuple[float, int]:
    best, n = float("inf"), 0
    for _ in range(3):
        t0 = time.time()
        n = len(mk().toPandas())
        best = min(best, time.time() - t0)
    return best, n


def main() -> int:
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from pyspark.sql import functions as F

    from hbase_increment_index_spark.search.inverted import (
        build_positional_index,
        phrase_match_from_index,
        sloppy_phrase_from_index,
        span_near_from_index,
    )
    from hbase_increment_index_spark.session import get_spark

    spark = get_spark("served-index-scale")
    spark.range(1).count()

    # 10x documents via the re-keyed self-union (same recipe as
    # tools/scale10_new.py, documents table only — these queries touch
    # nothing else)
    shutil.rmtree(SCALED, ignore_errors=True)
    df = spark.read.parquet(f"{BASE}/documents.parquet")
    parts = [df.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000)) for i in range(10)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.parquet(f"{SCALED}/documents.parquet")

    shutil.rmtree(IDX, ignore_errors=True)
    for label, docs_path in [("sf0.1", f"{BASE}/documents.parquet"), ("10x", f"{SCALED}/documents.parquet")]:
        docs = spark.read.parquet(docs_path)
        t0 = time.time()
        build_positional_index(docs, "doc_id", "text").write.mode("overwrite").parquet(
            f"{IDX}/{label}"
        )
        build_sec = time.time() - t0
        pp = spark.read.parquet(f"{IDX}/{label}")
        print(f"[{label}] index build+save (one-time): {build_sec:.2f}s", flush=True)
        for name, mk in [
            ("q05c_phrase_served", lambda: phrase_match_from_index(pp, ["stream", "table", "hash"], "doc_id")),
            ("q05d_slop_served", lambda: sloppy_phrase_from_index(pp, ["stream", "table", "hash"], "doc_id", slop=2)),
            ("q69_span_served", lambda: span_near_from_index(pp, "data", "spark", "doc_id", distance=4)),
        ]:
            b, n = best_of_3(mk)
            print(f"[{label}] {name}: {b:.3f}s ({n} rows)", flush=True)
    shutil.rmtree(SCALED, ignore_errors=True)
    shutil.rmtree(IDX, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
