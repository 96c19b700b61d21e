"""10x-scaling evidence for round-2 operators (SCALE.md protocol):
re-keyed self-union of the sf0.1 fixtures into /tmp, repartition(32)
so scans use all cores, then best-of-3 wall time per query at both
scales.

  python tools/scale10_new.py [query ...]
"""

from __future__ import annotations

import shutil
import sys
import time
from pathlib import Path

MULT = 10
BASE = "/root/testdata/sf0.1"
SCALED = "/tmp/sfx10_new"

DEFAULT = ["cdc_atomic_update", "q44_facet_prefix", "q45_spellcheck", "q46_hybrid_rrf"]


def build_scaled(spark) -> None:
    from pyspark.sql import functions as F

    shutil.rmtree(SCALED, ignore_errors=True)
    # events: keep ts as the raw nanos long so catalog.load_table's
    # conversion path is identical for the scaled copy
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{BASE}/events.parquet")
    parts = [
        ev.withColumn("event_id", F.col("event_id") + F.lit(i * 10_000_000))
        .withColumn("user_id", F.col("user_id") + F.lit(i * 1_000_000))
        for i in range(MULT)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(32).write.parquet(f"{SCALED}/events.parquet")

    for name, key in [("documents", "doc_id"), ("embeddings", "vec_id"), ("part", "p_partkey")]:
        df = spark.read.parquet(f"{BASE}/{name}.parquet")
        parts = [
            df.withColumn(key, F.col(key) + F.lit(i * 10_000_000)) for i in range(MULT)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(32).write.parquet(f"{SCALED}/{name}.parquet")

    # star-schema facts + customer, re-keyed CONSISTENTLY so joins keep
    # their selectivity within each replica (orderkey/custkey/partkey
    # shifted by the same per-replica offsets on every table)
    star = {
        "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
        "lineitem": {"l_orderkey": 10_000_000, "l_partkey": 10_000_000},
        "customer": {"c_custkey": 1_000_000},
    }
    for name, keys in star.items():
        df = spark.read.parquet(f"{BASE}/{name}.parquet")
        parts = []
        for i in range(MULT):
            p = df
            for key, step in keys.items():
                p = p.withColumn(key, F.col(key) + F.lit(i * step))
            parts.append(p)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(32).write.parquet(f"{SCALED}/{name}.parquet")
    for name in ("nation", "region", "supplier"):
        spark.read.parquet(f"{BASE}/{name}.parquet").write.parquet(
            f"{SCALED}/{name}.parquet"
        )


def best_of_3(fn, spark, sf_dir) -> tuple[float, int]:
    best, n = float("inf"), 0
    for _ in range(3):
        t0 = time.time()
        n = len(fn(spark, sf_dir).toPandas())
        best = min(best, time.time() - t0)
    return best, n


def main() -> int:
    names = sys.argv[1:] or DEFAULT
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from hbase_increment_index_spark.queries import QUERIES
    from hbase_increment_index_spark.session import get_spark

    spark = get_spark("scale10")
    spark.range(1).count()
    build_scaled(spark)
    for name in names:
        fn = QUERIES[name]
        b1, n1 = best_of_3(fn, spark, BASE)
        b10, n10 = best_of_3(fn, spark, SCALED)
        growth = b10 / b1 if b1 > 0 else float("inf")
        print(
            f"{name}: sf0.1 {b1:.2f}s ({n1} rows) -> 10x {b10:.2f}s ({n10} rows) "
            f"growth {growth:.1f}x",
            flush=True,
        )
    shutil.rmtree(SCALED, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
