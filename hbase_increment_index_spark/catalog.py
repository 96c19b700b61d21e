"""Table catalog over the driver's parquet fixtures.

The reference's "tables" are an HBase primary table plus a Solr index
(SURVEY.md §1); here the primary store is parquet (columnar, scan-
pruned) and the query layer is Spark SQL over these frames. Reads are
plain ``spark.read.parquet`` so Catalyst gets predicate pushdown,
column pruning and partition pruning for free.
"""

from __future__ import annotations

from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession

# Per-session memo of fixture-table DataFrames (r16, guide §1.2 "per
# task work"/§6 file listing): each `spark.read.parquet` call re-reads
# the footer to infer the schema and rebuilds the file index — a fixed
# ~10-40 ms of driver work per table per call. A stream-language query
# loads all ten tables, so the bench paid that ten-fold on every one
# of its 5 runs per query. A DataFrame is an immutable PLAN — reusing
# the object re-executes the scan from parquet on every action, so no
# result is cached (the bench/oracle contract): only the
# schema-inference/analysis work is deduplicated, exactly what a
# production engine's catalog holds resident. Keyed weakly per
# SparkSession so a stopped session's frames are never reused, and
# per sf_dir; the fixture dirs are immutable (read-only mounts).
_FRAME_MEMO: WeakKeyDictionary = WeakKeyDictionary()

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast in joins.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "customer", "part"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    per_session = _FRAME_MEMO.setdefault(spark, {})
    key = (sf_dir, name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    df = _load_table_uncached(spark, sf_dir, name)
    per_session[key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts has shipped as either parquet TIMESTAMP(MICROS)
        # (reads natively as TIMESTAMP_NTZ — nothing to do) or
        # TIMESTAMP(NANOS) (no Spark ns type: read as long via
        # nanosAsLong and truncate to µs with exact integer DIV — a
        # double round-trip would lose precision, 2024-era ns epochs
        # exceed a double's 53-bit mantissa). Probe the loaded type and
        # only reconstruct for the nanos shape. Reconstruction targets
        # TIMESTAMP_NTZ (matching the other fixture tables and the
        # DuckDB oracle's naive timestamps): timestamp_micros would
        # yield LTZ, whose rendering shifts with the session timezone.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        if not isinstance(df.schema["ts"].dataType, LongType):
            return df
        ntz = F.expr(
            "make_timestamp_ntz(1970, 1, 1, 0, 0, 0) + make_dt_interval("
            "ts div 86400000000000, 0, 0, "
            "CAST((ts % 86400000000000) div 1000 AS DECIMAL(18,6)) / 1000000)"
        )
        return df.withColumn("ts", ntz)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
