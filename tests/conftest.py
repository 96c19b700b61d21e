from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout these tests belong to, wherever it sits
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    import os

    # Toy-scale correctness runs don't benefit from runtime
    # re-optimization — per-stage AQE latency was 22% of the suite's
    # wall (test_properties 516 s → 405 s, identical results). The
    # bench/production sessions keep AQE on; override with
    # SPARK_GRAFT_AQE=1 to test under it.
    os.environ.setdefault("SPARK_GRAFT_AQE", "0")
    from hbase_increment_index_spark.session import get_spark

    spark = get_spark(
        "tests",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_TEST_SHUFFLE", "8")),
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def norm_result(df) -> tuple:
    """Order-insensitive (rows, cols, value-hash) of a pandas frame —
    the driver's correctness-gate normalization (shared by the parity
    sweep and any equivalence test that wants the same identity)."""
    import hashlib

    import pandas as pd

    cols = sorted(df.columns)
    df = df[cols]

    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "∅"
        if isinstance(v, float):
            return repr(round(v, 9))
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return str(v)

    rows = sorted(
        "|".join(cell(v) for v in r) for r in df.itertuples(index=False, name=None)
    )
    return len(df), cols, hashlib.md5("\n".join(rows).encode()).hexdigest()


@pytest.fixture(scope="session")
def registry_sweep(spark, sf_dir):
    """One pass over the whole registry, computed concurrently and
    SHARED by every full-registry sweep test: per entry, the formatted
    physical plan (test_plans' invariants + exchange ceilings) and the
    DuckDB parity normalization (test_queries_vs_duckdb). r17: the
    three sweeps previously each rebuilt all 359 queries serially —
    most of the suite's wall; query construction (Catalyst + the
    operators' bounded collects) now happens once per entry, in a
    thread pool (guide §2.6: at sf0.001 every query is
    driver/scheduling-bound, so the pool overlaps the per-query
    latencies). Returns name → {"plan": str|Exception,
    "parity": ((rows, cols, hash), (rows, cols, hash)) | Exception}.
    """
    import os
    import threading
    from concurrent.futures import ThreadPoolExecutor

    import duckdb

    from hbase_increment_index_spark.catalog import TABLES
    from hbase_increment_index_spark.queries import ORACLES, QUERIES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    tl = threading.local()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    def one(name: str):
        out = {}
        try:
            df = QUERIES[name](spark, sf_dir)
            out["plan"] = df._jdf.queryExecution().explainString(mode)
            sdf = df.toPandas()
            cur = getattr(tl, "cur", None)
            if cur is None:
                cur = tl.cur = con.cursor()
            odf = cur.execute(ORACLES[name]).df()
            out["parity"] = (norm_result(sdf), norm_result(odf))
        except Exception as exc:  # noqa: BLE001 — re-raised by the tests
            out.setdefault("plan", exc)
            out["parity"] = exc
        return name, out

    n_workers = int(os.environ.get("SPARK_GRAFT_TEST_WORKERS", "10"))
    with ThreadPoolExecutor(max_workers=n_workers) as pool:
        results = dict(pool.map(one, sorted(QUERIES)))
    # free the checkpoint blocks 359 query constructions accumulated
    # (clearCache does not drop them — functions.layout)
    from hbase_increment_index_spark.functions.layout import release_checkpoints

    spark.catalog.clearCache()
    release_checkpoints(spark)
    return results
