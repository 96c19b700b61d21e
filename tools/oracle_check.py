"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at a given sf dir, compares row count, column-name set, and
an order-insensitive value hash (rows stringified, sorted). Use while
iterating; the driver's own comparison is authoritative.

  python tools/oracle_check.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import pandas as pd


def _normalize(df: pd.DataFrame) -> tuple[int, list[str], str]:
    import hashlib

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

    rows = sorted("|".join(cell(v) for v in row) for row in df.itertuples(index=False, name=None))
    digest = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return len(df), cols, digest


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod
    from hbase_increment_index_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name:28s} spark error: {exc}")
            failures.append(name)
            continue
        spark_sec = time.time() - t0
        if name not in oracles:
            print(f"rows  {name:28s} {len(sdf):7d} rows  (no oracle) {spark_sec:6.1f}s")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name:28s} duckdb error: {exc}")
            failures.append(name)
            continue
        sn, sc, sh = _normalize(sdf)
        on, oc, oh = _normalize(odf)
        ok = (sn, sc, sh) == (on, oc, oh)
        status = "OK  " if ok else "FAIL"
        print(f"{status}  {name:28s} rows {sn}/{on}  cols {'=' if sc == oc else 'DIFF'}  "
              f"hash {'=' if sh == oh else 'DIFF'}  {spark_sec:6.1f}s")
        if not ok:
            failures.append(name)
            if sc != oc:
                print(f"      spark cols: {sc}\n      duck  cols: {oc}")
            if sn != on or sh != oh:
                print(f"      spark head:\n{sdf[sorted(sdf.columns)].head(3)}")
                print(f"      duck  head:\n{odf[sorted(odf.columns)].head(3)}")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nall green")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
