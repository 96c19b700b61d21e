"""Sink format selection (S10) + keyset pagination round trips."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hbase_increment_index_spark.search.paging import keyset_page, sorted_page
from hbase_increment_index_spark.sinks import read_results, write_results


@pytest.mark.parametrize("fmt", ["parquet", "json", "csv"])
def test_write_read_round_trip(spark, sf_dir, tmp_path, fmt):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "lang", "source")
    path = str(tmp_path / fmt)
    write_results(docs, path, fmt=fmt)
    back = read_results(spark, path, fmt=fmt)
    assert back.count() == docs.count()
    assert set(back.columns) == set(docs.columns)


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "bylang")
    write_results(docs, path, fmt="parquet", partition_by="lang")
    one = spark.read.parquet(path).filter(F.col("lang") == "en")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan  # directory pruning active
    assert one.count() == docs.filter(F.col("lang") == "en").count()


def test_bad_format_rejected(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError):
        write_results(docs, str(tmp_path / "x"), fmt="xml")


def test_keyset_pages_partition_exactly(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey", "o_totalprice")
    seen: list[tuple] = []
    after = None
    for _ in range(5):
        page = keyset_page(orders, "o_totalprice", "o_orderkey", after=after, rows=50)
        rows = page.collect()
        if not rows:
            break
        seen.extend((r["o_orderkey"], r["o_totalprice"]) for r in rows)
        last = rows[-1]
        after = (last["o_totalprice"], last["o_orderkey"])
    # no repeats, and identical to one big offset-free sorted prefix
    assert len(seen) == len(set(seen))
    want = [
        (r["o_orderkey"], r["o_totalprice"])
        for r in sorted_page(
            orders, order=[F.col("o_totalprice").desc()], tie_break="o_orderkey", rows=len(seen)
        ).collect()
    ]
    assert seen == want


def test_bucketed_tables_join_without_exchange(spark, sf_dir):
    """The 100 TB co-located join claim: two tables bucketed+sorted on
    the join key join as SortMergeJoin with ZERO shuffle exchanges."""
    from hbase_increment_index_spark.sinks import write_bucketed_table

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    write_bucketed_table(li, "t_li_bucketed", "l_orderkey", 8, sort_by="l_orderkey")
    write_bucketed_table(orders, "t_ord_bucketed", "l_orderkey", 8, sort_by="l_orderkey")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("t_li_bucketed").join(spark.table("t_ord_bucketed"), "l_orderkey")
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        plan = j._jdf.queryExecution().explainString(mode)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: nothing shuffles
        # and it computes the right thing
        expect = li.join(orders, "l_orderkey").count()
        assert j.count() == expect > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_ord_bucketed")


def test_export_sorted_is_globally_ordered(spark, sf_dir, tmp_path):
    from hbase_increment_index_spark.sinks import export_sorted

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    path = str(tmp_path / "export")
    export_sorted(
        orders, path, sort_cols=["o_totalprice", "o_orderkey"],
        fl=["o_orderkey", "o_totalprice"], n_files=4,
    )
    import glob

    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    assert len(files) > 1  # actually range-partitioned, not one funnel
    prev_max = None
    total = 0
    for f in files:
        pdf = spark.read.parquet(f).toPandas()
        total += len(pdf)
        vals = list(zip(pdf["o_totalprice"], pdf["o_orderkey"]))
        assert vals == sorted(vals)  # sorted within each file
        if vals:
            if prev_max is not None:
                assert prev_max <= vals[0]  # files ordered end-to-end
            prev_max = vals[-1]
    assert total == orders.count()


# ---------------------------------------------------------------------------
# Copy-on-write MERGE sink (round 8): Delta-style upsert+delete on plain
# parquet via hash-bucket partitions + dynamic partition overwrite.
# ---------------------------------------------------------------------------


def _merge_fixture(spark):
    rows = [(f"r{i}", f"v{i}") for i in range(40)]
    return spark.createDataFrame(rows, "row_key string, value string")


def test_merge_upsert_parquet_semantics(spark, tmp_path):
    from hbase_increment_index_spark.sinks import merge_upsert_parquet, read_merged_table

    path = str(tmp_path / "merged")
    base = _merge_fixture(spark)
    merge_upsert_parquet(spark, path, base, "row_key", n_buckets=8)

    delta = spark.createDataFrame(
        [
            ("r3", "UPDATED", False),
            ("r99", "NEW", False),
            ("r5", None, True),  # delete
        ],
        "row_key string, value string, is_delete boolean",
    )
    merge_upsert_parquet(spark, path, delta, "row_key", n_buckets=8, delete_col="is_delete")

    got = {(r["row_key"], r["value"]) for r in read_merged_table(spark, path).collect()}
    expected = {(f"r{i}", f"v{i}") for i in range(40) if i not in (3, 5)}
    expected |= {("r3", "UPDATED"), ("r99", "NEW")}
    assert got == expected


def test_merge_is_copy_on_write(spark, tmp_path):
    """The scale property: a merge touching one key must leave every
    other bucket directory's files byte-identical and un-rewritten —
    merge cost ∝ |delta| + impacted buckets, never table size."""
    import os

    from hbase_increment_index_spark.sinks import merge_upsert_parquet

    path = str(tmp_path / "cow")
    merge_upsert_parquet(spark, path, _merge_fixture(spark), "row_key", n_buckets=8)

    def snapshot(skip_bucket):
        files = {}
        for d in os.listdir(path):
            if not d.startswith("kb=") or d == f"kb={skip_bucket}":
                continue
            for f in os.listdir(os.path.join(path, d)):
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(path, d, f))
                    files[f"{d}/{f}"] = (st.st_size, st.st_mtime_ns, st.st_ino)
        return files

    # find r7's bucket the same way the sink does
    kb = spark.createDataFrame([("r7",)], "row_key string").select(
        F.pmod(F.xxhash64("row_key"), F.lit(8)).alias("kb")
    ).collect()[0]["kb"]
    before = snapshot(kb)
    delta = spark.createDataFrame([("r7", "TOUCHED")], "row_key string, value string")
    merge_upsert_parquet(spark, path, delta, "row_key", n_buckets=8)
    assert snapshot(kb) == before  # untouched buckets: same inodes, same bytes
    got = dict(
        (r["row_key"], r["value"]) for r in spark.read.parquet(path).collect()
    )
    assert got["r7"] == "TOUCHED" and len(got) == 40


def test_merge_emptied_bucket_drops_stale_files(spark, tmp_path):
    """Deleting EVERY key in a bucket produces no output partition for
    the dynamic overwrite to replace — the sink must drop the stale
    directory itself or deleted rows come back from the dead."""
    from hbase_increment_index_spark.sinks import merge_upsert_parquet, read_merged_table

    path = str(tmp_path / "empty")
    base = _merge_fixture(spark)
    merge_upsert_parquet(spark, path, base, "row_key", n_buckets=4)
    # bucket of every key, computed as the sink computes it
    rows = base.select(
        "row_key", F.pmod(F.xxhash64("row_key"), F.lit(4)).alias("kb")
    ).collect()
    target = rows[0]["kb"]
    victims = [r["row_key"] for r in rows if r["kb"] == target]
    delta = spark.createDataFrame(
        [(k, None, True) for k in victims],
        "row_key string, value string, is_delete boolean",
    )
    merge_upsert_parquet(spark, path, delta, "row_key", n_buckets=4, delete_col="is_delete")
    got = {r["row_key"] for r in read_merged_table(spark, path).collect()}
    assert got == {r["row_key"] for r in rows if r["kb"] != target}


def test_merge_bootstrap_all_deletes_keeps_table_absent(spark, tmp_path):
    """A first batch whose keys are ALL tombstoned must not write a
    data-less table (only _SUCCESS, no parquet) — merged_table_exists
    would then say true while reads fail schema inference, permanently
    wedging the table. The bootstrap skips the write instead; the
    table stays absent until real rows arrive."""
    from hbase_increment_index_spark.sinks import (
        merge_upsert_parquet,
        merged_table_exists,
        read_merged_table,
    )

    path = str(tmp_path / "wedge")
    all_deletes = spark.createDataFrame(
        [("r1", None, True), ("r2", None, True)],
        "row_key string, value string, is_delete boolean",
    )
    merge_upsert_parquet(spark, path, all_deletes, "row_key", n_buckets=4,
                         delete_col="is_delete")
    assert not merged_table_exists(spark, path)
    # and a later real bootstrap + merge works normally on the same path
    merge_upsert_parquet(spark, path, _merge_fixture(spark), "row_key", n_buckets=4)
    delta = spark.createDataFrame([("r1", "X", False)],
                                  "row_key string, value string, is_delete boolean")
    merge_upsert_parquet(spark, path, delta, "row_key", n_buckets=4,
                         delete_col="is_delete")
    got = dict((r["row_key"], r["value"])
               for r in read_merged_table(spark, path).collect())
    assert got["r1"] == "X" and len(got) == 40


def test_cow_microbatch_order_convergence(spark, tmp_path):
    """Interleaving property for the micro-batch fold: folding
    batches A then B must converge to the same table CONTENT as B then
    A, because conflict resolution inside merge_state is by cell
    (ts, seq) — last-writer-wins per key by the seq tiebreak — never by
    arrival order. Both the compacted cell state and the derived
    serving view must agree."""
    import datetime as dt

    from hbase_increment_index_spark.streaming.cdc_stream import (
        CELL_LOG_DDL,
        merge_microbatch,
    )

    t = dt.datetime(2024, 1, 1, 12, 0, 0)

    def cells(rows):
        return spark.createDataFrame(rows, CELL_LOG_DDL)

    # k1: same ts, seq decides (B wins); k2: only in A; k3: A updates,
    # B deletes at higher seq (delete wins); k4: only in B
    batch_a = cells([
        ("put", "k1", "cf", "q", "a1", t, 1),
        ("put", "k2", "cf", "q", "a2", t, 2),
        ("put", "k3", "cf", "q", "a3", t, 3),
    ])
    batch_b = cells([
        ("put", "k1", "cf", "q", "b1", t, 9),
        ("delete", "k3", None, None, None, t, 8),
        ("put", "k4", "cf", "q", "b4", t, 4),
    ])

    def fold(order, sub):
        base = str(tmp_path / sub)
        for i, b in enumerate(order):
            merge_microbatch(spark, b, i, base, ["q"])
        state = sorted(map(tuple, spark.read.parquet(base + "_state").collect()))
        docs = sorted(map(tuple, spark.read.parquet(base).collect()))
        return state, docs

    state_ab, docs_ab = fold([batch_a, batch_b], "ab")
    state_ba, docs_ba = fold([batch_b, batch_a], "ba")
    assert state_ab == state_ba
    assert docs_ab == docs_ba
    # last-writer-wins by seq: k1=b1 (seq 9 > 1), k3 deleted (seq 8 > 3)
    served = {r[0]: r[1] for r in docs_ab}
    assert served == {"k1": "b1", "k2": "a2", "k4": "b4"}
