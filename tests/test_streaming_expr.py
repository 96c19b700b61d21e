"""Solr streaming-expressions compiler (search/streaming_expr.py).

Parser unit tests plus compiled-plan semantics against plain
DataFrame equivalents on the sf0.001 fixtures.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hbase_increment_index_spark.catalog import load_all
from hbase_increment_index_spark.search.streaming_expr import (
    Call,
    StreamExprError,
    parse,
    run_stream_expr,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def tables(spark):
    return load_all(spark, SF)


# ------------------------------------------------------------- parser


def test_parse_nested_structure():
    c = parse('top(n=5, sort="a desc", rollup(search(lineitem, q="x:1"), over="a", sum(b), count(*)))')
    assert c.name == "top"
    assert c.params["n"] == "5"
    (roll,) = c.streams
    assert roll.name == "rollup"
    assert [s.name for s in roll.streams] == ["search", "sum", "count"]
    assert roll.streams[2].fields == ["*"]


def test_parse_named_substream():
    c = parse('complement(search(a), hashed=search(b), on="k")')
    assert isinstance(c.params["hashed"], Call)
    assert c.params["hashed"].fields == ["b"]


@pytest.mark.parametrize(
    "bad",
    [
        "top(",  # unbalanced
        'top(n=5, sort="a") trailing',  # trailing garbage
        'nosuch(search(lineitem))',  # unknown decorator — compile-time
    ],
)
def test_parse_or_compile_errors(bad, tables, spark):
    with pytest.raises(StreamExprError):
        run_stream_expr(spark, tables, bad)


def test_unknown_collection(tables, spark):
    with pytest.raises(StreamExprError, match="unknown collection"):
        run_stream_expr(spark, tables, "search(nope)")


# ------------------------------------------------------------- compiler


def test_search_pushdown_projection(tables, spark):
    df = run_stream_expr(
        spark, tables, 'search(lineitem, fq="l_quantity:[49 TO *]", fl="l_orderkey,l_quantity")'
    )
    assert df.columns == ["l_orderkey", "l_quantity"]
    assert df.agg(F.min("l_quantity")).first()[0] >= 49
    # the fl projection must reach the parquet scan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" not in plan or "l_extendedprice" not in plan


def test_rollup_matches_dataframe(tables, spark):
    got = run_stream_expr(
        spark, tables,
        'rollup(search(lineitem, fl="l_returnflag,l_quantity"), over="l_returnflag", count(*))',
    )
    want = tables["lineitem"].groupBy("l_returnflag").count()
    assert {(r.l_returnflag, r.count_star) for r in got.collect()} == {
        (r.l_returnflag, r["count"]) for r in want.collect()
    }


def test_stats_global_agg(tables, spark):
    row = run_stream_expr(
        spark, tables, 'stats(orders, q="o_orderstatus:F", count(*), max(o_totalprice))'
    ).first()
    want = tables["orders"].filter(F.col("o_orderstatus") == "F")
    assert row.count_star == want.count()
    assert row.max_o_totalprice == want.agg(F.max("o_totalprice")).first()[0]


def test_hashjoin_alias_matches_innerjoin(tables, spark):
    a = run_stream_expr(
        spark, tables,
        'innerJoin(search(orders, fl="o_orderkey,o_custkey"), '
        'search(customer, fl="c_custkey,c_mktsegment"), on="o_custkey=c_custkey")',
    )
    b = run_stream_expr(
        spark, tables,
        'hashJoin(search(orders, fl="o_orderkey,o_custkey"), '
        'hashed=search(customer, fl="c_custkey,c_mktsegment"), on="o_custkey=c_custkey")',
    )
    assert a.columns == b.columns
    assert a.count() == b.count() == tables["orders"].count()


def test_intersect_is_semi_join(tables, spark):
    got = run_stream_expr(
        spark, tables,
        'intersect(search(customer, fl="c_custkey,c_name"), '
        'hashed=search(orders, fq="o_totalprice:[300000 TO *]", fl="o_custkey"), '
        'on="c_custkey=o_custkey")',
    )
    keys = {
        r.o_custkey
        for r in tables["orders"].filter(F.col("o_totalprice") >= 300000).select("o_custkey").distinct().collect()
    }
    assert {r.c_custkey for r in got.collect()} == keys
    assert got.columns == ["c_custkey", "c_name"]  # left payload only


def test_merge_union_sort(tables, spark):
    got = run_stream_expr(
        spark, tables,
        'merge(search(customer, fq="c_acctbal:[9000 TO *]", fl="c_custkey,c_acctbal"), '
        'search(customer, fq="c_acctbal:[* TO 0]", fl="c_custkey,c_acctbal"), '
        'on="c_acctbal asc")',
    )
    vals = [r.c_acctbal for r in got.collect()]
    assert vals == sorted(vals)
    want = tables["customer"].filter((F.col("c_acctbal") >= 9000) | (F.col("c_acctbal") <= 0))
    assert got.count() == want.count()


def test_fetch_enrichment(tables, spark):
    got = run_stream_expr(
        spark, tables,
        'fetch(nation, search(customer, fl="c_custkey,c_nationkey"), '
        'on="c_nationkey=n_nationkey", fl="n_name")',
    )
    assert got.columns == ["c_custkey", "c_nationkey", "n_name"]
    assert got.filter(F.col("n_name").isNull()).count() == 0


def test_select_rename(tables, spark):
    got = run_stream_expr(
        spark, tables, 'select(search(region, fl="r_regionkey,r_name"), "r_name as name")'
    )
    assert got.columns == ["name"]


def test_top_is_take_ordered(tables, spark):
    df = run_stream_expr(
        spark, tables,
        'top(n=3, sort="o_totalprice desc,o_orderkey asc", search(orders, fl="o_orderkey,o_totalprice"))',
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    assert len(rows) == 3
    assert rows[0].o_totalprice >= rows[1].o_totalprice >= rows[2].o_totalprice


def test_fetch_dedupes_duplicate_enrichment_keys(tables, spark):
    # one-out-per-in even when the lookup collection duplicates keys
    dup_nation = tables["nation"].unionByName(tables["nation"])
    tbl = dict(tables)
    tbl["nation"] = dup_nation
    base = run_stream_expr(
        spark, tbl, 'search(customer, fl="c_custkey,c_nationkey")'
    )
    got = run_stream_expr(
        spark, tbl,
        'fetch(nation, search(customer, fl="c_custkey,c_nationkey"), '
        'on="c_nationkey=n_nationkey", fl="n_name")',
    )
    assert got.count() == base.count()


def test_fetch_duplicate_keys_deterministic_survivor(tables, spark):
    # when the lookup collection holds the SAME key with DIFFERENT fl
    # values, the survivor is the fl-minimal row — not whichever row a
    # partitioning happened to visit first
    conflict = tables["nation"].sparkSession.createDataFrame(
        [(0, "zzz_late"), (0, "aaa_early")],
        "n_nationkey int, n_name string",
    )
    tbl = dict(tables)
    tbl["nation"] = conflict
    expr = (
        'fetch(nation, search(customer, fl="c_custkey,c_nationkey"), '
        'on="c_nationkey=n_nationkey", fl="n_name")'
    )
    names = {
        r.n_name
        for r in run_stream_expr(spark, tbl, expr)
        .filter(F.col("c_nationkey") == 0)
        .collect()
    }
    assert names == {"aaa_early"}


def test_unique_over_all_columns(tables, spark):
    got = run_stream_expr(
        spark, tables,
        'unique(search(customer, fl="c_mktsegment"), over="c_mktsegment")',
    )
    rows = [r.c_mktsegment for r in got.collect()]
    assert sorted(rows) == sorted(set(rows))
    assert len(rows) == tables["customer"].select("c_mktsegment").distinct().count()


# ------------------------------------------- r9 decorators


def test_timeseries_gap_fill_and_metrics(spark, tables):
    """Every bucket in [start, end) is emitted; empty buckets carry
    count 0 and null sums; filled buckets match the plain-DataFrame
    aggregate."""
    out = run_stream_expr(
        spark, tables,
        'timeseries(orders, fq="o_totalprice:[498000 TO *]", '
        'field="o_orderdate", start="1996-01-01", end="1998-01-01", '
        'gap="+1MONTH", sum(o_totalprice), count(*))',
    ).collect()
    assert [r["bucket"] for r in out] == [
        f"{y}-{m:02d}" for y in (1996, 1997) for m in range(1, 13)
    ]
    empty = [r for r in out if r["count_star"] == 0]
    filled = [r for r in out if r["count_star"] > 0]
    assert empty and filled  # gap semantics actually exercised
    assert all(r["sum_o_totalprice"] is None for r in empty)
    want = (
        tables["orders"]
        .filter(
            (F.col("o_totalprice") >= 498000)
            & (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1998-01-01")
        )
        .count()
    )
    assert sum(r["count_star"] for r in filled) == want


def test_timeseries_rejects_unknown_gap(spark, tables):
    with pytest.raises(StreamExprError):
        run_stream_expr(
            spark, tables,
            'timeseries(orders, field="o_orderdate", start="1996-01-01", '
            'end="1997-01-01", gap="+7MINUTES", count(*))',
        )


def test_nodes_single_hop_matches_manual_join(spark, tables):
    out = run_stream_expr(
        spark, tables,
        'nodes(orders, search(orders, fq="o_orderkey:[0 TO 19]", '
        'fl="o_orderkey,o_custkey"), walk="o_custkey->o_orderkey", '
        'gather="o_custkey")',
    )
    orders = tables["orders"]
    roots = orders.filter(F.col("o_orderkey") < 20).select("o_custkey").distinct()
    want = {
        r["o_custkey"]
        for r in orders.join(
            roots.withColumnRenamed("o_custkey", "_k"),
            orders["o_orderkey"] == F.col("_k"),
        ).select("o_custkey").distinct().collect()
    }
    assert {r["node"] for r in out.collect()} == want


def test_update_decorator_merges_into_cow_sink(spark, tables, tmp_path):
    """update() closes the stream language onto the COW MERGE sink:
    read-your-writes on the served view, upsert on re-run."""
    path = str(tmp_path / "dest")
    sinks = {"nation_mirror": path}
    summary = run_stream_expr(
        spark, tables,
        'update(nation_mirror, search(nation, fl="n_nationkey,n_name"), '
        'key="n_nationkey", buckets=4)',
        sink_paths=sinks,
    ).collect()
    assert summary[0]["batchIndexed"] == 25
    served = spark.read.parquet(path)
    assert served.count() == 25
    # second update over a filtered slice upserts, never duplicates
    run_stream_expr(
        spark, tables,
        'update(nation_mirror, select(search(nation, '
        'fq="n_nationkey:[0 TO 4]", fl="n_nationkey,n_name"), '
        '"n_nationkey", "n_name"), key="n_nationkey", buckets=4)',
        sink_paths=sinks,
    ).collect()
    assert spark.read.parquet(path).count() == 25


def test_update_requires_registered_destination(spark, tables):
    with pytest.raises(StreamExprError):
        run_stream_expr(
            spark, tables,
            'update(nowhere, search(nation, fl="n_nationkey"), key="n_nationkey")',
        )


def test_timeseries_day_and_hour_gaps(spark):
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 3, 1, 0, 30), 10.0),
        (2, dt.datetime(2024, 3, 1, 2, 10), 20.0),   # hour 01 empty
        (3, dt.datetime(2024, 3, 3, 5, 0), 30.0),    # day 03-02 empty
    ]
    t = spark.createDataFrame(rows, "id long, dt timestamp, v double")
    out = run_stream_expr(
        spark, {"t": t},
        'timeseries(t, field="dt", start="2024-03-01", end="2024-03-04", '
        'gap="+1DAY", count(*))',
    ).collect()
    assert [(r["bucket"], r["count_star"]) for r in out] == [
        ("2024-03-01", 2), ("2024-03-02", 0), ("2024-03-03", 1)
    ]
    out = run_stream_expr(
        spark, {"t": t},
        'timeseries(t, field="dt", start="2024-03-01 00:00:00", '
        'end="2024-03-01 03:00:00", gap="+1HOUR", sum(v), count(*))',
    ).collect()
    # hour spine needs timestamp-typed bounds; the 01 bucket is gap-filled
    assert [(r["bucket"], r["count_star"]) for r in out] == [
        ("2024-03-01 00", 1), ("2024-03-01 01", 0), ("2024-03-01 02", 1)
    ]
    assert out[1]["sum_v"] is None and out[0]["sum_v"] == 10.0


def test_timeseries_year_gap(spark, tables):
    out = run_stream_expr(
        spark, tables,
        'timeseries(orders, field="o_orderdate", start="1995-01-01", '
        'end="2002-01-01", gap="+1YEAR", count(*))',
    ).collect()
    assert [r["bucket"] for r in out] == [str(y) for y in range(1995, 2002)]
    total = sum(r["count_star"] for r in out)
    assert total == tables["orders"].count()  # fixture spans 1995..2001


def test_significant_terms_stream_matches_component(spark, tables):
    """significantTerms() through the stream language equals the q43
    select-handler aggregate it composes."""
    from pyspark.sql import functions as F

    from hbase_increment_index_spark.search.ranking import significant_terms

    got = run_stream_expr(
        spark, tables,
        'significantTerms(documents, q="lang:de", field="text", '
        'limit=15, minDocFreq=3)',
    ).collect()
    want = significant_terms(
        tables["documents"], F.col("lang") == "de", "doc_id", "text",
        min_fg_df=3, k=15,
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_facade_update_through_stream_expr(spark, sf_dir, tmp_path):
    """The SecondaryIndex facade routes sink_paths to the update()
    decorator — write-back works from the top-level API, not just the
    compiler."""
    import datetime as dt

    from hbase_increment_index_spark.api import SecondaryIndex

    log = spark.createDataFrame(
        [("put", f"r{i}", "cf", "name", f"v{i}", dt.datetime(2024, 1, 1), i)
         for i in range(6)],
        "op string, row_key string, family string, qualifier string, "
        "value string, ts timestamp, seq long",
    )
    idx = SecondaryIndex(spark, families=["cf"], qualifiers=["name"])
    idx.apply_mutations(log)
    dest = str(tmp_path / "mirror")
    out = idx.stream_expr(
        'update(mirror, search(documents, fl="rowkey,name"), key="rowkey", buckets=2)',
        sink_paths={"mirror": dest},
    ).collect()
    assert out[0]["batchIndexed"] == 6
    assert spark.read.parquet(dest).count() == 6


def test_no_comma_continuation_restricted_to_as(tables, spark):
    """r15 (ADVICE): a bare word after an argument is only legal as the
    `as <alias>` pair — any other missing comma is a syntax error
    again (previously `search(t, q="a" fq="b")` parsed silently)."""
    with pytest.raises(StreamExprError):
        parse('search(lineitem, q="a:1" fq="b:2")')
    with pytest.raises(StreamExprError):
        parse("select(search(lineitem), a b)")


def test_select_unquoted_as_is_rename(tables, spark):
    """r15 (ADVICE): unquoted `field as alias` renames (same as the
    quoted "field as alias" form) — it must NOT project a column
    literally named 'as'."""
    got = run_stream_expr(
        spark, tables,
        'select(search(lineitem, fq="l_orderkey:1", fl="l_orderkey,l_quantity"), '
        "l_orderkey as id, l_quantity)",
    )
    assert got.columns == ["id", "l_quantity"]
    quoted = run_stream_expr(
        spark, tables,
        'select(search(lineitem, fq="l_orderkey:1", fl="l_orderkey,l_quantity"), '
        '"l_orderkey as id", l_quantity)',
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, quoted.collect()))


def test_priority_all_empty_keeps_first_schema(tables, spark):
    """r15 (ADVICE): when every wrapped stream is empty, priority()
    emits the HIGHEST-priority (first) stream's schema, not the last
    probed one's."""
    out = run_stream_expr(
        spark, tables,
        'priority(select(search(lineitem, fq="l_orderkey:-1", fl="l_orderkey"), '
        '"l_orderkey as first_col"), '
        'select(search(orders, fq="o_orderkey:-1", fl="o_orderkey"), '
        '"o_orderkey as second_col"))',
    )
    assert out.count() == 0
    assert out.columns == ["first_col"]
