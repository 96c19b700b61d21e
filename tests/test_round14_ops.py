"""Round-14 operator tests: the commit capstone's pair-once fold,
FilterList composition, /stream reduce()/group(), eval()/plist()
decorators, json.facet join/graph domains, and the math-expression
statistical tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _labels(df):
    return {(r["doc"], r["component"]) for r in df.collect()}


def test_delete_from_clusters_pairs_path_equals_store_and_direct(spark):
    """The r14 commit-capstone optimization: delete_from_clusters'
    ``pairs=`` form (restrict a PRE-delete pair list to surviving
    endpoints — valid because a pair's jaccard is a function of its
    two docs alone, and deletion never creates pairs) must equal both
    the store-served re-pairing form and the direct-corpus form, on a
    fixture whose deletion SPLITS a component (the hard case: the
    bridge doc leaves, survivors must re-cluster into two)."""
    from hbase_increment_index_spark.pipeline.dedup import (
        build_shingle_postings,
        connected_components,
        delete_from_clusters,
        ngram_jaccard_pairs,
        shingle_doc_sizes,
    )

    t_a, t_p, t_x = "a b c d e", "p q r s t", "x y z w v"
    v1 = spark.createDataFrame(
        [
            (1, t_a),
            (2, f"{t_a} {t_p}"),  # bridge between the a-group and p-group
            (3, t_p),
            (4, t_a),
            (5, t_p),
            (6, t_x),
            (7, t_x),
        ],
        ["doc_id", "text"],
    )
    pairs = ngram_jaccard_pairs(v1, "doc_id", "text", n=3, threshold=0.30)
    stored = connected_components(pairs)
    deleted = spark.createDataFrame([(2,)], ["doc_id"])
    store = build_shingle_postings(v1, "doc_id", "text", n=3)
    sizes = shingle_doc_sizes(store)

    via_pairs = delete_from_clusters(
        stored, deleted, None, "doc_id", "text", n=3, threshold=0.30,
        pairs=pairs.select("id_a", "id_b"),
    )
    via_store = delete_from_clusters(
        stored, deleted, None, "doc_id", "text", n=3, threshold=0.30,
        postings=store, sizes=sizes,
    )
    final = v1.filter(F.col("doc_id") != 2)
    via_direct = delete_from_clusters(
        stored, deleted, final, "doc_id", "text", n=3, threshold=0.30,
    )
    rebuilt = connected_components(
        ngram_jaccard_pairs(final, "doc_id", "text", n=3, threshold=0.30)
    )
    expect = _labels(rebuilt)
    # the bridge deletion really splits: {1,4} and {3,5} now separate
    assert expect == {(1, 1), (4, 1), (3, 3), (5, 3), (6, 6), (7, 6)}
    assert _labels(via_pairs) == expect
    assert _labels(via_store) == expect
    assert _labels(via_direct) == expect


def test_commit_cluster_labels_store_pairs_equals_default(spark):
    """commit_cluster_labels(store_pairs=...) — the bootstrap-priced
    commit's pair-once path — must produce the same labels as the
    default (store-served re-pairing) fold on a mixed batch with a
    component split, an update that moves a doc across components,
    and an insert pairing with a previously unlabeled doc."""
    from hbase_increment_index_spark.pipeline.dedup import (
        build_shingle_postings,
        commit_cluster_labels,
        connected_components,
        ngram_jaccard_pairs,
        shingle_doc_sizes,
    )

    t_a, t_p, t_x = "a b c d e", "p q r s t", "x y z w v"
    v1 = spark.createDataFrame(
        [
            (1, t_a),
            (2, f"{t_a} {t_p}"),
            (3, t_p),
            (4, t_a),
            (5, t_p),
            (6, t_a),
            (8, t_x),
        ],
        ["doc_id", "text"],
    )
    pairs = ngram_jaccard_pairs(v1, "doc_id", "text", n=3, threshold=0.30)
    stored = connected_components(pairs)
    changed = spark.createDataFrame([(6, t_p), (7, t_x)], ["doc_id", "text"])
    deleted = spark.createDataFrame([(2,)], ["doc_id"])
    store = build_shingle_postings(v1, "doc_id", "text", n=3)
    sizes = shingle_doc_sizes(store)

    common = dict(n=3, threshold=0.30)
    via_default = commit_cluster_labels(
        stored, store, sizes, changed, deleted, "doc_id", "text", **common
    )
    via_pairs = commit_cluster_labels(
        stored, store, sizes, changed, deleted, "doc_id", "text",
        store_pairs=pairs.select("id_a", "id_b"), **common
    )
    final = v1.filter(~F.col("doc_id").isin(2, 6)).unionByName(changed)
    rebuilt = connected_components(
        ngram_jaccard_pairs(final, "doc_id", "text", n=3, threshold=0.30)
    )
    assert _labels(via_pairs) == _labels(rebuilt)
    assert _labels(via_default) == _labels(rebuilt)


# ------------------------------------------------- /stream decorators


def test_stream_reduce_group(spark):
    """reduce(by, group(sort, n)) keeps the top-n tuples per by-group
    under the group sort, ranked by group_pos (1 = the head tuple)."""
    from hbase_increment_index_spark.search.streaming_expr import run_stream_expr

    t = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0),
         ("b", 4, 5.0), ("b", 5, 7.0)],
        ["k", "id", "v"],
    )
    got = run_stream_expr(
        spark, {"t": t},
        'reduce(search(t, q="*:*", fl="k,id,v", sort="k asc"), '
        'by="k", group(sort="v desc, id asc", n="2"))',
    )
    rows = {(r["k"], r["id"], r["group_pos"]) for r in got.collect()}
    assert rows == {("a", 2, 1), ("a", 3, 2), ("b", 5, 1), ("b", 4, 2)}


def test_stream_plist_equals_list(spark):
    from hbase_increment_index_spark.search.streaming_expr import run_stream_expr

    t = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "s"])
    u = spark.createDataFrame([(3,)], ["id"])
    a = run_stream_expr(
        spark, {"t": t, "u": u},
        'plist(search(t, q="*:*", fl="id,s"), search(u, q="*:*", fl="id"))',
    )
    b = run_stream_expr(
        spark, {"t": t, "u": u},
        'list(search(t, q="*:*", fl="id,s"), search(u, q="*:*", fl="id"))',
    )
    key = lambda r: (r["id"], r["s"])
    assert sorted(map(key, a.collect())) == sorted(map(key, b.collect()))
    assert a.count() == 3


def test_stream_eval_runs_stored_expression(spark):
    """eval() compiles the expression found in the inner stream's
    first tuple (expr_s field) and emits ITS tuples."""
    import pytest as _pytest

    from hbase_increment_index_spark.search.streaming_expr import (
        StreamExprError,
        run_stream_expr,
    )

    exprs = spark.createDataFrame(
        [(1, 'search(t, q="*:*", fl="id,v")')], ["id", "expr_s"]
    )
    t = spark.createDataFrame([(10, 1.5), (11, 2.5)], ["id", "v"])
    got = run_stream_expr(
        spark, {"exprs": exprs, "t": t},
        'eval(search(exprs, q="*:*", fl="expr_s", sort="id asc"))',
    )
    assert {(r["id"], r["v"]) for r in got.collect()} == {(10, 1.5), (11, 2.5)}
    with _pytest.raises(StreamExprError):
        run_stream_expr(
            spark, {"exprs": exprs, "t": t},
            'eval(search(exprs, q="id:[5 TO 9]", fl="expr_s"))',
        )


# --------------------------------------------- HBase FilterList trees


def _filter_specs():
    """Random HBase filter trees over the (id, click, view) test frame:
    leaf comparators (both filterIfMissing settings), prefixes, and
    nested AND/OR lists to depth 3."""
    from hypothesis import strategies as st

    vals = st.sampled_from(["1", "2", "3", "45", "7", "90"])
    cols = st.sampled_from(["id", "click", "view"])
    ops = st.sampled_from(["=", "!=", "<", "<=", ">", ">="])
    leaf = st.one_of(
        st.tuples(st.just("cmp"), cols, ops, vals, st.booleans()),
        st.tuples(st.just("prefix"), st.just("id"), vals),
        # r15 leaves: TimestampsFilter-class discrete set + InclusiveStop
        st.tuples(st.just("in"), cols, st.lists(vals, min_size=1, max_size=3)),
        st.tuples(st.just("stop"), st.just("id"), vals),
    )
    return st.recursive(
        leaf,
        lambda children: st.tuples(
            st.sampled_from(["AND", "OR"]),
            st.lists(children, min_size=1, max_size=3),
        ),
        max_leaves=8,
    )


def test_filter_list_random_trees_match_sql(spark):
    """Property: compile_filter_list (Spark Column) and filter_list_sql
    (the DuckDB oracle rendering) keep the same rows for ARBITRARY
    filter trees — including HBase's pass-when-missing NULL semantics."""
    import duckdb
    from hypothesis import HealthCheck, given, settings

    from hbase_increment_index_spark.cdc.filters import (
        compile_filter_list,
        filter_list_sql,
    )

    rows = [
        ("1", "2", "3"),
        ("2", None, "1"),
        ("45", "7", None),
        ("7", None, None),
        ("70", "1", "90"),
        ("9", "3", "45"),
    ]
    sdf = spark.createDataFrame(rows, ["id", "click", "view"]).localCheckpoint()
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (id VARCHAR, click VARCHAR, view VARCHAR)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)

    @settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
    @given(_filter_specs())
    def inner(spec):
        got = {r["id"] for r in sdf.filter(compile_filter_list(spec)).collect()}
        want = {
            r[0]
            for r in con.execute(
                f"SELECT id FROM t WHERE {filter_list_sql(spec)}"
            ).fetchall()
        }
        assert got == want, f"spec={spec!r}"

    inner()


def test_filter_list_spec_errors(spark):
    import pytest as _pytest

    from hbase_increment_index_spark.cdc.filters import (
        FilterSpecError,
        compile_filter_list,
    )

    for bad in [(), ("AND", []), ("cmp", "id"), ("nope", "x"), 42]:
        with _pytest.raises(FilterSpecError):
            compile_filter_list(bad)


# --------------------------------------- math-expression stat tests


def test_stream_ttest_matches_closed_form(spark):
    import math

    from hbase_increment_index_spark.search.streaming_expr import run_stream_expr

    xs = [10.0, 12.0, 9.0, 14.0, 11.0]
    ys = [8.0, 7.5, 9.5, 8.5]
    a = spark.createDataFrame([(v,) for v in xs], ["x"])
    b = spark.createDataFrame([(v,) for v in ys], ["y"])
    row = run_stream_expr(
        spark, {"a": a, "b": b},
        'ttest(col(a, x), col(b, y))',
    ).collect()[0]
    na, nb = len(xs), len(ys)
    ma, mb = sum(xs) / na, sum(ys) / nb
    va = sum((v - ma) ** 2 for v in xs) / (na - 1)
    vb = sum((v - mb) ** 2 for v in ys) / (nb - 1)
    se2 = va / na + vb / nb
    t = (ma - mb) / math.sqrt(se2)
    dfw = se2 * se2 / ((va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1))
    assert row["n_a"] == na and row["n_b"] == nb
    assert abs(row["t_stat"] - t) < 1e-5
    assert abs(row["df"] - dfw) < 1e-5


def test_stream_anova_matches_closed_form(spark):
    from hbase_increment_index_spark.search.streaming_expr import run_stream_expr

    groups = [[10.0, 12.0, 9.0], [8.0, 7.5, 9.5, 8.5], [11.0, 13.0]]
    tables = {
        name: spark.createDataFrame([(v,) for v in g], ["x"])
        for name, g in zip("abc", groups)
    }
    row = run_stream_expr(
        spark, tables,
        'anova(col(a, x), col(b, x), col(c, x))',
    ).collect()[0]
    allv = [v for g in groups for v in g]
    gm = sum(allv) / len(allv)
    ssb = sum(len(g) * ((sum(g) / len(g)) - gm) ** 2 for g in groups)
    ssw = sum(sum((v - sum(g) / len(g)) ** 2 for v in g) for g in groups)
    k, n = len(groups), len(allv)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert row["k"] == k and row["n_total"] == n
    assert row["df_between"] == k - 1 and row["df_within"] == n - k
    assert abs(row["ssb"] - ssb) < 1e-5
    assert abs(row["ssw"] - ssw) < 1e-5
    assert abs(row["f_ratio"] - f) < 1e-5


def test_stream_executor_runs_all_expressions(spark):
    """executor() compiles EVERY tuple's expr_s expression and
    concatenates the results list()-style (missing columns
    null-filled)."""
    from hbase_increment_index_spark.search.streaming_expr import run_stream_expr

    exprs = spark.createDataFrame(
        [
            (1, 'search(t, q="*:*", fl="id,v")'),
            (2, 'search(u, q="*:*", fl="id")'),
        ],
        ["rank", "expr_s"],
    )
    t = spark.createDataFrame([(10, 1.5)], ["id", "v"])
    u = spark.createDataFrame([(20,), (21,)], ["id"])
    got = run_stream_expr(
        spark, {"exprs": exprs, "t": t, "u": u},
        'executor(search(exprs, q="*:*", fl="expr_s", sort="rank asc"), '
        'threads="4")',
    )
    rows = {(r["id"], r["v"]) for r in got.collect()}
    assert rows == {(10, 1.5), (20, None), (21, None)}


def test_stream_frequency_table_basic(spark):
    from hbase_increment_index_spark.search.streaming_expr import run_stream_expr

    a = spark.createDataFrame([(1,), (1,), (2,), (3,), (3,), (3,)], ["x"])
    rows = run_stream_expr(
        spark, {"a": a}, 'frequencyTable(col(a, x))'
    ).collect()
    got = [(r["value"], r["count"], r["cum_freq"], r["pct"], r["cum_pct"])
           for r in rows]
    assert got == [
        (1, 2, 2, 0.333333, 0.333333),
        (2, 1, 3, 0.166667, 0.5),
        (3, 3, 6, 0.5, 1.0),
    ]


def test_stream_polyfit_recovers_exact_quadratic(spark):
    """polyfit on points that lie EXACTLY on y = 2 + 3x + 0.5x² must
    recover the coefficients; derivative maps them to (3, 1)."""
    from hbase_increment_index_spark.search.streaming_expr import run_stream_expr

    pts = [(float(x), 2.0 + 3.0 * x + 0.5 * x * x) for x in range(8)]
    a = spark.createDataFrame(pts, ["x", "y"])
    fit = run_stream_expr(
        spark, {"a": a}, 'polyfit(col(a, x), col(a, y))'
    ).collect()[0]
    assert (fit["c0"], fit["c1"], fit["c2"]) == (2.0, 3.0, 0.5)
    der = run_stream_expr(
        spark, {"a": a}, 'derivative(polyfit(col(a, x), col(a, y)))'
    ).collect()[0]
    assert (der["d0"], der["d1"]) == (3.0, 1.0)


# ---------------------------------------- streaming cluster maintenance


def test_cow_cluster_labels_and_pairs_match_rebuild(spark, tmp_path):
    """merge_microbatch(cluster_threshold=...) maintains the CC
    label and pair stores per micro-batch: after a bootstrap batch and
    a mixed batch (update that moves a doc between components, insert
    that pairs with a previously unpaired doc, delete that shrinks a
    component), both tables must equal a fresh pairing + clustering
    over the final document set."""
    from pyspark.sql import types as T

    from hbase_increment_index_spark.pipeline.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )
    from hbase_increment_index_spark.streaming.cdc_stream import merge_microbatch

    schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("row_key", T.StringType()),
            T.StructField("family", T.StringType()),
            T.StructField("qualifier", T.StringType()),
            T.StructField("value", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    import datetime

    def ts(i):
        return datetime.datetime(2024, 1, 1, 0, 0, i)

    base = str(tmp_path / "idx")
    t_a, t_p, t_x = "a b c d e", "p q r s t", "x y z w v"
    b1 = [
        ("put", "A", "cf", "name", t_a, ts(1), 1),
        ("put", "B", "cf", "name", t_a, ts(1), 2),
        ("put", "C", "cf", "name", t_p, ts(1), 3),
        ("put", "E", "cf", "name", t_x, ts(1), 4),
    ]
    b2 = [
        # B moves from the a-group to pair with C
        ("put", "B", "cf", "name", t_p, ts(5), 10),
        # F pairs with the previously unpaired E
        ("put", "F", "cf", "name", t_x, ts(6), 11),
        # A's group shrinks to a singleton (drops out of the tables)
        ("delete", "A", "cf", None, None, ts(7), 12),
    ]
    for i, b in enumerate([b1, b2]):
        merge_microbatch(
            spark,
            spark.createDataFrame(b, schema),
            i,
            base,
            ["name"],
            shingle_field="name",
            cluster_threshold=0.30,
        )
    final_docs = spark.read.parquet(base).select(F.col("id").alias("row_key"), "name")
    want_pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            final_docs, "row_key", "name", n=3, threshold=0.30
        ).collect()
    }
    want_labels = {
        (r["doc"], r["component"])
        for r in connected_components(
            ngram_jaccard_pairs(final_docs, "row_key", "name", n=3, threshold=0.30)
        ).collect()
    }
    got_pairs = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(base + "_cc_pairs")
        .select("id_a", "id_b")
        .collect()
    }
    got_labels = {
        (r["doc"], r["component"])
        for r in spark.read.parquet(base + "_cc_labels")
        .select("doc", "component")
        .collect()
    }
    assert want_labels == {("B", "B"), ("C", "B"), ("E", "E"), ("F", "E")}
    assert got_pairs == want_pairs
    assert got_labels == want_labels


def test_stream_select_evaluators(spark):
    """select() arithmetic evaluators compile to Column expressions:
    nested trees, numeric literals via val() or bare, unquoted
    `expr as alias` grammar."""
    from hbase_increment_index_spark.search.streaming_expr import (
        StreamExprError,
        run_stream_expr,
    )

    t = spark.createDataFrame([(1, 10.0, 0.1), (2, 20.0, 0.25)], ["id", "price", "disc"])
    got = run_stream_expr(
        spark, {"t": t},
        'select(search(t, q="*:*", fl="id,price,disc"), "id", '
        'mult(price, sub(val(1), disc)) as revenue, '
        'round(add(price, 0.6)) as bumped, '
        'pow(price, 2) as sq)',
    )
    rows = {tuple(r) for r in got.collect()}
    assert rows == {(1, 9.0, 11.0, 100.0), (2, 15.0, 21.0, 400.0)}
    # evaluator without an alias is an error, as is an unknown evaluator
    for bad in [
        'select(search(t, q="*:*", fl="id"), add(id, 1))',
        'select(search(t, q="*:*", fl="id"), nosuch(id) as x)',
    ]:
        with pytest.raises(StreamExprError):
            run_stream_expr(spark, {"t": t}, bad)


def test_stream_priority_and_echo(spark):
    """priority() emits the first wrapped stream with tuples; echo()
    emits its literal."""
    from hbase_increment_index_spark.search.streaming_expr import run_stream_expr

    t = spark.createDataFrame([(1, "x")], ["id", "s"])
    u = spark.createDataFrame([(9, "y")], ["id", "s"])
    got = run_stream_expr(
        spark, {"t": t, "u": u},
        'priority(search(t, q="id:[5 TO 9]", fl="id,s"), '
        'search(u, q="*:*", fl="id,s"))',
    )
    assert [(r["id"], r["s"]) for r in got.collect()] == [(9, "y")]
    got2 = run_stream_expr(spark, {"t": t}, 'echo("hello stream")')
    assert [r["echo"] for r in got2.collect()] == ["hello stream"]


def test_stream_hash_twin_aliases(spark):
    """hashRollup()/outerHashJoin() are worker-algorithm twins in Solr;
    here both names compile to the same hash-aggregate / hash-join
    plans as rollup()/leftOuterJoin()."""
    from hbase_increment_index_spark.search.streaming_expr import run_stream_expr

    t = spark.createDataFrame([("a", 1.0), ("a", 2.0), ("b", 5.0)], ["k", "v"])
    u = spark.createDataFrame([("a", "x")], ["k", "tag"])
    r1 = run_stream_expr(
        spark, {"t": t},
        'hashRollup(search(t, q="*:*", fl="k,v"), over="k", sum(v))',
    )
    assert {(r["k"], r["sum_v"]) for r in r1.collect()} == {("a", 3.0), ("b", 5.0)}
    r2 = run_stream_expr(
        spark, {"t": t, "u": u},
        'outerHashJoin(search(t, q="*:*", fl="k,v"), '
        'hashed=search(u, q="*:*", fl="k,tag"), on="k")',
    )
    rows = {(r["k"], r["v"], r["tag"]) for r in r2.collect()}
    assert rows == {("a", 1.0, "x"), ("a", 2.0, "x"), ("b", 5.0, None)}


def test_stream_conditional_evaluators_and_tuple(spark):
    """if()/comparison evaluators compile to when/boolean Columns;
    tuple() emits one literal-derived tuple."""
    from hbase_increment_index_spark.search.streaming_expr import run_stream_expr

    t = spark.createDataFrame([(1, 10.0), (2, 3.0)], ["id", "v"])
    got = run_stream_expr(
        spark, {"t": t},
        'select(search(t, q="*:*", fl="id,v"), "id", '
        'if(gt(v, 5), mult(v, 2), val(0)) as boosted, '
        'if(and(gte(v, 3), lt(v, 8)), val(1), val(0)) as mid)',
    )
    rows = {tuple(r) for r in got.collect()}
    assert rows == {(1, 20.0, 0.0), (2, 0.0, 1.0)}
    one = run_stream_expr(
        spark, {"t": t},
        'tuple(k="hello", n=add(val(2), val(3)), half=div(1, 2))',
    ).collect()
    assert [tuple(r) for r in one] == [("hello", 5.0, 0.5)]
