"""Round-15 additions: {!terms} query parser, /stream predict() and
kmeans()/getCentroids(), HBase PageFilter / TimestampsFilter /
InclusiveStopFilter leaves, gatherNodes() alias, and the
executor()/daemon() driver-side row caps."""

from __future__ import annotations

import pytest

from hbase_increment_index_spark.search.streaming_expr import (
    StreamExprError,
    run_stream_expr,
)


def test_gather_nodes_is_nodes_alias(spark):
    """gatherNodes() (the Solr-6 documented name) compiles identically
    to nodes()."""
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], ["src", "dst"]
    )
    seed = spark.createDataFrame([("a",)], ["node"])
    tables = {"edges": edges, "seed": seed}
    nodes_expr = (
        'nodes(edges, search(seed, q="*:*", fl="node"), '
        'walk="node->src", gather="dst")'
    )
    got_nodes = run_stream_expr(spark, tables, nodes_expr)
    got_gather = run_stream_expr(
        spark, tables, nodes_expr.replace("nodes(", "gatherNodes(", 1)
    )
    assert sorted(r["node"] for r in got_nodes.collect()) == ["b", "c"]
    assert sorted(map(tuple, got_nodes.collect())) == sorted(
        map(tuple, got_gather.collect())
    )


def test_executor_task_cap(spark):
    """executor() fails loudly above the task cap instead of collecting
    a corpus-sized stream to the driver; maxTasks= raises the cap."""
    exprs = spark.createDataFrame(
        [(i, 'search(t, q="*:*", fl="id")') for i in range(5)],
        ["rank", "expr_s"],
    )
    t = spark.createDataFrame([(10,)], ["id"])
    with pytest.raises(StreamExprError, match="maxTasks"):
        run_stream_expr(
            spark, {"exprs": exprs, "t": t},
            'executor(search(exprs, q="*:*", fl="expr_s"), maxTasks=3)',
        )
    ok = run_stream_expr(
        spark, {"exprs": exprs, "t": t},
        'executor(search(exprs, q="*:*", fl="expr_s"), maxTasks=5)',
    )
    assert ok.count() == 5


def test_daemon_run_once_row_cap(spark):
    """daemon().run_once() enforces the defensive row cap; maxRows=
    raises it."""
    t = spark.createDataFrame([(i,) for i in range(10)], ["id"])
    tables = {"t": t}
    out = run_stream_expr(
        spark, tables,
        'daemon(id="d1", runInterval=1000, maxRows=3, '
        'search(t, q="*:*", fl="id"))',
    )
    assert out.collect()[0]["id"] == "d1"
    from hbase_increment_index_spark.search.streaming_expr import StreamCompiler

    compiler = StreamCompiler(tables)
    compiler.compile('daemon(id="d2", maxRows=3, search(t, q="*:*", fl="id"))')
    with pytest.raises(StreamExprError, match="maxRows"):
        compiler.daemons["d2"].run_once()
    compiler.compile('daemon(id="d3", maxRows=100, search(t, q="*:*", fl="id"))')
    assert len(compiler.daemons["d3"].run_once()) == 10


# ------------------------------------------------- {!terms} query parser


def test_terms_parser_basic(spark):
    from hbase_increment_index_spark.search.solr_query import solr_select

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a"), (45, "c")], ["id", "s"]
    )
    got = solr_select(df, "{!terms f=id}1,3,45")
    assert sorted(r["id"] for r in got.collect()) == [1, 3, 45]


def test_terms_parser_separator_and_composition(spark):
    from hbase_increment_index_spark.search.solr_query import solr_select

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a"), (45, "c")], ["id", "s"]
    )
    got = solr_select(df, '{!terms f=id separator=";"}1;3;45 AND s:a')
    assert sorted(r["id"] for r in got.collect()) == [1, 3]
    neg = solr_select(df, "NOT {!terms f=id}1,3")
    assert sorted(r["id"] for r in neg.collect()) == [2, 45]


def test_terms_parser_string_values(spark):
    from hbase_increment_index_spark.search.solr_query import solr_select

    df = spark.createDataFrame([(1, "x1"), (2, "y2"), (3, "z3")], ["id", "k"])
    got = solr_select(df, "{!terms f=k}x1,z3")
    assert sorted(r["id"] for r in got.collect()) == [1, 3]


# ------------------------------------------------------ stream predict()


def test_predict_regress_matches_closed_form(spark):
    """predict(regress(...), col) evaluates intercept + slope*x at the
    distinct observed x values."""
    a = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 4.1), (3.0, 5.9), (4.0, 8.0), (2.0, 4.1)],
        ["x", "y"],
    )
    got = {
        (r["x"], r["prediction"])
        for r in run_stream_expr(
            spark, {"a": a},
            'let(v=search(a, q="*:*", fl="x,y"), '
            "predict(regress(col(v, x), col(v, y)), col(v, x)))",
        ).collect()
    }
    import numpy as np

    xs = np.array([1.0, 2.0, 3.0, 4.0, 2.0])
    ys = np.array([2.0, 4.1, 5.9, 8.0, 4.1])
    slope, intercept = np.polyfit(xs, ys, 1)
    want = {
        (x, round(intercept + slope * x, 6)) for x in (1.0, 2.0, 3.0, 4.0)
    }
    assert {(x, round(p, 5)) for x, p in got} == {
        (x, round(p, 5)) for x, p in want
    }


def test_predict_literal_point(spark):
    """predict(fit, number) emits one tuple evaluated at the literal."""
    a = spark.createDataFrame(
        [(float(i), float(2 * i + 1)) for i in range(1, 6)], ["x", "y"]
    )
    rows = run_stream_expr(
        spark, {"a": a},
        'let(v=search(a, q="*:*", fl="x,y"), '
        "predict(regress(col(v, x), col(v, y)), 10))",
    ).collect()
    assert len(rows) == 1
    assert rows[0]["x"] == 10.0
    assert abs(rows[0]["prediction"] - 21.0) < 1e-6


def test_predict_rejects_non_fit(spark):
    a = spark.createDataFrame([(1.0, 2.0)], ["x", "y"])
    with pytest.raises(StreamExprError, match="function"):
        run_stream_expr(
            spark, {"a": a},
            'predict(search(a, q="*:*", fl="x"), 3)',
        )


# --------------------------------------- HBase filter leaves (r15 tail)


def test_filter_list_backslash_prefix(spark):
    """r15 (ADVICE): a literal backslash in a prefix value keeps
    literal-startswith semantics in BOTH compilers (the SQL rendering
    escapes it under ESCAPE '\\')."""
    import duckdb

    from hbase_increment_index_spark.cdc.filters import (
        compile_filter_list,
        filter_list_sql,
    )

    rows = [(r"7\x",), (r"7\\y",), ("7x",), (r"a\b",)]
    sdf = spark.createDataFrame(rows, ["id"]).localCheckpoint()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", rows)
    for prefix in ("7\\", "7\\\\", "a\\b"):
        spec = ("prefix", "id", prefix)
        got = {r["id"] for r in sdf.filter(compile_filter_list(spec)).collect()}
        want = {
            r[0]
            for r in con.execute(
                f"SELECT id FROM t WHERE {filter_list_sql(spec)}"
            ).fetchall()
        }
        assert got == want == {r[0] for r in rows if r[0].startswith(prefix)}


def test_filter_list_in_and_stop_leaves(spark):
    """The r15 'in' (TimestampsFilter-class set) and 'stop'
    (InclusiveStopFilter) leaves agree between the Spark and SQL
    compilers, including the inclusive upper bound."""
    import duckdb

    from hbase_increment_index_spark.cdc.filters import (
        FilterSpecError,
        compile_filter_list,
        filter_list_sql,
    )

    rows = [("1",), ("2",), ("20",), ("3",), ("30",), ("4",)]
    sdf = spark.createDataFrame(rows, ["id"]).localCheckpoint()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", rows)
    for spec, expect in [
        (("in", "id", ["2", "30", "9"]), {"2", "30"}),
        (("stop", "id", "30"), {"1", "2", "20", "3", "30"}),
        (
            ("AND", [("cmp", "id", ">=", "2"), ("stop", "id", "30")]),
            {"2", "20", "3", "30"},
        ),
    ]:
        got = {r["id"] for r in sdf.filter(compile_filter_list(spec)).collect()}
        want = {
            r[0]
            for r in con.execute(
                f"SELECT id FROM t WHERE {filter_list_sql(spec)}"
            ).fetchall()
        }
        assert got == want == expect, f"spec={spec!r}"
    with pytest.raises(FilterSpecError):
        compile_filter_list(("in", "id", []))
    with pytest.raises(FilterSpecError):
        compile_filter_list(("stop", "id"))


# --------------------------------------------- stream kmeans machinery


def test_kmeans_assigns_to_nearest_seed(spark):
    """kmeans() assigns every vector to its nearest content-hash seed;
    getCentroids() emits the exact member means."""
    rows = [
        (0, [0.0, 0.0]),
        (1, [10.0, 10.0]),
        (2, [0.2, 0.0]),
        (3, [10.0, 9.8]),
        (4, [0.0, 0.4]),
    ]
    a = spark.createDataFrame(rows, ["vec_id", "embedding"])
    assign = {
        r["vec_id"]: r["cluster_id"]
        for r in run_stream_expr(
            spark, {"a": a},
            'kmeans(search(a, q="*:*", fl="vec_id,embedding"), '
            'field="embedding", id="vec_id", k=2)',
        ).collect()
    }
    # seeds = 2 smallest md5("0".."4"); whichever they are, the two
    # tight groups {0,2,4} and {1,3} must land in exactly two clusters
    # split along the groups
    g1 = {assign[0], assign[2], assign[4]}
    g2 = {assign[1], assign[3]}
    assert len(g1) == 1 and len(g2) == 1 and g1 != g2
    cents = run_stream_expr(
        spark, {"a": a},
        'getCentroids(kmeans(search(a, q="*:*", fl="vec_id,embedding"), '
        'field="embedding", id="vec_id", k=2))',
    ).collect()
    by_cluster = {}
    for r in cents:
        by_cluster.setdefault(r["cluster_id"], {})[r["pos"]] = (
            r["mean_v"], r["n_assigned"]
        )
    tight = by_cluster[g1.pop()]
    far = by_cluster[g2.pop()]
    assert tight[1] == (round((0.0 + 0.2 + 0.0) / 3, 6), 3)
    assert tight[2] == (round((0.0 + 0.0 + 0.4) / 3, 6), 3)
    assert far[1] == (10.0, 2)
    assert far[2] == (round((10.0 + 9.8) / 2, 6), 2)


# ---------------------------------------------------- payload queries


def test_delimited_payload_parsing_and_check(spark):
    from hbase_increment_index_spark.search.payloads import (
        delimited_payload_postings,
        payload_check,
        payload_score,
    )

    docs = spark.createDataFrame(
        [
            (1, "the|1 quick|2 fox|3"),
            (2, "quick|5 fox|3 quick|2 fox|9"),
            (3, "quick fox|3"),  # first token carries NO payload
        ],
        ["doc_id", "payload_text"],
    )
    p = delimited_payload_postings(docs, "doc_id", "payload_text")
    rows = {(r["doc"], r["pos"], r["term"], r["payload"]) for r in p.collect()}
    assert (1, 1, "quick", 2.0) in rows
    assert (3, 0, "quick", None) in rows  # no delimiter -> NULL payload

    # phrase 'quick fox' with payloads [2, 3]: doc 1 matches at pos 1-2;
    # doc 2 has quick|2 fox|9 (payload mismatch on fox) and quick|5
    # fox|3 (mismatch on quick); doc 3's quick has no payload
    got = sorted(r["doc"] for r in payload_check(p, ["quick", "fox"], [2, 3]).collect())
    assert got == [1]

    # payload(): max / min / first semantics + default substitution
    mx = {r["doc"]: r["score"] for r in payload_score(p, "quick", func="max").collect()}
    assert mx == {1: 2.0, 2: 5.0, 3: 1.0}  # doc 3 -> default 1.0
    mn = {r["doc"]: r["score"] for r in payload_score(p, "fox", func="min").collect()}
    assert mn == {1: 3.0, 2: 3.0, 3: 3.0}
    fi = {r["doc"]: r["score"] for r in payload_score(p, "fox", func="first").collect()}
    assert fi[2] == 3.0  # lowest position wins

    with pytest.raises(ValueError):
        payload_check(p, ["a"], [1, 2])
    with pytest.raises(ValueError):
        payload_score(p, "fox", func="avg")


def test_eval_and_executor_block_side_effects(spark, tmp_path):
    """r15 (ADVICE): expressions carried in DATA (eval()/executor()
    task streams) may only read by default — update()/delete()/
    commit()/daemon()/topic() are blocked unless allowWrites=true."""
    t = spark.createDataFrame([(1, "a")], ["rowkey", "name"])
    dest = str(tmp_path / "mirror")
    exprs = spark.createDataFrame(
        [(1, 'update(mirror, search(t, q="*:*", fl="rowkey,name"), '
             'key="rowkey", buckets=2)')],
        ["rank", "expr_s"],
    )
    tables = {"t": t, "exprs": exprs}
    sink_paths = {"mirror": dest}
    with pytest.raises(StreamExprError, match="allowWrites"):
        run_stream_expr(
            spark, tables,
            'eval(search(exprs, q="*:*", fl="expr_s"))',
            sink_paths=sink_paths,
        )
    with pytest.raises(StreamExprError, match="allowWrites"):
        run_stream_expr(
            spark, tables,
            'executor(search(exprs, q="*:*", fl="expr_s"))',
            sink_paths=sink_paths,
        )
    # explicit opt-in runs the maintenance task and writes the sink
    out = run_stream_expr(
        spark, tables,
        'executor(search(exprs, q="*:*", fl="expr_s"), allowWrites=true)',
        sink_paths=sink_paths,
    )
    assert out.collect()[0]["batchIndexed"] == 1
    assert spark.read.parquet(dest).count() == 1


def test_analyze_evaluator_runs_chain(spark):
    """analyze('...') emits the analysis chain's tokens (stopwords
    dropped, plural-stemmed) with positions."""
    t = spark.createDataFrame([(1,)], ["id"])
    rows = run_stream_expr(
        spark, {"t": t}, 'analyze("The Queries and the Tables")'
    ).collect()
    assert [(r["pos"], r["term"]) for r in rows] == [(0, "query"), (1, "table")]


# -------------------------------------- local-params parser additions


def test_complex_phrase_wildcard_legs(spark):
    from hbase_increment_index_spark.search.solr_query import solr_select

    df = spark.createDataFrame(
        [
            (1, "the table hash works"),
            (2, "tabulated hash join"),
            (3, "hash table join"),       # wrong order
            (4, "table of hash"),          # not adjacent
            (5, "tab"),                    # shorter than the phrase
        ],
        ["id", "text"],
    )
    got = sorted(
        r["id"]
        for r in solr_select(df, '{!complexphrase}text:"tab* hash"').collect()
    )
    assert got == [1, 2]


def test_localparams_prefix_field_raw(spark):
    from hbase_increment_index_spark.search.solr_query import solr_select

    df = spark.createDataFrame(
        [
            (1, "src1a", "en", "big table hash"),
            (2, "src2", "de", "nothing here"),
            (3, "src1b", "en", "hash table"),
            (4, "other", "den", "table hash again"),
        ],
        ["id", "source", "lang", "text"],
    )
    got = sorted(
        r["id"]
        for r in solr_select(
            df, "{!prefix f=source}src1 OR {!raw f=lang}de"
        ).collect()
    )
    assert got == [1, 2, 3]  # 'den' != 'de' (raw = verbatim equality)
    got2 = sorted(
        r["id"]
        for r in solr_select(
            df, '{!field f=text}"table hash"', text_fields={"text"}
        ).collect()
    )
    assert got2 == [1, 4]  # phrase semantics on the text field


def test_cumulative_probability_empirical(spark):
    a = spark.createDataFrame([(float(v),) for v in [1, 2, 3, 4, 10]], ["x"])
    rows = run_stream_expr(
        spark, {"a": a},
        'let(v=search(a, q="*:*", fl="x"), '
        "cumulativeProbability(empiricalDistribution(col(v, x)), 3))",
    ).collect()
    assert len(rows) == 1
    assert rows[0]["n"] == 5 and rows[0]["probability"] == 0.6
    with pytest.raises(StreamExprError):
        run_stream_expr(
            spark, {"a": a},
            'cumulativeProbability(search(a, q="*:*", fl="x"), 3)',
        )
