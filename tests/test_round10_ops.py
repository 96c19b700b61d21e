"""Round-10 operators: topic() checkpointed pulls, daemon() loops,
scoreNodes(), grouped faceting, atomic remove/removeregex, the unified
highlighter, the SimHash calibration curve, and the r9 ADVICE fixes
({!knn} local-param order, timeseries start alignment)."""
from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


# ---------------------------------------------------------------- topic()


def _compiler(tables, sink_paths=None):
    from hbase_increment_index_spark.search.streaming_expr import StreamCompiler

    return StreamCompiler(tables, sink_paths=sink_paths or {})


def test_topic_two_pulls_return_delta_only(spark, tmp_path):
    """The reference's change-capture thesis as a query: pull 1 gets
    everything, pull 2 gets nothing, and after new rows arrive pull 3
    gets EXACTLY the delta."""
    src_v1 = spark.createDataFrame(
        [Row(id=i, ver=i, payload=f"p{i}") for i in range(10)]
    )
    ck = str(tmp_path / "ck")
    expr = 'topic(ck, coll, id="t", versionField="ver")'

    comp = _compiler({"coll": src_v1}, {"ck": ck})
    p1 = comp.compile(expr)
    assert p1.count() == 10

    assert comp.compile(expr).count() == 0  # nothing new

    src_v2 = src_v1.unionByName(
        spark.createDataFrame([Row(id=i, ver=i, payload=f"p{i}") for i in (10, 11, 12)])
    )
    comp2 = _compiler({"coll": src_v2}, {"ck": ck})
    p3 = comp2.compile(expr)
    assert sorted(r["ver"] for r in p3.collect()) == [10, 11, 12]


def test_topic_checkpoint_is_per_topic_id(spark, tmp_path):
    src = spark.createDataFrame([Row(id=i, ver=i) for i in range(5)])
    ck = str(tmp_path / "ck")
    comp = _compiler({"coll": src}, {"ck": ck})
    assert comp.compile('topic(ck, coll, id="a", versionField="ver")').count() == 5
    # a different topic id starts from scratch
    assert comp.compile('topic(ck, coll, id="b", versionField="ver")').count() == 5
    assert comp.compile('topic(ck, coll, id="a", versionField="ver")').count() == 0


def test_topic_empty_pull_keeps_checkpoint(spark, tmp_path):
    src = spark.createDataFrame([Row(id=1, ver=5)])
    ck = str(tmp_path / "ck")
    comp = _compiler({"coll": src}, {"ck": ck})
    comp.compile('topic(ck, coll, id="t", versionField="ver")')
    # two consecutive empty pulls: checkpoint survives, no error
    assert comp.compile('topic(ck, coll, id="t", versionField="ver")').count() == 0
    assert comp.compile('topic(ck, coll, id="t", versionField="ver")').count() == 0


def test_topic_applies_q_and_fl(spark, tmp_path):
    src = spark.createDataFrame([Row(id=i, ver=i, lang="de" if i % 2 else "en") for i in range(8)])
    ck = str(tmp_path / "ck")
    comp = _compiler({"coll": src}, {"ck": ck})
    out = comp.compile('topic(ck, coll, q="lang:de", id="t", versionField="ver", fl="id,ver")')
    assert out.columns == ["id", "ver"]
    assert out.count() == 4


def test_topic_fl_must_keep_version_field(spark, tmp_path):
    from hbase_increment_index_spark.search.streaming_expr import StreamExprError

    src = spark.createDataFrame([Row(id=1, ver=1)])
    comp = _compiler({"coll": src}, {"ck": str(tmp_path / "ck")})
    with pytest.raises(StreamExprError, match="versionField"):
        comp.compile('topic(ck, coll, id="t", versionField="ver", fl="id")')


def test_topic_requires_registered_checkpoint_collection(spark):
    from hbase_increment_index_spark.search.streaming_expr import StreamExprError

    src = spark.createDataFrame([Row(id=1, ver=1)])
    with pytest.raises(StreamExprError, match="not registered"):
        _compiler({"coll": src}).compile(
            'topic(nope, coll, id="t", versionField="ver")'
        )


# ---------------------------------------------------------------- daemon()


def test_daemon_registers_without_running(spark, tmp_path):
    src = spark.createDataFrame([Row(id=1, v=1.0)])
    dest = str(tmp_path / "dest")
    comp = _compiler({"coll": src}, {"dest": dest})
    summary = comp.compile(
        'daemon(update(dest, search(coll), key="id"), id="d1", runInterval=10)'
    ).collect()
    assert summary[0]["id"] == "d1" and summary[0]["state"] == "stopped"
    d = comp.daemons["d1"]
    assert d.iterations == 0  # registration does NOT run the body
    from hbase_increment_index_spark.sinks import _committed_state_exists

    assert not _committed_state_exists(spark, dest)


def test_daemon_iterations_converge_served_view(spark, tmp_path):
    """N micro-batches through a daemon-driven update(): the served
    view converges to the source, and re-runs are idempotent (the
    reference's 30 s commit loop, application.properties:10,12)."""
    import shutil

    src_dir = str(tmp_path / "src")
    dest = str(tmp_path / "dest")
    spark.createDataFrame([Row(id=i, v=float(i)) for i in range(4)]).write.parquet(src_dir)

    def tables():
        return {"coll": spark.read.parquet(src_dir)}

    from hbase_increment_index_spark.search.streaming_expr import StreamCompiler

    comp = StreamCompiler(tables(), sink_paths={"dest": dest}, tables_provider=tables)
    comp.compile('daemon(update(dest, search(coll), key="id"), id="d", runInterval=5)')
    d = comp.daemons["d"]

    assert d.run_once()[0]["batchIndexed"] == 4
    assert spark.read.parquet(dest).count() == 4

    # grow the source between iterations; the next run picks it up
    spark.createDataFrame([Row(id=i, v=float(i)) for i in range(4, 7)]).write.mode(
        "append"
    ).parquet(src_dir)
    d.run_once()
    served = spark.read.parquet(dest)
    assert sorted(r["id"] for r in served.select("id").collect()) == list(range(7))
    # idempotent: a third run with no new data changes nothing
    d.run_once()
    assert spark.read.parquet(dest).count() == 7
    assert d.iterations == 3
    shutil.rmtree(src_dir, ignore_errors=True)


def test_daemon_start_stop_thread(spark, tmp_path):
    import time

    src = spark.createDataFrame([Row(id=1, v=1.0)])
    dest = str(tmp_path / "dest")
    comp = _compiler({"coll": src}, {"dest": dest})
    comp.compile('daemon(update(dest, search(coll), key="id"), id="d", runInterval=50)')
    d = comp.daemons["d"]
    d.start()
    assert d.state == "running"
    deadline = time.time() + 20
    while d.iterations < 2 and time.time() < deadline:
        time.sleep(0.1)
    d.stop()
    assert d.state == "stopped"
    assert d.iterations >= 2
    ran = d.iterations
    time.sleep(0.3)
    assert d.iterations == ran  # loop actually stopped


def test_daemon_topic_update_loop(spark, tmp_path):
    """The reference's ENTIRE architecture in one expression:
    ``daemon(update(dest, topic(ck, src, ...)))`` — a background loop
    that pulls only the docs newer than its checkpoint and merges them
    into the served index (HbaseSolrIndexCoprocesser.java:37-61's
    capture-then-index, with application.properties:10,12's commit
    cadence as the daemon interval). Each iteration must do work
    proportional to the DELTA, and the served view must converge to
    the source."""
    import shutil

    src_dir = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    dest = str(tmp_path / "dest")
    spark.createDataFrame(
        [Row(id=i, ver=i, payload=f"p{i}") for i in range(5)]
    ).write.parquet(src_dir)

    def tables():
        return {"src": spark.read.parquet(src_dir)}

    from hbase_increment_index_spark.search.streaming_expr import StreamCompiler

    comp = StreamCompiler(
        tables(),
        sink_paths={"ck": ck, "dest": dest},
        tables_provider=tables,
    )
    comp.compile(
        'daemon(update(dest, topic(ck, src, id="loop", versionField="ver"), '
        'key="id"), id="d", runInterval=5)'
    )
    d = comp.daemons["d"]

    assert d.run_once()[0]["batchIndexed"] == 5  # bootstrap pull
    assert d.run_once()[0]["batchIndexed"] == 0  # no delta → no work
    spark.createDataFrame(
        [Row(id=i, ver=i, payload=f"p{i}") for i in (5, 6)]
    ).write.mode("append").parquet(src_dir)
    assert d.run_once()[0]["batchIndexed"] == 2  # exactly the delta
    served = spark.read.parquet(dest)
    assert sorted(r["id"] for r in served.select("id").collect()) == list(range(7))
    shutil.rmtree(src_dir, ignore_errors=True)


# ------------------------------------------------------------- scoreNodes()


def test_scorenodes_formula(spark):
    """nodeScore = count_star * ln((numDocs+1)/(docFreq+1)) over the
    gathered frontier (ScoreNodesStream semantics)."""
    import math

    edges = spark.createDataFrame(
        [Row(src=1, dst=d) for d in (10, 10, 20)] + [Row(src=2, dst=10)]
    )
    comp = _compiler({"g": edges})
    # a dst->src walk from src=1's frontier {10, 20} matches no rows
    # (src values are only 1,2): the scored node set must be empty
    out = comp.compile(
        'scoreNodes(nodes(g, search(g, fq="src:1", fl="src,dst"), '
        'walk="dst->src", gather="dst", count(*)), g, field="dst")'
    )
    assert out.count() == 0
    out2 = comp.compile(
        'scoreNodes(nodes(g, search(g, fq="src:1", fl="src,dst"), '
        'walk="dst->dst", gather="dst", count(*)), g, field="dst")'
    )
    rows = {r["node"]: r for r in out2.collect()}
    n_docs = 4
    # node 10: 3 gathered edges, docFreq(dst=10) = 3
    assert rows[10]["count_star"] == 3 and rows[10]["docFreq"] == 3
    assert rows[10]["nodeScore"] == pytest.approx(
        3 * math.log((n_docs + 1) / (3 + 1)), abs=1e-6
    )
    # node 20: 1 edge, docFreq 1
    assert rows[20]["nodeScore"] == pytest.approx(
        math.log((n_docs + 1) / 2), abs=1e-6
    )


def test_scorenodes_requires_counted_nodes(spark):
    from hbase_increment_index_spark.search.streaming_expr import StreamExprError

    edges = spark.createDataFrame([Row(src=1, dst=2)])
    comp = _compiler({"g": edges})
    with pytest.raises(StreamExprError, match="count"):
        comp.compile(
            'scoreNodes(nodes(g, search(g, fl="src,dst"), '
            'walk="dst->dst", gather="dst"), g, field="dst")'
        )


# ------------------------------------------------- atomic remove/removeregex


def _resolve(spark, rows):
    from hbase_increment_index_spark.cdc.mutations import resolve_mutations

    mlog = spark.createDataFrame(
        [
            (op, "r", "cf", "q", val, None, float(ts), ts)
            for ts, (op, val) in enumerate(rows)
        ],
        "op string, row_key string, family string, qualifier string, "
        "value string, ival long, ts double, seq long",
    )
    out = resolve_mutations(mlog).collect()
    assert len(out) == 1
    return out[0]["value"]


def test_remove_drops_all_earlier_matches(spark):
    assert (
        _resolve(
            spark,
            [("append", "a"), ("append", "b"), ("append", "a"), ("remove", "a")],
        )
        == "b"
    )


def test_remove_does_not_mask_later_appends(spark):
    # Solr applies atomic updates in order: an element added AFTER the
    # remove survives
    assert (
        _resolve(spark, [("append", "a"), ("remove", "a"), ("append", "a")]) == "a"
    )


def test_removeregex_class(spark):
    # 'x.' is UNANCHORED: Solr applies Pattern.matches (full-value), so
    # it removes the two-char x-prefixed elements without explicit ^/$
    assert (
        _resolve(
            spark,
            [
                ("append", "x1"),
                ("append", "y2"),
                ("append", "x3"),
                ("removeregex", "x."),
                ("append", "x4"),
            ],
        )
        == "y2,x4"
    )


def test_removeregex_is_full_match_not_find(spark):
    # Solr's AtomicUpdateDocumentMerger uses Pattern.matches: an
    # unanchored 'x' must NOT remove 'x1' (find-anywhere would)
    assert (
        _resolve(
            spark,
            [("append", "x"), ("append", "x1"), ("removeregex", "x")],
        )
        == "x1"
    )


def test_remove_everything_yields_null(spark):
    assert _resolve(spark, [("append", "a"), ("removeregex", ".")]) is None


def test_remove_only_cell_yields_null(spark):
    assert _resolve(spark, [("remove", "zzz")]) is None


def _resolve_ordered(spark, rows):
    from hbase_increment_index_spark.cdc.mutations import resolve_journal_ordered

    mlog = spark.createDataFrame(
        [
            (op, "r", "cf", "q", val, float(ts), ts)
            for ts, (op, val) in enumerate(rows)
        ],
        "op string, row_key string, family string, qualifier string, "
        "value string, ts double, seq long",
    )
    out = resolve_journal_ordered(mlog).collect()
    assert len(out) == 1
    return out[0]["value"]


def test_add_distinct_skips_present_value(spark):
    assert (
        _resolve_ordered(
            spark, [("append", "a"), ("add-distinct", "a"), ("add-distinct", "b")]
        )
        == "a,b"
    )


def test_add_distinct_reinserts_after_remove(spark):
    # the sequential case the closed-form fold cannot express: presence
    # is reset by the interleaved remove, so the SECOND add-distinct
    # inserts even though an earlier add-distinct of 'a' exists
    assert (
        _resolve_ordered(
            spark,
            [
                ("add-distinct", "a"),
                ("add-distinct", "a"),  # skipped: present
                ("remove", "a"),
                ("add-distinct", "a"),  # inserts: list state is empty here
            ],
        )
        == "a"
    )


def test_add_distinct_chain_after_removeregex(spark):
    assert (
        _resolve_ordered(
            spark,
            [
                ("append", "x1"),
                ("add-distinct", "x1"),   # skipped
                ("removeregex", "x."),    # full-match: consumes 'x1'
                ("add-distinct", "x1"),   # inserts
                ("append", "y"),
            ],
        )
        == "x1,y"
    )


def test_ordered_fold_matches_closed_form_without_add_distinct(spark, sf_dir):
    """On the remove-verb fixture (no add-distinct), the exact ordered
    fold and the closed-form resolve agree everywhere."""
    from hbase_increment_index_spark.queries import QUERIES
    from hbase_increment_index_spark.cdc.mutations import resolve_journal_ordered
    from hbase_increment_index_spark.catalog import load_table

    closed = QUERIES["cdc_atomic_remove"](spark, sf_dir)
    events = load_table(spark, sf_dir, "events")
    et = F.col("event_type")
    digit = (F.floor(F.col("value")).cast("long") % 10).cast("string")
    rx_hi = (F.floor(F.col("value")).cast("long") % 5).cast("string")
    mlog = events.select(
        F.when(et == "error", F.lit("delete"))
        .when(et == "purchase", F.lit("remove"))
        .when(et == "signup", F.lit("removeregex"))
        .otherwise(F.lit("append"))
        .alias("op"),
        F.col("user_id").cast("string").alias("row_key"),
        F.lit("cf").alias("family"),
        F.lit("journal").alias("qualifier"),
        F.when(et == "signup", F.concat(F.lit("^[0-"), rx_hi, F.lit("]$")))
        .otherwise(digit)
        .alias("value"),
        F.col("ts").alias("ts"),
        F.col("event_id").alias("seq"),
    )
    ordered = resolve_journal_ordered(mlog).orderBy("row_key")
    a = [(r["row_key"], r["value"], r["n_events"]) for r in closed.collect()]
    b = [(r["row_key"], r["value"], r["n_events"]) for r in ordered.collect()]
    assert a == b


def test_plain_ops_unchanged_by_remove_support(spark):
    # put / inc / append folds keep their pre-r10 semantics
    assert _resolve(spark, [("put", "1"), ("put", "2")]) == "2"
    assert _resolve(spark, [("append", "a"), ("append", "b")]) == "a,b"


# ----------------------------------------------------------- group.facet


def test_group_facet_counts_groups_not_docs(spark):
    from hbase_increment_index_spark.search.facets import facet_by_group

    df = spark.createDataFrame(
        [
            Row(g=1, f="x"),
            Row(g=1, f="x"),  # same group+value: counted once
            Row(g=2, f="x"),
            Row(g=2, f="y"),
        ]
    )
    out = {r["f"]: r["n_groups"] for r in facet_by_group(df, "g", "f").collect()}
    assert out == {"x": 2, "y": 1}


# ----------------------------------------------------- unified highlighter


def test_unified_highlight_picks_best_passages(spark):
    from hbase_increment_index_spark.search.highlight import unified_highlight

    docs = spark.createDataFrame(
        [
            # passage 1: one hit; passage 2: two hits → passage 2 scores higher
            Row(doc_id=1, text="spark a b c d e f g h i " + "spark spark c d e f g h i j"),
            Row(doc_id=2, text="nothing to see here at all"),
        ]
    )
    out = unified_highlight(docs, "doc_id", "text", ["spark"], passage_size=10, k=1)
    rows = out.collect()
    assert len(rows) == 1  # doc 2 has no matching passage
    assert rows[0]["doc_id"] == 1 and rows[0]["passage_no"] == 2
    assert rows[0]["snippet"].count("<em>spark</em>") == 2


def test_unified_highlight_tie_breaks_to_earlier_passage(spark):
    from hbase_increment_index_spark.search.highlight import unified_highlight

    docs = spark.createDataFrame(
        [Row(doc_id=1, text=" ".join(["spark"] + ["x"] * 9 + ["spark"] + ["x"] * 9))]
    )
    out = unified_highlight(docs, "doc_id", "text", ["spark"], passage_size=10, k=1)
    assert out.collect()[0]["passage_no"] == 1


# -------------------------------------------------------- r9 ADVICE fixes


def test_knn_local_params_any_order(spark):
    from hbase_increment_index_spark.pipeline.similarity import knn_query

    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i), 1.0]) for i in range(1, 6)]
    )
    a = knn_query(emb, "{!knn f=embedding topK=3}[1.0, 0.5]").collect()
    b = knn_query(emb, "{!knn topK=3 f=embedding}[1.0, 0.5]").collect()
    assert a == b and len(a) == 3
    with pytest.raises(ValueError, match="requires f="):
        knn_query(emb, "{!knn topK=3}[1.0, 0.5]")


def test_timeseries_misaligned_start_raises(spark, sf_dir):
    from hbase_increment_index_spark.catalog import load_all
    from hbase_increment_index_spark.search.streaming_expr import (
        StreamExprError,
        run_stream_expr,
    )

    tables = load_all(spark, sf_dir)
    with pytest.raises(StreamExprError, match="not aligned"):
        run_stream_expr(
            spark,
            tables,
            'timeseries(orders, field="o_orderdate", start="1996-01-15", '
            'end="1998-01-01", gap="+1MONTH", count(*))',
        )
    # aligned start still works
    out = run_stream_expr(
        spark,
        tables,
        'timeseries(orders, field="o_orderdate", start="1996-01-01", '
        'end="1996-04-01", gap="+1MONTH", count(*))',
    )
    assert out.count() == 3


# --------------------------- knnSearch() / parallel() / cartesianProduct()


def test_knn_search_stream_matches_parser(spark):
    from hbase_increment_index_spark.pipeline.similarity import knn_query

    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i % 7), 1.0, float(i % 3)]) for i in range(30)]
    )
    comp = _compiler({"emb": emb})
    via_stream = comp.compile(
        'knnSearch(emb, f="embedding", vec="[1.0, 0.5, 2.0]", topK=5, '
        'fq="vec_id:[10 TO *]")'
    ).collect()
    via_parser = knn_query(
        emb, "{!knn f=embedding topK=5}[1.0, 0.5, 2.0]",
        pre_filter=F.col("vec_id") >= 10,
    ).collect()
    assert via_stream == via_parser and len(via_stream) == 5


def test_parallel_is_plan_passthrough(spark):
    df = spark.createDataFrame([Row(a=i) for i in range(10)])
    comp = _compiler({"t": df})
    inner = comp.compile('search(t, fq="a:[5 TO *]")')
    wrapped = comp.compile('parallel(search(t, fq="a:[5 TO *]"), workers=8)')
    # identical optimized plan: parallel() adds nothing (no repartition)
    assert (
        inner._jdf.queryExecution().optimizedPlan().toString()
        == wrapped._jdf.queryExecution().optimizedPlan().toString()
    )


def test_cartesian_product_explodes_field(spark):
    df = spark.createDataFrame([Row(id=1, vals=[3, 1, 2]), Row(id=2, vals=[9])])
    comp = _compiler({"t": df})
    out = comp.compile(
        'cartesianProduct(search(t), vals, productSort="vals asc")'
    ).collect()
    assert [r["vals"] for r in out] == [1, 2, 3, 9]
    assert out[0]["id"] == 1 and out[3]["id"] == 2


# ------------------------------------------ {!min_hash} / infix suggester


def test_minhash_text_query_ranks_duplicates(spark):
    from hbase_increment_index_spark.pipeline.dedup import minhash_text_query

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),                                # exact
            Row(doc_id=2, text=base.replace("lazy", "sleepy")),      # near
            Row(doc_id=3, text="completely unrelated content about databases"),
        ]
    )
    out = minhash_text_query(docs, "doc_id", "text", base, threshold=0.1).collect()
    ids = [r["doc_id"] for r in out]
    assert ids[0] == 1 and out[0]["sim_est"] == 1.0  # exact dup: every lane matches
    assert 2 in ids and 3 not in ids
    # md5 kernel agrees with the production xxhash64 kernel on the exact dup
    out_md5 = minhash_text_query(
        docs, "doc_id", "text", base, threshold=0.1, hash_fn="md5"
    ).collect()
    assert out_md5[0]["doc_id"] == 1 and out_md5[0]["sim_est"] == 1.0


def test_suggest_infix_matches_mid_word(spark):
    from hbase_increment_index_spark.search.highlight import suggest_terms_infix

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="spark spark hash mark query")]
    )
    out = {r["term"]: r["freq"] for r in
           suggest_terms_infix(docs, "doc_id", "text", "ar", k=10).collect()}
    assert out == {"spark": 2, "mark": 1}  # 'ar' is infix in both


# --------------------------------------------------------- registry twins


def test_q79_first_pull_equals_search(spark, sf_dir):
    from hbase_increment_index_spark.queries import QUERIES

    out = QUERIES["q79_topic_pull"](spark, sf_dir)
    from hbase_increment_index_spark.catalog import load_table

    expected = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= 400000)
        .count()
    )
    assert out.count() == expected


def test_e2q_recall_curve_shape(spark, sf_dir):
    """SimHash@3 is a tight detector: recall ~1 in the 0.9 band and
    below MinHash-LSH in the mid bands (the tradeoff the report
    exists to show)."""
    from hbase_increment_index_spark.queries import QUERIES

    rows = {r["band_lo"]: r for r in QUERIES["e2q_simhash_pairs"](spark, sf_dir).collect()}
    top = max(rows)
    assert top >= 0.9 and rows[top]["empirical_recall"] == 1.0
    assert all(r["n_caught"] <= r["n_exact"] for r in rows.values())


def test_expand_component_rows_and_order(spark):
    from hbase_increment_index_spark.search.collapse import expand_component

    df = spark.createDataFrame(
        [Row(id=i, g=i % 2, v=float(i)) for i in range(8)]
    )
    out = expand_component(df, "g", [F.col("v").desc()], "id", rows=2).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append((r["expand_rank"], r["expanded_id"], r["head_id"]))
    # group 0: v desc -> 6,4,2,0; head 6, expanded 4 then 2
    assert sorted(by_g[0]) == [(1, 4, 6), (2, 2, 6)]
    assert sorted(by_g[1]) == [(1, 5, 7), (2, 3, 7)]
