"""Round-13 operators: the commit extended to the FULL derived-store
fleet (fingerprints, positional postings, percentile sketch, CC
labels), the composed CC label fold under a mixed batch that SPLITS a
component, and the round's new surface ops."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


# ------------------------- CC labels under one mixed commit (w/ split)


def _labels(df):
    return {(r["doc"], r["component"]) for r in df.collect()}


def test_commit_cc_labels_split(spark):
    """One mixed batch — a DELETE that splits a component, an UPDATE
    that moves a doc between components (old pairs out, new pairs in),
    and an INSERT that creates a brand-new component with a previously
    unlabeled doc — folded by commit_cluster_labels must equal the
    from-scratch rebuild over the final corpus.

    v1 topology (3-gram Jaccard, threshold 0.30): docs 1/4/6 are
    identical, docs 3/5 are identical, doc 2 BRIDGES the two groups
    (shares 3 of its 8 shingles with each side, J = 0.375), doc 8 is
    unpaired. One component {1,2,3,4,5,6} labeled 1.

    Batch: DELETE 2 (the bridge — component splits), UPDATE 6 to the
    3/5 group's text (its old identity leaves group 1, new identity
    joins group 3), INSERT 7 identical to 8 (new component 7)."""
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
    stored = connected_components(
        ngram_jaccard_pairs(v1, "doc_id", "text", n=3, threshold=0.30)
    )
    assert _labels(stored) == {(d, 1) for d in (1, 2, 3, 4, 5, 6)}

    changed = spark.createDataFrame([(6, t_p), (7, t_x)], ["doc_id", "text"])
    deleted = spark.createDataFrame([(2,)], ["doc_id"])
    store = build_shingle_postings(v1, "doc_id", "text", n=3)
    merged = commit_cluster_labels(
        stored,
        store,
        shingle_doc_sizes(store),
        changed,
        deleted,
        "doc_id",
        "text",
        n=3,
        threshold=0.30,
    )

    final = v1.filter(~F.col("doc_id").isin(2, 6)).unionByName(changed)
    rebuilt = connected_components(
        ngram_jaccard_pairs(final, "doc_id", "text", n=3, threshold=0.30)
    )
    expect = {(1, 1), (4, 1), (3, 3), (5, 3), (6, 3), (7, 7), (8, 7)}
    assert _labels(rebuilt) == expect  # the fixture really splits
    assert _labels(merged) == expect  # commit ≡ rebuild through the split


def test_commit_cc_labels_merge_first_would_be_stale(spark):
    """An update cannot be folded by a label MERGE alone: merging the
    updated doc's new pairs into the stored labels keeps its stale
    old-text connectivity and glues two components together, while
    commit_cluster_labels — which drops the touched doc's stored pairs
    before re-clustering its components — separates them."""
    from hbase_increment_index_spark.pipeline.dedup import (
        build_shingle_postings,
        commit_cluster_labels,
        connected_components,
        merge_cluster_labels,
        ngram_jaccard_pairs,
        shingle_doc_sizes,
    )

    t_a, t_p = "a b c d e", "p q r s t"
    v1 = spark.createDataFrame(
        [(1, t_a), (4, t_a), (6, t_a), (3, t_p), (5, t_p)], ["doc_id", "text"]
    )
    stored = connected_components(
        ngram_jaccard_pairs(v1, "doc_id", "text", n=3, threshold=0.30)
    )
    # UPDATE doc 6: t_a -> t_p. Merge-first folds the new pairs
    # (6-3, 6-5) into labels that still carry 6's old connectivity to
    # {1,4} — gluing BOTH components together, which no later scoped
    # delete (the delete set is empty) will undo.
    changed = spark.createDataFrame([(6, t_p)], ["doc_id", "text"])
    new_pairs = ngram_jaccard_pairs(
        v1.filter(F.col("doc_id") != 6).unionByName(changed),
        "doc_id",
        "text",
        n=3,
        threshold=0.30,
    ).filter((F.col("id_a") == 6) | (F.col("id_b") == 6))
    merge_first = merge_cluster_labels(
        stored, new_pairs.select("id_a", "id_b")
    )
    glued = {r["component"] for r in merge_first.collect()}
    assert glued == {1}  # everything (wrongly) one component
    # ...while the correct fold separates {1,4} from {3,5,6}
    empty = spark.createDataFrame([], "doc_id int")
    store = build_shingle_postings(v1, "doc_id", "text", n=3)
    correct = commit_cluster_labels(
        stored,
        store,
        shingle_doc_sizes(store),
        changed,
        empty,
        "doc_id",
        "text",
        n=3,
        threshold=0.30,
    )
    assert _labels(correct) == {(1, 1), (4, 1), (3, 3), (5, 3), (6, 3)}


# ------------------------------------------- classify() stream decorator


def _comp(spark, tables):
    from hbase_increment_index_spark.search.streaming_expr import StreamCompiler

    return StreamCompiler(tables)


def test_classify_inline_weights(spark):
    """One codegen projection: sigma(w.x) with term-presence features;
    weights inline (intercept first), predicted_i thresholds the
    6-rounded probability."""
    import math

    docs = spark.createDataFrame(
        [(1, "spark join query"), (2, "plain prose here")], ["id", "text"]
    )
    rows = (
        _comp(spark, {"d": docs})
        .compile(
            'classify(search(d, q="*:*", fl="id,text"), field="text", '
            'terms="join,spark", weights="-1.0,2.0,0.5")'
        )
        .orderBy("id")
        .collect()
    )
    p1 = round(1.0 / (1.0 + math.exp(-(-1.0 + 2.0 + 0.5))), 6)
    p2 = round(1.0 / (1.0 + math.exp(1.0)), 6)
    assert [(r["id"], r["probability_d"], r["predicted_i"]) for r in rows] == [
        (1, p1, 1),
        (2, p2, 0),
    ]


def test_classify_model_stream_takes_last_iteration(spark):
    """Two-stream Solr form classify(model, data): the model stream's
    highest-iteration tuple supplies vocabulary + weights."""
    model = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, -1.0, 4.0)],
        ["iteration", "w_intercept", "w_spark"],
    )
    docs = spark.createDataFrame(
        [(1, "spark rules"), (2, "no match")], ["id", "text"]
    )
    # expose the model frame as a collection so search() can stream it
    rows = (
        _comp(spark, {"m": model, "d": docs})
        .compile(
            'classify(search(m, q="*:*"), search(d, q="*:*"), field="text")'
        )
        .orderBy("id")
        .collect()
    )
    # iteration-2 weights: z = -1 + 4*x  ->  p(spark doc) > 0.5 > p(other)
    assert rows[0]["predicted_i"] == 1 and rows[1]["predicted_i"] == 0
    assert rows[0]["probability_d"] > 0.9 and rows[1]["probability_d"] < 0.5


def test_classify_rejects_bad_shapes(spark):
    from hbase_increment_index_spark.search.streaming_expr import StreamExprError

    docs = spark.createDataFrame([(1, "x")], ["id", "text"])
    comp = _comp(spark, {"d": docs})
    with pytest.raises(StreamExprError, match="weights must be intercept"):
        comp.compile(
            'classify(search(d, q="*:*"), field="text", terms="a,b", '
            'weights="0.0,1.0")'
        )
    with pytest.raises(StreamExprError, match="model stream must emit"):
        comp.compile(
            'classify(search(d, q="*:*"), search(d, q="*:*"), field="text")'
        )


# ------------------------------------------------ random() stream source


def test_random_deterministic_and_seed_sensitive(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(100)], ["doc_id", "text"]
    )
    comp = _comp(spark, {"d": docs})
    expr = 'random(d, q="*:*", rows="10", idField="doc_id", seed="{s}")'
    a1 = sorted(r["doc_id"] for r in comp.compile(expr.format(s="s1")).collect())
    a2 = sorted(r["doc_id"] for r in comp.compile(expr.format(s="s1")).collect())
    b = sorted(r["doc_id"] for r in comp.compile(expr.format(s="s2")).collect())
    assert a1 == a2 and len(a1) == 10
    assert a1 != b  # a new seed is a new draw


def test_random_caps_at_matching_rows_and_guards_fl(spark):
    from hbase_increment_index_spark.search.streaming_expr import StreamExprError

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(5)], ["doc_id", "text"]
    )
    comp = _comp(spark, {"d": docs})
    assert (
        comp.compile(
            'random(d, q="*:*", rows="50", idField="doc_id")'
        ).count()
        == 5
    )
    with pytest.raises(StreamExprError, match="fl must include idField"):
        comp.compile(
            'random(d, q="*:*", rows="3", fl="text", idField="doc_id")'
        )


def test_cov_degenerate_stream_yields_null(spark):
    """cov() on a 1-row bound stream: no sample covariance exists
    (n-1 = 0) — the op must emit an explicit NULL cov with n intact,
    not a silent divide-by-zero artifact."""
    one = spark.createDataFrame([(1, 2.0, 3.0)], ["k", "x", "y"])
    comp = _comp(spark, {"a": one})
    row = comp.compile(
        'let(a=search(a, q="*:*"), cov(col(a, x), col(a, y)))'
    ).head()
    assert row["n"] == 1 and row["cov"] is None
    two = spark.createDataFrame([(1, 2.0, 3.0), (2, 4.0, 7.0)], ["k", "x", "y"])
    comp2 = _comp(spark, {"a": two})
    row2 = comp2.compile(
        'let(a=search(a, q="*:*"), cov(col(a, x), col(a, y)))'
    ).head()
    assert row2["n"] == 2 and row2["cov"] == 4.0  # ((2-3)(3-5)+(4-3)(7-5))/1


def test_ceiling_semantics_diverge_by_contract(spark):
    """Under a shingle-df ceiling the two store-served pairing forms
    differ ON PURPOSE (ADVICE r12): incremental_near_dups_from_index's
    max_join_shingle_df prunes the JOIN only (full-store
    denominators -> jaccard can only drop vs the un-ceilinged run),
    while ngram_jaccard_pairs_from_index's max_shingle_df also shrinks
    denominators to stay result-identical with the direct form
    ngram_jaccard_pairs(max_shingle_df=...)."""
    from hbase_increment_index_spark.pipeline.dedup import (
        build_shingle_postings,
        incremental_near_dups,
        incremental_near_dups_from_index,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_from_index,
        shingle_doc_sizes,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    store = build_shingle_postings(docs, "doc_id", "text", n=3)
    sizes = shingle_doc_sizes(store)
    ceil = 4
    # batch form: served-with-ceiling == direct-with-ceiling, exactly
    direct = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.0, max_shingle_df=ceil
        ).collect()
    }
    served = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs_from_index(
            store, sizes, threshold=0.0, max_shingle_df=ceil
        ).collect()
    }
    assert direct == served and len(direct) > 0
    # incremental form: join-side-only guard keeps full denominators,
    # so its jaccard values DIVERGE from the direct ceilinged form
    existing = docs.filter(F.col("doc_id") % 10 != 0)
    incoming = docs.filter(F.col("doc_id") % 10 == 0)
    st = build_shingle_postings(existing, "doc_id", "text", n=3)
    inc_direct = {
        (r["id_new"], r["id_old"]): r["jaccard"]
        for r in incremental_near_dups(
            existing, incoming, "doc_id", "text", n=3, threshold=0.0,
            max_shingle_df=ceil,
        ).collect()
    }
    inc_served = {
        (r["id_new"], r["id_old"]): r["jaccard"]
        for r in incremental_near_dups_from_index(
            st, shingle_doc_sizes(st), incoming, "doc_id", "text", n=3,
            threshold=0.0, max_join_shingle_df=ceil,
        ).collect()
    }
    overlap = set(inc_direct) & set(inc_served)
    assert overlap  # same candidate pairs survive the same join prune
    assert any(inc_direct[k] != inc_served[k] for k in overlap), (
        "expected denominator divergence under the ceiling"
    )
    # ...and the served values are never ABOVE the direct ones (full
    # denominators can only deflate jaccard)
    assert all(inc_served[k] <= inc_direct[k] for k in overlap)


def test_serve_off_cow_shingle_table(spark, tmp_path):
    """A shingle store written with a NON-default bucket count and
    probed with that same n_buckets is result-identical to direct
    pairing. The modulus contract is the caller's: same formula, same
    n_buckets, or the prune mismatches."""
    from hbase_increment_index_spark.pipeline.dedup import (
        build_shingle_postings,
        incremental_near_dups,
        incremental_near_dups_from_index,
        shingle_doc_sizes,
        write_shingle_store,
    )

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(F.col("doc_id").cast("string").alias("row_key"), "text")
        .limit(120)
    )
    existing = docs.filter(F.col("row_key").cast("long") % 10 != 0)
    incoming = docs.filter(F.col("row_key").cast("long") % 10 == 0)
    store_buckets = 16  # deliberately NOT the serve default (32)
    shp = str(tmp_path / "sh")
    write_shingle_store(
        build_shingle_postings(existing, "row_key", "text", 3, n_buckets=store_buckets),
        shp,
    )

    store = spark.read.parquet(shp)
    sizes = shingle_doc_sizes(store)
    assert store.columns == ["doc", "sh", "shb"]
    assert store.agg(F.max("shb")).head()[0] < store_buckets
    served = incremental_near_dups_from_index(
        store, sizes, incoming, "row_key", "text", n=3, threshold=0.30,
        n_buckets=store_buckets,  # the store's modulus, not the default
    )
    direct = incremental_near_dups(
        existing, incoming, "row_key", "text", n=3, threshold=0.30
    )
    s = {(r["id_new"], r["id_old"], r["jaccard"]) for r in served.collect()}
    d = {(r["id_new"], r["id_old"], r["jaccard"]) for r in direct.collect()}
    assert s == d and len(d) > 0


def test_bpe_folded_merges_k50_under_ceiling(spark):
    """The folded merge application (one regexp pass per iteration,
    materialized symbol column) must sustain k far past toy sizes:
    50 merges over the sf0.001 vocabulary inside a generous wall-clock
    ceiling (the O(k^2) stacked form blows this budget), and the first
    5 merges must equal the k=5 run (prefix stability — folding
    changes the cost, never the learned table)."""
    import time

    from hbase_increment_index_spark.queries._pipeline_curation import (
        _bpe_merge_list,
    )
    from hbase_increment_index_spark.search.tokenize import tokens

    words = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    t0 = time.time()
    m50 = _bpe_merge_list(words, 50)
    elapsed = time.time() - t0
    assert len(m50) == 50  # the vocab supports 50 merges
    assert elapsed < 120, f"k=50 took {elapsed:.0f}s"
    m5 = _bpe_merge_list(words, 5)
    assert m50[:5] == m5
    # learned pairs are strictly orderable: counts never increase
    counts = [c for (_, _, _, c) in m50]
    assert all(a >= b for a, b in zip(counts, counts[1:]))


# --------------------------------------------- unigram-LM EM (e4q)


def test_unigram_em_shifts_mass_to_real_pieces(spark):
    """EM on a corpus built from 'ab' repeats must shift probability
    mass onto the 'ab' piece monotonically across iterations (the
    SentencePiece behavior the op exists for), with each iteration's
    distribution summing to 1 over the candidate inventory."""
    from hbase_increment_index_spark.queries._pipeline_curation import (
        _unigram_em,
    )

    words = spark.createDataFrame(
        [("ab", 30), ("abc", 2), ("cab", 2)], ["word", "wc"]
    )
    rows = _unigram_em(spark, words, k_multi=16, iters=3).collect()
    by_iter = {}
    for r in rows:
        by_iter.setdefault(r["iteration"], {})[r["piece"]] = r["prob"]
    assert sorted(by_iter) == [1, 2, 3]
    for t, probs in by_iter.items():
        assert abs(sum(probs.values()) - 1.0) < 1e-4, (t, sum(probs.values()))
        assert all(p >= 0 for p in probs.values())
        # singles always in the inventory (segmentability guarantee)
        assert {"a", "b", "c"} <= set(probs)
    p_ab = [by_iter[t]["ab"] for t in (1, 2, 3)]
    assert p_ab[0] < p_ab[1] < p_ab[2]  # mass flows to the real piece
    # ...and 'ab' ends up the dominant piece in the inventory
    assert by_iter[3]["ab"] == max(by_iter[3].values())


def test_unigram_em_candidate_selection_is_bounded_and_deterministic(spark):
    """k_multi caps the multi-char inventory (ties lexicographic);
    reruns are bit-identical (no RNG anywhere)."""
    from hbase_increment_index_spark.queries._pipeline_curation import (
        _unigram_em,
    )

    words = spark.createDataFrame(
        [("abcd", 5), ("bcde", 4), ("cdef", 3)], ["word", "wc"]
    )
    a = _unigram_em(spark, words, k_multi=4, iters=2).collect()
    b = _unigram_em(spark, words, k_multi=4, iters=2).collect()
    assert a == b
    multi = {r["piece"] for r in a if len(r["piece"]) >= 2}
    assert len(multi) <= 4


# ------------------------------------- delete() / drill() stream ops


def test_delete_decorator_removes_ids_from_cow_sink(spark, tmp_path):
    """delete() is update()'s twin: the inner stream's ids leave the
    COW destination (the reference's buffered deleteById path,
    SolrIndexTools.java:105-129, as a stream decorator); untouched
    rows survive, re-running the delete is idempotent."""
    from hbase_increment_index_spark.search.streaming_expr import (
        run_stream_expr,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(20)], ["doc_id", "text"]
    )
    path = str(tmp_path / "dest")
    sinks = {"mirror": path}
    tables = {"d": docs}
    run_stream_expr(
        spark, tables,
        'update(mirror, search(d, q="*:*"), key="doc_id", buckets=4)',
        sink_paths=sinks,
    ).collect()
    summary = run_stream_expr(
        spark, tables,
        'delete(mirror, search(d, fq="doc_id:[0 TO 4]", fl="doc_id"), '
        'key="doc_id", buckets=4)',
        sink_paths=sinks,
    ).collect()
    assert summary[0]["totalIndexed"] == 5
    served = spark.read.parquet(path)
    assert served.count() == 15
    assert served.filter(F.col("doc_id") <= 4).count() == 0
    # idempotent: deleting the same ids again is a no-op on the view
    run_stream_expr(
        spark, tables,
        'delete(mirror, search(d, fq="doc_id:[0 TO 4]", fl="doc_id"), '
        'key="doc_id", buckets=4)',
        sink_paths=sinks,
    ).collect()
    assert spark.read.parquet(path).count() == 15


def test_drill_equals_direct_rollup_and_plans_one_hash_agg(spark):
    """drill() compiles to the inner rollup over the pushed source —
    result-identical to rollup(search(...)) and planned as ONE hash
    aggregate pair (partials + final), no sort from the ignored
    sort= hint."""
    from hbase_increment_index_spark.search.streaming_expr import (
        run_stream_expr,
    )

    docs = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3], i * 10) for i in range(30)],
        ["doc_id", "src", "n"],
    )
    tables = {"d": docs}
    drilled = run_stream_expr(
        spark, tables,
        'drill(d, q="*:*", fl="src,n", sort="src asc", '
        'rollup(input(), over="src", count(*), sum(n)))',
    )
    direct = run_stream_expr(
        spark, tables,
        'rollup(search(d, q="*:*", fl="src,n"), over="src", '
        "count(*), sum(n))",
    )
    assert sorted(map(tuple, drilled.collect())) == sorted(
        map(tuple, direct.collect())
    )
    plan = drilled._sc._jvm.PythonSQLUtils.explainString(
        drilled._jdf.queryExecution(), "formatted"
    )
    assert plan.count("HashAggregate") >= 2  # partials + merge
    assert "Sort" not in plan  # the sort= hint must not add a sort


# --------------------------- facet2D / movingMedian / zscores stream ops


def test_facet2d_dimensions_and_tie_breaks(spark):
    docs = spark.createDataFrame(
        [(i, ["s1", "s1", "s1", "s2", "s2", "s3"][i % 6],
          ["de", "en", "en"][i % 3]) for i in range(60)],
        ["id", "source", "lang"],
    )
    rows = (
        _comp(spark, {"d": docs})
        .compile(
            'facet2D(d, q="*:*", x="source", y="lang", '
            'dimensions="2,1", count(*))'
        )
        .collect()
    )
    got = {(r["source"], r["lang"], r["count_star"]) for r in rows}
    # top-2 sources: s1 (30), s2 (20). s1's top lang = en (20 vs 10);
    # s2 ties de/en at 10 -> ascending tie-break picks de
    assert got == {("s1", "en", 20), ("s2", "de", 10)}


def test_moving_median_exact_and_full_windows_only(spark):
    series = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([5, 1, 9, 3, 7])], ["k", "v"]
    )
    rows = (
        _comp(spark, {"a": series})
        .compile(
            'let(a=search(a, q="*:*"), '
            'movingMedian(col(a, v), over="k", window="3"))'
        )
        .orderBy("k")
        .collect()
    )
    # windows: [5,1,9]->5, [1,9,3]->3, [9,3,7]->7 ; first two rows drop
    assert [(r["k"], r["moving_median"]) for r in rows] == [
        (2, 5.0), (3, 3.0), (4, 7.0),
    ]


def test_moving_median_even_window_interpolates(spark):
    series = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([4, 8, 2, 6])], ["k", "v"]
    )
    rows = (
        _comp(spark, {"a": series})
        .compile(
            'let(a=search(a, q="*:*"), '
            'movingMedian(col(a, v), over="k", window="4"))'
        )
        .collect()
    )
    assert [(r["k"], r["moving_median"]) for r in rows] == [(3, 5.0)]


def test_zscores_standardizes(spark):
    series = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([2, 4, 6])], ["k", "v"]
    )
    rows = (
        _comp(spark, {"a": series})
        .compile('let(a=search(a, q="*:*"), zscores(col(a, v)))')
        .orderBy("k")
        .collect()
    )
    # mean 4, sample sd 2 -> z = -1, 0, 1
    assert [r["zscore"] for r in rows] == [-1.0, 0.0, 1.0]


def test_unigram_viterbi_picks_max_probability_segmentation(spark):
    """Hand-checked Viterbi: for the corpus {'abab' x10} the candidate
    probs are a=b=ab=2/9, ba=aba=bab=1/9, and [ab][ab] (p=(2/9)^2)
    beats [aba][b]/[a][bab] ((1/9)(2/9)) and the 4-single split — so
    every word segments into 2 pieces."""
    from hbase_increment_index_spark.queries._pipeline_curation import (
        _unigram_viterbi_hist,
    )

    words = spark.createDataFrame([("abab", 10)], ["word", "wc"])
    rows = _unigram_viterbi_hist(words, k_multi=16).collect()
    assert [(r["n_pieces"], r["n_words"], r["total_wc"]) for r in rows] == [
        (2, 1, 10)
    ]


def test_unigram_viterbi_tie_breaks_on_fewer_pieces(spark):
    """When two segmentations have EQUAL probability the fold keeps
    the one with fewer pieces: corpus {'aa' x1} has p(a)=p(aa)=... the
    candidate counts give aa one occurrence and a two, so [aa] wins on
    probability only if p(aa) > p(a)^2 — construct the equal case via
    'aaaa': verify the histogram is a single deterministic row either
    way and n_pieces matches the recomputed best."""
    from hbase_increment_index_spark.queries._pipeline_curation import (
        _unigram_candidates,
        _unigram_viterbi_hist,
    )

    words = spark.createDataFrame([("aaaa", 1)], ["word", "wc"])
    probs = _unigram_candidates(words, k_multi=16)
    # brute-force the best segmentation in python (same tie rules)
    import itertools

    def segs(n):
        if n == 0:
            yield []
            return
        for k in (1, 2, 3):
            if k <= n:
                for rest in segs(n - k):
                    yield [k] + rest

    best = None
    for ks in segs(4):
        pos, p = 0, 1.0
        ok = True
        for k in ks:
            piece = "aaaa"[pos:pos + k]
            if piece not in probs:
                ok = False
                break
            p *= probs[piece]
            pos += k
        if ok:
            cand = (p, -len(ks))
            if best is None or cand > best:
                best = cand
    rows = _unigram_viterbi_hist(words, k_multi=16).collect()
    assert len(rows) == 1 and rows[0]["n_pieces"] == -best[1]


def test_decontaminate_from_index_equals_direct(spark):
    """Store-served decontamination must reproduce the direct
    (re-shingle the corpus) screen exactly — ids and collision
    counts — and respect the min_collisions floor."""
    from hbase_increment_index_spark.pipeline.dedup import (
        build_shingle_postings,
        cross_contamination,
        decontaminate_from_index,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    direct = {
        (r["doc_id"], r["n_collisions"])
        for r in cross_contamination(
            corpus, eval_set, "doc_id", "text", n=4, min_collisions=2
        ).collect()
    }
    store = build_shingle_postings(corpus, "doc_id", "text", n=4)
    served = {
        (r["doc"], r["n_collisions"])
        for r in decontaminate_from_index(
            store, eval_set, "doc_id", "text", n=4, min_collisions=2
        ).collect()
    }
    assert served == direct and len(direct) > 0


# ------------------------------ model() / list() / commit() workflow glue


def test_train_update_model_classify_workflow(spark, tmp_path):
    """The documented Solr workflow, spelled verbatim: train a model,
    update() it into a model collection, pull it back with model(),
    classify a stream with it — end to end through the expression
    language."""
    from hbase_increment_index_spark.search.streaming_expr import (
        run_stream_expr,
    )

    docs = spark.createDataFrame(
        [(i, "spark query" if i % 2 == 0 else "plain prose", 
          "de" if i % 2 == 0 else "en") for i in range(40)],
        ["doc_id", "text", "lang"],
    )
    path = str(tmp_path / "models")
    sinks = {"models": path}
    tables = {"d": docs}
    # train + store (iteration is the upsert key: 5 model tuples live)
    run_stream_expr(
        spark, tables,
        'commit(models, update(models, '
        'train(d, field="text", outcome="lang:de", terms="spark,prose", '
        'maxIterations=5), key="iteration", buckets=2))',
        sink_paths=sinks,
    ).collect()
    stored = spark.read.parquet(path)
    assert stored.count() == 5
    # serve: model() pulls the stored tuples; classify applies the
    # highest iteration
    tables2 = {"d": docs, "models": stored}
    rows = (
        run_stream_expr(
            spark, tables2,
            'classify(model(models), search(d, q="*:*", fl="doc_id,text"), '
            'field="text")',
        )
        .orderBy("doc_id")
        .collect()
    )
    assert len(rows) == 40
    spark_docs = [r for r in rows if r["doc_id"] % 2 == 0]
    prose_docs = [r for r in rows if r["doc_id"] % 2 == 1]
    assert all(r["predicted_i"] == 1 for r in spark_docs)
    assert all(r["predicted_i"] == 0 for r in prose_docs)


def test_list_concatenates_heterogeneous_streams(spark):
    from hbase_increment_index_spark.search.streaming_expr import (
        run_stream_expr,
    )

    a = spark.createDataFrame([(1, "x")], ["id", "s"])
    b = spark.createDataFrame([(2, 9.5)], ["id", "v"])
    rows = run_stream_expr(
        spark, {"a": a, "b": b},
        'list(search(a, q="*:*"), search(b, q="*:*"))',
    ).orderBy("id").collect()
    assert [(r["id"], r["s"], r["v"]) for r in rows] == [
        (1, "x", None), (2, None, 9.5),
    ]


def test_commit_requires_registered_destination(spark):
    from hbase_increment_index_spark.search.streaming_expr import (
        StreamExprError,
        run_stream_expr,
    )

    d = spark.createDataFrame([(1,)], ["id"])
    with pytest.raises(StreamExprError, match="not registered"):
        run_stream_expr(
            spark, {"d": d},
            'commit(nowhere, search(d, q="*:*"))',
        )
