"""Inverted-index build/write/query round trip."""

from __future__ import annotations

from pyspark.sql import functions as F

from hbase_increment_index_spark.search.inverted import (
    build_inverted_index,
    search_with_index,
    term_match_ids,
    write_inverted_index,
)
from hbase_increment_index_spark.search.tokenize import has_all_tokens, has_any_token


def test_index_matches_scan_semantics(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    postings = build_inverted_index(docs, "doc_id", "text")

    for op, pred in [
        ("and", has_all_tokens("text", ["spark", "join"])),
        ("or", has_any_token("text", ["spark", "join"])),
    ]:
        via_index = {
            r["doc_id"]
            for r in search_with_index(docs, postings, "doc_id", ["spark", "join"], op).collect()
        }
        via_scan = {r["doc_id"] for r in docs.filter(pred).collect()}
        assert via_index == via_scan, op


def test_write_read_round_trip(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    postings = build_inverted_index(docs, "doc_id", "text")
    path = str(tmp_path / "inv")
    write_inverted_index(postings, path, n_ranges=4)
    back = spark.read.parquet(path)
    assert back.count() == postings.count()
    ids = term_match_ids(back, "doc_id", ["spark"], "or")
    assert ids.count() == docs.filter(has_any_token("text", ["spark"])).count()


def test_terms_suggest_index_path_equals_corpus_path(spark):
    """Postings-served terms/suggester return exactly what the
    corpus-scan versions return."""
    from hbase_increment_index_spark.search.highlight import (
        suggest_terms,
        suggest_terms_from_index,
        terms_component,
        terms_component_from_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "apple cherry"),
            (3, "apricot banana banana"),
        ],
        "doc_id long, text string",
    )
    postings = build_inverted_index(docs, "doc_id", "text")

    scan = [tuple(r) for r in suggest_terms(docs, "doc_id", "text", "ap", k=5).collect()]
    idx = [tuple(r) for r in suggest_terms_from_index(postings, "ap", k=5).collect()]
    assert scan == idx == [("apple", 3), ("apricot", 1)]

    scan_t = [tuple(r) for r in terms_component(docs, "doc_id", "text", k=5).collect()]
    idx_t = [tuple(r) for r in terms_component_from_index(postings, k=5).collect()]
    assert scan_t == idx_t
    assert scan_t[0] == ("apple", 2) and ("banana", 2) in scan_t


def test_written_index_term_ranges_prune_files(spark, sf_dir, tmp_path):
    """The point of the range-partitioned index write: per-file term
    min/max ranges are (near-)disjoint, so a term lookup admits ~1 of N
    files via parquet stats — while a hash-partitioned write of the
    same postings admits every file. This is the partition-pruned
    point-lookup SCALE.md promises for the serving path."""
    import pyarrow.dataset as ds

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    postings = build_inverted_index(docs, "doc_id", "text")

    rpath, hpath = str(tmp_path / "ranged"), str(tmp_path / "hashed")
    write_inverted_index(postings, rpath, n_ranges=4)
    postings.repartition(4, "term").write.parquet(hpath)

    def files_admitting(path, term):
        d = ds.dataset(path, format="parquet")
        hits = total = 0
        for frag in d.get_fragments():
            total += 1
            mins, maxs = [], []
            for rg in frag.row_groups:
                st = rg.statistics.get("term")
                if st is None:
                    return -1, total
                mins.append(st["min"])
                maxs.append(st["max"])
            if min(mins) <= term <= max(maxs):
                hits += 1
        return hits, total

    r_hits, r_total = files_admitting(rpath, "spark")
    h_hits, h_total = files_admitting(hpath, "spark")
    assert r_total == 4 and h_total == 4
    assert r_hits == 1          # range layout: exactly one file's range admits the term
    assert h_hits == h_total    # hash layout: every file admits it — no pruning


def test_more_like_this_prefers_shared_rare_terms(spark):
    from hbase_increment_index_spark.search.ranking import more_like_this

    rows = [
        (1, "rare unicorn words plus common filler filler"),
        (2, "rare unicorn words here too with filler"),   # shares both rare terms
        (3, "common filler filler only nothing else"),    # shares only common terms
        (4, "totally unrelated vocabulary zone"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    top = more_like_this(df, "doc_id", "text", doc_id=1, k=3).collect()
    assert top[0]["doc_id"] == 2          # rare-term overlap dominates
    ids = [r["doc_id"] for r in top]
    assert 4 not in ids                   # no shared terms -> no score


def test_merge_postings_equals_rebuild(spark):
    from hbase_increment_index_spark.search.inverted import merge_postings

    v1 = spark.createDataFrame(
        [(1, "apple pie recipe"), (2, "banana bread"), (3, "cherry cake")],
        "doc_id long, text string",
    )
    postings = build_inverted_index(v1, "doc_id", "text")

    # micro-batch: doc 1 updated, doc 3 deleted, doc 4 inserted
    changed = spark.createDataFrame(
        [(1, "apple tart recipe"), (4, "damson jam")], "doc_id long, text string"
    )
    deleted = spark.createDataFrame([(3,)], "doc_id long")
    merged = merge_postings(postings, changed, deleted, "doc_id", "text")

    v2 = spark.createDataFrame(
        [(1, "apple tart recipe"), (2, "banana bread"), (4, "damson jam")],
        "doc_id long, text string",
    )
    want = build_inverted_index(v2, "doc_id", "text")

    key = lambda df: {tuple(r) for r in df.select("term", "doc_id", "tf").collect()}
    assert key(merged) == key(want)

    # idempotent on re-delivery of the same batch
    again = merge_postings(merged, changed, deleted, "doc_id", "text")
    assert key(again) == key(want)

    # queries through the merged index see the new state
    ids = {r["doc_id"] for r in term_match_ids(merged, "doc_id", ["tart"]).collect()}
    assert ids == {1}
    assert term_match_ids(merged, "doc_id", ["pie"]).count() == 0
    assert term_match_ids(merged, "doc_id", ["cherry"]).count() == 0


def test_bm25_from_index_matches_corpus_scan(spark, sf_dir):
    """The index-served BM25 (postings only, corpus never re-read)
    ranks identically to the corpus-scan formulation."""
    from hbase_increment_index_spark.search.ranking import (
        bm25_topk,
        bm25_topk_from_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    postings = build_inverted_index(docs, "doc_id", "text")
    terms = ["spark", "join", "query"]
    via_corpus = [tuple(r) for r in bm25_topk(docs, "doc_id", "text", terms, k=10).collect()]
    via_index = [tuple(r) for r in bm25_topk_from_index(postings, "doc_id", terms, k=10).collect()]
    assert via_index == via_corpus


def test_positional_index_and_phrase_match(spark):
    from hbase_increment_index_spark.search.inverted import (
        build_positional_index,
        phrase_match_from_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "quick brown quick brown fox"),
            (3, "brown quick fox"),          # words present, order wrong
            (4, "a a a"),                     # overlapping repeats
        ],
        "doc_id long, text string",
    )
    pp = build_positional_index(docs, "doc_id", "text")
    # positions are 0-based sorted
    row = pp.filter((pp.term == "a")).collect()[0]
    assert row["positions"] == [0, 1, 2]

    got = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_match_from_index(pp, ["quick", "brown"], "doc_id").collect()
    }
    assert got == {1: 1, 2: 2}  # doc 3 excluded: wrong order

    # repeated-term phrase with overlapping starts: 'a a' occurs at 0 and 1
    got = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_match_from_index(pp, ["a", "a"], "doc_id").collect()
    }
    assert got == {4: 2}

    # absent phrase
    assert phrase_match_from_index(pp, ["fox", "quick"], "doc_id").count() == 0


def test_sloppy_phrase_from_index(spark):
    from hbase_increment_index_spark.search.inverted import (
        build_positional_index,
        phrase_match_from_index,
        sloppy_phrase_from_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "quick brown fox"),            # adjacent
            (2, "quick red brown fox"),        # one gap
            (3, "quick very very red brown"),  # three gaps
            (4, "brown quick"),                # wrong order — never matches
        ],
        "doc_id long, text string",
    )
    pp = build_positional_index(docs, "doc_id", "text")

    def match(slop):
        return {
            r["doc_id"]: r["n_occurrences"]
            for r in sloppy_phrase_from_index(pp, ["quick", "brown"], "doc_id", slop=slop).collect()
        }

    assert match(0) == {1: 1}            # slop=0 == exact phrase
    assert match(1) == {1: 1, 2: 1}      # one intervening token allowed
    assert match(3) == {1: 1, 2: 1, 3: 1}
    # slop=0 agrees with the exact-phrase operator on every doc
    exact = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_match_from_index(pp, ["quick", "brown"], "doc_id").collect()
    }
    assert match(0) == exact


def test_span_near_from_index(spark):
    from hbase_increment_index_spark.search.inverted import (
        build_positional_index,
        span_near_from_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "data spark join"),            # distance 1
            (2, "spark a b c data"),           # distance 4, reversed order
            (3, "data a b c d e spark"),       # distance 6 — too far
            (4, "data only here"),             # missing one term
            (5, "spark spark z z z z data"),   # nearest pair distance 5 — too far
        ],
        "doc_id long, text string",
    )
    pp = build_positional_index(docs, "doc_id", "text")
    got = {
        r["doc_id"]
        for r in span_near_from_index(pp, "data", "spark", "doc_id", distance=4).collect()
    }
    assert got == {1, 2}
    # wider window admits the distance-5/6 docs
    got6 = {
        r["doc_id"]
        for r in span_near_from_index(pp, "data", "spark", "doc_id", distance=6).collect()
    }
    assert got6 == {1, 2, 3, 5}


def test_term_restricted_positional_index_matches_full(spark):
    from hbase_increment_index_spark.search.inverted import build_positional_index

    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "c c b"), (3, "zzz a")],
        "doc_id long, text string",
    )
    full = build_positional_index(docs, "doc_id", "text")
    restricted = build_positional_index(docs, "doc_id", "text", terms=["a", "c"])
    want = {
        (r["term"], r["doc_id"]): r["positions"]
        for r in full.filter(full.term.isin("a", "c")).collect()
    }
    got = {(r["term"], r["doc_id"]): r["positions"] for r in restricted.collect()}
    assert got == want  # global positions preserved; exactly the pruned slice
