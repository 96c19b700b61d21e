"""Plan guard for the served query path: query terms and other request
values enter a plan as literals, never as a Python-built relation.

``spark.createDataFrame`` of a Python list plans as ``Scan ExistingRDD``
and starts ``pyspark.daemon`` workers on every request; a Python UDF
plans as ``BatchEvalPython``/``ArrowEvalPython``. None of them may
appear in the physical plan of a served entry point. The stores are
written to parquet first, as a deployment serves them, so the guard
sees the plan a request really runs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hbase_increment_index_spark import api
from hbase_increment_index_spark.search import inverted, ranking, spell

#: Spark jobs of one served ``bm25_topk_from_index`` request over parquet
#: postings with its doc-length and stats side tables (session of
#: conftest.py: AQE off, 8 shuffle partitions). A terms relation built
#: with ``createDataFrame`` and joined by broadcast, plus a broadcast
#: df(term) aggregate, ran 5 jobs here.
BM25_JOB_BUDGET = 3

_PYTHON_NODES = ("ExistingRDD", "BatchEvalPython", "ArrowEvalPython")

_DOCS = [
    ("d1", "fast spark engine for search", "web", "en", 120),
    ("d2", "search engine index built on hbase", "news", "en", 90),
    ("d3", "spark streaming keeps the index current", "web", "de", 300),
    ("d4", "a slow engine", "blog", "en", 40),
    ("d5", "hbase cells fold into documents", "news", "fr", 75),
    ("d6", "spark spark search search engine", "web", "en", 210),
]


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("served"))
    spark.createDataFrame(
        _DOCS, "id string, text string, source string, lang string, n_chars long"
    ).write.parquet(f"{root}/docs")
    docs = spark.read.parquet(f"{root}/docs")
    inverted.build_inverted_index(docs, "id", "text").write.parquet(f"{root}/postings")
    postings = spark.read.parquet(f"{root}/postings")
    postings.groupBy("id").agg(F.sum("tf").alias("dl")).write.parquet(f"{root}/doclen")
    doc_len = spark.read.parquet(f"{root}/doclen")
    doc_len.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avg_dl"),
    ).write.parquet(f"{root}/stats")
    inverted.build_positional_index(docs, "id", "text").write.parquet(f"{root}/positional")
    r = spark.read.parquet
    return {
        "docs": docs,
        "postings": postings,
        "doc_len": doc_len,
        "stats": r(f"{root}/stats"),
        "positional": r(f"{root}/positional"),
    }


def _select_frames(spark, s):
    si = api.SecondaryIndex(spark, ["cf"], ["text", "source", "lang", "n_chars"], key_field="id")
    si.attach(s["docs"])
    resp = si.search(
        q="text:spark OR source:news", text_fields={"text"},
        fq=[F.col("lang") == "en", F.col("n_chars") >= 50],
        sort=[F.col("n_chars").desc()], start=0, rows=10,
        facet_fields=["source", "lang"], stats_fields=["n_chars"],
    )
    return [resp.docs, *resp.facets.values(), *resp.stats.values()]


_ENTRY_POINTS = {
    "bm25_from_index": lambda spark, s: [
        ranking.bm25_topk_from_index(s["postings"], "id", ["Spark", "engine"])
    ],
    "bm25_from_index_side_tables": lambda spark, s: [
        ranking.bm25_topk_from_index(
            s["postings"], "id", ["spark", "engine"],
            doc_len=s["doc_len"], stats=s["stats"],
        )
    ],
    "term_match_ids": lambda spark, s: [
        inverted.term_match_ids(s["postings"], "id", ["spark", "search"], op)
        for op in ("and", "or")
    ],
    "tfidf_topk": lambda spark, s: [
        ranking.tfidf_topk(s["docs"], "id", "text", ["spark", "hbase"])
    ],
    "select": _select_frames,
    "phrase_match_from_index": lambda spark, s: [
        inverted.phrase_match_from_index(s["positional"], ["search", "engine"], "id")
    ],
    "spellcheck": lambda spark, s: [
        spell.spellcheck_from_index(s["postings"], "id", ["sprak", "engnie"]),
        spell.spellcheck_collate_from_index(s["postings"], "id", ["sprak", "engnie"]),
    ],
}


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(_ENTRY_POINTS))
def test_served_plan_has_no_python_node(spark, stores, name):
    for df in _ENTRY_POINTS[name](spark, stores):
        plan = _physical(df)
        found = [n for n in _PYTHON_NODES if n in plan]
        assert not found, f"{name}: {found} in\n{plan}"
        df.collect()  # the plan runs, not only plans


def test_bm25_term_predicate_pushed_into_postings_scan(spark, stores):
    df = ranking.bm25_topk_from_index(
        stores["postings"], "id", ["spark", "Engine"],
        doc_len=stores["doc_len"], stats=stores["stats"],
    )
    plan = _physical(df)
    scans = [ln for ln in plan.splitlines() if "PushedFilters" in ln and "term" in ln]
    assert any("In(term, [engine,spark])" in ln for ln in scans), plan


def test_bm25_job_budget(spark, stores):
    """One served BM25 request runs at most ``BM25_JOB_BUDGET`` jobs and
    returns the same ranking as the corpus-scan BM25."""
    sc = spark.sparkContext
    df = ranking.bm25_topk_from_index(
        stores["postings"], "id", ["spark", "engine"],
        doc_len=stores["doc_len"], stats=stores["stats"],
    )
    sc.setJobGroup("bm25-job-budget", "one served bm25 request", False)
    try:
        got = [(r["id"], r["score"]) for r in df.collect()]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("bm25-job-budget")
    assert len(jobs) <= BM25_JOB_BUDGET
    want = ranking.bm25_topk(stores["docs"], "id", "text", ["spark", "engine"]).collect()
    assert got == [(r["id"], r["score"]) for r in want]


def test_literal_rows_types_and_empty(spark):
    """The inline literal relation keeps the declared column types, and
    no rows gives an empty frame of the same schema."""
    from hbase_increment_index_spark.search.tokenize import literal_rows

    schema = "id long, elev_pos int, input string"
    df = literal_rows(spark, schema, [(7, 1, "a"), (3, 2, "b")])
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("id", "bigint"), ("elev_pos", "int"), ("input", "string")
    ]
    assert [tuple(r) for r in df.collect()] == [(7, 1, "a"), (3, 2, "b")]
    empty = literal_rows(spark, schema, [])
    assert empty.schema == df.schema
    assert empty.collect() == []
    assert "ExistingRDD" not in _physical(df)
