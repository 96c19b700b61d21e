"""Relevance ranking — SURVEY.md §2.2 Q6 (Solr ``sort=score desc``).

TF-IDF and BM25 expressed as plain aggregations + joins so the whole
computation stays in Tungsten codegen and is oracle-checkable in SQL.

Shape of the plan (and why it scales):

  postings(id, term)                    -- explode, no shuffle
    filter term IN (k query terms)      -- literal predicate BEFORE any
                                        -- agg: only postings for query
                                        -- terms survive, so the groupBy
                                        -- input is ~k/|V| of the corpus
  groupBy(id, term) -> tf               -- map-side partial agg
  ⋈ df(term)  (broadcast, k rows)       -- document frequency per term,
                                        -- computed on the same filtered
                                        -- postings
  groupBy(id) -> score = Σ tf·idf       -- map-side partial agg
  orderBy(score desc, id) limit k       -- TakeOrderedAndProject

The only wide exchanges are group-bys on (id, term) and (id) — both
pre-aggregated map-side. Nothing here is proportional to vocabulary
size at query time.

The index-served BM25 (``bm25_topk_from_index``) reads materialized
(term, id, tf) postings instead: the term predicate is pushed into the
parquet scan, df(term) is ``count(1) over (partition by term)`` on the
surviving rows (no second aggregate, no broadcast), and the per-doc
length and (n_docs, avg_dl) rows join in before the (id) aggregate.
Query terms enter every plan here as literals (``query_terms_in``):
a request builds no driver-side relation and starts no Python worker.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hbase_increment_index_spark.search.tokenize import (
    literal_rows,
    posting_list,
    query_terms_in,
)

# NOTE: ranking deliberately does NOT fan_out the corpus scan — the
# terms filter drops ~all postings before any aggregation, so tokenize
# cost is small relative to an extra shuffle (A/B-measured).


def tfidf_topk(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
    score_decimals: int = 6,
) -> DataFrame:
    """Top-k documents by TF-IDF for an OR-of-terms query.

    score(d) = Σ_t tf(t,d) · ln(N / df(t)), standard raw-tf / raw-idf.
    The score is rounded to ``score_decimals`` and ties break on id so
    the selected top-k set is total-order deterministic (required for
    hash comparison against the oracle and for stable pagination).
    """
    # corpus cardinality rides a 1-row broadcast, not a driver count()
    stats = corpus.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))

    postings = posting_list(corpus, id_col, text_col)
    hits = postings.filter(query_terms_in(query_terms))  # filter early

    # tf feeds two consumers (df_t and the scoring probe) and is
    # deliberately NOT checkpointed: it is query-term-bounded and cheap
    # to re-derive, and the r16 A/B showed a lazy lineage cut here cost
    # more in per-leg physical planning + materialization barrier than
    # the re-derivation it saved (q77's 4 legs: ~1.7s → ~2.2s with the
    # cut; reverted in 5e6ca45)
    tf = (
        hits.groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # document frequency derives from the (tiny) tf aggregate — one row
    # per matching (doc, term) — instead of re-exploding the corpus for
    # a countDistinct: one postings pass total, not two
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))

    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("w", F.col("tf") * F.log(F.col("n_docs") / F.col("df_t")))
        .groupBy(id_col)
        .agg(F.round(F.sum("w"), score_decimals).alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def more_like_this(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    doc_id,
    k: int = 10,
    max_query_terms: int = 20,
    score_decimals: int = 6,
) -> DataFrame:
    """Solr MoreLikeThis: documents similar to a given document, ranked
    by the summed rarity (idf) of shared terms.

    Model: the source doc's "interesting terms" are its
    ``max_query_terms`` rarest distinct terms (selected by document
    frequency ascending, term ascending — integer ordering, so the
    selection is engine-exact); every other doc scores
    Σ idf(t) = Σ ln(N / df(t)) over the terms it shares. Same plan
    skeleton as tfidf_topk: distinct postings → tiny broadcast of the
    query-term set → one groupBy(id) — per-query work is proportional
    to postings matching the ~20 query terms, never the corpus.
    """
    # corpus cardinality rides a 1-row broadcast, not a driver count()
    stats = corpus.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))

    postings = posting_list(corpus, id_col, text_col).distinct()
    df_t = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    src = (
        postings.filter(F.col(id_col) == F.lit(doc_id))
        .join(df_t, "term")
        .orderBy(F.col("df_t").asc(), F.col("term").asc())
        .limit(max_query_terms)
        .crossJoin(F.broadcast(stats))
        .withColumn("idf", F.log(F.col("n_docs") / F.col("df_t")))
        .select("term", "idf")
    )
    scored = (
        postings.filter(F.col(id_col) != F.lit(doc_id))
        .join(F.broadcast(src), "term")
        .groupBy(id_col)
        .agg(F.round(F.sum("idf"), score_decimals).alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def bm25_scores(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    score_decimals: int = 6,
) -> DataFrame:
    """Per-document Okapi BM25 scores (un-truncated) — the shared core
    of ``bm25_topk`` and ``boosted_bm25_topk``. Same plan shape as
    tfidf_topk plus a broadcast of per-doc length and the corpus-average
    length.

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5));
    score  = Σ idf · tf·(k1+1) / (tf + k1·(1 - b + b·len/avglen)).

    The whole query is ONE lazy plan: corpus cardinality and average
    doc length enter via a 1-row broadcast cross-join instead of a
    driver-side count()/collect(), so no extra corpus-scan jobs run
    per query invocation. (The index-served twin,
    ``bm25_topk_from_index``, additionally avoids re-tokenizing the
    corpus — prefer it when postings are materialized; ``api.rank``
    does.)
    """
    from hbase_increment_index_spark.search.tokenize import tokens

    # corpus stats as exact ratios of two counts — order-independent;
    # 1 row, broadcast back into the scoring plan
    stats = corpus.select(F.size(tokens(text_col)).alias("dl")).agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avg_dl"),
    )

    # ONE tokenize pass feeds both the postings explode and the
    # per-doc length (dl rides the Generate as a pass-through column
    # and folds into the tf aggregate), replacing the separate
    # doc_len frame + its corpus-side join the previous plan paid
    # (r16, guide §2.3/§2.4: that join re-tokenized the corpus and
    # was the one non-broadcast join in every BM25 plan). tf feeds two
    # consumers (df_t and the scoring probe) but is deliberately NOT
    # checkpointed: it is query-term-bounded and cheap to re-derive,
    # and the r16 A/B showed the lazy cut's per-leg physical planning
    # + materialization barrier cost more than the re-derivation it
    # saved (q77's 4 legs; reverted in 5e6ca45).
    toked = corpus.select(F.col(id_col), tokens(text_col).alias("_tk"))
    sized = toked.select(
        F.col(id_col), F.size("_tk").alias("dl"), F.explode("_tk").alias("term")
    )
    hits = sized.filter(query_terms_in(query_terms))
    tf = (
        hits.groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))

    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_t") + F.lit(0.5)) / (F.col("df_t") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + F.lit(k1) * (1 - b + b * F.col("dl") / F.col("avg_dl"))
    )
    return (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("w", idf * tf_part)
        .groupBy(id_col)
        .agg(F.round(F.sum("w"), score_decimals).alias("score"))
    )


def bm25_topk(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    score_decimals: int = 6,
) -> DataFrame:
    """Top-k by Okapi BM25 (Solr default relevance sort, SURVEY.md §2.2
    Q6). Deterministic total order: score desc, id asc."""
    scored = bm25_scores(corpus, id_col, text_col, query_terms, k1, b, score_decimals)
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def bm25_topk_from_index(
    postings: DataFrame,
    id_col: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    score_decimals: int = 6,
    doc_len: DataFrame | None = None,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Okapi BM25 served ENTIRELY from the materialized postings table
    (term, id, tf) — the Solr/Lucene serving path: the corpus is never
    read or re-tokenized at query time (the reference delegates all
    query-time work to its index, reference README.md:9-10).

    Doc lengths and corpus stats are the tiny side-tables a deployment
    persists NEXT TO the postings at build time (and keeps fresh with
    the same merge cadence as cdc_merge_idf) — pass them as
    ``doc_len`` (id, dl) and ``stats`` (one row: n_docs, avg_dl) and
    the query never aggregates the full index; left to None, both are
    derived here with one aggregate over the postings (never a corpus
    scan), which is the correct default for ad-hoc use. The whole
    query is one lazy plan: the scalar (n_docs, avg_dl) row enters via
    a broadcast cross-join, not a driver collect, and the query terms
    enter as a literal ``term IN (...)`` predicate that a parquet
    postings scan takes as a pushed filter, so only matching postings
    ever shuffle.
    """
    if doc_len is None:
        doc_len = postings.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    if stats is None:
        stats = doc_len.agg(
            F.count(F.lit(1)).cast("double").alias("n_docs"),
            (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avg_dl"),
        )
    # postings are distinct (term, id): row count per term == df, so
    # df rides the pruned hits as a window count — no second aggregate
    # and no join back
    hits = postings.filter(query_terms_in(query_terms)).withColumn(
        "df_t", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    scored = (
        hits.join(doc_len, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "w",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df_t") + F.lit(0.5))
                / (F.col("df_t") + F.lit(0.5))
            )
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + F.lit(k1) * (1 - b + b * F.col("dl") / F.col("avg_dl"))),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("w"), score_decimals).alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def boosted_bm25_topk(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    boost,
    boost_weight: float = 1.5,
    k: int = 10,
    score_decimals: int = 6,
) -> DataFrame:
    """Solr boost query (``bq=``): additive score bump for documents
    matching a structured predicate, on top of BM25 relevance —
    e.g. ``bq=lang:en^1.5``. ``boost`` is any Column predicate over the
    corpus row.

    Plan: the BM25 aggregate (one row per doc matching a query term)
    joins back to the corpus projection carrying only (id, boost-bit).
    Both sides are keyed on id; AQE picks broadcast when the scored
    side is small. The boost never widens the match set — Solr bq
    reorders results, it does not recall new ones.
    """
    scored = bm25_scores(
        corpus, id_col, text_col, query_terms, score_decimals=score_decimals
    )
    bits = corpus.select(
        F.col(id_col),
        F.when(boost, F.lit(float(boost_weight))).otherwise(F.lit(0.0)).alias("_bq"),
    )
    return (
        scored.join(bits, id_col)
        .select(
            F.col(id_col),
            F.round(F.col("score") + F.col("_bq"), score_decimals).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def recency_boost(ts_col, now_col, half_life_days: float):
    """Solr function-query recency weight — ``recip(ms(NOW,date),...)``
    semantics as a hyperbolic decay: ``1 / (1 + age_days/half_life)``.
    A pure per-row expression; NOW must be a deterministic column (in
    batch, the corpus max date) so the score is reproducible."""
    age = F.datediff(now_col, ts_col)
    return F.lit(1.0) / (F.lit(1.0) + age / F.lit(float(half_life_days)))


def significant_terms(
    docs: DataFrame,
    fg_pred,
    id_col: str,
    text_col: str,
    min_fg_df: int = 3,
    k: int = 15,
    score_decimals: int = 6,
) -> DataFrame:
    """Significant-terms / Solr JSON-Facet ``relatedness()``: terms
    overrepresented in a foreground document set relative to the whole
    corpus, scored by lift = (fg_df/fg_n) / (df/n).

    One pass builds distinct (doc, term) postings carrying the
    foreground bit, one hash aggregate on term computes both document
    frequencies simultaneously (map-side partials), and the two scalar
    totals ride in on a broadcast — the corpus is scanned once and the
    shuffle carries one row per distinct term per partition.
    """
    from hbase_increment_index_spark.search.tokenize import tokens

    flagged = docs.select(
        F.col(id_col).alias("doc"),
        fg_pred.cast("int").alias("fg"),
        tokens(text_col).alias("toks"),
    )
    totals = flagged.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("fg").alias("n_fg")
    )
    per_term = (
        flagged.select("doc", "fg", F.explode(F.array_distinct("toks")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("fg").alias("fg_df"))
    )
    return (
        per_term.crossJoin(F.broadcast(totals))
        .filter(F.col("fg_df") >= min_fg_df)
        .select(
            "term",
            F.col("fg_df").cast("long").alias("fg_df"),
            F.col("df").cast("long").alias("df"),
            F.round(
                (F.col("fg_df") / F.col("n_fg")) / (F.col("df") / F.col("n_docs")),
                score_decimals,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("term").asc())
        .limit(k)
    )


def rrf_fuse(
    ranked: dict[str, DataFrame],
    id_col: str,
    k0: int = 60,
    k: int = 10,
    score_decimals: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion of independently-ranked candidate lists —
    hybrid retrieval (e.g. BM25 lexical ⊕ embedding kNN):
    ``rrf(d) = Σ_lists 1/(k0 + rank_list(d))``, absent-from-list
    contributing 0 (Cormack et al., SIGIR'09; the standard k0=60).

    Each input df must expose (id_col, ``rank``) with rank 1-based.
    Candidate lists are top-k's — a few hundred rows — so the fusion
    is a broadcast-sized full outer join chain + projection no matter
    how big the corpus that produced them was; the heavy lifting
    stays in the per-list retrievals, which scan/prune independently.
    """
    out = None
    cols = []
    for name, df in ranked.items():
        contrib = df.select(
            F.col(id_col), (F.lit(1.0) / (F.lit(k0) + F.col("rank"))).alias(f"_c_{name}")
        )
        cols.append(f"_c_{name}")
        out = contrib if out is None else out.join(contrib, id_col, "full_outer")
    fused = out.select(
        F.col(id_col),
        F.round(
            sum(F.coalesce(F.col(c), F.lit(0.0)) for c in cols), score_decimals
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), F.col(id_col).asc()).limit(k)


def with_rank(df: DataFrame, order: list, rank_alias: str = "rank") -> DataFrame:
    """Attach a dense 1-based rank to an (already small) top-k list.
    The single-partition window is deliberate and safe: it runs on the
    k rows a TakeOrderedAndProject already reduced, never on the corpus.
    """
    w = Window.orderBy(*order)
    return df.withColumn(rank_alias, F.row_number().over(w))


def rerank_topk(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    main_terms: list[str],
    rerank_terms: list[str],
    rerank_docs: int = 50,
    rerank_weight: float = 2.0,
    k: int = 10,
    score_decimals: int = 6,
) -> DataFrame:
    """Solr ReRank query parser (``rq={!rerank reRankQuery=$rqq
    reRankDocs=N reRankWeight=w}``): the main query's top
    ``rerank_docs`` candidates are re-scored as
    ``main + w·rerank_score``; documents outside the head keep their
    main-query order below the head (we return only the head's top-k,
    Solr's common usage).

    Plan shape: the expensive leg is the main BM25 retrieval — the
    candidate head it produces is broadcast-small (reRankDocs rows),
    so the rerank scoring joins against a tiny keyset: the second
    query's postings are filtered by BOTH the query terms AND the
    candidate ids before aggregation. Rerank cost is O(head), never a
    second corpus-wide retrieval.
    """
    head = bm25_topk(
        corpus, id_col, text_col, main_terms, k=rerank_docs,
        score_decimals=score_decimals,
    ).withColumnRenamed("score", "main_score")

    # rerank leg: INDEX-GLOBAL statistics (df over all matching
    # postings, corpus n_docs/avgdl — Solr scores the head with full-
    # index idf), but per-doc tf/dl aggregation restricted to the
    # broadcast candidate head BEFORE the shuffle — the O(head) claim
    from hbase_increment_index_spark.search.tokenize import tokens

    k1, b = 1.2, 0.75
    head_ids = head.select(id_col)
    doc_len = corpus.select(F.col(id_col), F.size(tokens(text_col)).alias("dl"))
    stats = doc_len.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avg_dl"),
    )
    hits = posting_list(corpus, id_col, text_col).filter(query_terms_in(rerank_terms))
    # df from the term-filtered postings (global): distinct docs per term
    df_t = hits.select(id_col, "term").distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df_t")
    )
    tf = (
        hits.join(F.broadcast(head_ids), id_col)  # candidate filter pre-agg
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    re_scores = (
        tf.join(F.broadcast(df_t), "term")
        .join(doc_len, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "w",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df_t") + F.lit(0.5))
                / (F.col("df_t") + F.lit(0.5))
            )
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + F.lit(k1) * (1 - b + b * F.col("dl") / F.col("avg_dl"))),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("w"), score_decimals).alias("re_score"))
    )
    return (
        head.join(re_scores, id_col, "left")
        .select(
            F.col(id_col),
            F.col("main_score"),
            F.round(
                F.col("main_score")
                + F.lit(float(rerank_weight)) * F.coalesce("re_score", F.lit(0.0)),
                score_decimals,
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def elevation_topk(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    elevated_ids: list,
    k: int = 10,
    organic_pool: int = 50,
    score_decimals: int = 6,
) -> DataFrame:
    """Solr QueryElevationComponent (``elevate.xml`` / ``elevateIds``):
    the pinned documents surface first in their configured order, then
    the organic BM25 ranking fills the REMAINING slots (total rows ≤
    ``k``, like Solr's ``rows=k``; pinned ids are excluded from the
    organic slots). An empty elevation list degrades to plain BM25.

    Output: (id, elevated, sort_key) — sort_key is the pinned position
    for elevated rows and (1000 − score) for organic ones, rounded;
    total order is (elevated desc, sort_key asc, id asc).
    """
    organic = bm25_topk(
        corpus, id_col, text_col, query_terms, k=organic_pool,
        score_decimals=score_decimals,
    )
    if not elevated_ids:
        return (
            organic.select(
                F.col(id_col),
                F.lit(0).alias("elevated"),
                F.round(F.lit(1000.0) - F.col("score"), score_decimals).alias("sort_key"),
            )
            .orderBy(F.col("sort_key").asc(), F.col(id_col).asc())
            .limit(k)
        )
    id_type = "string" if isinstance(elevated_ids[0], str) else "long"
    pinned = literal_rows(
        corpus.sparkSession,
        f"{id_col} {id_type}, elev_pos int",
        [(d, i + 1) for i, d in enumerate(elevated_ids)],
    )
    n_organic = max(k - len(elevated_ids), 0)
    rest = (
        organic.join(F.broadcast(pinned.select(id_col)), id_col, "left_anti")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(n_organic)
    )
    elevated = pinned.select(
        F.col(id_col),
        F.lit(1).alias("elevated"),
        F.col("elev_pos").cast("double").alias("sort_key"),
    )
    organic_part = rest.select(
        F.col(id_col),
        F.lit(0).alias("elevated"),
        (F.lit(1000.0) - F.col("score")).alias("sort_key"),
    )
    return (
        elevated.unionByName(organic_part)
        .select(
            F.col(id_col), "elevated", F.round("sort_key", score_decimals).alias("sort_key")
        )
        .orderBy(F.col("elevated").desc(), F.col("sort_key").asc(), F.col(id_col).asc())
    )


def ltr_rerank(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    weights: dict[str, float],
    rerank_docs: int = 50,
    k: int = 10,
    score_decimals: int = 6,
) -> DataFrame:
    """Solr Learning-to-Rank plugin shape (``rq={!ltr model=m
    reRankDocs=N}``): the main query's top-``rerank_docs`` head gets a
    FEATURE VECTOR per candidate, scored by a linear model, and the
    head is re-ordered by the model score.

    Features (the standard LTR starter set — SolrFeature /
    FieldValueFeature / OriginalScoreFeature analogues):

      original_score  BM25 of the main query (OriginalScoreFeature)
      log_doclen      ln(1 + token count)    (FieldLengthFeature)
      is_en           lang = 'en'            (SolrFeature on a filter)
      is_web          source = 'web'         (SolrFeature on a filter)

    ``weights`` maps feature name → weight; model score is the dot
    product, rounded for cross-engine determinism. Like rerank_topk,
    feature extraction happens on the broadcast-small candidate head
    only — O(head) work joined against the corpus row by id, never a
    second retrieval. A trained model drops in by changing ``weights``
    (the plan is weight-agnostic).
    """
    feats = ltr_feature_vectors(
        corpus, id_col, text_col, query_terms,
        rerank_docs=rerank_docs, score_decimals=score_decimals,
    )
    model = (
        F.lit(float(weights.get("original_score", 0.0))) * F.col("original_score")
        + F.lit(float(weights.get("log_doclen", 0.0))) * F.col("log_doclen")
        + F.lit(float(weights.get("is_en", 0.0))) * F.col("is_en")
        + F.lit(float(weights.get("is_web", 0.0))) * F.col("is_web")
    )
    return (
        feats.withColumn("ltr_score", F.round(model, score_decimals))
        .select(id_col, "original_score", "ltr_score")
        .orderBy(F.col("ltr_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ltr_feature_vectors(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    rerank_docs: int = 50,
    score_decimals: int = 6,
) -> DataFrame:
    """Solr LTR feature LOGGING (``fl=[features store=...]``): the
    per-candidate feature vector the plugin extracts — returned to the
    client so training data for the next model comes from the live
    system (the feature-store half of the LTR workflow; the rerank
    halves are :func:`ltr_rerank` / :func:`ltr_trees_rerank`, which
    consume this same frame).

    Features (SolrFeature / FieldValueFeature / OriginalScoreFeature
    analogues): original_score (BM25 of the main query), log_doclen
    (ln(1 + token count)), is_en / is_web (filter features; degrade to
    0.0 when the field is absent or NULL — a Solr feature on a missing
    value scores its default, and without the coalesce a NULL field
    would poison the model's dot product).

    Plan — FUSED single corpus pass (r11 verdict #7: the previous
    form's bm25_topk + head semi-join + feature join stacked 20
    broadcast joins / 46 exchanges; this one carries everything
    through one projection): per row, the token array yields dl AND
    each query term's tf via an array filter — no explode, no posting
    shuffle; corpus stats (n_docs, avg_dl) and per-term document
    frequencies come from ONE 1-row aggregate broadcast back as a
    cross-join; BM25, log_doclen, and the filter features are then a
    pure codegen projection, TakeOrdered(rerank_docs) ends it. Docs
    matching no query term are excluded (the posting-list contract);
    per-term contributions gate on tf > 0 so the summed score is
    value-identical to the exploded form.
    """
    from hbase_increment_index_spark.search.tokenize import tokens

    k1, b = 1.2, 0.75
    terms = sorted({t.lower() for t in query_terms})
    toks = tokens(text_col)
    is_en = (
        F.coalesce((F.col("lang") == "en").cast("double"), F.lit(0.0))
        if "lang" in corpus.columns
        else F.lit(0.0)
    )
    is_web = (
        F.coalesce((F.col("source") == "web").cast("double"), F.lit(0.0))
        if "source" in corpus.columns
        else F.lit(0.0)
    )
    def _tf(term: str):
        # single-arg lambda: a default-arg closure would raise the HOF
        # arity to 2 and Spark would pass the element INDEX into it
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    base = corpus.select(
        F.col(id_col),
        F.size(toks).alias("_dl"),
        is_en.alias("is_en"),
        is_web.alias("is_web"),
        *[_tf(t).alias(f"_tf_{i}") for i, t in enumerate(terms)],
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("_n_docs"),
        (F.sum("_dl").cast("double") / F.count(F.lit(1))).alias("_avg_dl"),
        *[
            F.sum((F.col(f"_tf_{i}") > 0).cast("long")).alias(f"_df_{i}")
            for i in range(len(terms))
        ],
    )
    score = None
    for i in range(len(terms)):
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n_docs") - F.col(f"_df_{i}") + F.lit(0.5))
            / (F.col(f"_df_{i}") + F.lit(0.5))
        )
        tf_part = (F.col(f"_tf_{i}") * (k1 + 1)) / (
            F.col(f"_tf_{i}") + F.lit(k1) * (1 - b + b * F.col("_dl") / F.col("_avg_dl"))
        )
        w = F.when(F.col(f"_tf_{i}") > 0, idf * tf_part).otherwise(F.lit(0.0))
        score = w if score is None else score + w
    any_hit = None
    for i in range(len(terms)):
        hit = F.col(f"_tf_{i}") > 0
        any_hit = hit if any_hit is None else (any_hit | hit)
    return (
        base.crossJoin(F.broadcast(stats))
        .filter(any_hit)
        .select(
            F.col(id_col),
            F.round(score, score_decimals).alias("original_score"),
            F.log(F.lit(1.0) + F.col("_dl")).alias("log_doclen"),
            "is_en",
            "is_web",
        )
        .orderBy(F.col("original_score").desc(), F.col(id_col).asc())
        .limit(rerank_docs)
    )


# ------------------------------------------------- LTR: tree ensembles

def tree_score_expr(node: dict) -> Column:
    """Compile one MultipleAdditiveTrees tree (Solr LTR's production
    model class — org.apache.solr.ltr.model.MultipleAdditiveTreesModel)
    to a nested CASE expression over feature COLUMNS: a branch node is
    ``{"feature", "threshold", "left", "right"}`` with Solr's
    featureValue <= threshold → left walk; a leaf is ``{"value": v}``.
    Pure codegen — evaluating the ensemble is a per-row expression, no
    join, no shuffle, no UDF."""
    if "value" in node:
        return F.lit(float(node["value"]))
    return F.when(
        F.col(node["feature"]) <= F.lit(float(node["threshold"])),
        tree_score_expr(node["left"]),
    ).otherwise(tree_score_expr(node["right"]))


def tree_score_sql(node: dict) -> str:
    """The SAME tree as ANSI SQL (nested CASE) — the DuckDB oracle
    replays the identical walk, so the model spec is single-sourced."""
    if "value" in node:
        return repr(float(node["value"]))
    return (
        f"(CASE WHEN {node['feature']} <= {float(node['threshold'])!r} "
        f"THEN {tree_score_sql(node['left'])} "
        f"ELSE {tree_score_sql(node['right'])} END)"
    )


def ltr_trees_rerank(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    trees: list[tuple[float, dict]],
    rerank_docs: int = 50,
    k: int = 10,
    score_decimals: int = 6,
) -> DataFrame:
    """Solr LTR re-rank with a MultipleAdditiveTrees model
    (``rq={!ltr model=trees reRankDocs=N}``): the same O(head) feature
    extraction as :func:`ltr_rerank` (original BM25 score, log doc
    length, lang/source filter features), scored by a weighted tree
    ensemble — score = Σ_t weight_t · tree_t(x), each tree a nested
    CASE walk (Solr evaluates exactly this: weight * leaf value summed
    over trees). ``trees`` is a list of (weight, root-node dict); see
    :func:`tree_score_expr` for the node grammar. The whole ensemble
    is one codegen'd projection over the broadcast-small candidate
    head — swapping in a LambdaMART model of any size changes only the
    expression depth, never the plan shape."""
    feats = ltr_feature_vectors(
        corpus, id_col, text_col, query_terms,
        rerank_docs=rerank_docs, score_decimals=score_decimals,
    )
    model = None
    for weight, root in trees:
        term = F.lit(float(weight)) * tree_score_expr(root)
        model = term if model is None else model + term
    return (
        feats.withColumn("ltr_score", F.round(model, score_decimals))
        .select(id_col, "original_score", "ltr_score")
        .orderBy(F.col("ltr_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def skg_relatedness_terms(
    docs: DataFrame,
    fg_pred,
    id_col: str,
    text_col: str,
    min_fg_df: int = 3,
    k: int = 15,
    score_decimals: int = 6,
) -> DataFrame:
    """JSON-Facet ``relatedness()`` with the Semantic-Knowledge-Graph
    r-score (Grainger et al., "The Semantic Knowledge Graph", DSAA
    2016 — the published algorithm behind Solr's RelatednessAgg, which
    json.facet exposes as relatedness(fgQ, bgQ)): instead of
    :func:`significant_terms`' raw lift, each term's foreground
    document proportion is z-tested against its background proportion
    and the z-score is squashed to [-1, 1]:

        fg_pop = fg_df / n_fg          (foreground proportion)
        bg_pop = df / n_docs           (background proportion)
        z      = (fg_pop - bg_pop) / sqrt(bg_pop·(1 - bg_pop) / n_fg)
        r      = z / sqrt(1 + z²)

    so a term needs both lift AND foreground support to score high —
    popularity-aware, unlike lift which explodes on rare terms. A term
    present in every background doc (bg_pop = 1) is defined as r = 0.

    Same plan as significant_terms: one scan, one per-term hash
    aggregate carrying both document frequencies, scalar totals
    broadcast — the z arithmetic is a pure projection.
    """
    from hbase_increment_index_spark.search.tokenize import tokens

    flagged = docs.select(
        F.col(id_col).alias("doc"),
        fg_pred.cast("int").alias("fg"),
        tokens(text_col).alias("toks"),
    )
    totals = flagged.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("fg").alias("n_fg")
    )
    per_term = (
        flagged.select("doc", "fg", F.explode(F.array_distinct("toks")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("fg").alias("fg_df"))
    )
    fg_pop = F.col("fg_df") / F.col("n_fg")
    bg_pop = F.col("df") / F.col("n_docs")
    z = (fg_pop - bg_pop) / F.sqrt(bg_pop * (F.lit(1.0) - bg_pop) / F.col("n_fg"))
    r = F.when(bg_pop >= 1.0, F.lit(0.0)).otherwise(
        z / F.sqrt(F.lit(1.0) + z * z)
    )
    return (
        per_term.crossJoin(F.broadcast(totals))
        .filter(F.col("fg_df") >= min_fg_df)
        .select(
            "term",
            F.col("fg_df").cast("long").alias("fg_df"),
            F.col("df").cast("long").alias("df"),
            F.round(r, score_decimals).alias("relatedness"),
        )
        .orderBy(F.col("relatedness").desc(), F.col("term").asc())
        .limit(k)
    )
