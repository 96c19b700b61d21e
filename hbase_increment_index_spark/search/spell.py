"""Spellcheck — Solr's SpellCheckComponent (``spellcheck.q=...``),
the did-you-mean surface a Solr 5.x deployment exposes next to
suggest/highlight (SURVEY.md §2.2; the reference delegates all query
components to Solr, README.md:9-10,33).

Semantics (IndexBasedSpellChecker): corrections come from the index's
own term dictionary — for each input term, the vocabulary term within
``max_dist`` edits, preferring smaller edit distance, then higher
document frequency (more popular correction), then lexicographic.

Plan shape: the vocabulary (term → df) is ONE hash aggregate over
distinct postings; the input terms are a literal handful, so the
candidate match is a broadcast nested-loop join — the vocabulary
side streams through the levenshtein filter inside the scan tasks
and only candidate pairs (a few rows per input) reach the final
per-input top-1 window. The corpus-sized side is never shuffled.

Two serving paths, one core: the corpus-scan functions tokenize on
the fly; the ``*_from_index`` twins answer entirely from the
materialized (term, id, tf) postings — the Solr model, where the
spellchecker reads the index's term dictionary, never the documents.
``api.SecondaryIndex`` routes through the index path once postings
are built.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hbase_increment_index_spark.search.tokenize import literal_rows, tokens


def distinct_postings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Distinct (id, term) postings — the shared substrate of the
    vocabulary and of collation hit-verification."""
    return docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    ).distinct()


def term_dictionary(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Index vocabulary with document frequency: ONE distinct-agg over
    exploded tokens (two-phase: map-side distinct partials, then the
    term-keyed hash agg)."""
    toks = distinct_postings(docs, id_col, text_col)
    return toks.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def _best_corrections(
    vocab: DataFrame, qs: DataFrame, key: str, max_dist: int
) -> DataFrame:
    """Shared correction core: broadcast-NLJ the (tiny) input set
    against the vocabulary, keep candidates within ``max_dist`` edits,
    top-1 per input by (dist asc, df desc, term asc)."""
    cand = (
        vocab.join(F.broadcast(qs))
        .withColumn("dist", F.levenshtein(F.col("term"), F.col("input")))
        .filter(F.col("dist") <= max_dist)
    )
    w = Window.partitionBy(key).orderBy(
        F.col("dist").asc(), F.col("df").desc(), F.col("term").asc()
    )
    return cand.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)


def _spellcheck_core(
    vocab: DataFrame, inputs: list[str], max_dist: int
) -> DataFrame:
    qs = literal_rows(vocab.sparkSession, "input string", [(t.lower(),) for t in inputs])
    return _best_corrections(vocab, qs, "input", max_dist).select(
        "input", F.col("term").alias("suggestion"), "dist", "df"
    )


def _collate_core(
    vocab: DataFrame, toks: DataFrame, id_col: str, inputs: list[str], max_dist: int
) -> DataFrame:
    qs = literal_rows(
        vocab.sparkSession,
        "pos int, input string",
        [(i, t.lower()) for i, t in enumerate(inputs)],
    )
    best = _best_corrections(vocab, qs, "pos", max_dist).select(
        "pos", F.col("term").alias("corrected")
    )
    corrected = qs.join(best, "pos", "left").select(
        "pos", F.coalesce("corrected", "input").alias("term")
    )
    collation = corrected.agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "term"))),
                lambda s: s["term"],
            ),
            " ",
        ).alias("collated_query")
    )
    cterms = corrected.select("term").distinct()
    nreq = cterms.agg(F.count(F.lit(1)).alias("_nreq"))
    hits = (
        toks.join(F.broadcast(cterms), "term")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_nt"))  # toks is distinct: count == distinct terms
        .crossJoin(F.broadcast(nreq))
        .filter(F.col("_nt") == F.col("_nreq"))
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
    )
    return collation.crossJoin(F.broadcast(hits))


def spellcheck(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    inputs: list[str],
    max_dist: int = 2,
) -> DataFrame:
    """Best correction per input term: (input, suggestion, dist, df).
    Corpus-scan path (tokenizes on the fly); prefer
    ``spellcheck_from_index`` when postings are materialized."""
    return _spellcheck_core(term_dictionary(docs, id_col, text_col), inputs, max_dist)


def spellcheck_from_index(
    postings: DataFrame, id_col: str, inputs: list[str], max_dist: int = 2
) -> DataFrame:
    """Spellcheck served from the materialized (term, id, tf) postings:
    the vocabulary is one hash agg over the index (rows are distinct
    (term, id), so row count per term == df) — the corpus is never
    read or re-tokenized at query time."""
    vocab = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return _spellcheck_core(vocab, inputs, max_dist)


def spellcheck_collate(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    inputs: list[str],
    max_dist: int = 2,
) -> DataFrame:
    """Solr ``spellcheck.collate=true`` (+``collateExtendedResults``):
    re-assemble the corrected multi-term query and verify it — one row
    ``(collated_query, hits)`` where the collation replaces every input
    term by its best correction (terms already in the vocabulary
    correct to themselves at distance 0; terms with no candidate within
    ``max_dist`` stay as typed) and ``hits`` counts documents matching
    ALL collated terms, Solr's collation hit count.

    Plan: the per-term correction is the same broadcast-NLJ + top-1
    window as ``spellcheck``; the collation string and the required
    term count are 1-row aggregates; hit verification is a broadcast
    semi-join of the distinct postings against the handful of collated
    terms → per-doc matched-term count → single-row count. The corpus
    never shuffles — only postings matching collated terms do. The
    corpus-scan path tokenizes twice (vocabulary + verification);
    ``spellcheck_collate_from_index`` reads the postings once instead.
    """
    toks = distinct_postings(docs, id_col, text_col)
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return _collate_core(vocab, toks, id_col, inputs, max_dist)


def spellcheck_collate_from_index(
    postings: DataFrame, id_col: str, inputs: list[str], max_dist: int = 2
) -> DataFrame:
    """Collation served from the materialized postings: vocabulary and
    hit-verification both read the (term, id) index — zero corpus
    tokenization at query time (the Solr serving model)."""
    toks = postings.select("term", id_col)  # distinct by construction
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return _collate_core(vocab, toks, id_col, inputs, max_dist)
