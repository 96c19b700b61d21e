"""Tokenization — the Spark stand-in for Solr's analyzer chain.

The reference configures analysis out-of-band in the Solr schema
("提前定制好schemal", reference README.md:33). Here the analyzer is an
explicit, deterministic expression: lowercase → split on non-
alphanumeric runs → drop empties. Kept as a JVM-side expression (no
Python UDF) so it stays inside whole-stage codegen.

DuckDB-oracle equivalent of ``tokens(c)``::

    list_filter(regexp_split_to_array(lower(c), '[^a-z0-9]+'), t -> t <> '')
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"


def tokens(col: Column | str) -> Column:
    """Array of lowercase tokens for a text column."""
    c = F.col(col) if isinstance(col, str) else col
    raw = F.split(F.lower(c), TOKEN_SPLIT_RE)
    return F.filter(raw, lambda t: t != "")


def has_token(col: Column | str, term: str) -> Column:
    """Full-text single-term match (Solr ``q=field:term``)."""
    return F.array_contains(tokens(col), term.lower())


def has_fuzzy_token(col: Column | str, term: str, max_edits: int = 2) -> Column:
    """Fuzzy single-term match (Solr ``q=field:term~N``; Lucene default
    N=2): true iff any token is within ``max_edits`` of ``term``.
    A pure per-row ``exists`` over the token array — pushdown-friendly
    and zero-shuffle, same plan class as has_token."""
    t = term.lower()
    return F.exists(
        tokens(col), lambda x: F.levenshtein(x, F.lit(t)) <= F.lit(max_edits)
    )


def has_all_tokens(col: Column | str, terms: list[str]) -> Column:
    """AND-of-terms match (Solr ``q=field:(w1 w2)`` with q.op=AND)."""
    pred = F.lit(True)
    for t in terms:
        pred = pred & has_token(col, t)
    return pred


def has_any_token(col: Column | str, terms: list[str]) -> Column:
    pred = F.lit(False)
    for t in terms:
        pred = pred | has_token(col, t)
    return pred


def synonym_groups_match(
    col: Column | str, groups: dict[str, list[str]]
) -> tuple[Column, list[Column]]:
    """Query-time synonym expansion (Solr SynonymGraphFilter at query
    time): each canonical term expands to an OR over its synonym set,
    and the groups combine with AND (``q.op=AND``) — exactly how
    ``q=text:(fast engine)`` behaves behind an analyzer with
    ``synonyms.txt`` entries.

    Returns (match predicate, per-group matched-variant-count columns,
    one per canonical term in sorted order). Pure token-array
    expressions — zero shuffle, pushdown-friendly.
    """
    toks = F.array_distinct(tokens(col))
    counts = []
    pred = F.lit(True)
    for canon in sorted(groups):
        variants = sorted({canon.lower(), *(v.lower() for v in groups[canon])})
        hit_n = F.size(
            F.array_intersect(toks, F.array(*[F.lit(v) for v in variants]))
        )
        counts.append(hit_n.alias(f"n_{canon.lower()}"))
        pred = pred & (hit_n > 0)
    return pred, counts


def query_terms_in(terms: list[str]) -> Column:
    """The one way a request's query terms enter a plan: ``term IN
    (<lowercased, distinct, sorted literals>)``. Over a parquet postings
    scan Catalyst pushes it into the reader (``PushedFilters``), so no
    driver-built relation, Python worker or broadcast job is involved."""
    return F.col("term").isin(sorted({t.lower() for t in terms}))


def literal_rows(spark, schema: str, rows: list[tuple]) -> DataFrame:
    """A small request-time relation (a few query rows) built from
    literals: one ``inline`` over a single-row ``range``, so the plan
    stays in the JVM. ``spark.createDataFrame`` of a Python list plans
    as ``Scan ExistingRDD`` and starts Python workers for every request.
    ``schema`` is ``"name type, ..."``; an empty ``rows`` gives an empty
    frame of that schema."""
    fields = [f.strip().split(None, 1) for f in schema.split(",")]
    struct_t = "struct<" + ",".join(f"{n}:{t}" for n, t in fields) + ">"
    structs = [
        F.struct(*[F.lit(v).cast(t).alias(n) for v, (n, t) in zip(r, fields)])
        for r in rows
    ]
    arr = F.array(*structs).cast(f"array<{struct_t}>")
    return spark.range(0, 1, 1, 1).select(F.inline(arr))


def posting_list(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Explode a corpus to (id, term) postings — the inverted-index
    building block used by ranking (TF) and term-count facets.

    One narrow shuffle-free projection; downstream groupBys aggregate
    map-side first, so the exploded width never hits the shuffle in
    full at scale.
    """
    return df.select(
        F.col(id_col),
        F.explode(tokens(text_col)).alias("term"),
    )
