"""eDisMax — Solr's Extended DisMax query parser (SURVEY.md §2.2).

The reference's query tier is a stock Solr deployment ("搭建一套
solr集群", reference README.md:33); eDisMax (``defType=edismax``) is
the parser such a deployment serves user-facing search with:

- ``qf=f1^b1 f2^b2``  — the query matches ANY of several fields, each
  with its own boost;
- per term, the score is the MAX over fields (dis-junction max), plus
  ``tie`` × the sum of the non-max field scores (tie=0 → pure dismax,
  tie=1 → sum over fields);
- ``mm=N`` — minimum-should-match: a document qualifies only if at
  least N of the query's term clauses matched in some field.

Spark mapping (one lazy plan, oracle-checkable in SQL):

  for each field f:   postings(id, term) filtered term IN (query terms)
                      df_f(term) from the tf aggregate (tiny)
                      w = boost_f · tf · ln(n_docs / df_f)
  union fields        rows (id, term, field, w) — k·|fields| per doc max
  groupBy(id, term)   dismax = max(w) + tie·(sum(w) − max(w))
  groupBy(id)         score = Σ dismax, matched = count(term clauses)
  filter matched ≥ mm; orderBy(score desc, id) limit k

Scale shape: each field contributes one single-column scan whose
postings are filtered to the query terms BEFORE any shuffle,
so per-query work is proportional to matching postings, never corpus
size. With materialized per-field postings tables (the Lucene serving
shape — see ``bm25_topk_from_index``) the corpus scans disappear
entirely; the aggregation skeleton is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hbase_increment_index_spark.search.tokenize import posting_list, query_terms_in


def resolve_mm(mm: int | str, n_clauses: int) -> int:
    """Solr ``mm`` resolution: an int is an absolute clause count; a
    string percentage (``"75%"``) means ceil-towards-zero of that
    fraction of the clause count (Solr rounds DOWN for positive
    percentages); a negative int/percentage means "all but that many".
    """
    if isinstance(mm, str):
        pct = float(mm.rstrip("%"))
        want = int(n_clauses * pct / 100.0)  # Solr truncates
        return max(n_clauses + want, 0) if pct < 0 else want
    if mm < 0:
        return max(n_clauses + int(mm), 0)
    return int(mm)


def edismax_topk(
    corpus: DataFrame,
    id_col: str,
    field_boosts: dict[str, float],
    query_terms: list[str],
    mm: int | str = 1,
    tie: float = 0.0,
    k: int = 10,
    score_decimals: int = 6,
) -> DataFrame:
    """Top-k by eDisMax score over multiple boosted fields.

    Per (doc, term, field): w = boost · tf · ln(n_docs / df_field).
    Per (doc, term): dismax = max_f w + tie·(Σ_f w − max_f w).
    Per doc: score = Σ_terms dismax; kept iff matched clauses ≥ mm —
    ``mm`` accepts Solr's absolute ints, negatives ("all but N"), and
    percentage strings ("75%"); see :func:`resolve_mm`.
    Deterministic total order: score desc, id asc.
    """
    mm = resolve_mm(mm, len(set(t.lower() for t in query_terms)))
    # corpus cardinality rides a 1-row broadcast, not a driver count()
    stats = corpus.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))

    per_field = []
    for field, boost in sorted(field_boosts.items()):
        hits = posting_list(corpus, id_col, field).filter(query_terms_in(query_terms))
        tf = hits.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
        # postings already collapsed to one row per (doc, term): row
        # count per term == document frequency in THIS field
        df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
        scored = (
            tf.join(F.broadcast(df_t), "term")
            .crossJoin(F.broadcast(stats))
            .select(
                F.col(id_col),
                F.col("term"),
                (
                    F.lit(float(boost))
                    * F.col("tf")
                    * F.log(F.col("n_docs") / F.col("df_t"))
                ).alias("w"),
            )
        )
        per_field.append(scored)

    allf = per_field[0]
    for other in per_field[1:]:
        allf = allf.unionByName(other)

    per_term = allf.groupBy(id_col, "term").agg(
        (
            F.max("w") + F.lit(float(tie)) * (F.sum("w") - F.max("w"))
        ).alias("dismax")
    )
    return (
        per_term.groupBy(id_col)
        .agg(
            F.round(F.sum("dismax"), score_decimals).alias("score"),
            F.count(F.lit(1)).alias("matched"),
        )
        .filter(F.col("matched") >= F.lit(int(mm)))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )
