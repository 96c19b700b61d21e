"""User-facing facade: the reference system's two roles in one class.

A user of ``qindongliang/hbase-increment-index`` interacts with:

1. an HBase table whose Puts/Deletes are mirrored into a Solr index by
   the coprocessor (reference HbaseSolrIndexCoprocesser.java:37-61,
   configured via application.properties families/rowkey/batching);
2. Solr's ``select`` handler for queries: q / fq / fl / sort /
   start+rows / facet / stats / group (reference README.md:5-10).

:class:`SecondaryIndex` re-expresses both: ``apply_mutations`` is the
coprocessor+commit pipeline in batch (or via Structured Streaming, see
streaming.cdc_stream), and :meth:`search` is the select handler over
the maintained document table. Everything returns DataFrames — the
plan stays declarative end-to-end, so Catalyst prunes/pushes/broadcasts
across the facade boundary too.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_increment_index_spark.cdc.cell_model import drop_empty_cells, filter_families
from hbase_increment_index_spark.cdc.index_builder import (
    compact_state,
    documents_from_state,
    merge_state,
)
from hbase_increment_index_spark.search import facets as _facets
from hbase_increment_index_spark.search import stats as _stats
from hbase_increment_index_spark.search.paging import group_top_n, sorted_page
from hbase_increment_index_spark.search.ranking import bm25_topk, tfidf_topk
from hbase_increment_index_spark.search.tokenize import has_all_tokens, has_any_token


@dataclass
class SearchResponse:
    """Mirror of a Solr select response: docs + optional facet/stats
    blocks, each a DataFrame (lazily evaluated until the caller acts)."""

    docs: DataFrame
    facets: dict[str, DataFrame] = field(default_factory=dict)
    stats: dict[str, DataFrame] = field(default_factory=dict)
    groups: dict[str, DataFrame] = field(default_factory=dict)


class SecondaryIndex:
    """Maintained secondary index + query surface.

    Parameters mirror the reference's application.properties:
    ``families``   — hbase_column_family allow-list (line 2)
    ``key_field``  — solr_hbase_rowkey_name (line 4), output id column
    ``qualifiers`` — the document field list (Solr schema, README.md:33)
    """

    def __init__(
        self,
        spark: SparkSession,
        families: list[str],
        qualifiers: list[str],
        key_field: str = "rowkey",
    ) -> None:
        self.spark = spark
        self.families = list(families)
        self.qualifiers = list(qualifiers)
        self.key_field = key_field
        #: compacted cell state (latest cell per (row_key, qualifier) +
        #: row tombstones) — the merge substrate; documents are derived
        self._state: DataFrame | None = None
        self._attached_docs: DataFrame | None = None
        #: materialized postings per text field (build_postings);
        #: maintained incrementally by apply_mutations
        self._postings: dict[str, DataFrame] = {}
        #: positional postings per text field (build_positional_postings)
        self._positional: dict[str, DataFrame] = {}

    # ----------------------------------------------------------- maintain

    def apply_mutations(self, cell_log: DataFrame) -> DataFrame:
        """Fold a batch of cell-level mutations into the index — the
        batch equivalent of one coprocessor lifetime: family filter →
        empty-skip → cell-state merge (event-time conflict resolution,
        out-of-order safe) → document pivot."""
        cells = drop_empty_cells(filter_families(cell_log, self.families))
        if self._state is None:
            self._state = compact_state(cells)
        else:
            self._state = merge_state(self._state, cells)
        if self._postings or self._positional:
            # keep materialized full-text postings in sync — the
            # reference's whole job (add+deleteById per batch,
            # SolrIndexTools.java:60-63,127-131): touched keys' old
            # postings drop via broadcast anti-join, fresh ones append;
            # work ∝ batch, never index size
            from hbase_increment_index_spark.search.inverted import (
                merge_positional_postings,
                merge_postings,
            )

            touched = cells.select(
                F.col("row_key").alias(self.key_field)
            ).distinct()
            docs = self.documents
            changed = docs.join(F.broadcast(touched), self.key_field, "left_semi")
            for text_field, postings in self._postings.items():
                self._postings[text_field] = merge_postings(
                    postings,
                    changed.select(self.key_field, text_field),
                    touched,
                    self.key_field,
                    text_field,
                )
            for text_field, postings in self._positional.items():
                self._positional[text_field] = merge_positional_postings(
                    postings,
                    changed.select(self.key_field, text_field),
                    touched,
                    self.key_field,
                    text_field,
                )
        return self.documents

    def delete_by_query(self, pred: Column) -> DataFrame:
        """Solr ``deleteByQuery``: tombstone every document matching
        ``pred`` (the reference ships only deleteById,
        SolrIndexTools.java:105-107; Solr pairs it with delete-by-query
        and the index-maintenance semantics are identical). The
        predicate is evaluated on the serving view; matching rowkeys
        become row tombstones stamped strictly after every existing
        cell (max(ts)+1s, max(seq)+1 — one scalar agg row to the
        driver), then fold through the same merge path as any other
        batch, so postings stay in sync and out-of-order safety is
        preserved."""
        import datetime as _dt

        if self._state is None:
            raise ValueError("delete_by_query requires the cell state")
        mx = self._state.agg(
            F.max("ts").alias("t"), F.max("seq").alias("s")
        ).collect()[0]
        if mx["t"] is None:
            # zero-row state: max(ts) aggregates to NULL. Nothing exists
            # to tombstone, so deleteByQuery over an empty index is a
            # no-op (matching Solr, where DBQ on an empty core commits
            # cleanly) rather than an opaque `None + timedelta` crash.
            return self.documents
        ts = mx["t"] + _dt.timedelta(seconds=1)
        log = (
            self.documents.filter(pred)
            .select(F.col(self.key_field).alias("row_key"))
            .select(
                F.lit("delete").alias("op"),
                "row_key",
                F.lit(self.families[0]).alias("family"),
                F.lit(None).cast("string").alias("qualifier"),
                F.lit(None).cast("string").alias("value"),
                F.lit(ts).alias("ts"),
                F.lit(mx["s"] + 1).alias("seq"),
            )
        )
        return self.apply_mutations(log)

    def materialize_state(self) -> "SecondaryIndex":
        """Pin the compacted cell state in memory/disk cache. In
        production the state IS a stored table between batches (the
        reference's Solr index plays this role); in a single-session
        composition every consumer (serving view, predicate scans,
        the next merge) otherwise re-plans the full build lineage.
        Call after a bulk apply_mutations and before fan-out reads."""
        if self._state is not None:
            self._state = self._state.persist()
        return self

    @property
    def documents(self) -> DataFrame:
        """The document serving view, unique key exposed under
        ``key_field``."""
        if self._attached_docs is not None:
            return self._attached_docs
        if self._state is None:
            raise ValueError("index is empty — call apply_mutations or attach first")
        docs = documents_from_state(self._state, self.qualifiers)
        if self.key_field != "id":
            docs = docs.withColumnRenamed("id", self.key_field)
        return docs

    def attach(self, documents: DataFrame) -> "SecondaryIndex":
        """Adopt an existing document table (e.g. the documents view
        ``streaming.cdc_stream.merge_microbatch`` keeps at its index
        path, read back with ``spark.read.parquet``).
        Query-only: further apply_mutations requires the cell state."""
        self._attached_docs = documents
        return self

    # -------------------------------------------------------------- query

    def search(
        self,
        q: str | None = None,
        text_fields: set[str] | None = None,
        fq: list[Column] | None = None,
        q_text: tuple[str, list[str], str] | None = None,
        fl: list[str] | None = None,
        sort: list[Column] | None = None,
        start: int = 0,
        rows: int | None = 10,
        tie_break: str | None = None,
        facet_fields: list[str] | dict[str, dict] | None = None,
        facet_queries: dict[str, Column] | None = None,
        facet_intervals: dict[str, list[tuple]] | None = None,
        facet_ranges: dict[str, dict] | None = None,
        stats_fields: list[str] | None = None,
        group_field: str | None = None,
        group_limit: int = 1,
        group_queries: dict[str, Column] | None = None,
    ) -> SearchResponse:
        """Solr ``select`` over the document table.

        ``q``       — a raw Solr query string (``field:value AND
                      price:[10 TO 20] NOT x:y*``), compiled by
                      search.solr_query — what a reference user types
        ``fq``      — filter predicates (Column), ANDed (Q1–Q3, Q5)
        ``q_text``  — (field, terms, 'and'|'or') full-text match (Q4)
        ``fl``      — projection (Q9)
        ``sort``    — order columns (Q7); ``start``/``rows`` (Q8)
        ``facet_fields`` / ``facet_queries`` — Q10 / Q12; a dict value
                      passes per-field Solr facet params (prefix,
                      mincount, sort, limit, offset)
        ``facet_intervals`` — Q-INT: per field, a list of
                      (label, lo, hi) half-open [lo, hi) buckets
        ``facet_ranges`` — Q11 full form: per field, dict of
                      ``start``/``end``/``gap`` — gap buckets plus the
                      ``facet.range.other`` before/after/between rows
        ``group_queries`` — Q-GRPQ: named predicates, each returning
                      its top-``group_limit`` docs in ``resp.groups``
        ``stats_fields`` — Q13
        ``group_field`` + ``group_limit`` — Q15
        """
        df = self.documents
        if q:
            from hbase_increment_index_spark.search.solr_query import parse_query

            df = df.filter(parse_query(q, text_fields))
        if fq:
            for pred in fq:
                df = df.filter(pred)
        if q_text:
            field_, terms, op = q_text
            match = has_all_tokens(field_, terms) if op == "and" else has_any_token(field_, terms)
            df = df.filter(match)

        matched = df  # facets/stats compute over the full filtered set

        # Sort/pagination run on the FULL row (before the fl projection)
        # so the order/tie-break columns need not appear in fl; tie-break
        # defaults to the unique key, which is the only column guaranteed
        # to give the deterministic total order paging.py requires.
        tb = tie_break or self.key_field
        if group_field:
            out = group_top_n(
                df, group_field, order=sort or [F.col(tb).asc()], tie_break=tb, n=group_limit
            )
            if fl:
                out = out.select(*dict.fromkeys([group_field, *fl]))
        elif sort:
            out = sorted_page(df, order=sort, tie_break=tb, start=start, rows=rows or 10)
            if fl:
                out = out.select(*fl)
        else:
            out = df.select(*fl) if fl else df
            if rows is not None:
                out = out.limit(rows)

        resp = SearchResponse(docs=out)
        # facet_fields: list of names, or {name: {prefix/mincount/sort/
        # limit/offset}} for the full Solr facet parameter set
        facet_items = (
            facet_fields.items()
            if isinstance(facet_fields, dict)
            else [(f_, {}) for f_ in facet_fields or []]
        )
        for f_, opts in facet_items:
            resp.facets[f_] = _facets.facet_field(matched, f_, **opts)
        if facet_queries:
            resp.facets["queries"] = _facets.facet_queries(matched, facet_queries)
        for f_, ivals in (facet_intervals or {}).items():
            resp.facets[f"intervals:{f_}"] = _facets.facet_intervals(matched, f_, ivals)
        # Q11 full form: {field: {start, end, gap}} → gap buckets plus
        # Solr's facet.range.other before/after/between rows
        for f_, opts in (facet_ranges or {}).items():
            resp.facets[f"range:{f_}"] = _facets.facet_range_other(matched, f_, **opts)
        if group_queries:
            resp.groups["queries"] = _facets.group_query(
                matched,
                group_queries,
                order=sort or [F.col(tb).asc()],
                tie_break=tb,
                limit=group_limit,
            )
        for s in stats_fields or []:
            resp.stats[s] = _stats.stats_field(matched, s)
        return resp

    def rank(
        self,
        text_field: str,
        terms: list[str],
        k: int = 10,
        scorer: str = "tfidf",
        id_col: str | None = None,
        boost: Column | None = None,
        boost_weight: float = 1.5,
    ) -> DataFrame:
        """Q6 — relevance top-k over the document table. Passing
        ``boost`` (a predicate over document columns) applies a Solr
        boost query (``bq=...^weight``) on top of BM25.

        ``scorer='bm25'`` (and ``'bm25_index'``) serve the ranking from
        the materialized postings — the Solr/Lucene default: the corpus
        is never re-tokenized at query time, and corpus stats ride a
        1-row broadcast derived from the index. Postings are built and
        cached on first use (``build_postings`` pre-builds explicitly;
        ``apply_mutations`` keeps them in sync). ``scorer='bm25_scan'``
        forces the corpus-scan fallback for un-indexed fields."""
        id_col = id_col or self.documents.columns[0]
        if boost is not None:
            from hbase_increment_index_spark.search.ranking import boosted_bm25_topk

            return boosted_bm25_topk(
                self.documents, id_col, text_field, terms,
                boost=boost, boost_weight=boost_weight, k=k,
            )
        if scorer in ("bm25", "bm25_index"):
            from hbase_increment_index_spark.search.ranking import bm25_topk_from_index

            if text_field not in self._postings:
                self.build_postings(text_field)
            return bm25_topk_from_index(
                self._postings[text_field], self.key_field, terms, k=k
            )
        fn = tfidf_topk if scorer == "tfidf" else bm25_topk
        return fn(self.documents, id_col, text_field, terms, k=k)

    def build_postings(self, text_field: str) -> DataFrame:
        """Materialize the inverted index for a text field (the Solr
        build-once path). Once built, ``search_index`` and
        ``rank(scorer='bm25_index')`` answer from the postings without
        re-tokenizing the corpus, and ``apply_mutations`` keeps the
        postings in sync incrementally. In production the returned
        frame is persisted range-partitioned by term
        (inverted.write_inverted_index); here it stays a lazy view."""
        from hbase_increment_index_spark.search.inverted import build_inverted_index

        self._postings[text_field] = build_inverted_index(
            self.documents, self.key_field, text_field
        )
        return self._postings[text_field]

    def build_positional_postings(self, text_field: str) -> DataFrame:
        """Materialize Lucene-style positional postings for a field
        (term, key, positions); phrase() then answers index-served and
        apply_mutations keeps the positions in sync incrementally."""
        from hbase_increment_index_spark.search.inverted import build_positional_index

        self._positional[text_field] = build_positional_index(
            self.documents, self.key_field, text_field
        )
        return self._positional[text_field]

    def phrase(self, text_field: str, words: list[str], slop: int = 0) -> DataFrame:
        """Index-served phrase query (Solr ``q=f:"w1 w2 ..."``, or
        ``~N`` sloppy form with ``slop=N``) over the positional
        postings: (key, n_occurrences) for docs containing the token
        sequence in order within (k-1)+slop positions. Builds the
        positional index on first use."""
        from hbase_increment_index_spark.search.inverted import (
            phrase_match_from_index,
            sloppy_phrase_from_index,
        )

        if text_field not in self._positional:
            self.build_positional_postings(text_field)
        if slop:
            return sloppy_phrase_from_index(
                self._positional[text_field], words, self.key_field, slop=slop
            )
        return phrase_match_from_index(
            self._positional[text_field], words, self.key_field
        )

    def span_near(
        self, text_field: str, term_a: str, term_b: str, distance: int = 4
    ) -> DataFrame:
        """Unordered SpanNear (Solr {!surround} ``AN`` / XML spanNear
        with inOrder=false): keys where the two terms occur within
        ``distance`` positions in either order. Served from the cached
        positional postings when phrase()/build_positional_postings has
        materialized them (work ∝ the two terms' postings); otherwise a
        TERM-RESTRICTED ad-hoc build — the term filter runs right after
        posexplode, so the groupBy shuffle carries only the two terms'
        postings, never the corpus (the q69 path). The restricted slice
        is deliberately not cached: it cannot serve other terms, and
        caching it as the field's index would silently break phrase()."""
        from hbase_increment_index_spark.search.inverted import (
            build_positional_index,
            span_near_from_index,
        )

        postings = self._positional.get(text_field)
        if postings is None:
            postings = build_positional_index(
                self.documents, self.key_field, text_field, terms=[term_a, term_b]
            )
        return span_near_from_index(
            postings, term_a, term_b, self.key_field, distance
        )

    def search_index(self, text_field: str, terms: list[str], op: str = "and") -> DataFrame:
        """Full-text match served via the materialized postings
        (posting lookup → semi-join back to the documents); postings
        build and cache on first use, like rank/phrase."""
        from hbase_increment_index_spark.search.inverted import search_with_index

        if text_field not in self._postings:
            self.build_postings(text_field)
        return search_with_index(
            self.documents, self._postings[text_field], self.key_field, terms, op
        )

    def fuzzy(self, text_field: str, term: str, max_edits: int = 1) -> DataFrame:
        """Solr fuzzy query ``q=field:term~N`` — (key, matched token)
        pairs for docs holding a token within ``max_edits`` of term."""
        from hbase_increment_index_spark.search.filters import fuzzy_search

        return fuzzy_search(self.documents, self.key_field, text_field, term, max_edits)

    def terms(self, text_field: str, prefix: str | None = None, k: int = 20) -> DataFrame:
        """Solr terms component: vocabulary enumeration by document
        frequency. Postings-served when built; corpus-scan fallback."""
        from hbase_increment_index_spark.search.highlight import (
            terms_component,
            terms_component_from_index,
        )

        if text_field in self._postings:
            return terms_component_from_index(self._postings[text_field], prefix, k=k)
        return terms_component(self.documents, self.key_field, text_field, prefix, k=k)

    def suggest(self, text_field: str, prefix: str, k: int = 10) -> DataFrame:
        """Solr suggester: top-k prefix completions by corpus frequency.
        Postings-served when built; corpus-scan fallback."""
        from hbase_increment_index_spark.search.highlight import (
            suggest_terms,
            suggest_terms_from_index,
        )

        if text_field in self._postings:
            return suggest_terms_from_index(self._postings[text_field], prefix, k=k)
        return suggest_terms(self.documents, self.key_field, text_field, prefix, k=k)

    def spellcheck(
        self, text_field: str, inputs: list[str], max_dist: int = 2
    ) -> DataFrame:
        """Solr SpellCheckComponent (``spellcheck.q``): best correction
        per input term from the index's own vocabulary —
        (input, suggestion, dist, df). Served from the materialized
        postings when built (the Solr model); corpus-scan fallback
        otherwise."""
        from hbase_increment_index_spark.search.spell import (
            spellcheck,
            spellcheck_from_index,
        )

        if text_field in self._postings:
            return spellcheck_from_index(
                self._postings[text_field], self.key_field, inputs, max_dist=max_dist
            )
        return spellcheck(
            self.documents, self.key_field, text_field, inputs, max_dist=max_dist
        )

    def spellcheck_collate(
        self, text_field: str, inputs: list[str], max_dist: int = 2
    ) -> DataFrame:
        """Solr ``spellcheck.collate=true``: one row (collated_query,
        hits) — the corrected multi-term query re-assembled in input
        order and verified against the index. Postings-served when
        built; corpus-scan fallback otherwise."""
        from hbase_increment_index_spark.search.spell import (
            spellcheck_collate,
            spellcheck_collate_from_index,
        )

        if text_field in self._postings:
            return spellcheck_collate_from_index(
                self._postings[text_field], self.key_field, inputs, max_dist=max_dist
            )
        return spellcheck_collate(
            self.documents, self.key_field, text_field, inputs, max_dist=max_dist
        )

    def ngroups(self, group_field: str, pred: Column | None = None) -> DataFrame:
        """Solr ``group.ngroups=true`` response header: one row
        (matches, ngroups) over the (optionally filtered) match set."""
        from hbase_increment_index_spark.search.paging import group_ngroups

        df = self.documents if pred is None else self.documents.filter(pred)
        return group_ngroups(df, group_field)

    def highlight(self, text_field: str, term: str, window: int = 3) -> DataFrame:
        """Solr highlighting: token-window snippets around the first hit."""
        from hbase_increment_index_spark.search.highlight import snippets

        return snippets(self.documents, self.key_field, text_field, term, window=window)

    def more_like_this(
        self, text_field: str, doc_key, k: int = 10, max_query_terms: int = 20
    ) -> DataFrame:
        """Solr MoreLikeThis: docs similar to ``doc_key`` by shared rare
        terms."""
        from hbase_increment_index_spark.search.ranking import more_like_this

        return more_like_this(
            self.documents, self.key_field, text_field, doc_key, k=k,
            max_query_terms=max_query_terms,
        )

    def parent_query(
        self, children: DataFrame, child_fk: str, child_pred: Column
    ) -> DataFrame:
        """Solr ``{!parent which=...}``: this index's documents having at
        least one row in ``children`` (joined on ``child_fk`` =
        ``key_field``) matching ``child_pred``. Semi join — never
        duplicates a document across multiple matching children."""
        from hbase_increment_index_spark.search.join_parsers import parent_block_join

        return parent_block_join(
            self.documents, children, self.key_field, child_fk, child_pred
        )

    def child_query(
        self, children: DataFrame, child_fk: str, parent_pred: Column
    ) -> DataFrame:
        """Solr ``{!child of=...}``: rows of ``children`` whose parent
        document (``child_fk`` = ``key_field``) matches ``parent_pred``."""
        from hbase_increment_index_spark.search.join_parsers import child_block_join

        return child_block_join(
            self.documents, children, self.key_field, child_fk, parent_pred
        )

    def join_query(
        self, from_df: DataFrame, from_key: str, from_pred: Column
    ) -> DataFrame:
        """Solr ``{!join from=from_key fromIndex=... to=key_field}``:
        this index's documents whose key appears among ``from_key``
        values of ``from_df`` rows matching ``from_pred``."""
        from hbase_increment_index_spark.search.join_parsers import (
            cross_collection_join,
        )

        return cross_collection_join(
            self.documents, self.key_field, from_df, from_key, from_pred
        )

    def realtime_get(self, keys: list) -> DataFrame:
        """Solr RealTimeGet (``/get?ids=...``): current documents for
        ``keys`` served from the CELL STATE (the update log's compacted
        form) — visible before the serving view is re-derived. The key
        filter prunes the state scan (bucketed by row_key at scale:
        point lookups)."""
        if self._state is None:
            raise ValueError("realtime_get requires the cell state")
        state = self._state.filter(F.col("row_key").isin(keys))
        docs = documents_from_state(state, self.qualifiers)
        if self.key_field != "id":
            docs = docs.withColumnRenamed("id", self.key_field)
        return docs

    def edismax(
        self,
        field_boosts: dict[str, float],
        terms: list[str],
        mm: int = 1,
        tie: float = 0.0,
        k: int = 10,
    ) -> DataFrame:
        """Solr eDisMax (``defType=edismax&qf=f1^b1 f2^b2&mm=N&tie=t``):
        multi-field disjunction-max relevance with minimum-should-match.
        """
        from hbase_increment_index_spark.search.edismax import edismax_topk

        return edismax_topk(
            self.documents, self.key_field, field_boosts, terms, mm=mm, tie=tie, k=k
        )

    def synonym_search(
        self, text_field: str, groups: dict[str, list[str]]
    ) -> DataFrame:
        """Query-time synonym expansion: each canonical term ORs over
        its variants, groups AND together; returns matching docs plus
        per-group matched-variant counts."""
        from hbase_increment_index_spark.search.tokenize import synonym_groups_match

        pred, counts = synonym_groups_match(text_field, groups)
        return self.documents.filter(pred).select(self.key_field, *counts)

    def graph_query(
        self, from_field: str, to_field: str, root_pred: Column, max_depth: int = 3
    ) -> DataFrame:
        """Solr ``{!graph from=... to=... maxDepth=n}root`` traversal:
        documents reachable from the root set, with min-hop depths."""
        from hbase_increment_index_spark.search.graph import graph_traverse

        return graph_traverse(
            self.documents, self.key_field, from_field, to_field, root_pred, max_depth
        )

    def rerank(
        self,
        text_field: str,
        main_terms: list[str],
        rerank_terms: list[str],
        rerank_docs: int = 50,
        rerank_weight: float = 2.0,
        k: int = 10,
    ) -> DataFrame:
        """Solr ReRank parser (``rq={!rerank}``): main BM25 head
        re-scored by a secondary query at ``rerank_weight``."""
        from hbase_increment_index_spark.search.ranking import rerank_topk

        return rerank_topk(
            self.documents, self.key_field, text_field,
            main_terms, rerank_terms, rerank_docs, rerank_weight, k,
        )

    def elevate(
        self,
        text_field: str,
        terms: list[str],
        elevated_ids: list,
        k: int = 10,
        organic_pool: int = 50,
    ) -> DataFrame:
        """Solr QueryElevationComponent: ``elevated_ids`` surface first
        in the given order, then the organic BM25 ranking (elevated ids
        excluded) fills the remaining slots — total rows ≤ ``k``, like
        Solr's ``rows``. Empty elevation list = plain organic ranking."""
        from hbase_increment_index_spark.search.ranking import elevation_topk

        return elevation_topk(
            self.documents, self.key_field, text_field, terms,
            elevated_ids, k=k, organic_pool=organic_pool,
        )

    def sounds_like(self, text_field: str, word: str) -> DataFrame:
        """Phonetic (Soundex) retrieval: documents containing any token
        that sounds like ``word`` (search.phonetic.phonetic_search).
        With postings built, the match runs against the vocabulary
        instead of re-tokenizing the corpus."""
        if text_field in self._postings:
            from hbase_increment_index_spark.search.phonetic import soundex_code

            post = self._postings[text_field]
            hits = post.filter(
                soundex_code(F.col("term")) == soundex_code(F.lit(word))
            ).select(self.key_field).distinct()
            return self.documents.join(hits, self.key_field, "left_semi").select(
                self.key_field, text_field
            )
        from hbase_increment_index_spark.search.phonetic import phonetic_search

        return phonetic_search(self.documents, self.key_field, text_field, word)

    def ltr(
        self,
        text_field: str,
        terms: list[str],
        weights: dict[str, float],
        rerank_docs: int = 50,
        k: int = 10,
    ) -> DataFrame:
        """Solr LTR plugin (``rq={!ltr model=m}``): linear-model rerank
        of the BM25 head (search.ranking.ltr_rerank)."""
        from hbase_increment_index_spark.search.ranking import ltr_rerank

        return ltr_rerank(
            self.documents, self.key_field, text_field, terms, weights,
            rerank_docs=rerank_docs, k=k,
        )

    def stream_expr(
        self,
        expression: str,
        tables: dict | None = None,
        text_fields: set[str] | None = None,
        sink_paths: dict[str, str] | None = None,
    ) -> DataFrame:
        """Solr streaming expression (the /stream handler language)
        compiled against this index's document view plus any extra
        collections: ``idx.stream_expr('rollup(search(documents, ...),
        over=..., count(*))')`` (search.streaming_expr). By default
        every document qualifier gets token-match semantics for bare
        ``q`` values (this facade's fields come from an analyzed Solr
        schema); pass ``text_fields`` explicitly to restrict that.
        ``sink_paths`` registers write-back destinations for the
        ``update()`` decorator (collection name → copy-on-write MERGE
        table path); expressions can never write anywhere the caller
        didn't name."""
        from hbase_increment_index_spark.search.streaming_expr import run_stream_expr

        catalog = {"documents": self.documents}
        if tables:
            catalog.update(tables)
        if text_fields is None:
            text_fields = set(self.qualifiers)
        return run_stream_expr(
            self.spark, catalog, expression,
            text_fields=text_fields, sink_paths=sink_paths,
        )

    def analyze(self, text: str) -> list[str]:
        """Run the Solr analysis chain (stopwords + S-stem) on a query
        string — the /analysis/field handler for this engine's text
        type. Driver-side, O(query length)."""
        from hbase_increment_index_spark.search.analysis import analyzed_tokens

        row = self.spark.range(1).select(
            analyzed_tokens(F.lit(text)).alias("t")
        ).first()
        return list(row["t"])

    def sql(self, query: str, view_name: str = "documents") -> DataFrame:
        """Solr /sql handler equivalent: run SQL text over this index's
        document view (registered as ``view_name``). Catalyst plans it
        — predicate pushdown, partial aggs, broadcast joins — where
        Solr's handler lowers SQL onto streaming expressions.

        The view is CALL-SCOPED: analysis binds the plan at sql() time,
        then the temp view is dropped again, so nothing leaks into the
        session catalog. A pre-existing temp view of the same name is
        an error (pass another ``view_name``) rather than a silent
        clobber."""
        catalog = self.spark.catalog
        if any(
            t.name == view_name and t.isTemporary for t in catalog.listTables()
        ):
            raise ValueError(
                f"temp view {view_name!r} already exists — pass a different view_name"
            )
        self.documents.createOrReplaceTempView(view_name)
        try:
            return self.spark.sql(query)  # analysis resolves the view here
        finally:
            catalog.dropTempView(view_name)

    def function_query(self, text: str, k: int = 10) -> DataFrame:
        """Solr FunctionQParser (``sort=<func> desc&rows=k``) over the
        document view: function text compiled to one projection +
        TakeOrderedAndProject (search.function_query)."""
        from hbase_increment_index_spark.search.function_query import function_sort

        return function_sort(self.documents, text, k=k)

    # ---------------------------------------------------------- persistence

    def save(self, path: str) -> None:
        """Persist the full index state — compacted cell state plus any
        materialized postings — as parquet under ``path``. The cell
        state is the merge substrate, so a loaded index can keep
        accepting mutations (unlike ``attach``, which is query-only).
        Writes are plain overwrites; production swaps in a
        transactional table format without changing the layout."""
        if self._state is None:
            raise ValueError("nothing to save — index is empty")
        self._state.write.mode("overwrite").parquet(f"{path}/state")
        manifest = []
        for field_name, postings in self._postings.items():
            postings.write.mode("overwrite").parquet(f"{path}/postings/{field_name}")
            manifest.append(("postings", field_name))
        for field_name, positional in self._positional.items():
            positional.write.mode("overwrite").parquet(
                f"{path}/positional/{field_name}"
            )
            manifest.append(("positional", field_name))
        # manifest written THROUGH Spark so save/load work on any
        # Hadoop filesystem (hdfs://, s3a://, ...), not just local paths
        self.spark.createDataFrame(
            manifest or [(None, None)], "kind string, field string"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/manifest")

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        path: str,
        families: list[str],
        qualifiers: list[str],
        key_field: str = "rowkey",
    ) -> "SecondaryIndex":
        """Restore an index saved with :meth:`save`: cell state and all
        persisted postings come back; apply_mutations continues from
        the saved state (the backup/restore cycle the reference's
        Solr deployment gets from Solr's replication handler)."""
        idx = cls(spark, families=families, qualifiers=qualifiers, key_field=key_field)
        idx._state = spark.read.parquet(f"{path}/state")
        for row in spark.read.parquet(f"{path}/manifest").collect():
            if row.kind == "postings":
                idx._postings[row.field] = spark.read.parquet(
                    f"{path}/postings/{row.field}"
                )
            elif row.kind == "positional":
                idx._positional[row.field] = spark.read.parquet(
                    f"{path}/positional/{row.field}"
                )
        return idx

    def json_query(self, request: dict, text_fields: set[str] | None = None) -> DataFrame:
        """Solr JSON Request API over the document view: the JSON body
        a modern client POSTs (query/filter/fields/sort/offset/limit),
        compiled to one plan (search.json_dsl). Qualifiers default to
        token-match semantics like stream_expr."""
        from hbase_increment_index_spark.search.json_dsl import json_select

        if text_fields is None:
            text_fields = set(self.qualifiers)
        return json_select(self.documents, request, text_fields=text_fields)

    def json_request(self, request: dict, text_fields: set[str] | None = None) -> SearchResponse:
        """Full JSON Request API body: the relational part
        (query/filter/fields/sort/offset/limit — json_query) plus the
        nested ``facet`` block ({name: {"type": "terms"|"query"|"stats",
        ...}}), returning a Solr-shaped SearchResponse. Facets compute
        over the FILTERED domain (query + filters applied, pre-paging),
        matching Solr's default facet domain."""
        from hbase_increment_index_spark.search.json_dsl import (
            json_domain,
            parse_json_query,
        )

        if text_fields is None:
            text_fields = set(self.qualifiers)
        docs = self.json_query(request, text_fields=text_fields)

        # facet domain: query+filter applied, paging NOT — the SAME
        # helper json_select uses, so docs and facets cannot drift
        domain = json_domain(self.documents, request, text_fields)

        facets: dict[str, DataFrame] = {}
        stats: dict[str, DataFrame] = {}
        for name, spec in (request.get("facet") or {}).items():
            ftype = spec.get("type", "terms")
            if ftype == "terms":
                facets[name] = _facets.facet_field(
                    domain, spec["field"],
                    limit=spec.get("limit"), mincount=spec.get("mincount", 0),
                    sort=spec.get("sort", "count"),
                )
            elif ftype == "query":
                facets[name] = domain.filter(
                    parse_json_query(spec["q"], text_fields)
                ).agg(F.count(F.lit(1)).alias("n"))
            elif ftype == "stats":
                # doc-view qualifiers are strings (the HBase cell
                # encoding) — stats need the numeric projection first,
                # like Solr's typed schema field would provide
                fld = spec["field"]
                stats[name] = _stats.stats_field(
                    domain.withColumn(fld, F.col(fld).cast("double")), fld
                )
            else:
                raise ValueError(f"unsupported facet type {ftype!r}")
        return SearchResponse(docs=docs, facets=facets, stats=stats)
