"""CDC / index-maintenance queries: cell log, compaction, merges, scans,
delete-by-query — the reference coprocessor's own surface."""
from __future__ import annotations
from hbase_increment_index_spark.cdc.cell_model import cell_log_from_events
from hbase_increment_index_spark.cdc.compaction import apply_deletes, latest_per_key, live_cells
from hbase_increment_index_spark.numeric import exact_avg, exact_sum
from hbase_increment_index_spark.search import facets
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from ._shared import _SQL_BUCKET, _SQL_TOKS, _TIMERANGE_CUT, _t



def cdc_scan_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase AggregationClient median() over a rowkey band — the one
    AggregateImplementation op cdc_scan_agg's algebraic set can't
    cover (median is holistic): exact interpolated percentiles over
    the band-pruned compacted state, p25/p50/p75 in one pass. At real
    scale the holistic agg is the documented cost (sort within the
    pruned band); the approx twin is percentile_approx."""
    from hbase_increment_index_spark.cdc.index_builder import documents_from_cells

    events = _t(spark, sf_dir, "events")
    log = cell_log_from_events(events, delete_event_type="error")
    docs = documents_from_cells(log, ["click", "purchase", "signup", "view"])
    band = docs.filter((F.col("id") >= "2") & (F.col("id") < "6"))
    return band.agg(
        F.round(F.expr("percentile(CAST(click AS DOUBLE), 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(CAST(click AS DOUBLE), 0.5)"), 4).alias("median"),
        F.round(F.expr("percentile(CAST(click AS DOUBLE), 0.75)"), 4).alias("p75"),
    )


CDC_SCAN_MEDIAN_SQL = """
WITH log AS ({log}),
cell_latest AS (
  SELECT * FROM log
  QUALIFY row_number() OVER (
    PARTITION BY row_key, family, qualifier ORDER BY ts DESC, seq DESC) = 1
),
row_latest AS (
  SELECT row_key, op AS row_op FROM log
  QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY ts DESC, seq DESC) = 1
),
live AS (
  SELECT c.* FROM cell_latest c JOIN row_latest r USING (row_key)
  WHERE c.op = 'put' AND r.row_op = 'put'
),
docs AS (
  SELECT row_key AS id,
         min(CASE WHEN qualifier = 'click' THEN value END) AS click
  FROM live GROUP BY row_key
),
band AS (SELECT CAST(click AS DOUBLE) AS v FROM docs WHERE id >= '2' AND id < '6')
SELECT ROUND(quantile_cont(v, 0.25), 4) AS p25,
       ROUND(quantile_cont(v, 0.5), 4) AS median,
       ROUND(quantile_cont(v, 0.75), 4) AS p75
FROM band
"""


def cdc_fuzzy_rowkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase FuzzyRowFilter: rowkey match with FIXED-POSITION
    wildcards (mask '?2?' = any char, '2', any char — the filter HBase
    evaluates server-side with skip-scan hints). As a regexp anchor on
    the compacted state's row_key; with a rowkey-layout where the
    fixed positions are leading, the scan becomes a set of sargable
    bands (one per wildcard expansion) — the same skip-scan HBase
    performs."""
    from hbase_increment_index_spark.cdc.cell_model import cell_log_from_events
    from hbase_increment_index_spark.cdc.compaction import live_cells

    events = _t(spark, sf_dir, "events")
    live = live_cells(cell_log_from_events(events, delete_event_type="error"))
    return (
        live.filter(F.col("row_key").rlike("^.2.$"))
        .groupBy("row_key")
        .agg(F.count(F.lit(1)).alias("n_cells"))
        .orderBy(F.col("row_key").asc())
    )


def _cdc_fuzzy_sql() -> str:
    return """
WITH log AS ({log}),
cell_latest AS (
  SELECT * FROM log
  QUALIFY row_number() OVER (
    PARTITION BY row_key, family, qualifier ORDER BY ts DESC, seq DESC) = 1
),
row_latest AS (
  SELECT row_key, op AS row_op FROM log
  QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY ts DESC, seq DESC) = 1
)
SELECT c.row_key, count(*) AS n_cells
FROM cell_latest c JOIN row_latest r USING (row_key)
WHERE c.op = 'put' AND r.row_op = 'put' AND regexp_full_match(c.row_key, '.2.')
GROUP BY c.row_key
ORDER BY c.row_key ASC
""".replace("{log}", _SQL_CELL_LOG.format(delete_type="error"))


def cdc_check_and_put(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase checkAndPut (compare-and-set): every row attempts to CAS
    its 'click' cell to 99.99 iff the current value > 5.00
    (cdc.mutations.apply_check_and_put). All checks read the pre-batch
    snapshot; one broadcast join on the cell coordinate, work ∝ batch."""
    from hbase_increment_index_spark.cdc.cell_model import cell_log_from_events
    from hbase_increment_index_spark.cdc.compaction import live_cells
    from hbase_increment_index_spark.cdc.mutations import apply_check_and_put

    events = _t(spark, sf_dir, "events")
    live = live_cells(cell_log_from_events(events, delete_event_type="error"))
    batch = (
        live.select("row_key").distinct()
        .select(
            "row_key",
            F.lit("cf").alias("family"),
            F.lit("click").alias("qualifier"),
            F.lit(">").alias("compare_op"),
            F.lit("5.00").alias("expected"),
            F.lit("99.99").alias("new_value"),
        )
    )
    return apply_check_and_put(live, batch).orderBy(F.col("row_key").asc())


def _cdc_cap_sql() -> str:
    return """
WITH log AS ({log}),
cell_latest AS (
  SELECT * FROM log
  QUALIFY row_number() OVER (
    PARTITION BY row_key, family, qualifier ORDER BY ts DESC, seq DESC) = 1
),
row_latest AS (
  SELECT row_key, op AS row_op FROM log
  QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY ts DESC, seq DESC) = 1
),
live AS (
  SELECT c.row_key, c.family, c.qualifier, c.value
  FROM cell_latest c JOIN row_latest r USING (row_key)
  WHERE c.op = 'put' AND r.row_op = 'put'
),
batch AS (SELECT DISTINCT row_key FROM live),
cur AS (
  SELECT b.row_key, l.value AS _cur
  FROM batch b LEFT JOIN live l
    ON l.row_key = b.row_key AND l.family = 'cf' AND l.qualifier = 'click'
)
SELECT row_key, 'cf' AS family, 'click' AS qualifier,
       COALESCE(CAST(_cur AS DECIMAL(18,2)) > 5.00, FALSE) AS applied,
       _cur AS old_value,
       CASE WHEN COALESCE(CAST(_cur AS DECIMAL(18,2)) > 5.00, FALSE)
            THEN '99.99' ELSE _cur END AS value
FROM cur
ORDER BY row_key ASC
""".replace("{log}", _SQL_CELL_LOG.format(delete_type="error"))


def cdc_check_and_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase checkAndDelete — cdc_check_and_put's twin, completing the
    primary store's CAS verb family (the same Table API whose Delete
    the reference's postDelete hook mirrors into a deleteById,
    HbaseSolrIndexCoprocesser.java:55-61). Every live row attempts to
    delete itself under a per-row check on its 'click' cell — even-
    length rowkeys use the 'absent' guard (delete iff no click cell),
    odd-length use '<' 3.00 — with ALL decisions read from the same
    pre-batch snapshot (cdc.mutations.apply_check_and_delete: one
    broadcast join on the cell coordinate, work ∝ batch). Output: one
    row per mutation with the decision, the pre-image, and the number
    of live cells the passed delete removes (row granularity — the
    postDelete contract), which pins decision AND application in one
    oracle row."""
    from hbase_increment_index_spark.cdc.cell_model import cell_log_from_events
    from hbase_increment_index_spark.cdc.compaction import live_cells
    from hbase_increment_index_spark.cdc.mutations import apply_check_and_delete

    events = _t(spark, sf_dir, "events")
    live = live_cells(cell_log_from_events(events, delete_event_type="error"))
    even = F.length("row_key") % 2 == 0
    batch = live.select("row_key").distinct().select(
        "row_key",
        F.lit("cf").alias("family"),
        F.lit("click").alias("qualifier"),
        F.when(even, F.lit("absent")).otherwise(F.lit("<")).alias("compare_op"),
        F.when(even, F.lit(None).cast("string"))
        .otherwise(F.lit("3.00"))
        .alias("expected"),
    )
    decisions = apply_check_and_delete(live, batch)
    doomed = decisions.filter(F.col("applied")).select("row_key")
    removed = (
        live.join(F.broadcast(doomed), "row_key", "left_semi")
        .groupBy("row_key")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        decisions.join(F.broadcast(removed), "row_key", "left")
        .select(
            "row_key",
            "applied",
            "old_value",
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_cells_removed"),
        )
        .orderBy(F.col("row_key").asc())
    )


def _cdc_cad_sql() -> str:
    return """
WITH log AS ({log}),
cell_latest AS (
  SELECT * FROM log
  QUALIFY row_number() OVER (
    PARTITION BY row_key, family, qualifier ORDER BY ts DESC, seq DESC) = 1
),
row_latest AS (
  SELECT row_key, op AS row_op FROM log
  QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY ts DESC, seq DESC) = 1
),
live AS (
  SELECT c.row_key, c.family, c.qualifier, c.value
  FROM cell_latest c JOIN row_latest r USING (row_key)
  WHERE c.op = 'put' AND r.row_op = 'put'
),
keys AS (SELECT DISTINCT row_key FROM live),
cur AS (
  SELECT k.row_key, l.value AS _cur
  FROM keys k LEFT JOIN live l
    ON l.row_key = k.row_key AND l.family = 'cf' AND l.qualifier = 'click'
),
dec AS (
  SELECT row_key,
         CASE WHEN length(row_key) % 2 = 0 THEN (_cur IS NULL)
              ELSE COALESCE(CAST(_cur AS DECIMAL(18,2)) < 3.00, FALSE)
         END AS applied,
         _cur AS old_value
  FROM cur
),
cnt AS (SELECT row_key, count(*) AS n FROM live GROUP BY row_key)
SELECT d.row_key, d.applied, d.old_value,
       CAST(CASE WHEN d.applied THEN c.n ELSE 0 END AS BIGINT) AS n_cells_removed
FROM dec d JOIN cnt c USING (row_key)
ORDER BY d.row_key ASC
""".replace("{log}", _SQL_CELL_LOG.format(delete_type="error"))


def cdc_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (count, Σ) rollup view under a CDC micro-batch —
    the aggregate-view analogue of cdc_merge_batches: a per-source
    (n, Σn_chars) view built over the full corpus is folded with a
    batch of updates (doc_id % 5 == 0: n_chars + 10) and deletes
    (doc_id % 7 == 0, unless updated) via facets.merge_rollup_sums,
    and must equal the rollup rebuilt from the final corpus —
    exact-decimal sums make that equality bit-for-bit. Output serves
    avg from (n, Σ) at read time."""
    from hbase_increment_index_spark.search.facets import merge_rollup_sums

    docs = _t(spark, sf_dir, "documents")
    base = (
        docs.groupBy(F.col("source").alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("n_chars").cast("decimal(30,6)")).alias("sum_value"),
        )
    )
    updated_old = docs.filter(F.col("doc_id") % 5 == 0)
    updated_new = updated_old.withColumn("n_chars", F.col("n_chars") + F.lit(10))
    deleted = docs.filter((F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 5 != 0))
    merged = merge_rollup_sums(
        base,
        old_rows=updated_old.unionByName(deleted),
        new_rows=updated_new,
        key_expr=F.col("source"),
        key_alias="source",
        value_col="n_chars",
    )
    return merged.select(
        "source",
        "n",
        F.col("sum_value").cast("double").alias("sum_chars"),
        F.round(F.col("sum_value").cast("double") / F.col("n"), 6).alias("avg_chars"),
    ).orderBy(F.col("source").asc())


CDC_MERGE_ROLLUP_SQL = """
WITH final AS (
  SELECT source,
         CASE WHEN doc_id % 5 = 0 THEN n_chars + 10 ELSE n_chars END AS n_chars
  FROM documents
  WHERE NOT (doc_id % 7 = 0 AND doc_id % 5 <> 0)
)
SELECT source, count(*) AS n,
       CAST(SUM(CAST(n_chars AS DECIMAL(30,6))) AS DOUBLE) AS sum_chars,
       ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(30,6))) AS DOUBLE) / count(*), 6) AS avg_chars
FROM final
GROUP BY source
ORDER BY source ASC
"""


# --------------------------------------------------------------------------
# CDC — the reference's own dataflow (S1–S7, S9) in batch form
# --------------------------------------------------------------------------

_CDC_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_SQL_CELL_LOG = """
SELECT CASE WHEN event_type = '{delete_type}' THEN 'delete' ELSE 'put' END AS op,
       CAST(user_id AS VARCHAR) AS row_key,
       'cf' AS family,
       event_type AS qualifier,
       CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS value,
       ts, event_id AS seq
FROM events
"""


def cdc_cell_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    log = cell_log_from_events(events)
    return log.select(
        "op", "row_key", "family", "qualifier", "value",
        F.date_format("ts", _CDC_TS_FMT).alias("ts_str"), "seq",
    )


CDC_CELL_LOG_SQL = f"""
SELECT op, row_key, family, qualifier, value,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str, seq
FROM ({_SQL_CELL_LOG.format(delete_type='delete')})
"""


def cdc_family_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 with real effect: cells derived into TWO column families
    (mirroring the reference's cf_product,cf_order config,
    application.properties:2), allow-list keeps only one."""
    events = _t(spark, sf_dir, "events")
    log = cell_log_from_events(events)
    two_fam = log.withColumn(
        "family",
        F.when(F.col("qualifier").isin("click", "view"), "cf_activity").otherwise("cf_business"),
    )
    from hbase_increment_index_spark.cdc.cell_model import filter_families

    kept = filter_families(two_fam, ["cf_business"])
    return kept.groupBy("family", "qualifier").agg(F.count(F.lit(1)).alias("n"))


CDC_FAMILY_SQL = f"""
WITH log AS ({_SQL_CELL_LOG.format(delete_type='delete')}),
two_fam AS (
  SELECT *, CASE WHEN qualifier IN ('click', 'view')
                 THEN 'cf_activity' ELSE 'cf_business' END AS fam
  FROM log
)
SELECT fam AS family, qualifier, count(*) AS n
FROM two_fam
WHERE fam IN ('cf_business')
GROUP BY fam, qualifier
"""


def cdc_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    log = cell_log_from_events(events)
    return latest_per_key(log).select("row_key", "qualifier", "value", "seq")


CDC_LATEST_SQL = f"""
SELECT row_key, qualifier, value, seq
FROM ({_SQL_CELL_LOG.format(delete_type='delete')})
QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY ts DESC, seq DESC) = 1
"""


def cdc_apply_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 'error' events stand in for deletes so the anti-join actually fires
    events = _t(spark, sf_dir, "events")
    log = cell_log_from_events(events, delete_event_type="error")
    return apply_deletes(log).select("row_key", "qualifier", "value", "seq")


CDC_APPLY_SQL = f"""
SELECT row_key, qualifier, value, seq
FROM ({_SQL_CELL_LOG.format(delete_type='error')})
QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY ts DESC, seq DESC) = 1
   AND op = 'put'
"""


def cdc_live_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    log = cell_log_from_events(events, delete_event_type="error")
    return live_cells(log).select("row_key", "family", "qualifier", "value", "seq")


CDC_LIVE_CELLS_SQL = f"""
WITH log AS ({_SQL_CELL_LOG.format(delete_type='error')}),
cell_latest AS (
  SELECT * FROM log
  QUALIFY row_number() OVER (
    PARTITION BY row_key, family, qualifier ORDER BY ts DESC, seq DESC) = 1
),
row_latest AS (
  SELECT row_key, op AS row_op FROM log
  QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY ts DESC, seq DESC) = 1
)
SELECT c.row_key, c.family, c.qualifier, c.value, c.seq
FROM cell_latest c JOIN row_latest r USING (row_key)
WHERE c.op = 'put' AND r.row_op = 'put'
"""


def cdc_index_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S6 end-to-end: live cells pivoted into the flat one-row-per-
    rowkey document table (the 'Solr index' itself), wide string fields
    per qualifier — reference HbaseSolrIndexCoprocesser.java:40-50."""
    from hbase_increment_index_spark.cdc.index_builder import documents_from_cells

    events = _t(spark, sf_dir, "events")
    log = cell_log_from_events(events, delete_event_type="error")
    quals = ["click", "purchase", "signup", "view"]
    return documents_from_cells(log, quals)


CDC_INDEX_DOCS_SQL = f"""
WITH log AS ({_SQL_CELL_LOG.format(delete_type='error')}),
cell_latest AS (
  SELECT * FROM log
  QUALIFY row_number() OVER (
    PARTITION BY row_key, family, qualifier ORDER BY ts DESC, seq DESC) = 1
),
row_latest AS (
  SELECT row_key, op AS row_op FROM log
  QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY ts DESC, seq DESC) = 1
),
live AS (
  SELECT c.* FROM cell_latest c JOIN row_latest r USING (row_key)
  WHERE c.op = 'put' AND r.row_op = 'put'
)
SELECT row_key AS id,
       min(CASE WHEN qualifier = 'click'    THEN value END) AS click,
       min(CASE WHEN qualifier = 'purchase' THEN value END) AS purchase,
       min(CASE WHEN qualifier = 'signup'   THEN value END) AS signup,
       min(CASE WHEN qualifier = 'view'     THEN value END) AS view
FROM live
GROUP BY row_key
"""


def cdc_merge_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6–S9 micro-batch merge, oracle-checked: the cell log split into
    two arbitrary chunks (odd/even seq — deliberately interleaved in
    event time), folded through compact_state + merge_state, must equal
    the one-shot index build. Same oracle SQL as cdc_index_documents —
    that equality IS the exactly-once/out-of-order-safety claim."""
    from hbase_increment_index_spark.cdc.index_builder import (
        compact_state,
        documents_from_state,
        merge_state,
    )

    events = _t(spark, sf_dir, "events")
    log = cell_log_from_events(events, delete_event_type="error")
    # persist the intermediate state: merge_state consumes it twice
    # (anti-join + semi-join); in production it IS a materialized table
    # read from disk (streaming/cdc_stream), so recomputing the lineage
    # per consumer is an artifact this cache removes
    state = compact_state(log.filter(F.col("seq") % 2 == 0)).persist()
    state = merge_state(state, log.filter(F.col("seq") % 2 == 1))
    return documents_from_state(state, ["click", "purchase", "signup", "view"])


def cdc_merge_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental FULL-TEXT index maintenance, oracle-checked: the
    postings-level analogue of cdc_merge_batches and the reference's
    whole reason to exist (keep the Solr index in sync with a mutating
    table — add + deleteById per batch, SolrIndexTools.java:60-63,
    127-131). Corpus v1 (10% of docs not yet inserted, 10% holding a
    stale prefix of their text) takes one micro-batch of inserts +
    updates + deletes through merge_postings; the result must equal the
    index rebuilt from the final corpus — which is exactly what the
    oracle SQL computes."""
    from hbase_increment_index_spark.search.inverted import (
        build_inverted_index,
        merge_postings,
    )

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 10
    v1 = docs.filter(m != 0).withColumn(
        "text", F.when(m == 1, F.substring("text", 1, 20)).otherwise(F.col("text"))
    )
    postings_v1 = build_inverted_index(v1, "doc_id", "text")
    changed = docs.filter(m.isin(0, 1)).select("doc_id", "text")
    deleted = docs.filter(m == 2).select("doc_id")
    return merge_postings(postings_v1, changed, deleted, "doc_id", "text")


CDC_MERGE_POSTINGS_SQL = """
WITH final AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 2),
toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS term
  FROM final
)
SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
FROM toks
GROUP BY term, doc_id
"""


def cdc_merge_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental facet-view maintenance (facets.merge_facet_counts):
    a materialized token-count-bucket facet over corpus v1 is updated
    with one micro-batch of inserts (doc_id%10==0), text updates
    (%10==1, which MOVE docs between buckets) and deletes (%10==2);
    the result must equal the facet rebuilt from the final corpus —
    which is what the oracle computes."""
    from hbase_increment_index_spark.search.tokenize import tokens

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 10
    bucket = (F.floor(F.size(tokens("text")) / 10) * 10).cast("long")
    v1 = docs.filter(m != 0).withColumn(
        "text", F.when(m == 1, F.substring("text", 1, 20)).otherwise(F.col("text"))
    )
    counts_v1 = facets.facet_field(
        v1.select(bucket.alias("tok_bucket")), "tok_bucket"
    )
    old_rows = v1.filter(m.isin(1, 2)).select("doc_id", "text")
    new_rows = docs.filter(m.isin(0, 1)).select("doc_id", "text")
    return facets.merge_facet_counts(
        counts_v1, old_rows, new_rows, bucket, "tok_bucket"
    )


CDC_MERGE_FACETS_SQL = f"""
WITH final AS (SELECT text FROM documents WHERE doc_id % 10 <> 2)
SELECT CAST(floor(len({_SQL_TOKS.format(c='text')}) / 10) * 10 AS BIGINT) AS tok_bucket,
       CAST(count(*) AS BIGINT) AS n
FROM final
GROUP BY 1
"""


def cdc_atomic_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full HBase mutation surface (Put/Delete/Increment/Append) =
    Solr atomic updates (set / delete / inc / add), resolved to final
    cell values — see cdc.mutations for the op semantics and the
    single-shuffle plan shape."""
    from hbase_increment_index_spark.cdc.mutations import (
        mutation_log_from_events,
        resolve_mutations,
    )

    events = _t(spark, sf_dir, "events")
    mlog = mutation_log_from_events(events)
    return resolve_mutations(mlog).orderBy("row_key", "qualifier")


CDC_ATOMIC_SQL = """
WITH mlog AS (
  SELECT CASE WHEN event_type = 'error' THEN 'delete'
              WHEN event_type = 'click' THEN 'inc'
              WHEN event_type = 'view'  THEN 'append'
              ELSE 'put' END AS op,
         CAST(user_id AS VARCHAR) AS row_key,
         'cf' AS family,
         event_type AS qualifier,
         CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR) AS value,
         CAST(FLOOR(value) AS BIGINT) AS ival,
         ts, event_id AS seq
  FROM events
),
tomb AS (
  SELECT row_key, ts AS tts, seq AS tseq FROM mlog WHERE op = 'delete'
  QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY ts DESC, seq DESC) = 1
),
alive AS (
  SELECT m.* FROM mlog m LEFT JOIN tomb t USING (row_key)
  WHERE m.op <> 'delete'
    AND (t.tts IS NULL OR (m.ts, m.seq) > (t.tts, t.tseq))
)
SELECT row_key, family, qualifier,
       CASE WHEN max(op = 'inc')
              THEN CAST(SUM(CASE WHEN op = 'inc' THEN ival END) AS VARCHAR)
            WHEN max(op = 'append')
              THEN string_agg(value, ',' ORDER BY ts, seq)
            ELSE (list(value ORDER BY ts DESC, seq DESC))[1]
       END AS value,
       count(*) AS n_events
FROM alive
GROUP BY row_key, family, qualifier
ORDER BY row_key, qualifier
"""


def cdc_atomic_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr atomic-update ``remove``/``removeregex`` verbs (SolrJ
    partial-update surface — the solrj the reference ships,
    pom.xml:22, supports list-element removal alongside set/inc/add):
    each user's journal cell accumulates digit tokens (view/click
    appends); ``purchase`` events REMOVE all earlier occurrences of
    their digit, ``signup`` events REMOVE-BY-REGEX every earlier
    element in a digit class, ``error`` rows are tombstones. An
    element appended AFTER a remove survives — Solr's in-order
    atomic-update application (cdc.mutations.resolve_mutations:
    the removes fold as a second bounded per-cell array; the survivor
    filter is a zero-shuffle higher-order function)."""
    from hbase_increment_index_spark.cdc.mutations import resolve_mutations

    events = _t(spark, sf_dir, "events")
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
        F.lit(None).cast("long").alias("ival"),
        F.col("ts").alias("ts"),
        F.col("event_id").alias("seq"),
    )
    return resolve_mutations(mlog).orderBy("row_key")


CDC_ATOMIC_REMOVE_SQL = """
WITH mlog AS (
  SELECT CASE WHEN event_type = 'error' THEN 'delete'
              WHEN event_type = 'purchase' THEN 'remove'
              WHEN event_type = 'signup' THEN 'removeregex'
              ELSE 'append' END AS op,
         CAST(user_id AS VARCHAR) AS row_key,
         'cf' AS family, 'journal' AS qualifier,
         CASE WHEN event_type = 'signup'
              THEN '^[0-' || CAST(CAST(FLOOR(value) AS BIGINT) % 5 AS VARCHAR) || ']$'
              ELSE CAST(CAST(FLOOR(value) AS BIGINT) % 10 AS VARCHAR) END AS value,
         ts, event_id AS seq
  FROM events
),
tomb AS (
  SELECT row_key, ts AS tts, seq AS tseq FROM mlog WHERE op = 'delete'
  QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY ts DESC, seq DESC) = 1
),
alive AS (
  SELECT m.* FROM mlog m LEFT JOIN tomb t USING (row_key)
  WHERE m.op <> 'delete'
    AND (t.tts IS NULL OR (m.ts, m.seq) > (t.tts, t.tseq))
),
surv AS (
  SELECT a.row_key, a.family, a.qualifier, a.value, a.ts, a.seq
  FROM alive a
  WHERE a.op = 'append' AND NOT EXISTS (
    SELECT 1 FROM alive r
    WHERE r.row_key = a.row_key AND r.family = a.family
      AND r.qualifier = a.qualifier
      AND r.op IN ('remove', 'removeregex')
      AND (r.ts, r.seq) > (a.ts, a.seq)
      AND ((r.op = 'remove' AND r.value = a.value)
           OR (r.op = 'removeregex'
               AND regexp_matches(a.value, '^(?:' || r.value || ')$')))
  )
),
cells AS (
  SELECT row_key, family, qualifier, count(*) AS n_events
  FROM alive GROUP BY 1, 2, 3
)
SELECT c.row_key, c.family, c.qualifier,
       (SELECT string_agg(s.value, ',' ORDER BY s.ts, s.seq) FROM surv s
        WHERE s.row_key = c.row_key AND s.family = c.family
          AND s.qualifier = c.qualifier) AS value,
       CAST(c.n_events AS BIGINT) AS n_events
FROM cells c
ORDER BY row_key
"""


def cdc_atomic_add_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr atomic-update ``add-distinct`` (SolrJ partial-update verb:
    append only if the value is not already in the multivalued field),
    completing the verb set (set/add/add-distinct/inc/remove/
    removeregex). add-distinct is the one verb whose outcome reads the
    LIVE list state at its own position — presence can be reset by an
    interleaved remove — so the journal resolves by the exact in-order
    fold (cdc.mutations.resolve_journal_ordered: one ordered
    higher-order aggregate per cell; sequential semantics, parallel
    execution). Fixture mapping: view=append, click=add-distinct,
    purchase=remove, signup=removeregex, error=row tombstone, digit
    payloads so removes/re-adds actually interleave. The oracle is a
    recursive-CTE replay of the same fold."""
    from hbase_increment_index_spark.cdc.mutations import resolve_journal_ordered

    events = _t(spark, sf_dir, "events")
    et = F.col("event_type")
    digit = (F.floor(F.col("value")).cast("long") % 10).cast("string")
    rx_hi = (F.floor(F.col("value")).cast("long") % 5).cast("string")
    mlog = events.select(
        F.when(et == "error", F.lit("delete"))
        .when(et == "purchase", F.lit("remove"))
        .when(et == "signup", F.lit("removeregex"))
        .when(et == "click", F.lit("add-distinct"))
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
    return resolve_journal_ordered(mlog).orderBy("row_key")


CDC_ADD_DISTINCT_SQL = """
WITH RECURSIVE mlog AS (
  SELECT CASE WHEN event_type = 'error' THEN 'delete'
              WHEN event_type = 'purchase' THEN 'remove'
              WHEN event_type = 'signup' THEN 'removeregex'
              WHEN event_type = 'click' THEN 'add-distinct'
              ELSE 'append' END AS op,
         CAST(user_id AS VARCHAR) AS row_key,
         'cf' AS family, 'journal' AS qualifier,
         CASE WHEN event_type = 'signup'
              THEN '^[0-' || CAST(CAST(FLOOR(value) AS BIGINT) % 5 AS VARCHAR) || ']$'
              ELSE CAST(CAST(FLOOR(value) AS BIGINT) % 10 AS VARCHAR) END AS value,
         ts, event_id AS seq
  FROM events
),
tomb AS (
  SELECT row_key, ts AS tts, seq AS tseq FROM mlog WHERE op = 'delete'
  QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY ts DESC, seq DESC) = 1
),
alive AS (
  SELECT m.* FROM mlog m LEFT JOIN tomb t USING (row_key)
  WHERE m.op <> 'delete'
    AND (t.tts IS NULL OR (m.ts, m.seq) > (t.tts, t.tseq))
),
cells AS (
  SELECT row_key, family, qualifier,
         list(struct_pack(op := op, value := value) ORDER BY ts, seq) AS evs,
         count(*) AS n_events
  FROM alive GROUP BY 1, 2, 3
),
fold(row_key, family, qualifier, i, acc) AS (
  SELECT row_key, family, qualifier, 0, CAST([] AS VARCHAR[]) FROM cells
  UNION ALL
  SELECT f.row_key, f.family, f.qualifier, f.i + 1,
         CASE
           WHEN c.evs[f.i + 1].op = 'append'
             THEN list_append(f.acc, c.evs[f.i + 1].value)
           WHEN c.evs[f.i + 1].op = 'add-distinct'
                AND NOT list_contains(f.acc, c.evs[f.i + 1].value)
             THEN list_append(f.acc, c.evs[f.i + 1].value)
           WHEN c.evs[f.i + 1].op = 'remove'
             THEN list_filter(f.acc, x -> x <> c.evs[f.i + 1].value)
           WHEN c.evs[f.i + 1].op = 'removeregex'
             THEN list_filter(f.acc, x -> NOT regexp_matches(
                    x, '^(?:' || c.evs[f.i + 1].value || ')$'))
           ELSE f.acc
         END
  FROM fold f
  JOIN cells c ON c.row_key = f.row_key AND c.family = f.family
              AND c.qualifier = f.qualifier
  WHERE f.i < len(c.evs)
)
SELECT c.row_key AS row_key, c.family AS family, c.qualifier AS qualifier,
       CASE WHEN len(f.acc) > 0 THEN array_to_string(f.acc, ',') END AS value,
       CAST(c.n_events AS BIGINT) AS n_events
FROM fold f
JOIN cells c ON c.row_key = f.row_key AND c.family = f.family
            AND c.qualifier = f.qualifier
WHERE f.i = len(c.evs)
ORDER BY c.row_key
"""


def cdc_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase ``VERSIONS=2`` cell retention (the reference's primary
    store is an HBase table; version count is a column-family
    attribute): newest 2 put versions per cell coordinate, tagged
    1=newest — one window, same single row_key shuffle as compaction."""
    from hbase_increment_index_spark.cdc.compaction import latest_n_versions

    events = _t(spark, sf_dir, "events")
    log = cell_log_from_events(events)
    return latest_n_versions(log, 2).select("row_key", "qualifier", "value", "version")


CDC_VERSIONS_SQL = f"""
SELECT row_key, qualifier, value, version FROM (
  SELECT row_key, qualifier, value,
         row_number() OVER (
           PARTITION BY row_key, family, qualifier
           ORDER BY ts DESC, seq DESC) AS version
  FROM ({_SQL_CELL_LOG.format(delete_type='delete')})
  WHERE op = 'put'
) WHERE version <= 2
"""


def cdc_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase ``TTL`` expiry: cells older than 30 days before the log's
    max timestamp are dropped at compaction; surviving cell counts per
    qualifier. The cutoff rides a 1-row broadcast (deterministic for
    batch replay; streaming passes an explicit literal)."""
    from hbase_increment_index_spark.cdc.compaction import apply_ttl

    events = _t(spark, sf_dir, "events")
    log = cell_log_from_events(events)
    return apply_ttl(log, 30 * 86400).groupBy("qualifier").agg(
        F.count(F.lit(1)).alias("n")
    )


CDC_TTL_SQL = f"""
WITH log AS ({_SQL_CELL_LOG.format(delete_type='delete')}),
mx AS (SELECT max(ts) AS now FROM log)
SELECT qualifier, count(*) AS n
FROM log, mx
WHERE ts >= now - INTERVAL 2592000 SECOND
GROUP BY qualifier
"""


def cdc_scan_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase Scan with STARTROW/STOPROW + SingleColumnValueFilter — the
    reference user's OTHER query API (scans against the primary HBase
    table itself, not Solr). Rowkeys order LEXICOGRAPHICALLY in HBase,
    so the range is a string-compare band: ``[startrow, stoprow)`` on
    the compacted document view, with a qualifier-value filter and the
    scan's caching/limit.

    Both predicates are sargable string comparisons — they push into
    the parquet scan of the index table; at 100 TB the index is
    written repartitioned by row_key so the band prunes files by
    min/max stats exactly like HBase region pruning."""
    from hbase_increment_index_spark.cdc.index_builder import documents_from_cells

    events = _t(spark, sf_dir, "events")
    log = cell_log_from_events(events, delete_event_type="error")
    docs = documents_from_cells(log, ["click", "purchase", "signup", "view"])
    return (
        docs.filter((F.col("id") >= "2") & (F.col("id") < "4"))
        .filter(F.col("view").isNotNull())
        .select("id", "view", "click")
    )


CDC_SCAN_SQL = f"""
WITH log AS ({_SQL_CELL_LOG.format(delete_type='error')}),
cell_latest AS (
  SELECT * FROM log
  QUALIFY row_number() OVER (
    PARTITION BY row_key, family, qualifier ORDER BY ts DESC, seq DESC) = 1
),
row_latest AS (
  SELECT row_key, op AS row_op FROM log
  QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY ts DESC, seq DESC) = 1
),
live AS (
  SELECT c.* FROM cell_latest c JOIN row_latest r USING (row_key)
  WHERE c.op = 'put' AND r.row_op = 'put'
),
docs AS (
  SELECT row_key AS id,
         min(CASE WHEN qualifier = 'click' THEN value END) AS click,
         min(CASE WHEN qualifier = 'view'  THEN value END) AS view
  FROM live GROUP BY row_key
)
SELECT id, view, click
FROM docs
WHERE id >= '2' AND id < '4' AND view IS NOT NULL
"""


def cdc_scan_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase AggregationClient / AggregateImplementation coprocessor
    parity — the SAME deployment shape as the reference (a coprocessor
    on the primary table, reference HbaseSolrIndexCoprocesser.java):
    rowcount / sum / min / max / avg of a qualifier over a rowkey scan
    band, computed where the data lives. Spark form: the band predicate
    prunes the compacted-state scan (min/max file stats = region
    pruning) and the aggregate is one partial-agg reduce — no shuffle
    wider than the 1-row result."""
    from hbase_increment_index_spark.cdc.index_builder import documents_from_cells

    events = _t(spark, sf_dir, "events")
    log = cell_log_from_events(events, delete_event_type="error")
    docs = documents_from_cells(log, ["click", "purchase", "signup", "view"])
    band = docs.filter((F.col("id") >= "2") & (F.col("id") < "6"))
    v = F.col("click").cast("double")
    return band.agg(
        F.count(F.lit(1)).alias("rowcount"),
        F.count(v).alias("n_click"),
        exact_sum(v, 6).alias("sum_click"),
        F.min(v).alias("min_click"),
        F.max(v).alias("max_click"),
        exact_avg(v, 6).alias("avg_click"),
    )


CDC_SCAN_AGG_SQL = f"""
WITH log AS ({_SQL_CELL_LOG.format(delete_type='error')}),
cell_latest AS (
  SELECT * FROM log
  QUALIFY row_number() OVER (
    PARTITION BY row_key, family, qualifier ORDER BY ts DESC, seq DESC) = 1
),
row_latest AS (
  SELECT row_key, op AS row_op FROM log
  QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY ts DESC, seq DESC) = 1
),
live AS (
  SELECT c.* FROM cell_latest c JOIN row_latest r USING (row_key)
  WHERE c.op = 'put' AND r.row_op = 'put'
),
docs AS (
  SELECT row_key AS id,
         min(CASE WHEN qualifier = 'click' THEN value END) AS click
  FROM live GROUP BY row_key
),
band AS (SELECT CAST(click AS DOUBLE) AS v FROM docs WHERE id >= '2' AND id < '6')
SELECT count(*) AS rowcount,
       count(v) AS n_click,
       CAST(SUM(CAST(v AS DECIMAL(30,6))) AS DOUBLE) AS sum_click,
       min(v) AS min_click,
       max(v) AS max_click,
       CAST(SUM(CAST(v AS DECIMAL(30,6))) AS DOUBLE) / count(v) AS avg_click
FROM band
"""


def cdc_scan_timerange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase ``Scan.setTimeRange`` — the as-of snapshot read: only
    cells with ts < T are visible, then normal newest-wins + tombstone
    compaction among them. Point-in-time queries against the primary
    store (HBase's native time-travel) as one sargable ts filter that
    commutes with compaction — the filter pushes into the LOG scan and
    the per-key window runs on the pruned slice."""
    events = _t(spark, sf_dir, "events")
    log = cell_log_from_events(events, delete_event_type="error")
    asof = log.filter(F.col("ts") < F.lit(_TIMERANGE_CUT).cast("timestamp"))
    return live_cells(asof).select("row_key", "family", "qualifier", "value", "seq")


CDC_TIMERANGE_SQL = f"""
WITH log AS (
  SELECT * FROM ({_SQL_CELL_LOG.format(delete_type='error')})
  WHERE ts < TIMESTAMP '{_TIMERANGE_CUT}'
),
cell_latest AS (
  SELECT * FROM log
  QUALIFY row_number() OVER (
    PARTITION BY row_key, family, qualifier ORDER BY ts DESC, seq DESC) = 1
),
row_latest AS (
  SELECT row_key, op AS row_op FROM log
  QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY ts DESC, seq DESC) = 1
)
SELECT c.row_key, c.family, c.qualifier, c.value, c.seq
FROM cell_latest c JOIN row_latest r USING (row_key)
WHERE c.op = 'put' AND r.row_op = 'put'
"""


def cdc_column_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase ``ColumnPaginationFilter(limit, offset)`` — per-ROW column
    paging: each row returns at most ``limit`` qualifiers starting at
    qualifier-offset ``offset`` (qualifiers in lexicographic order,
    HBase's cell order). One window keyed on row_key over the live
    cells — same single shuffle as compaction, which at scale is
    already partitioned this way (the window rides the existing
    layout)."""
    events = _t(spark, sf_dir, "events")
    log = cell_log_from_events(events, delete_event_type="error")
    live = live_cells(log)
    w = Window.partitionBy("row_key").orderBy(F.col("qualifier").asc())
    limit, offset = 2, 1
    return (
        live.withColumn("_qpos", F.row_number().over(w))
        .filter((F.col("_qpos") > offset) & (F.col("_qpos") <= offset + limit))
        .select("row_key", "qualifier", "value")
    )


CDC_COLUMN_PAGE_SQL = f"""
WITH log AS ({_SQL_CELL_LOG.format(delete_type='error')}),
cell_latest AS (
  SELECT * FROM log
  QUALIFY row_number() OVER (
    PARTITION BY row_key, family, qualifier ORDER BY ts DESC, seq DESC) = 1
),
row_latest AS (
  SELECT row_key, op AS row_op FROM log
  QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY ts DESC, seq DESC) = 1
),
live AS (
  SELECT c.* FROM cell_latest c JOIN row_latest r USING (row_key)
  WHERE c.op = 'put' AND r.row_op = 'put'
),
paged AS (
  SELECT row_key, qualifier, value,
         row_number() OVER (PARTITION BY row_key ORDER BY qualifier ASC) AS qpos
  FROM live
)
SELECT row_key, qualifier, value FROM paged WHERE qpos > 1 AND qpos <= 3
"""


def cdc_scan_multirange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase ``MultiRowRangeFilter`` — several rowkey bands in one
    scan (the scatter-read HBase clients use for key-salted tables):
    an OR of sargable string bands, each pushing into the scan so
    file-level min/max pruning covers every band independently."""
    from hbase_increment_index_spark.cdc.index_builder import documents_from_cells

    events = _t(spark, sf_dir, "events")
    log = cell_log_from_events(events, delete_event_type="error")
    docs = documents_from_cells(log, ["click", "purchase", "signup", "view"])
    band = (
        ((F.col("id") >= "1") & (F.col("id") < "2"))
        | ((F.col("id") >= "5") & (F.col("id") < "6"))
        | ((F.col("id") >= "9") & (F.col("id") < "95"))
    )
    return docs.filter(band).select("id", "click", "view").orderBy(F.col("id").asc())


CDC_MULTIRANGE_SQL = f"""
WITH log AS ({_SQL_CELL_LOG.format(delete_type='error')}),
cell_latest AS (
  SELECT * FROM log
  QUALIFY row_number() OVER (
    PARTITION BY row_key, family, qualifier ORDER BY ts DESC, seq DESC) = 1
),
row_latest AS (
  SELECT row_key, op AS row_op FROM log
  QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY ts DESC, seq DESC) = 1
),
live AS (
  SELECT c.* FROM cell_latest c JOIN row_latest r USING (row_key)
  WHERE c.op = 'put' AND r.row_op = 'put'
),
docs AS (
  SELECT row_key AS id,
         min(CASE WHEN qualifier = 'click' THEN value END) AS click,
         min(CASE WHEN qualifier = 'view'  THEN value END) AS view
  FROM live GROUP BY row_key
)
SELECT id, click, view FROM docs
WHERE (id >= '1' AND id < '2') OR (id >= '5' AND id < '6') OR (id >= '9' AND id < '95')
ORDER BY id ASC
"""


def cdc_multi_column_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase ``MultipleColumnPrefixFilter`` — the qualifier-prefix scan
    verb of the HBase 0.98 filter API the reference deploys on
    (reference pom.xml:19): return live CELLS whose qualifier starts
    with ANY of the given prefixes, inside a rowkey band. Both the
    prefix disjunction (startswith → sargable StringStartsWith) and
    the band are pushed predicates over the compacted cell view; at
    100 TB the cell table is written repartitioned by row_key so the
    band prunes files exactly like HBase region pruning."""
    events = _t(spark, sf_dir, "events")
    live = live_cells(cell_log_from_events(events, delete_event_type="error"))
    prefix_pred = F.col("qualifier").startswith("s") | F.col(
        "qualifier"
    ).startswith("v")
    return (
        live.filter((F.col("row_key") >= "2") & (F.col("row_key") < "4"))
        .filter(prefix_pred)
        .select("row_key", "qualifier", "value")
        .orderBy("row_key", "qualifier")
    )


CDC_MULTI_PREFIX_SQL = f"""
WITH log AS ({_SQL_CELL_LOG.format(delete_type='error')}),
cell_latest AS (
  SELECT * FROM log
  QUALIFY row_number() OVER (
    PARTITION BY row_key, family, qualifier ORDER BY ts DESC, seq DESC) = 1
),
row_latest AS (
  SELECT row_key, op AS row_op FROM log
  QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY ts DESC, seq DESC) = 1
),
live AS (
  SELECT c.* FROM cell_latest c JOIN row_latest r USING (row_key)
  WHERE c.op = 'put' AND r.row_op = 'put'
)
SELECT row_key, qualifier, value FROM live
WHERE row_key >= '2' AND row_key < '4'
  AND (qualifier LIKE 's%' OR qualifier LIKE 'v%')
ORDER BY row_key, qualifier
"""


def cdc_column_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase ``ColumnRangeFilter`` — the qualifier BAND scan of the
    HBase 0.98 filter API (reference pom.xml:19): live cells whose
    qualifier sorts in [minColumn, maxColumn) — minInclusive=true,
    maxInclusive=false, HBase's defaults — optionally inside a rowkey
    band. Both bands are sargable lexicographic string comparisons
    pushed into the compacted cell-view scan (the cdc_scan_range
    discipline applied to the qualifier axis)."""
    events = _t(spark, sf_dir, "events")
    live = live_cells(cell_log_from_events(events, delete_event_type="error"))
    return (
        live.filter((F.col("qualifier") >= "click") & (F.col("qualifier") < "signup"))
        .filter((F.col("row_key") >= "1") & (F.col("row_key") < "3"))
        .select("row_key", "qualifier", "value")
        .orderBy("row_key", "qualifier")
    )


CDC_COLUMN_RANGE_SQL = f"""
WITH log AS ({_SQL_CELL_LOG.format(delete_type='error')}),
cell_latest AS (
  SELECT * FROM log
  QUALIFY row_number() OVER (
    PARTITION BY row_key, family, qualifier ORDER BY ts DESC, seq DESC) = 1
),
row_latest AS (
  SELECT row_key, op AS row_op FROM log
  QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY ts DESC, seq DESC) = 1
),
live AS (
  SELECT c.* FROM cell_latest c JOIN row_latest r USING (row_key)
  WHERE c.op = 'put' AND r.row_op = 'put'
)
SELECT row_key, qualifier, value FROM live
WHERE qualifier >= 'click' AND qualifier < 'signup'
  AND row_key >= '1' AND row_key < '3'
ORDER BY row_key, qualifier
"""


# One shared spec drives BOTH engines (compile_filter_list for Spark,
# filter_list_sql for the DuckDB oracle) so the correctness row proves
# the two compilers agree on the same tree. Shape: a MUST_PASS_ONE of
# two MUST_PASS_ALL branches with a nested OR — range band + value
# filter (filterIfMissing both ways) on one side, prefix + comparator
# on the other.
FILTER_LIST_SPEC = (
    "OR",
    [
        (
            "AND",
            [
                ("cmp", "id", ">=", "2"),
                ("cmp", "id", "<", "45"),
                # HBase default filterIfMissing=false: rows without a
                # click cell PASS this leaf
                ("cmp", "click", ">=", "2"),
                (
                    "OR",
                    [
                        # filterIfMissing=true: rows without a view
                        # cell are dropped from this leaf
                        ("cmp", "view", "<", "3", True),
                        ("cmp", "purchase", "!=", "1", True),
                    ],
                ),
            ],
        ),
        ("AND", [("prefix", "id", "7"), ("cmp", "signup", ">=", "1", True)]),
    ],
)


def cdc_filter_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase ``FilterList`` composition — the AND/OR filter TREE of the
    HBase 0.98 scan API the reference deploys on (reference
    pom.xml:19): MUST_PASS_ALL / MUST_PASS_ONE lists nesting RowFilter
    range comparators, a PrefixFilter, and SingleColumnValueFilters
    with BOTH filterIfMissing settings (the HBase default lets rows
    missing the cell pass — cdc.filters compiles that leaf to
    ``col IS NULL OR col <op> v``). The whole tree compiles to ONE
    Column predicate (cdc.filters.compile_filter_list), so the scan
    sees a plain boolean expression and pushes the sargable legs;
    random-tree equivalence against the SQL rendering is
    property-tested (tests/test_round14_ops.py)."""
    from hbase_increment_index_spark.cdc.filters import compile_filter_list
    from hbase_increment_index_spark.cdc.index_builder import documents_from_cells

    events = _t(spark, sf_dir, "events")
    log = cell_log_from_events(events, delete_event_type="error")
    docs = documents_from_cells(log, ["click", "purchase", "signup", "view"])
    return (
        docs.filter(compile_filter_list(FILTER_LIST_SPEC))
        .select("id", "click", "purchase", "signup", "view")
        .orderBy("id")
    )


def _cdc_filter_list_sql() -> str:
    from hbase_increment_index_spark.cdc.filters import filter_list_sql

    return f"""
WITH log AS ({_SQL_CELL_LOG.format(delete_type='error')}),
cell_latest AS (
  SELECT * FROM log
  QUALIFY row_number() OVER (
    PARTITION BY row_key, family, qualifier ORDER BY ts DESC, seq DESC) = 1
),
row_latest AS (
  SELECT row_key, op AS row_op FROM log
  QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY ts DESC, seq DESC) = 1
),
live AS (
  SELECT c.* FROM cell_latest c JOIN row_latest r USING (row_key)
  WHERE c.op = 'put' AND r.row_op = 'put'
),
docs AS (
  SELECT row_key AS id,
         min(CASE WHEN qualifier = 'click'    THEN value END) AS click,
         min(CASE WHEN qualifier = 'purchase' THEN value END) AS purchase,
         min(CASE WHEN qualifier = 'signup'   THEN value END) AS signup,
         min(CASE WHEN qualifier = 'view'     THEN value END) AS view
  FROM live GROUP BY row_key
)
SELECT id, click, purchase, signup, view FROM docs
WHERE {filter_list_sql(FILTER_LIST_SPEC)}
ORDER BY id ASC
"""


def cdc_page_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase ``PageFilter`` + ``InclusiveStopFilter`` (HBase 0.98
    filter API, reference pom.xml:19): scan the document view from a
    start row, stop at AND INCLUDING the stop row, return the first
    page of rows. The band compiles through the FilterList grammar
    (``stop`` leaf = ``row_key <= stop``, lexicographic like HBase's
    unsigned-byte rowkey order), so both bounds push to the scan; the
    page cap plans as TakeOrderedAndProject — per-partition heaps of
    ``page_size`` rows, no global sort, the scale-correct top-k.

    Semantics note vs HBase: PageFilter caps rows PER REGION, so a
    multi-region scan can return more than page_size rows and the
    client truncates after merging region results in rowkey order —
    the client-visible page IS the rowkey-ordered first N, which is
    exactly what this computes (deterministically, where the raw
    per-region union is partitioning-dependent)."""
    from hbase_increment_index_spark.cdc.filters import compile_filter_list
    from hbase_increment_index_spark.cdc.index_builder import documents_from_cells

    events = _t(spark, sf_dir, "events")
    log = cell_log_from_events(events, delete_event_type="error")
    docs = documents_from_cells(log, ["click", "purchase", "signup", "view"])
    band = ("AND", [("cmp", "id", ">=", "2"), ("stop", "id", "30")])
    return (
        docs.filter(compile_filter_list(band))
        .select("id", "click", "purchase", "signup", "view")
        .orderBy("id")
        .limit(10)
    )


def _cdc_page_scan_sql() -> str:
    from hbase_increment_index_spark.cdc.filters import filter_list_sql

    band = ("AND", [("cmp", "id", ">=", "2"), ("stop", "id", "30")])
    return f"""
WITH log AS ({_SQL_CELL_LOG.format(delete_type='error')}),
cell_latest AS (
  SELECT * FROM log
  QUALIFY row_number() OVER (
    PARTITION BY row_key, family, qualifier ORDER BY ts DESC, seq DESC) = 1
),
row_latest AS (
  SELECT row_key, op AS row_op FROM log
  QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY ts DESC, seq DESC) = 1
),
live AS (
  SELECT c.* FROM cell_latest c JOIN row_latest r USING (row_key)
  WHERE c.op = 'put' AND r.row_op = 'put'
),
docs AS (
  SELECT row_key AS id,
         min(CASE WHEN qualifier = 'click'    THEN value END) AS click,
         min(CASE WHEN qualifier = 'purchase' THEN value END) AS purchase,
         min(CASE WHEN qualifier = 'signup'   THEN value END) AS signup,
         min(CASE WHEN qualifier = 'view'     THEN value END) AS view
  FROM live GROUP BY row_key
)
SELECT id, click, purchase, signup, view FROM docs
WHERE {filter_list_sql(band)}
ORDER BY id ASC
LIMIT 10
"""


def cdc_timestamps_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase ``TimestampsFilter`` (HBase 0.98 filter API, reference
    pom.xml:19): keep only cells whose timestamp is in a discrete
    version set — the filter a client uses to re-read the exact cell
    versions it wrote (it knows the timestamps out-of-band, as HBase
    clients do). The anchor set here is the 8 earliest event
    timestamps, fetched by ONE bounded driver action (a sorted
    limit-8 — TakeOrderedAndProject, never a corpus collect); the set
    then compiles through the FilterList ``in`` leaf to a literal
    ``Column.isin`` → a single sargable ``In(ts, …)`` predicate in the
    log scan's PushedFilters, so parquet row-group statistics prune
    files before any row is read."""
    from hbase_increment_index_spark.cdc.filters import compile_filter_list

    events = _t(spark, sf_dir, "events")
    anchor = [r[0] for r in events.select("ts").orderBy("ts").limit(8).collect()]
    log = cell_log_from_events(events, delete_event_type="error")
    return (
        log.filter(compile_filter_list(("in", "ts", anchor)))
        .select(
            "op", "row_key", "qualifier", "value",
            F.date_format("ts", _CDC_TS_FMT).alias("ts_str"),
        )
        .orderBy("ts_str")
    )


CDC_TIMESTAMPS_SQL = f"""
WITH log AS ({_SQL_CELL_LOG.format(delete_type='error')})
SELECT op, row_key, qualifier, value,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
FROM log
WHERE ts IN (SELECT ts FROM events ORDER BY ts LIMIT 8)
ORDER BY ts_str
"""


def cdc_key_only_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase ``KeyOnlyFilter`` + ``FirstKeyOnlyFilter`` (HBase 0.98
    filter API, reference pom.xml:19): the documented row-count /
    row-enumeration idiom — the scan returns ONE value-stripped cell
    per row, so the client enumerates (or counts) row keys without
    moving any cell data. The engine's equivalent is the LIVE row-key
    set (latest row-level op is a put — deletes drop the row), values
    NEVER read: column pruning does server-side what KeyOnlyFilter
    does — the parquet ReadSchema drops the value/props columns
    entirely (PLANS.md shows the pruned scan), so at 100 TB the scan
    moves key bytes only."""
    events = _t(spark, sf_dir, "events")
    log = cell_log_from_events(events, delete_event_type="error")
    w = Window.partitionBy("row_key").orderBy(
        F.col("ts").desc(), F.col("seq").desc()
    )
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("op") == "put"))
        .select("row_key")
        .orderBy("row_key")
    )


CDC_KEY_ONLY_SQL = f"""
WITH log AS ({_SQL_CELL_LOG.format(delete_type='error')}),
row_latest AS (
  SELECT row_key, op FROM log
  QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY ts DESC, seq DESC) = 1
)
SELECT row_key FROM row_latest WHERE op = 'put'
ORDER BY row_key
"""


def cdc_random_row_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase ``RandomRowFilter(chance=0.25)`` (HBase 0.98 filter API,
    reference pom.xml:19): sample ~25% of scanned rows. HBase draws
    java.util.Random per row — irreproducible BY DESIGN; the engine
    substitutes the content-hash unit-bucket device every sampling
    path here uses (e6 splits, q61t random()): keep rows whose salted
    portable hash lands under chance·1e6 — the same marginal
    distribution, but rerun-stable, partitioning-independent, and
    oracle-checkable (HBase's own docs steer row-sampling users to
    deterministic alternatives for exactly this reason). Zero shuffle:
    the predicate is a pure projection over the live row-key set."""
    from hbase_increment_index_spark.pipeline.sampling import _unit_bucket

    events = _t(spark, sf_dir, "events")
    log = cell_log_from_events(events, delete_event_type="error")
    w = Window.partitionBy("row_key").orderBy(
        F.col("ts").desc(), F.col("seq").desc()
    )
    live = (
        log.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("op") == "put"))
        .select("row_key")
    )
    return (
        live.filter(_unit_bucket("row_key", "rrf") < 250_000)
        .orderBy("row_key")
    )


CDC_RANDOM_ROW_SQL = f"""
WITH log AS ({_SQL_CELL_LOG.format(delete_type='error')}),
row_latest AS (
  SELECT row_key, op FROM log
  QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY ts DESC, seq DESC) = 1
)
SELECT row_key FROM row_latest
WHERE op = 'put' AND {_SQL_BUCKET.format(salt='rrf', c='row_key')} < 250000
ORDER BY row_key
"""


_SQL_LIVE_CELLS = """
cell_latest AS (
  SELECT * FROM log
  QUALIFY row_number() OVER (
    PARTITION BY row_key, family, qualifier ORDER BY ts DESC, seq DESC) = 1
),
row_latest AS (
  SELECT row_key, op AS row_op FROM log
  QUALIFY row_number() OVER (PARTITION BY row_key ORDER BY ts DESC, seq DESC) = 1
),
live AS (
  SELECT c.* FROM cell_latest c JOIN row_latest r USING (row_key)
  WHERE c.op = 'put' AND r.row_op = 'put'
)
"""


def _live_cells_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    log = cell_log_from_events(events, delete_event_type="error")
    return live_cells(log)


def cdc_value_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase ``ValueFilter(>=, BinaryComparator('5'))`` (HBase 0.98
    filter API, reference pom.xml:19): keep CELLS — any column — whose
    value compares against the operand. HBase's BinaryComparator is an
    unsigned-BYTE compare of the cell bytes, so on the engine's
    string-valued cells the faithful translation is the lexicographic
    string comparison ('50.1' ≥ '5' but '12.3' < '5' — byte order,
    not numeric order, exactly as an HBase client sees it). One
    sargable predicate on the live-cell view; no shuffle beyond the
    compaction it reads."""
    return (
        _live_cells_df(spark, sf_dir)
        .filter(F.col("value") >= "5")
        .select("row_key", "qualifier", "value")
        .orderBy("row_key", "qualifier")
    )


CDC_VALUE_FILTER_SQL = f"""
WITH log AS ({_SQL_CELL_LOG.format(delete_type='error')}),
{_SQL_LIVE_CELLS}
SELECT row_key, qualifier, value FROM live
WHERE value >= '5'
ORDER BY row_key, qualifier
"""


def cdc_skip_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase ``SkipFilter(ValueFilter(<, '5'))`` (HBase 0.98 filter
    API, reference pom.xml:19): the row-atomic wrapper — if ANY cell
    of a row is filtered, skip the WHOLE row; rows where every cell
    passes emit all their cells. Compiles to one bool-min window over
    the row partition (min(pass) over row_key — no join, and the
    window shares the compaction's row_key clustering), then the cell
    filter; byte-order value semantics as in cdc_value_filter."""
    live = _live_cells_df(spark, sf_dir)
    w = Window.partitionBy("row_key")
    all_pass = F.min((F.col("value") < "5").cast("int")).over(w) == 1
    return (
        live.withColumn("_ok", all_pass)
        .filter("_ok")
        .select("row_key", "qualifier", "value")
        .orderBy("row_key", "qualifier")
    )


CDC_SKIP_FILTER_SQL = f"""
WITH log AS ({_SQL_CELL_LOG.format(delete_type='error')}),
{_SQL_LIVE_CELLS}
SELECT row_key, qualifier, value FROM live
QUALIFY min(CASE WHEN value < '5' THEN 1 ELSE 0 END)
        OVER (PARTITION BY row_key) = 1
ORDER BY row_key, qualifier
"""


def cdc_while_match_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase ``WhileMatchFilter(SingleColumnValueFilter(click >= '1'))``
    (HBase 0.98 filter API, reference pom.xml:19): scan rows in rowkey
    order and STOP at the first row the wrapped filter rejects — the
    early-termination wrapper a client uses to read a qualifying
    prefix of a sorted table. Relationally: the cutoff is the MINIMUM
    rejecting rowkey (one tiny aggregate, broadcast as a 1-row
    scalar); the scan keeps rows strictly below it (all rows when
    nothing rejects). The engine reads the whole partition range where
    HBase short-circuits region-side — but the cutoff predicate is
    sargable, so at scale the second pass prunes row groups by rowkey
    statistics; the wrapped filter uses HBase's pass-when-missing
    default (rows without a click cell pass)."""
    from hbase_increment_index_spark.cdc.index_builder import documents_from_cells

    events = _t(spark, sf_dir, "events")
    log = cell_log_from_events(events, delete_event_type="error")
    docs = documents_from_cells(log, ["click", "purchase", "signup", "view"])
    passes = F.col("click").isNull() | (F.col("click") >= "1")
    cutoff = docs.filter(~passes).agg(F.min("id").alias("_cut"))
    return (
        docs.crossJoin(F.broadcast(cutoff))
        .filter(F.col("_cut").isNull() | (F.col("id") < F.col("_cut")))
        .select("id", "click", "purchase", "signup", "view")
        .orderBy("id")
    )


CDC_WHILE_MATCH_SQL = f"""
WITH log AS ({_SQL_CELL_LOG.format(delete_type='error')}),
{_SQL_LIVE_CELLS},
docs AS (
  SELECT row_key AS id,
         min(CASE WHEN qualifier = 'click'    THEN value END) AS click,
         min(CASE WHEN qualifier = 'purchase' THEN value END) AS purchase,
         min(CASE WHEN qualifier = 'signup'   THEN value END) AS signup,
         min(CASE WHEN qualifier = 'view'     THEN value END) AS view
  FROM live GROUP BY row_key
),
cutoff AS (
  SELECT min(id) AS cut FROM docs
  WHERE NOT (click IS NULL OR click >= '1')
)
SELECT id, click, purchase, signup, view
FROM docs, cutoff
WHERE cut IS NULL OR id < cut
ORDER BY id
"""


def cdc_merge_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental quantile-sketch maintenance over the CDC stream —
    Solr ``stats.field`` percentiles (served by t-digest there,
    reference-adjacent surface) re-expressed as the EXACTLY-mergeable
    fixed-bin histogram: per event_type, value counts in width-5 bins.
    The materialized sketch over corpus v1 absorbs one micro-batch
    (inserts event_id%10==0, value-halving updates %10==1 — which MOVE
    events between bins — and deletes %10==2) through the same
    additive +new/−old merge as facet counts
    (facets.merge_facet_counts with a struct key); P50/P95 then read
    off the merged sketch as the lower edge of the first bin whose
    cumulative count crosses q·n. Merge algebra makes the result equal
    the sketch built fresh from the final corpus — which is what the
    oracle computes. Shuffles carry |event_type × bins| rows, never
    events; the percentile window partitions by event_type (tiny)."""
    ev = _t(spark, sf_dir, "events")
    m = F.col("event_id") % 10
    bin_expr = (F.floor(F.col("value") / 5) * 5).cast("double")
    key = F.struct(F.col("event_type").alias("et"), bin_expr.alias("bin"))
    v1 = ev.filter(m != 0).withColumn(
        "value", F.when(m == 1, F.col("value") * 0.5).otherwise(F.col("value"))
    )
    sketch_v1 = v1.groupBy(key.alias("k")).agg(F.count(F.lit(1)).alias("n"))
    old_rows = v1.filter(m.isin(1, 2)).select("event_type", "value")
    new_rows = ev.filter(m.isin(0, 1)).select("event_type", "value")
    merged = facets.merge_facet_counts(sketch_v1, old_rows, new_rows, key, "k")
    flat = merged.select(
        F.col("k.et").alias("event_type"), F.col("k.bin").alias("bin"), "n"
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy(F.col("bin").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("event_type")
    c = flat.withColumn("cum", F.sum("n").over(w_cum)).withColumn(
        "total", F.sum("n").over(w_tot)
    )
    return (
        c.groupBy("event_type")
        .agg(
            F.max("total").cast("long").alias("n_total"),
            F.min(
                F.when(F.col("cum") >= F.lit(0.5) * F.col("total"), F.col("bin"))
            ).alias("p50_bin"),
            F.min(
                F.when(F.col("cum") >= F.lit(0.95) * F.col("total"), F.col("bin"))
            ).alias("p95_bin"),
        )
        .orderBy(F.col("event_type").asc())
    )


CDC_MERGE_PERCENTILES_SQL = """
WITH final AS (
  SELECT event_type, CAST(floor(value / 5) * 5 AS DOUBLE) AS bin
  FROM events WHERE event_id % 10 <> 2
),
hist AS (SELECT event_type, bin, count(*) AS n FROM final GROUP BY 1, 2),
c AS (
  SELECT event_type, bin, n,
         SUM(n) OVER (PARTITION BY event_type ORDER BY bin ASC) AS cum,
         SUM(n) OVER (PARTITION BY event_type) AS total
  FROM hist
)
SELECT event_type,
       CAST(MAX(total) AS BIGINT) AS n_total,
       MIN(CASE WHEN cum >= 0.5 * total THEN bin END) AS p50_bin,
       MIN(CASE WHEN cum >= 0.95 * total THEN bin END) AS p95_bin
FROM c
GROUP BY event_type
ORDER BY event_type ASC
"""


def cdc_merge_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IDF-statistics maintenance — the collection-wide
    numbers BM25 serving needs (df per term, N) kept fresh under the
    CDC stream instead of recomputed by corpus scan (the reference's
    deferred-cost story applied to ranking stats: the index AND its
    statistics stay in sync per batch). Corpus v1 absorbs one
    micro-batch (inserts doc_id%10==0, truncating updates %10==1 —
    which REMOVE terms from docs — deletes %10==2): per-term df merges
    additively over each side's DISTINCT token sets (+new −old, the
    same algebra as facet counts but explode-valued), N merges as a
    scalar. Output: top-20 terms by df with idf = ln((N+1)/(df+1)),
    which must equal the stats computed fresh from the final corpus —
    the oracle's form. Shuffle = |vocab| rows per side, never the
    corpus; the scalar N joins as a 1-row broadcast."""
    from hbase_increment_index_spark.search.tokenize import tokens

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 10
    v1 = docs.filter(m != 0).withColumn(
        "text", F.when(m == 1, F.substring("text", 1, 20)).otherwise(F.col("text"))
    )

    def df_counts(frame: DataFrame, sign: int) -> DataFrame:
        return (
            frame.select(
                F.explode(F.array_distinct(tokens("text"))).alias("term")
            )
            .groupBy("term")
            .agg((F.lit(sign) * F.count(F.lit(1))).alias("df"))
        )

    df_v1 = df_counts(v1, 1)
    old_rows = v1.filter(m.isin(1, 2)).select("text")
    new_rows = docs.filter(m.isin(0, 1)).select("text")
    merged_df = (
        df_v1.unionByName(df_counts(new_rows, 1))
        .unionByName(df_counts(old_rows, -1))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .filter(F.col("df") > 0)
    )
    # N maintained as a scalar: |v1| + inserts − deletes (equals the
    # final corpus count); 1-row frame, broadcast into the projection
    n_final = (
        v1.select(F.count(F.lit(1)).alias("n0"))
        .crossJoin(docs.filter(m == 0).select(F.count(F.lit(1)).alias("ins")))
        .crossJoin(v1.filter(m == 2).select(F.count(F.lit(1)).alias("dels")))
        .select((F.col("n0") + F.col("ins") - F.col("dels")).alias("n_docs"))
    )
    return (
        merged_df.crossJoin(F.broadcast(n_final))
        .select(
            "term",
            F.col("df").cast("long").alias("df"),
            F.round(
                F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1)), 6
            ).alias("idf"),
        )
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(20)
    )


def _cdc_merge_idf_sql() -> str:
    toks = _SQL_TOKS.format(c="text")
    return f"""
WITH final AS (
  SELECT text FROM documents WHERE doc_id % 10 <> 2
),
n AS (SELECT count(*) AS n_docs FROM final),
terms AS (
  SELECT unnest(list_distinct({toks})) AS term FROM final
),
dfc AS (SELECT term, count(*) AS df FROM terms GROUP BY term)
SELECT term, CAST(df AS BIGINT) AS df,
       ROUND(ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)), 6) AS idf
FROM dfc CROSS JOIN n
ORDER BY df DESC, term ASC
LIMIT 20
"""


def cdc_delete_by_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ``deleteByQuery`` through the REAL facade merge path
    (api.SecondaryIndex.delete_by_query): build the index from the
    events cell log (same substrate as cdc_index_documents), tombstone
    every document whose latest purchase cell is >= 50, and serve the
    survivors. The facade evaluates the predicate on the serving view,
    stamps row tombstones strictly after every live cell
    (max(ts)+1s, max(seq)+1) and folds them through the standard
    compact/merge — the reference ships only deleteById
    (SolrIndexTools.java:105-107); DBQ is the index-maintenance verb
    Solr pairs with it, with identical semantics.

    The oracle rebuilds the document table one-shot and filters the
    predicate out: DBQ∘merge ≡ filter∘rebuild is the correctness
    claim, the same rebuild-equality pattern as cdc_merge_batches
    (and the tombstones are real — a doc deleted here can be
    re-inserted later, which a plain filter could not express)."""
    from hbase_increment_index_spark.api import SecondaryIndex

    events = _t(spark, sf_dir, "events")
    log = cell_log_from_events(events, delete_event_type="error")
    idx = SecondaryIndex(
        spark,
        families=["cf"],
        qualifiers=["click", "purchase", "signup", "view"],
        key_field="id",
    )
    # NOTE on materialization: in production the pre-DBQ state is the
    # STORED output of the previous batch, so the consumers below read
    # a table, not a lineage. Here the state is rebuilt from raw
    # events, and measured at sf0.1 the un-persisted form is FASTER
    # (3.5 s vs 5.4 s with materialize_state()) because each consumer
    # prunes the rebuild lineage to the columns it needs, which a
    # pinned full-width cache cannot — so the query deliberately skips
    # the facade's materialize_state() hook.
    idx.apply_mutations(log)
    idx.delete_by_query(F.col("purchase").cast("double") >= 50.0)
    return idx.documents.select("id", "click", "purchase", "signup", "view")


# survivors are the docs where the predicate is NOT true (false OR
# null-valued — a doc with no purchase cell never matches a DBQ on
# purchase, exactly like Solr's q=purchase:[50 TO *])
CDC_DBQ_SQL = f"""
SELECT id, click, purchase, signup, view
FROM ({CDC_INDEX_DOCS_SQL}) d
WHERE NOT COALESCE(CAST(purchase AS DOUBLE) >= 50.0, FALSE)
"""


def _commit_all_stores(spark: SparkSession, sf_dir: str, rebuilt: bool = False):
    """The full derived-store fleet under ONE CDC micro-batch — the
    Spark form of the reference's single commit flushing both buffers
    (SolrIndexTools.java:59-67): every derived index the engine
    maintains is folded forward by the same batch, each through its
    own ∝|delta| merge. Returns ``{store_name: DataFrame}``; with
    ``rebuilt=True`` each store is instead built from scratch over the
    final corpus — the equality of the two dicts is the commit's
    correctness contract (pytest tests/test_round12_ops.py; the
    registry entry's oracle checks the per-store row counts against
    DuckDB rebuilds).

    Batch fixture (documents: doc_id % 10; embeddings: vec_id % 10):
    INSERTS %10==0 (absent from v1), UPDATES %10==1 (text truncated /
    vector reversed in v1 — post-image replaces it), DELETES %10==2.

    Store inventory and its merge discipline:
      - postings (term, doc_id, tf)        inverted.merge_postings
      - positional (term, doc_id, positions) merge_positional_postings (r13)
      - doclen (doc_id, dl)                anti-join + fresh (BM25 side table)
      - signatures (doc_id, sig_key)       e2o: anti-join + re-sign delta
      - shingle_postings (doc, sh, shb)    merge_shingle_postings (r12)
      - fingerprints (doc, fp, fpb)        merge_fingerprint_store (r13)
      - facet_counts (tok_bucket, n)       merge_facet_counts (+new −old)
      - percentile_sketch (k, n)           merge_facet_counts on a
                                           (source, value-bin) struct key —
                                           the exactly-mergeable histogram
                                           cdc_merge_percentiles reads
                                           quantiles off (r13)
      - rollup (source, n, sum_value)      merge_rollup_sums (exact decimals)
      - idf_stats (term, df)               additive ±distinct-token sets
      - ann_index (vec_id, s, code, cid)   e3o: anti-join + re-encode delta
      - cc_labels (doc, component)         delete_from_clusters THEN
                                           merge_cluster_labels (r13)

    CC labels need the one non-additive step in the commit: a text
    UPDATE both removes the old text's pairs (which can SPLIT a
    component — no label merge expresses that) and adds the new
    text's. So the label fold (`commit_cluster_labels`, one verb)
    works on PAIRS first: it drops every stored pair with a deleted or
    updated endpoint, adds the pairs incident to the batch's
    post-images (store-served bipartite probe against the kept corpus
    + delta-internal pairing, FROM THE v1 SHINGLE STORE — no corpus
    text in the plan), and re-clusters only the components those
    touched docs and new-pair endpoints belong to; every other
    component passes through. Commit ≡ rebuild (pytest-proven,
    including a component split mid-batch)."""
    from hbase_increment_index_spark.numeric import dec
    from hbase_increment_index_spark.pipeline.dedup import (
        build_fingerprint_store,
        build_shingle_postings,
        commit_cluster_labels,
        connected_components,
        merge_fingerprint_store,
        merge_shingle_postings,
        minhash_digest_store,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_from_index,
        shingle_doc_sizes,
    )
    from hbase_increment_index_spark.pipeline.similarity import (
        assign_cells,
        label_cell_centroids,
        pq_codebooks,
        pq_encode,
    )
    from hbase_increment_index_spark.search.inverted import (
        build_inverted_index,
        build_positional_index,
        merge_positional_postings,
        merge_postings,
    )
    from hbase_increment_index_spark.search.tokenize import tokens

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 10
    v1 = docs.filter(m != 0).withColumn(
        "text", F.when(m == 1, F.substring("text", 1, 20)).otherwise(F.col("text"))
    )
    changed = docs.filter(m.isin(0, 1))  # post-images: inserts + updates
    deleted = docs.filter(m == 2).select("doc_id")
    touched = changed.select("doc_id").unionByName(deleted).distinct()
    final = docs.filter(m != 2)
    bucket = (F.floor(F.size(tokens("text")) / 10) * 10).cast("long")
    n_toks = F.size(tokens("text"))

    def doclen_of(postings: DataFrame) -> DataFrame:
        return postings.groupBy("doc_id").agg(F.sum("tf").alias("dl"))

    def df_counts(frame: DataFrame, sign: int) -> DataFrame:
        return (
            frame.select(F.explode(F.array_distinct(tokens("text"))).alias("term"))
            .groupBy("term")
            .agg((F.lit(sign) * F.count(F.lit(1))).alias("df"))
        )

    def rollup_of(frame: DataFrame) -> DataFrame:
        return frame.groupBy(F.col("source").alias("source")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec(n_toks, 6)).alias("sum_value"),
        )

    emb = _t(spark, sf_dir, "embeddings")
    me = F.col("vec_id") % 10
    emb_v1 = emb.filter(me != 0)  # %10==1 rows hold the STALE vector
    emb_changed = emb.filter(me.isin(0, 1)).withColumn(
        "embedding", F.when(me == 1, F.reverse("embedding")).otherwise(F.col("embedding"))
    )
    emb_touched = emb.filter(me.isin(1, 2)).select("vec_id")
    emb_final = emb.filter(me != 2).withColumn(
        "embedding", F.when(me == 1, F.reverse("embedding")).otherwise(F.col("embedding"))
    )
    # index STRUCTURE is fixed at build time from the v1 corpus
    # (production IVF: centroids/codebooks don't retrain per batch)
    cents = label_cell_centroids(emb_v1)
    cbs = pq_codebooks(emb_v1, seed_ids=[1, 2, 3, 4, 5, 6, 7, 8])

    def index_rows(frame: DataFrame) -> DataFrame:
        # cid rides THROUGH the encode as a grouping column instead of
        # a post-encode id-keyed join (r17, the q78b build treatment):
        # result-identical — cid is constant per vec_id and the encode
        # depends only on the vector + codebooks — and each call drops
        # one join from the plan (×3 calls: v1 + delta legs here, one
        # in the rebuilt form).
        assigned = assign_cells(frame, cents, carry_cols=("embedding",))
        return pq_encode(assigned, cbs, dim=64, m=4, carry_cols=("cid",)).select(
            "vec_id", "s", "code", "cid"
        )

    vbin = (F.floor(n_toks / 5) * 5).cast("double")
    skey = F.struct(F.col("source").alias("src"), vbin.alias("bin"))
    cc_th = 0.30

    if rebuilt:
        postings = build_inverted_index(final, "doc_id", "text")
        return {
            "ann_index": index_rows(emb_final),
            "cc_labels": connected_components(
                ngram_jaccard_pairs(final, "doc_id", "text", n=3, threshold=cc_th)
            ).select("doc", "component"),
            "doclen": doclen_of(postings),
            "facet_counts": final.groupBy(bucket.alias("tok_bucket")).agg(
                F.count(F.lit(1)).alias("n")
            ),
            "fingerprints": build_fingerprint_store(final, "doc_id", "text"),
            "idf_stats": df_counts(final, 1).filter(F.col("df") > 0),
            "percentile_sketch": final.groupBy(skey.alias("k")).agg(
                F.count(F.lit(1)).alias("n")
            ),
            "positional": build_positional_index(final, "doc_id", "text"),
            "postings": postings,
            "rollup": rollup_of(final),
            "shingle_postings": build_shingle_postings(final, "doc_id", "text", n=3),
            "signatures": minhash_digest_store(final),
        }

    # The twelve merge pipelines below are UNION BRANCHES of one plan:
    # without a materialization each branch re-reads the documents
    # parquet and re-tokenizes (r13 verdict: tokens(text) recomputed
    # ~10x per run), and the v1-side bootstraps re-derive their input
    # scans. localCheckpoint(eager) materializes each shared frame
    # ONCE and truncates lineage, so every consumer reads the stored
    # partitions. On a cluster the same sharing is persist(MEMORY_AND_
    # DISK) or — in production, where the v1 stores already live on
    # disk — the persisted store reads the bench's cdc_commit_served
    # twin prices; the in-plan bootstrap here exists so the oracle can
    # replay merge ≡ rebuild from the raw table alone.
    #
    # r16 (guide §2.6): the eleven cuts used to run as eleven
    # SEQUENTIAL eager jobs — most of the bootstrap's wall was idle
    # scheduling tail. Mutually independent frames materialize
    # CONCURRENTLY (functions.layout.checkpoint_all, the served twin's
    # device) in dependency waves: wave 1 the five raw-delta frames,
    # wave 2 the four frames that read wave-1 outputs, then the two
    # dependent shingle-side cuts. r17 MEASURED the all-lazy
    # alternative (fold every cut into the consumer actions) and it
    # was SLOWER — construct 9.5-12.6 s (eager waves) vs 15.0-15.2 s
    # (lazy): the CC probe collect then pulls the v1 → shingle →
    # sizes → pairs chain as one serial stage chain, losing the
    # cross-frame concurrency the waves buy. Eager waves stay.
    from hbase_increment_index_spark.functions.layout import checkpoint_all

    v1, changed, touched, emb_v1, emb_changed = checkpoint_all(
        v1, changed, touched, emb_v1, emb_changed
    )
    # centroids/codebooks are k-row frames but aggregate the full
    # emb_v1 per consumer (two index_rows calls) — checkpoint the
    # small RESULT, not the scan; rebuilt here FROM the cut emb_v1 so
    # their one materialization reads stored partitions instead of
    # re-scanning parquet (same rows, identical result)
    cents = label_cell_centroids(emb_v1)
    cbs = pq_codebooks(emb_v1, seed_ids=[1, 2, 3, 4, 5, 6, 7, 8])
    postings_v1 = build_inverted_index(v1, "doc_id", "text")
    # the v1 shingle store feeds THREE consumers: the shingle-store
    # merge, the CC scoped-delete's survivor re-pairing, and the CC
    # bipartite probe's kept-corpus side — built once here
    shingle_store_v1 = build_shingle_postings(v1, "doc_id", "text", n=3)
    # wave 2: all four read only wave-1 cuts and are independent of
    # one another
    cents, cbs, postings_v1, shingle_store_v1 = checkpoint_all(
        cents, cbs, postings_v1, shingle_store_v1
    )
    # column order normalized to the rebuild's (term, doc_id, tf) so
    # positional comparisons (exceptAll) line up
    merged_postings = merge_postings(
        postings_v1, changed.select("doc_id", "text"), deleted, "doc_id", "text"
    ).select("term", "doc_id", "tf")
    merged_doclen = doclen_of(postings_v1).join(
        F.broadcast(touched), "doc_id", "left_anti"
    ).unionByName(doclen_of(build_inverted_index(changed, "doc_id", "text")))
    merged_sigs = (
        minhash_digest_store(v1)
        .join(F.broadcast(v1.filter(m.isin(1, 2)).select("doc_id")), "doc_id", "left_anti")
        .unionByName(minhash_digest_store(changed))
    )
    merged_shingles = merge_shingle_postings(
        shingle_store_v1,
        changed.select("doc_id", "text"),
        deleted,
        "doc_id",
        "text",
        n=3,
    )
    merged_positional = merge_positional_postings(
        build_positional_index(v1, "doc_id", "text"),
        changed.select("doc_id", "text"),
        deleted,
        "doc_id",
        "text",
    ).select("term", "doc_id", "positions")
    merged_fps = merge_fingerprint_store(
        build_fingerprint_store(v1, "doc_id", "text"),
        changed.select("doc_id", "text"),
        deleted,
        "doc_id",
        "text",
    )
    merged_facets = facets.merge_facet_counts(
        facets.facet_field(v1.select(bucket.alias("tok_bucket")), "tok_bucket"),
        old_rows=v1.filter(m.isin(1, 2)).select("text"),
        new_rows=changed.select("text"),
        facet_expr=bucket,
        facet_alias="tok_bucket",
    )
    merged_rollup = facets.merge_rollup_sums(
        rollup_of(v1),
        old_rows=v1.filter(m.isin(1, 2)).select("source", n_toks.alias("n_toks")),
        new_rows=changed.select("source", n_toks.alias("n_toks")),
        key_expr=F.col("source"),
        key_alias="source",
        value_col="n_toks",
    )
    merged_idf = (
        df_counts(v1, 1)
        .unionByName(df_counts(changed, 1))
        .unionByName(df_counts(v1.filter(m.isin(1, 2)), -1))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .filter(F.col("df") > 0)
    )
    merged_ann = (
        index_rows(emb_v1)
        .join(F.broadcast(emb_touched), "vec_id", "left_anti")
        .unionByName(index_rows(emb_changed))
    )
    merged_sketch = facets.merge_facet_counts(
        v1.groupBy(skey.alias("k")).agg(F.count(F.lit(1)).alias("n")),
        old_rows=v1.filter(m.isin(1, 2)).select("source", "text"),
        new_rows=changed.select("source", "text"),
        facet_expr=skey,
        facet_alias="k",
    )
    # CC labels: the one-verb fold (see docstring; factored as
    # pipeline.dedup.commit_cluster_labels so commit ≡ rebuild is
    # property-testable on arbitrary corpora). The v1
    # bootstrap labels pair FROM THE CHECKPOINTED SHINGLE STORE
    # (result-identical to direct pairing, pytest-proven) — the v1
    # corpus is never re-shingled for the CC leg, and the sizes side
    # table is cut once for its two consumers (bootstrap pairing +
    # the fold's bipartite probe).
    sizes_v1 = shingle_doc_sizes(shingle_store_v1).localCheckpoint(eager=False)
    # (lazy — the CC probe collect below materializes the whole chain)
    # pair the v1 corpus ONCE: the materialized list bootstraps the
    # labels AND is the fold's pair store (a pair's jaccard never
    # changes when other docs change), so the fold runs zero further
    # corpus pairing jobs
    pairs_v1 = ngram_jaccard_pairs_from_index(
        shingle_store_v1, sizes_v1, threshold=cc_th
    ).localCheckpoint(eager=False)
    labels_v1 = connected_components(pairs_v1)
    merged_cc = commit_cluster_labels(
        labels_v1,
        shingle_store_v1,
        sizes_v1,
        changed.select("doc_id", "text"),
        deleted,
        "doc_id",
        "text",
        n=3,
        threshold=cc_th,
        store_pairs=pairs_v1,
    ).select("doc", "component")
    return {
        "ann_index": merged_ann,
        "cc_labels": merged_cc,
        "doclen": merged_doclen,
        "facet_counts": merged_facets,
        "fingerprints": merged_fps,
        "idf_stats": merged_idf,
        "percentile_sketch": merged_sketch,
        "positional": merged_positional,
        "postings": merged_postings,
        "rollup": merged_rollup,
        "shingle_postings": merged_shingles,
        "signatures": merged_sigs,
    }


def cdc_commit_all_stores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One CDC commit drives EVERY derived store the engine maintains
    (r11 verdict #2, completed to the FULL fleet in r13) — postings,
    positional postings, doclen, MinHash signatures, shingle postings,
    content fingerprints, facet counts, the mergeable percentile
    sketch, the (n, Σ) rollup, IDF stats, the IVF/PQ ANN index, and
    the CC near-dup labels (the one non-additive fold: touched
    components re-clustered from the pair store) — each folded forward by its own ∝|delta| merge
    from the same batch, the Spark equivalent of the reference's one
    commit flushing both its add and delete buffers atomically
    (SolrIndexTools.java:59-67). Output: one row per store with the
    merged store's row count (for `positional` the count is restricted
    to multi-occurrence (term, doc) cells — size(positions) ≥ 2 — so
    its oracle line is a positional-only statistic rather than a
    duplicate of `postings`'); the oracle computes each count from a
    DuckDB REBUILD over the final corpus, so a green hash certifies
    every merge commuted with rebuild at the cardinality level (the
    row-level equality per store, including position lists and CC
    component ids, is pytest-proven:
    tests/test_round12_ops.py::test_commit_all_stores_equals_rebuild,
    tests/test_round13_ops.py::test_commit_cc_labels_split)."""
    stores = _commit_all_stores(spark, sf_dir, rebuilt=False)
    out = None
    for name in sorted(stores):
        frame = stores[name]
        if name == "positional":
            frame = frame.filter(F.size("positions") >= 2)
        row = frame.agg(F.count(F.lit(1)).alias("n_rows")).select(
            F.lit(name).alias("store"), "n_rows"
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("store")


CDC_COMMIT_ALL_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, {_SQL_TOKS.format(c='text')} AS t
  FROM documents WHERE doc_id % 10 <> 2
),
term_doc AS (SELECT DISTINCT doc_id, unnest(t) AS term FROM toks),
term_occ AS (SELECT doc_id, unnest(t) AS term FROM toks),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 0)),
           i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS s
  FROM toks
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
cc_common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM sh a JOIN sh b ON a.s = b.s
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
cc_pairs AS (
  SELECT id_a, id_b
  FROM cc_common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE ROUND(common / (sa.n_sh + sb.n_sh - common), 6) >= 0.30
)
SELECT 'ann_index' AS store,
       4 * (SELECT count(*) FROM embeddings WHERE vec_id % 10 <> 2) AS n_rows
UNION ALL SELECT 'cc_labels',
  (SELECT count(DISTINCT d) FROM
    (SELECT id_a AS d FROM cc_pairs UNION ALL SELECT id_b FROM cc_pairs))
UNION ALL SELECT 'doclen', (SELECT count(*) FROM toks WHERE len(t) > 0)
UNION ALL SELECT 'facet_counts',
  (SELECT count(DISTINCT CAST(floor(len(t) / 10) * 10 AS BIGINT)) FROM toks)
UNION ALL SELECT 'fingerprints', (SELECT count(*) FROM toks)
UNION ALL SELECT 'idf_stats', (SELECT count(DISTINCT term) FROM term_doc)
UNION ALL SELECT 'percentile_sketch',
  (SELECT count(*) FROM
    (SELECT DISTINCT source, floor(len(t) / 5) * 5 FROM toks))
UNION ALL SELECT 'positional',
  (SELECT count(*) FROM
    (SELECT doc_id, term FROM term_occ GROUP BY 1, 2 HAVING count(*) >= 2))
UNION ALL SELECT 'postings', (SELECT count(*) FROM term_doc)
UNION ALL SELECT 'rollup', (SELECT count(DISTINCT source) FROM toks)
UNION ALL SELECT 'shingle_postings', (SELECT count(*) FROM sh)
UNION ALL SELECT 'signatures', (SELECT count(*) FROM toks WHERE len(t) >= 3)
ORDER BY store
"""


def cdc_dependent_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase ``DependentColumnFilter('cf', 'purchase', false, >=,
    BinaryComparator('5'))`` (HBase 0.98 filter API, reference
    pom.xml:19) — the LAST filter of the 0.98 API, closing the
    documented SURVEY gap: keep cells whose timestamp matches the
    row's reference-column cell (here the latest purchase with
    value ≥ '5' in byte order). The scanned view writes each event as
    TWO cells sharing the event timestamp — the event_type cell and
    an 'amount' cell, HBase's same-Put multi-qualifier pattern — so
    the timestamp dependency selects, besides the reference cell
    itself, exactly the co-written amount cells of rows whose latest
    event is a passing purchase. One window over the row partition,
    no join (cdc.filters.dependent_column_filter)."""
    from hbase_increment_index_spark.cdc.filters import dependent_column_filter

    events = _t(spark, sf_dir, "events")
    log = cell_log_from_events(events, delete_event_type="error")
    paired = log.unionByName(log.withColumn("qualifier", F.lit("amount")))
    live = live_cells(paired)
    return (
        dependent_column_filter(live, "cf", "purchase", ">=", "5")
        .select("row_key", "qualifier", "value")
        .orderBy("row_key", "qualifier")
    )


CDC_DEPENDENT_COLUMN_SQL = f"""
WITH log0 AS ({_SQL_CELL_LOG.format(delete_type='error')}),
log AS (
  SELECT * FROM log0
  UNION ALL
  SELECT op, row_key, family, 'amount' AS qualifier, value, ts, seq
  FROM log0
),
{_SQL_LIVE_CELLS},
dep AS (
  SELECT *,
         MAX(CASE WHEN family = 'cf' AND qualifier = 'purchase'
                       AND value >= '5' THEN ts END)
           OVER (PARTITION BY row_key) AS dep_ts
  FROM live
)
SELECT row_key, qualifier, value FROM dep
WHERE ts = dep_ts
ORDER BY row_key, qualifier
"""
