"""LLM-pipeline extensions, part 1: dedup, similarity search, embeddings."""
from __future__ import annotations
from hbase_increment_index_spark.pipeline.dedup import (
    duplicate_clusters,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from hbase_increment_index_spark.pipeline.multimodal import extract_features, synth_media
from hbase_increment_index_spark.pipeline.similarity import knn_brute_force
from hbase_increment_index_spark.pipeline.text import (
    STOPWORDS,
    fingerprint,
    language_id,
    quality_features,
    term_frequencies,
)
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from ._shared import (
    _PII_SUFFIX_SQL,
    _SQL_BUCKET,
    _SQL_FP,
    _SQL_TOKS,
    _SWEEP_THRESHOLDS,
    _langid_sql,
    _minhash_sql_ctes,
    _t,
    _z_sql_terms,
)



def e3l_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection dimensionality reduction (Achlioptas 2003
    sign projection / Johnson–Lindenstrauss): 64-dim embeddings
    compressed to 8 dims with ±1 planes derived from the portable md5
    hash — deterministic, train-free, oracle-reproducible, and the
    plane set is the expression itself (no model artifact). Pure
    projection, zero shuffle; distances are preserved within the JL
    bound, making this the cheap front-end for downstream clustering.

    The ±1 planes are md5-derived but evaluated ONCE driver-side
    (hashlib md5 ≡ the engines' md5 bit-for-bit, so oracle parity is
    unchanged) and enter the plan as plain float literals — the
    per-row expression is 8 zip_with dot products, not 512 md5→conv
    subtrees (the r3 plan-audit's 4.6 s expression constant)."""
    import hashlib

    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")

    def sign(i: int, j: int) -> float:
        # same value portable_hash60(lit(f"rp:{i},{j}")) % 2 selects
        h = int(hashlib.md5(f"rp:{i},{j}".encode()).hexdigest()[:15], 16)
        return 1.0 if h % 2 == 0 else -1.0

    from hbase_increment_index_spark.pipeline.similarity import lit_vector

    dims = []
    for i in range(8):
        # lit_vector builds the 64-literal plane in one JVM call
        sign_arr = lit_vector([sign(i, j) for j in range(64)])
        dot = F.aggregate(
            F.zip_with(v, sign_arr, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        dims.append(F.round(dot, 6).alias(f"p{i}"))
    return emb.select("vec_id", *dims).orderBy(F.col("vec_id").asc()).limit(100)


def _e3l_sql() -> str:
    from hbase_increment_index_spark.pipeline.dedup import PORTABLE_HASH60_SQL

    cols = []
    for i in range(8):
        signs = ", ".join(
            f"CASE WHEN {PORTABLE_HASH60_SQL.format(c=repr(f'rp:{i},{j}'))} % 2 = 0 THEN 1.0 ELSE -1.0 END"
            for j in range(64)
        )
        cols.append(
            f"ROUND(list_reduce(list_prepend(0.0, list_transform("
            f"list_zip(CAST(embedding AS DOUBLE[]), [{signs}]), s -> s[1] * s[2])), (a, b) -> a + b), 6) AS p{i}"
        )
    return f"""
SELECT vec_id, {', '.join(cols)}
FROM embeddings
ORDER BY vec_id ASC
LIMIT 100
"""


def e6i_packing_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report over e6c's sequence batches: per
    shard — batches produced, tokens packed, mean fill ratio against
    the 2000-token budget (the padding-waste number a training team
    tracks). One extra agg over the packing frame; nothing re-scans."""
    from hbase_increment_index_spark.pipeline.sampling import pack_batches
    from hbase_increment_index_spark.pipeline.text import token_count

    docs = _t(spark, sf_dir, "documents")
    packed = pack_batches(
        docs, "doc_id", token_count(F.col("text")), budget=2000, n_shards=8
    )
    per_batch = packed.withColumn("_tok", token_count(F.col("text"))).groupBy(
        "shard", "batch_id"
    ).agg(F.sum("_tok").alias("batch_tokens"))
    return (
        per_batch.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_batches"),
            F.sum("batch_tokens").cast("bigint").alias("tokens"),
            F.round(
                F.sum(F.least(F.col("batch_tokens"), F.lit(2000)).cast("decimal(30,6)")).cast("double")
                / (F.count(F.lit(1)) * 2000),
                6,
            ).alias("mean_fill"),
        )
        .orderBy(F.col("shard").asc())
    )


E6I_SQL = f"""
WITH t AS (
  SELECT doc_id,
         ((('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 8) AS shard,
         len({_SQL_TOKS.format(c='text')}) AS tok
  FROM documents
),
packed AS (
  SELECT doc_id, shard, tok,
         CAST(COALESCE(SUM(tok) OVER (
                PARTITION BY shard ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000
              AS BIGINT) AS batch_id
  FROM t
),
per_batch AS (
  SELECT shard, batch_id, SUM(tok) AS batch_tokens FROM packed GROUP BY 1, 2
)
SELECT shard, count(*) AS n_batches, CAST(SUM(batch_tokens) AS BIGINT) AS tokens,
       ROUND(CAST(SUM(CAST(LEAST(batch_tokens, 2000) AS DECIMAL(30,6))) AS DOUBLE)
             / (count(*) * 2000), 6) AS mean_fill
FROM per_batch
GROUP BY shard
ORDER BY shard ASC
"""


def e9c_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-drift monitoring: per-term contribution to the KL
    divergence between a new snapshot's unigram distribution (odd doc
    ids) and the reference distribution (even ids) — the vocabulary
    alarm a production pipeline watches between crawls. Add-one
    smoothing over the union vocabulary; both distributions are one
    hash agg each; contributions ride the same rounded-log ×
    exact-decimal discipline as DSIR, so the report is
    partition-invariant. Top-15 drift terms."""
    from hbase_increment_index_spark.search.tokenize import posting_list

    docs = _t(spark, sf_dir, "documents")
    toks = posting_list(docs, "doc_id", "text").withColumn(
        "side", F.when(F.col("doc_id") % 2 == 0, "old").otherwise("new")
    )
    counts = toks.groupBy("term").agg(
        F.sum(F.when(F.col("side") == "old", 1).otherwise(0)).alias("c_old"),
        F.sum(F.when(F.col("side") == "new", 1).otherwise(0)).alias("c_new"),
    )
    totals = counts.agg(
        F.sum("c_old").cast("double").alias("n_old"),
        F.sum("c_new").cast("double").alias("n_new"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    p = (F.col("c_new") + F.lit(1.0)) / (F.col("n_new") + F.col("v"))
    q = (F.col("c_old") + F.lit(1.0)) / (F.col("n_old") + F.col("v"))
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "term",
            "c_old",
            "c_new",
            F.round(p * F.log(p / q), 9).alias("kl_term"),
        )
        .orderBy(F.abs(F.col("kl_term")).desc(), F.col("term").asc())
        .limit(15)
    )


E9C_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKS.format(c='text')}) AS term FROM documents
),
counts AS (
  SELECT term,
         SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS c_old,
         SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS c_new
  FROM toks GROUP BY term
),
totals AS (
  SELECT CAST(SUM(c_old) AS DOUBLE) AS n_old, CAST(SUM(c_new) AS DOUBLE) AS n_new,
         CAST(COUNT(*) AS DOUBLE) AS v
  FROM counts
)
SELECT term, CAST(c_old AS BIGINT) AS c_old, CAST(c_new AS BIGINT) AS c_new,
       ROUND(((c_new + 1.0) / (n_new + v)) * ln(((c_new + 1.0) / (n_new + v)) / ((c_old + 1.0) / (n_old + v))), 9) AS kl_term
FROM counts, totals
ORDER BY abs(ROUND(((c_new + 1.0) / (n_new + v)) * ln(((c_new + 1.0) / (n_new + v)) / ((c_old + 1.0) / (n_old + v))), 9)) DESC, term ASC
LIMIT 15
"""


def e1e_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication rate — the triage number that tells a
    curation team WHICH crawl source is dirty (e9b reports the global
    rate): near-dup cluster membership joined back to the source
    dimension, one agg. Cluster marks come from the same MinHash
    chain as e2d/e2h."""
    from hbase_increment_index_spark.pipeline.dedup import near_dup_clusters

    docs = _t(spark, sf_dir, "documents")
    marks = near_dup_clusters(
        docs, "doc_id", "text", threshold=0.30, num_perm=64, bands=16,
        impl="pandas", hash_fn="md5",
    )
    j = docs.select("doc_id", "source").join(
        marks.select("doc_id", "component"), "doc_id"
    )
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("component").isNotNull().cast("long")).alias("n_in_clusters"),
            F.round(
                F.sum(F.col("component").isNotNull().cast("long")) / F.count(F.lit(1)), 6
            ).alias("dup_rate"),
        )
        .orderBy(F.col("source").asc())
    )


def _e1e_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_sql_ctes()},
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (SELECT u AS doc_id FROM reach GROUP BY u)
SELECT d.source, count(*) AS n_docs,
       CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_in_clusters,
       ROUND(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) / count(*), 6) AS dup_rate
FROM documents d LEFT JOIN comp c USING (doc_id)
GROUP BY d.source
ORDER BY d.source ASC
"""


def e2l_quality_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup: within each near-dup cluster keep the
    HIGHEST-QUALITY member (argmax quality_score, ties → lower id)
    instead of the arbitrary min-id canonical — the refinement real
    curation pipelines apply so dedup never discards the cleanest
    copy. One window over the (tiny) clustered subset; singletons
    never enter the window. Output: per cluster, kept doc + its
    quality + cluster size."""
    from pyspark.sql import Window

    from hbase_increment_index_spark.pipeline.dedup import near_dup_clusters
    from hbase_increment_index_spark.pipeline.text import quality_features

    docs = _t(spark, sf_dir, "documents")
    marks = near_dup_clusters(
        docs, "doc_id", "text", threshold=0.30, num_perm=64, bands=16,
        impl="pandas", hash_fn="md5",
    ).filter(F.col("component").isNotNull())
    # score ONLY the clustered minority — quality features over the
    # whole corpus would be discarded by the inner join anyway
    member_docs = docs.join(F.broadcast(marks.select("doc_id")), "doc_id", "left_semi")
    q = quality_features(member_docs, "text").select("doc_id", "quality_score")
    members = marks.join(q, "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    return (
        members.withColumn("_rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(Window.partitionBy("component")))
        .filter(F.col("_rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("kept_doc"),
            "quality_score",
            "cluster_size",
        )
        .orderBy(F.col("component").asc())
    )


def _e2l_sql() -> str:
    score = """ROUND(0.4 * least(n_tokens / 100.0, 1.0)
             + 0.3 * (CASE WHEN raw_avg_tok >= 2 AND raw_avg_tok <= 12 THEN 1.0 ELSE 0.0 END)
             + 0.3 * least((CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END) * 5, 1.0), 6)"""
    return f"""
WITH RECURSIVE {_minhash_sql_ctes()},
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (SELECT u AS doc_id, least(u, min(v)) AS component FROM reach GROUP BY u),
qbase AS (
  SELECT doc_id, text, {_SQL_TOKS.format(c='text')} AS toks, length(text) AS n_chars
  FROM documents
),
qfeat AS (
  SELECT doc_id, len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN length(regexp_replace(text, '\\s+', '', 'g')) / len(toks)
              ELSE 0.0 END AS raw_avg_tok,
         len(list_filter(toks, t -> list_contains({_EN_STOP_SQL}, t))) AS n_stop
  FROM qbase
),
quality AS (SELECT doc_id, {score} AS quality_score FROM qfeat),
members AS (
  SELECT c.component, c.doc_id, q.quality_score,
         ROW_NUMBER() OVER (PARTITION BY c.component
                            ORDER BY q.quality_score DESC, c.doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY c.component) AS cluster_size
  FROM comp c JOIN quality q USING (doc_id)
)
SELECT component, doc_id AS kept_doc, quality_score, cluster_size
FROM members WHERE rn = 1
ORDER BY component ASC
"""


def e6h_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: assignment at NEAR-DUP
    CLUSTER granularity — every member of a cluster inherits the
    canonical member's hash split, so near-duplicates can never
    straddle train and eval (the leakage the per-doc split e6a cannot
    rule out). Group key = cluster canonical (singletons: own id);
    the split itself stays the deterministic content-hash projection.
    Output: per-split doc and group counts."""
    from hbase_increment_index_spark.pipeline.dedup import near_dup_clusters
    from hbase_increment_index_spark.pipeline.sampling import train_val_split

    docs = _t(spark, sf_dir, "documents")
    marks = near_dup_clusters(
        docs, "doc_id", "text", threshold=0.30, num_perm=64, bands=16,
        impl="pandas", hash_fn="md5",
    )
    grouped = marks.select(
        "doc_id", F.coalesce(F.col("component"), F.col("doc_id")).alias("gk")
    )
    split = train_val_split(grouped, "gk", val_frac=0.10, test_frac=0.05)
    return (
        split.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("gk").alias("n_groups"),
        )
        .orderBy("split")
    )


def _e6h_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_sql_ctes()},
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (SELECT u, least(u, min(v)) AS component FROM reach GROUP BY u),
grouped AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS gk
  FROM documents d LEFT JOIN comp c ON c.u = d.doc_id
),
assigned AS (
  SELECT doc_id, gk,
         CASE WHEN {_SQL_BUCKET.format(salt='split', c='gk')} < 100000 THEN 'val'
              WHEN {_SQL_BUCKET.format(salt='split', c='gk')} < 150000 THEN 'test'
              ELSE 'train' END AS split
  FROM grouped
)
SELECT split, count(*) AS n_docs, count(DISTINCT gk) AS n_groups
FROM assigned
GROUP BY split
ORDER BY split
"""


def e2k_incremental_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup: the embedding delta (vec_id % 10 == 0)
    checked against the existing vector index — bipartite LSH-bucket
    join, new×old only, cosine ≥ 0.40
    (pipeline.dedup.incremental_semantic_dups). The vector analogue of
    e2f's delta near-dup mining."""
    from hbase_increment_index_spark.pipeline.dedup import incremental_semantic_dups

    emb = _t(spark, sf_dir, "embeddings")
    existing = emb.filter(F.col("vec_id") % 10 != 0)
    incoming = emb.filter(F.col("vec_id") % 10 == 0)
    return incremental_semantic_dups(
        existing, incoming, threshold=0.40, n_planes=6, dim=64, plane_fn="md5"
    ).orderBy(F.col("id_new").asc(), F.col("id_old").asc())


E2K_SQL = """
WITH planes AS (
  SELECT i, list_transform(
           generate_series(0, 63),
           j -> ((('0x' || substr(md5(CAST(i AS VARCHAR) || ',' || CAST(j AS VARCHAR)), 1, 15))::BIGINT
                  % 2000001) - 1000000) / 1000000.0
         ) AS w
  FROM (SELECT unnest(generate_series(0, 5)) AS i)
),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
bits AS (
  SELECT v.vec_id, p.i,
         CASE WHEN list_reduce(
                list_prepend(0.0, list_transform(list_zip(v.e, p.w), s -> s[1] * s[2])),
                (a, b) -> a + b) >= 0
              THEN CAST(1 AS BIGINT) << p.i ELSE CAST(0 AS BIGINT) END AS term
  FROM v CROSS JOIN planes p
),
buckets AS (SELECT vec_id, CAST(SUM(term) AS BIGINT) AS bucket FROM bits GROUP BY vec_id)
SELECT n.vec_id AS id_new, o.vec_id AS id_old,
       ROUND(list_dot_product(vn.e, vo.e)
             / (sqrt(list_dot_product(vn.e, vn.e)) * sqrt(list_dot_product(vo.e, vo.e))), 6) AS cos
FROM buckets n JOIN buckets o ON n.bucket = o.bucket
JOIN v vn ON vn.vec_id = n.vec_id
JOIN v vo ON vo.vec_id = o.vec_id
WHERE n.vec_id % 10 = 0 AND o.vec_id % 10 <> 0
  AND ROUND(list_dot_product(vn.e, vo.e)
      / (sqrt(list_dot_product(vn.e, vn.e)) * sqrt(list_dot_product(vo.e, vo.e))), 6) >= 0.40
ORDER BY id_new ASC, id_old ASC
"""


def e7c_decontaminated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination SHIP form — the corpus a training run actually
    reads: every doc sharing a 4-gram with the eval slice is REMOVED
    (e7 flags them; this anti-joins them away). The contaminated set
    is a tiny minority, so the removal is one broadcast-size anti-join
    against the corpus — same ship-form shape as e2h."""
    from hbase_increment_index_spark.pipeline.dedup import cross_contamination

    docs = _t(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    flagged = cross_contamination(
        corpus, eval_set, "doc_id", "text", n=4, min_collisions=1
    ).select("doc_id")
    return (
        corpus.join(flagged, "doc_id", "left_anti")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("source").asc())
    )


def _e7c_sql() -> str:
    toks = _SQL_TOKS.format(c="text")
    grams = (
        f"list_transform(generate_series(1, greatest(len({toks}) - 3, 0)), "
        f"i -> array_to_string(list_slice({toks}, i, i + 3), ' '))"
    )
    return f"""
WITH c AS (
  SELECT DISTINCT doc_id, g
  FROM (SELECT doc_id, unnest({grams}) AS g FROM documents WHERE doc_id % 50 <> 0)
),
e AS (
  SELECT DISTINCT g
  FROM (SELECT unnest({grams}) AS g FROM documents WHERE doc_id % 50 = 0)
),
flagged AS (SELECT DISTINCT doc_id FROM c JOIN e USING (g))
SELECT source, count(*) AS n_docs
FROM documents
WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM flagged)
GROUP BY source
ORDER BY source ASC
"""


def e1d_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version diff — the audit between two corpus snapshots a
    data-versioning workflow produces (added / removed / changed /
    unchanged, decided by CONTENT fingerprint, not timestamps). The
    'new' snapshot is derived deterministically here (doc_id % 17 == 0
    removed; % 10 == 0 text edited; % 1000 == 7 re-keyed as added);
    production diffs two table versions. One full outer join on the
    id, change class from null-ness + fingerprint inequality — a
    single co-partitioned shuffle, no content comparison beyond the
    hash."""
    from hbase_increment_index_spark.pipeline.text import fingerprint

    old = _t(spark, sf_dir, "documents").select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    base = _t(spark, sf_dir, "documents")
    new = (
        base.filter(F.col("doc_id") % 17 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(" edited"))
            ).otherwise(F.col("text")),
        )
        .select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .unionByName(
            base.filter(F.col("doc_id") % 1000 == 7)
            .select((F.col("doc_id") + 1000000).alias("doc_id"), fingerprint(F.col("text")).alias("fp"))
        )
    )
    j = old.withColumnRenamed("fp", "old_fp").join(
        new.withColumnRenamed("fp", "new_fp"), "doc_id", "full_outer"
    )
    change = (
        F.when(F.col("old_fp").isNull(), "added")
        .when(F.col("new_fp").isNull(), "removed")
        .when(F.col("old_fp") != F.col("new_fp"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(change.alias("change"))
        .groupBy("change")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("change")
    )


def _e1d_sql() -> str:
    fp = _SQL_FP.format(c="text")
    fp_edited = _SQL_FP.format(c="text || ' edited'")
    return f"""
WITH old AS (SELECT doc_id, {fp} AS old_fp FROM documents),
new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0 THEN {fp_edited} ELSE {fp} END AS new_fp
  FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, {fp} AS new_fp
  FROM documents WHERE doc_id % 1000 = 7
),
j AS (
  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, o.old_fp, n.new_fp
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
)
SELECT CASE WHEN old_fp IS NULL THEN 'added'
            WHEN new_fp IS NULL THEN 'removed'
            WHEN old_fp <> new_fp THEN 'changed'
            ELSE 'unchanged' END AS change,
       count(*) AS n
FROM j
GROUP BY 1
ORDER BY change
"""


def e4l_quality_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-threshold sweep — the keep-rate curve a data team plots
    before picking a gate: for each candidate threshold, how many docs
    and tokens survive ``quality_score >= t``. ONE corpus scan: the
    per-doc features compute once, every threshold is a conditional
    aggregate over the same rows (no per-threshold re-scan), unpivoted
    via stack — the standard multi-metric sweep shape at 100 TB."""
    from hbase_increment_index_spark.pipeline.text import quality_features

    docs = _t(spark, sf_dir, "documents")
    q = quality_features(docs, "text").select("doc_id", "n_tokens", "quality_score")
    aggs = []
    for t in _SWEEP_THRESHOLDS:
        tag = str(int(t * 100))
        keep = F.col("quality_score") >= F.lit(t)
        aggs.append(F.sum(keep.cast("long")).alias(f"d{tag}"))
        aggs.append(
            F.sum(F.when(keep, F.col("n_tokens")).otherwise(F.lit(0))).alias(f"t{tag}")
        )
    wide = q.agg(*aggs)
    pairs = ", ".join(
        f"'{t:.2f}', d{int(t * 100)}, t{int(t * 100)}" for t in _SWEEP_THRESHOLDS
    )
    return wide.selectExpr(
        f"stack({len(_SWEEP_THRESHOLDS)}, {pairs}) AS (threshold, docs_kept, tokens_kept)"
    ).orderBy("threshold")


def _e4l_sql() -> str:
    score = """ROUND(0.4 * least(n_tokens / 100.0, 1.0)
             + 0.3 * (CASE WHEN raw_avg_tok >= 2 AND raw_avg_tok <= 12 THEN 1.0 ELSE 0.0 END)
             + 0.3 * least((CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END) * 5, 1.0), 6)"""
    rows = ", ".join(
        f"('{t:.2f}', {t})" for t in _SWEEP_THRESHOLDS
    )
    return f"""
WITH base AS (
  SELECT doc_id, text, {_SQL_TOKS.format(c='text')} AS toks, length(text) AS n_chars
  FROM documents
),
feat AS (
  SELECT doc_id, len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN length(regexp_replace(text, '\\s+', '', 'g')) / len(toks)
              ELSE 0.0 END AS raw_avg_tok,
         len(list_filter(toks, t -> list_contains({_EN_STOP_SQL}, t))) AS n_stop
  FROM base
),
scored AS (SELECT doc_id, n_tokens, {score} AS q FROM feat),
thresholds(threshold, t) AS (VALUES {rows})
SELECT threshold,
       CAST(SUM(CASE WHEN q >= t THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
       CAST(SUM(CASE WHEN q >= t THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
FROM scored, thresholds
GROUP BY threshold
ORDER BY threshold
"""


_EPOCH_FACTORS = {"src1": 2.5, "src2": 1.25, "src3": 0.5}  # others: 1.0


def e6g_repeat_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epoch factors — the LLaMA-recipe mixture knob
    ("wikipedia: 2.45 epochs"): each document is replicated
    floor(f) times and kept once more with probability frac(f),
    decided by a content hash so the realized mixture is deterministic
    and rerun-stable (the same discipline as e6 splits/samples and
    e11's temperature mixture, which computes the RATES this operator
    applies as epochs). Zero shuffle on the corpus: factors ride a
    broadcast literal frame, replication is one explode(sequence).
    Output: per-source doc and copy counts (the realized recipe)."""
    from hbase_increment_index_spark.pipeline.dedup import portable_hash60

    docs = _t(spark, sf_dir, "documents")
    factors = spark.createDataFrame(
        [(s, float(f)) for s, f in sorted(_EPOCH_FACTORS.items())], ["source", "f"]
    )
    j = docs.join(F.broadcast(factors), "source", "left").withColumn(
        "f", F.coalesce(F.col("f"), F.lit(1.0))
    )
    whole = F.floor(F.col("f")).cast("int")
    frac_keep = (
        (portable_hash60(F.concat(F.lit("rep:"), F.col("doc_id").cast("string"))) % 1000000)
        < ((F.col("f") - F.floor(F.col("f"))) * 1000000).cast("long")
    ).cast("int")
    copies = j.select("doc_id", "source", (whole + frac_keep).alias("n_copies"))
    return (
        copies.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_copies").cast("bigint").alias("total_copies"),
        )
        .orderBy(F.col("source").asc())
    )


def _e6g_sql() -> str:
    from hbase_increment_index_spark.pipeline.dedup import PORTABLE_HASH60_SQL

    h = PORTABLE_HASH60_SQL.format(c="'rep:' || CAST(doc_id AS VARCHAR)")
    cases = " ".join(
        f"WHEN source = '{s}' THEN {f}" for s, f in sorted(_EPOCH_FACTORS.items())
    )
    return f"""
WITH j AS (
  SELECT doc_id, source, CASE {cases} ELSE 1.0 END AS f FROM documents
),
c AS (
  SELECT doc_id, source,
         CAST(FLOOR(f) AS INT)
         + CASE WHEN {h} % 1000000 < CAST((f - FLOOR(f)) * 1000000 AS BIGINT)
                THEN 1 ELSE 0 END AS n_copies
  FROM j
)
SELECT source, count(*) AS n_docs, CAST(SUM(n_copies) AS BIGINT) AS total_copies
FROM c
GROUP BY source
ORDER BY source ASC
"""


def e13b_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data delivery manifest: the artifact a training job
    uses to verify it received exactly the intended epoch — per shard
    (content-hash bucket): doc count, token volume, and an order-
    sensitive md5 checksum over the shard's doc ids in epoch order.
    Any dropped/duplicated/reordered document changes the checksum.

    Plan: shard id and epoch key are pure projections (e13/e6
    machinery); one groupBy(shard) whose per-shard order is made
    deterministic by sorting the collected (key, id) structs INSIDE
    the aggregate — no global sort, no window. At 100 TB each shard's
    id list is bounded by the shard size you chose (manifest rows =
    n_shards)."""
    from hbase_increment_index_spark.pipeline.dedup import portable_hash60
    from hbase_increment_index_spark.search.tokenize import tokens

    docs = _t(spark, sf_dir, "documents")
    keyed = docs.select(
        F.col("doc_id"),
        F.size(tokens("text")).alias("n_tok"),
        (portable_hash60(F.col("doc_id").cast("string")) % 8).alias("shard"),
        F.md5(F.concat(F.lit("epoch1:"), F.col("doc_id").cast("string"))).alias("ok"),
    )
    return (
        keyed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("ok", "doc_id"))),
                        lambda s: s["doc_id"].cast("string"),
                    ),
                    ",",
                )
            ).alias("checksum"),
        )
        .orderBy(F.col("shard").asc())
    )


def _e13b_sql() -> str:
    from hbase_increment_index_spark.pipeline.dedup import PORTABLE_HASH60_SQL

    h = PORTABLE_HASH60_SQL.format(c="CAST(doc_id AS VARCHAR)")
    toks = _SQL_TOKS.format(c="text")
    return f"""
WITH keyed AS (
  SELECT doc_id, len({toks}) AS n_tok, {h} % 8 AS shard,
         md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS ok
  FROM documents
)
SELECT shard, count(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY ok, doc_id)) AS checksum
FROM keyed
GROUP BY shard
ORDER BY shard ASC
"""


def e12c_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020): corpus
    terciled by LM quality — docs under the 1/3 and 2/3 nll quantiles
    form head and middle, the rest tail; downstream pipelines keep
    head+middle or re-weight by bucket. The two thresholds are a
    1-row broadcast (exact interpolated percentiles); the bucket label
    is then a pure projection over the e12 scores — no sort of the
    corpus, no ntile window."""
    from hbase_increment_index_spark.pipeline.text import unigram_logprob

    docs = _t(spark, sf_dir, "documents")
    scored = unigram_logprob(docs, "doc_id", "text")
    cuts = scored.agg(
        F.expr("percentile(nll, 1.0D/3.0D)").alias("p33"),
        F.expr("percentile(nll, 2.0D/3.0D)").alias("p66"),
    )
    bucketed = scored.crossJoin(F.broadcast(cuts)).withColumn(
        "bucket",
        F.when(F.col("nll") <= F.col("p33"), "1_head")
        .when(F.col("nll") <= F.col("p66"), "2_middle")
        .otherwise("3_tail"),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("tokens"),
            F.round(
                F.sum(F.col("nll").cast("decimal(30,5)")).cast("double") / F.count(F.lit(1)), 5
            ).alias("mean_nll"),
        )
        .orderBy("bucket")
    )


E12C_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({{toks}}) AS term FROM documents
),
doc_tf AS (SELECT doc_id, term, count(*) AS tf_d FROM toks GROUP BY 1, 2),
vocab AS (SELECT term, count(*) AS ctf FROM toks GROUP BY 1),
n AS (SELECT CAST(SUM(ctf) AS DOUBLE) AS n_total FROM vocab),
scored AS (
  SELECT doc_id, CAST(SUM(tf_d) AS BIGINT) AS n_tokens,
         ROUND(-SUM(tf_d * ln(ctf / n_total)) / SUM(tf_d), 5) AS nll
  FROM doc_tf JOIN vocab USING (term), n
  GROUP BY doc_id
),
cuts AS (
  SELECT quantile_cont(nll, 1.0/3.0) AS p33, quantile_cont(nll, 2.0/3.0) AS p66 FROM scored
)
SELECT CASE WHEN nll <= p33 THEN '1_head'
            WHEN nll <= p66 THEN '2_middle'
            ELSE '3_tail' END AS bucket,
       count(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens,
       ROUND(CAST(SUM(CAST(nll AS DECIMAL(30,5))) AS DOUBLE) / count(*), 5) AS mean_nll
FROM scored, cuts
GROUP BY 1
ORDER BY bucket
""".replace("{toks}", _SQL_TOKS.format(c="text"))


def e12b_bigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM + stupid backoff (Brants et al. 2007): odd docs scored
    under a bigram model trained on even docs — held-out split so
    unseen bigrams exercise the backoff leg. Top-25 most improbable
    (pipeline.text.bigram_logprob_backoff)."""
    from hbase_increment_index_spark.pipeline.text import bigram_logprob_backoff

    docs = _t(spark, sf_dir, "documents")
    lm = docs.filter(F.col("doc_id") % 2 == 0)
    score = docs.filter(F.col("doc_id") % 2 == 1)
    return (
        bigram_logprob_backoff(score, lm, "doc_id", "text")
        .orderBy(F.col("nll").desc(), F.col("doc_id").asc())
        .limit(25)
    )


def _e12b_sql() -> str:
    toks = _SQL_TOKS.format(c="text")
    grams = (
        f"list_transform(generate_series(1, greatest(len({toks}) - 1, 0)), "
        f"i -> array_to_string(list_slice({toks}, i, i + 1), ' '))"
    )
    return f"""
WITH lm_toks AS (
  SELECT unnest({toks}) AS term FROM documents WHERE doc_id % 2 = 0
),
c1 AS (SELECT term, count(*) AS c1 FROM lm_toks GROUP BY 1),
totals AS (
  SELECT CAST(SUM(c1) AS DOUBLE) AS n_total, CAST(COUNT(*) AS DOUBLE) AS v_size FROM c1
),
lm_bi AS (
  SELECT g, count(*) AS c2
  FROM (SELECT unnest({grams}) AS g FROM documents WHERE doc_id % 2 = 0)
  GROUP BY 1
),
doc_bi AS (
  SELECT doc_id, g, count(*) AS tf_b,
         string_split(g, ' ')[1] AS u, string_split(g, ' ')[2] AS w
  FROM (SELECT doc_id, unnest({grams}) AS g FROM documents WHERE doc_id % 2 = 1)
  GROUP BY doc_id, g
),
j AS (
  SELECT d.doc_id, d.tf_b,
         CASE WHEN lb.c2 IS NOT NULL AND cu.c1 IS NOT NULL
              THEN ln(lb.c2 / cu.c1)
              ELSE ln(0.4 * (COALESCE(cw.c1, 0) + 1.0) / (t.n_total + t.v_size))
         END AS lp
  FROM doc_bi d
  LEFT JOIN lm_bi lb USING (g)
  LEFT JOIN c1 cu ON cu.term = d.u
  LEFT JOIN c1 cw ON cw.term = d.w
  CROSS JOIN totals t
)
SELECT doc_id, CAST(SUM(tf_b) AS BIGINT) AS n_bigrams,
       ROUND(-SUM(tf_b * lp) / SUM(tf_b), 5) AS nll
FROM j
GROUP BY doc_id
ORDER BY nll DESC, doc_id ASC
LIMIT 25
"""


def e4f_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hbase_increment_index_spark.pipeline.text import bpe_ish_token_count, token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_words"),
        bpe_ish_token_count("text").alias("n_bpe_ish"),
    )


E4F_SQL = r"""
SELECT doc_id,
       len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS n_words,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_ish
FROM documents
"""


def e4g_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails / IPv4s / phone numbers → typed
    placeholders) with per-doc match counts — pipeline.text.scrub_pii
    over the corpus enriched with deterministic synthetic PII."""
    from hbase_increment_index_spark.pipeline.text import scrub_pii

    docs = _t(spark, sf_dir, "documents")
    enriched = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com via 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 tel 555-123-"),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        ).alias("text"),
    )
    return scrub_pii(enriched, "text", out_col="clean_text")


def _e4g_sql() -> str:
    from hbase_increment_index_spark.pipeline.text import PII_PATTERNS

    pats = {name: pat for name, pat, _ in PII_PATTERNS}
    repl = "text"
    for name, pat, token in PII_PATTERNS:
        repl = f"regexp_replace({repl}, '{pat}', '{token}', 'g')"
    counts = ",\n       ".join(
        f"len(regexp_extract_all(text, '{pats[name]}')) AS n_{name}"
        for name, _, _ in PII_PATTERNS
    )
    return f"""
WITH enriched AS (
  SELECT doc_id, {_PII_SUFFIX_SQL} AS text FROM documents
)
SELECT doc_id, text,
       {counts},
       {repl} AS clean_text
FROM enriched
"""


def e4h_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/boilerplate features per document."""
    from hbase_increment_index_spark.pipeline.text import repetition_features

    docs = _t(spark, sf_dir, "documents")
    return repetition_features(docs, "doc_id", "text")


def _e4h_sql() -> str:
    toks = _SQL_TOKS.format(c="text")

    def grams(n: int) -> str:
        return (
            f"list_transform(generate_series(1, greatest(len(t) - {n - 1}, 0)), "
            f"i -> array_to_string(list_slice(t, i, i + {n - 1}), ' '))"
        )

    return f"""
WITH staged AS (
  SELECT doc_id, {toks} AS t FROM documents
),
g AS (
  SELECT doc_id, t, {grams(2)} AS bi, {grams(3)} AS tri FROM staged
)
SELECT doc_id,
       len(t) AS n_tokens,
       CASE WHEN len(t) > 0
            THEN ROUND(len(list_distinct(t)) / len(t), 6) ELSE 0.0 END AS type_token_ratio,
       CASE WHEN len(bi) > 0
            THEN ROUND(1 - len(list_distinct(bi)) / len(bi), 6) ELSE 0.0 END AS dup_bigram_frac,
       CASE WHEN len(tri) > 0
            THEN ROUND(1 - len(list_distinct(tri)) / len(tri), 6) ELSE 0.0 END AS dup_trigram_frac,
       CASE WHEN len(t) > 0
            THEN ROUND(list_max(list_transform(list_distinct(t),
                         w -> len(list_filter(t, x -> x = w)))) / len(t), 6)
            ELSE 0.0 END AS top_token_frac
FROM g
"""


# --------------------------------------------------------------------------
# E1–E5 — LLM-pipeline extensions
# --------------------------------------------------------------------------

def e1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy(fingerprint("text")).orderBy(F.col("doc_id").asc())
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "lang", "source")
    )


E1_SQL = f"""
SELECT doc_id, lang, source
FROM documents
QUALIFY row_number() OVER (
  PARTITION BY {_SQL_FP.format(c='text')} ORDER BY doc_id ASC) = 1
"""


def e1b_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = duplicate_clusters(docs, "doc_id", "text")
    return out.select(
        "fp",
        "cluster_size",
        F.element_at("member_ids", 1).alias("min_id"),
        F.element_at("member_ids", -1).alias("max_id"),
    )


E1B_SQL = f"""
SELECT {_SQL_FP.format(c='text')} AS fp,
       count(*) AS cluster_size,
       min(doc_id) AS min_id,
       max(doc_id) AS max_id
FROM documents
GROUP BY 1
HAVING count(*) > 1
"""


def e1c_dedup_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup exercised on a corpus that actually contains
    duplicates (documents unioned with a re-keyed copy of itself):
    each text collapses to its minimum doc_id — sizes and survivors
    are oracle-checked, not just trivially empty like e1b on the
    dup-free fixture."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    corpus = docs.unionByName(dup)
    w = Window.partitionBy(fingerprint("text")).orderBy(F.col("doc_id").asc())
    kept = (
        corpus.withColumn("_rn", F.row_number().over(w))
        .withColumn("_sz", F.count(F.lit(1)).over(Window.partitionBy(fingerprint("text"))))
        .filter(F.col("_rn") == 1)
        .select("doc_id", F.col("_sz").alias("cluster_size"))
    )
    return kept


E1C_SQL = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
)
SELECT min(doc_id) AS doc_id, count(*) AS cluster_size
FROM corpus
GROUP BY {_SQL_FP.format(c='text')}
"""


def e2_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.30)


E2_SQL = f"""
WITH sh AS (
  SELECT DISTINCT doc_id AS doc,
         unnest(list_distinct(
           list_transform(
             generate_series(1, greatest(len({_SQL_TOKS.format(c='text')}) - 2, 0)),
             i -> array_to_string(list_slice({_SQL_TOKS.format(c='text')}, i, i + 2), ' ')
           ))) AS sh
  FROM documents
),
sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS common
  FROM sh a JOIN sh b USING (sh)
  WHERE a.doc < b.doc
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(common / (sa.n_sh + sb.n_sh - common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc = id_a
JOIN sizes sb ON sb.doc = id_b
WHERE ROUND(common / (sa.n_sh + sb.n_sh - common), 6) >= 0.30
"""


def e2f_incremental_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection — dedup the DELTA against the
    corpus, the continuously-crawled-pipeline shape: documents split
    deterministically into existing (doc_id % 10 != 0) and incoming
    (doc_id % 10 == 0); flag incoming docs near-duplicating existing
    ones. Bipartite shingle join: no old×old pairing work ever runs."""
    from hbase_increment_index_spark.pipeline.dedup import incremental_near_dups

    docs = _t(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 10 != 0)
    incoming = docs.filter(F.col("doc_id") % 10 == 0)
    return incremental_near_dups(
        existing, incoming, "doc_id", "text", n=3, threshold=0.30
    )


E2F_SQL = f"""
WITH sh AS (
  SELECT DISTINCT doc_id AS doc, doc_id % 10 = 0 AS is_new,
         unnest(list_distinct(
           list_transform(
             generate_series(1, greatest(len({_SQL_TOKS.format(c='text')}) - 2, 0)),
             i -> array_to_string(list_slice({_SQL_TOKS.format(c='text')}, i, i + 2), ' ')
           ))) AS sh
  FROM documents
),
sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS id_new, b.doc AS id_old, count(*) AS common
  FROM sh a JOIN sh b USING (sh)
  WHERE a.is_new AND NOT b.is_new
  GROUP BY 1, 2
)
SELECT id_new, id_old,
       ROUND(common / (sa.n_sh + sb.n_sh - common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc = id_new
JOIN sizes sb ON sb.doc = id_old
WHERE ROUND(common / (sa.n_sh + sb.n_sh - common), 6) >= 0.30
"""


def e2e_ngram_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e2 with the skew guard ACTIVE (max_shingle_df=20): ubiquitous
    shingles are dropped before the self-join — the 100 TB hot-key
    mitigation (SCALE.md) — and the oracle mirrors the ceiling, so the
    guarded plan's exact output is verified, not just the unguarded
    one."""
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.30, max_shingle_df=20
    )


E2E_SQL = f"""
WITH sh0 AS (
  SELECT DISTINCT doc_id AS doc,
         unnest(list_distinct(
           list_transform(
             generate_series(1, greatest(len({_SQL_TOKS.format(c='text')}) - 2, 0)),
             i -> array_to_string(list_slice({_SQL_TOKS.format(c='text')}, i, i + 2), ' ')
           ))) AS sh
  FROM documents
),
rare AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 20),
sh AS (SELECT sh0.* FROM sh0 JOIN rare USING (sh)),
sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS common
  FROM sh a JOIN sh b USING (sh)
  WHERE a.doc < b.doc
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(common / (sa.n_sh + sb.n_sh - common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc = id_a
JOIN sizes sb ON sb.doc = id_b
WHERE ROUND(common / (sa.n_sh + sb.n_sh - common), 6) >= 0.30
"""


def e2b_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, fully oracle-checked: signatures use
    the portable md5-derived shingle hash so DuckDB reproduces the lane
    minima, band buckets, candidate set, AND verified jaccard exactly.
    (Production default stays xxhash64 — only the string→int kernel
    differs.) Signature lane: the numpy kernel (default; ~3× faster
    than the expression lane at 64 perms, bit-identical output)."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "doc_id", "text", num_perm=64, bands=16, threshold=0.30,
        impl="pandas", hash_fn="md5",
    )


def _e2b_sql() -> str:
    return f"WITH {_minhash_sql_ctes()}\nSELECT id_a, id_b, jaccard FROM pairs"


def _e2d_sql() -> str:
    """Near-dup clusters oracle: minhash pairs (portable hash) →
    transitive closure via recursive CTE → component = min reachable
    id (exactly what label propagation converges to)."""
    return f"""
WITH RECURSIVE {_minhash_sql_ctes()},
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (SELECT u, least(u, min(v)) AS component FROM reach GROUP BY u)
SELECT u AS doc_id, component, (component = u) AS is_canonical FROM comp
"""


def e2d_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering end-to-end (LSH pairs → connected
    components → canonical flags), fully oracle-checked: portable-hash
    pairs (numpy pandas kernel — bit-identical to the expression path)
    and label propagation converges to min-id-per-component, which the
    oracle rebuilds as a recursive-CTE transitive closure."""
    from hbase_increment_index_spark.pipeline.dedup import near_dup_clusters

    docs = _t(spark, sf_dir, "documents")
    out = near_dup_clusters(
        docs, "doc_id", "text", threshold=0.30, num_perm=64, bands=16,
        impl="pandas", hash_fn="md5",
    )
    return out.filter(F.col("component").isNotNull())


def e2c_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3 over a 60-bit signature),
    fully oracle-checked via the portable md5 token hash — DuckDB
    rebuilds the same per-bit sums, packed signatures, block-join
    candidates, and hamming verify. (64-bit xxhash64 remains the
    production default, covered by unit tests.)"""
    docs = _t(spark, sf_dir, "documents")
    return simhash_pairs(docs, "doc_id", "text", max_hamming=3, bits=60, hash_fn="md5")


def _e2c_sql() -> str:
    from hbase_increment_index_spark.pipeline.dedup import PORTABLE_HASH60_SQL

    toks = _SQL_TOKS.format(c="text")
    h = PORTABLE_HASH60_SQL.format(c="t")
    return f"""
WITH tok AS (
  SELECT doc_id AS doc, unnest({toks}) AS t
  FROM documents WHERE len({toks}) > 0
),
th AS (SELECT doc, {h} AS hv FROM tok),
bitsums AS (
  SELECT doc, b.i AS i,
         SUM(CASE WHEN (hv >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS i) b
  GROUP BY doc, b.i
),
sig AS (
  SELECT doc,
         CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << i)
                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
  FROM bitsums GROUP BY doc
),
blk AS (
  SELECT doc, sig, b.i AS blk, (sig >> (15 * b.i)) & 32767 AS bv
  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) b
),
cand AS (
  SELECT DISTINCT x.doc AS id_a, y.doc AS id_b,
         x.sig AS sig_a, y.sig AS sig_b
  FROM blk x JOIN blk y USING (blk, bv)
  WHERE x.doc < y.doc
)
SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= 3
"""


def e3_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()["embedding"]]
    return knn_brute_force(emb.filter(F.col("vec_id") != 0), qvec, k=10)


E3_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       ROUND(
         list_dot_product(CAST(embedding AS DOUBLE[]), q.qv)
         / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
            * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY score DESC, vec_id ASC
LIMIT 10
"""


def e3b_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate kNN, fully value-checked: the coarse cells
    are the exact-decimal label centroids (bit-portable across engines,
    similarity.label_cell_centroids), assignment and probe selection
    round their squared distances identically on both sides, so the
    probed shard — and therefore the returned top-k — is deterministic,
    not index-construction-dependent. Probes 2 of 10 inverted lists,
    exact cosine rank inside them (the 100 TB path: partition-pruned
    read of n_probe/n_cells of the corpus)."""
    from hbase_increment_index_spark.pipeline.similarity import (
        assign_cells,
        knn_ivf,
        label_cell_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()["embedding"]]
    centroids = label_cell_centroids(emb)
    assignments = assign_cells(emb, centroids, dist_decimals=6)
    return knn_ivf(
        emb.filter(F.col("vec_id") != 0),
        centroids,
        assignments,
        qvec,
        k=10,
        n_probe=2,
        dist_decimals=6,
    )


E3B_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
cent_long AS (
  SELECT label, i AS pos,
         ROUND(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(27,10))) AS DOUBLE)
               / COUNT(*), 6) AS mean_v
  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
  GROUP BY label, i
),
cents AS (
  SELECT CAST(label AS BIGINT) AS cid, list(mean_v ORDER BY pos) AS c
  FROM cent_long GROUP BY label
),
assign AS (
  SELECT v.vec_id, v.e, cents.cid,
         ROUND(list_sum(list_transform(generate_series(1, len(v.e)),
                                       i -> (v.e[i]-cents.c[i])*(v.e[i]-cents.c[i]))), 6) AS d
  FROM v CROSS JOIN cents
),
best AS (
  SELECT vec_id, e, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rn
  FROM assign
),
probes AS (
  SELECT cid FROM (
    SELECT cents.cid,
           ROUND(list_sum(list_transform(generate_series(1, len(q.qe)),
                                         i -> (q.qe[i]-cents.c[i])*(q.qe[i]-cents.c[i]))), 6) AS d
    FROM cents, q
  ) ORDER BY d ASC, cid ASC LIMIT 2
),
scored AS (
  SELECT b.vec_id,
         ROUND(list_dot_product(b.e, q.qe)
               / (sqrt(list_dot_product(b.e, b.e)) * sqrt(list_dot_product(q.qe, q.qe))), 6) AS score
  FROM best b JOIN probes USING (cid), q
  WHERE b.rn = 1 AND b.vec_id <> 0
)
SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id ASC LIMIT 10
"""


def e3c_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine >= 0.40, id_a < id_b).

    Brute-force all-pairs is the exactness baseline; the banded scale
    path is e3d (LSH buckets). The join is a crossJoin pruned by the
    threshold filter — at 100 TB you run e3d and verify candidates
    with this scorer."""
    from hbase_increment_index_spark.pipeline.similarity import cosine

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").cast("array<double>").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").cast("array<double>").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos") >= 0.40)
        .select("id_a", "id_b", "cos")
    )


E3C_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.e, b.e)
             / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cos
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.e, b.e)
      / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.40
"""


def e3d_lsh_bucket_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucket histogram — the partition-pruning scale
    path for e3c. Fully oracle-checked: planes come from the portable
    md5 hash as exact rationals, and the dot product is a left fold in
    both engines, so bucket assignment is bit-reproducible."""
    from hbase_increment_index_spark.pipeline.similarity import build_lsh_buckets

    emb = _t(spark, sf_dir, "embeddings")
    return build_lsh_buckets(emb, n_planes=6, dim=64, plane_fn="md5").groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n")
    )


E3D_SQL = """
WITH planes AS (
  SELECT i, list_transform(
           generate_series(0, 63),
           j -> ((('0x' || substr(md5(CAST(i AS VARCHAR) || ',' || CAST(j AS VARCHAR)), 1, 15))::BIGINT
                  % 2000001) - 1000000) / 1000000.0
         ) AS w
  FROM (SELECT unnest(generate_series(0, 5)) AS i)
),
bits AS (
  SELECT e.vec_id, p.i,
         CASE WHEN list_reduce(
                list_prepend(0.0, list_transform(
                  list_zip(CAST(e.embedding AS DOUBLE[]), p.w), s -> s[1] * s[2])),
                (a, b) -> a + b) >= 0
              THEN CAST(1 AS BIGINT) << p.i ELSE CAST(0 AS BIGINT) END AS term
  FROM embeddings e CROSS JOIN planes p
),
buckets AS (SELECT vec_id, CAST(SUM(term) AS BIGINT) AS bucket FROM bits GROUP BY vec_id)
SELECT bucket, count(*) AS n FROM buckets GROUP BY bucket
"""


def e4e_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top token bigrams — shingle construction parity check (n=2)."""
    from hbase_increment_index_spark.pipeline.dedup import shingle_grams

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(shingle_grams("text", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(20)
    )


E4E_SQL = f"""
WITH toks AS (SELECT {_SQL_TOKS.format(c='text')} AS t FROM documents),
grams AS (
  SELECT unnest(list_transform(
           generate_series(1, greatest(len(t) - 1, 0)),
           i -> array_to_string(list_slice(t, i, i + 1), ' ')
         )) AS bigram
  FROM toks
)
SELECT bigram, count(*) AS n
FROM grams
GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT 20
"""


def e3e_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN: top-3 corpus neighbours for each of 5 query vectors
    (similarity.knn_join_brute_force — broadcast queries, corpus
    scanned once, per-query window ranking)."""
    from hbase_increment_index_spark.pipeline.similarity import knn_join_brute_force

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return knn_join_brute_force(emb, queries, k=3)


E3E_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 5),
scored AS (
  SELECT q_id, vec_id,
         ROUND(list_dot_product(e, qe)
               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))), 6) AS score
  FROM v CROSS JOIN q
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rn
  FROM scored
)
SELECT q_id, vec_id, score FROM r WHERE rn <= 3
"""


def e3f_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding corpus
    (similarity.quantize_int8): per-vector scale + CSV-serialized
    codes + integer checksum; zero-shuffle projection."""
    from hbase_increment_index_spark.pipeline.similarity import quantize_int8

    emb = _t(spark, sf_dir, "embeddings")
    return quantize_int8(emb)


E3F_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
s AS (
  SELECT vec_id, e,
         list_max(list_transform(e, x -> abs(x))) / 127.0 AS sc
  FROM v
),
q AS (
  SELECT vec_id, sc,
         list_transform(e, x -> CAST(floor(x / sc + 0.5) AS BIGINT)) AS qv
  FROM s
)
SELECT vec_id,
       ROUND(sc, 9) AS scale,
       array_to_string(list_transform(qv, x -> CAST(x AS VARCHAR)), ',') AS q_csv,
       CAST(list_sum(qv) AS BIGINT) AS q_sum
FROM q
"""


def e3g_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label class centroids over the embedding corpus
    (similarity.label_centroids): exact-decimal per-dimension sums so
    the centroid is identical under any partitioning."""
    from hbase_increment_index_spark.pipeline.similarity import label_centroids

    emb = _t(spark, sf_dir, "embeddings")
    return label_centroids(emb)


E3G_SQL = """
WITH x AS (
  SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
)
SELECT label, pos,
       ROUND(CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 6) AS mean_v,
       COUNT(*) AS n
FROM x
GROUP BY label, pos
"""


def e8_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over events (user_id × event-time
    second): the multi-column data-skipping sort key for 100 TB writes
    (functions.layout.zorder_key — pure codegen'd bit interleave).
    Emits (event_id, zkey); the write side sorts by zkey so parquet
    min/max stats prune on BOTH dimensions."""
    from hbase_increment_index_spark.functions.layout import zorder_key, zorder_rank

    events = _t(spark, sf_dir, "events")
    sec = F.expr(
        "timestampdiff(SECOND, make_timestamp_ntz(1970, 1, 1, 0, 0, 0), ts)"
    )
    z = zorder_key([zorder_rank("user_id"), zorder_rank(sec)], bits=16)
    return events.select("event_id", z.alias("zkey"))


E8_SQL = f"""
WITH x AS (
  SELECT event_id,
         user_id % 65536 AS u,
         (epoch_us(ts) // 1000000) % 65536 AS s
  FROM events
)
SELECT event_id, CAST({_z_sql_terms('u', 's')} AS BIGINT) AS zkey FROM x
"""


def e7_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing a distinct
    4-gram shingle with a held-out eval slice (doc_id % 50 == 0; the
    eval docs themselves are excluded from the scan)."""
    from hbase_increment_index_spark.pipeline.dedup import cross_contamination

    docs = _t(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return cross_contamination(corpus, eval_set, "doc_id", "text", n=4, min_collisions=1)


def _e7_sql() -> str:
    toks = _SQL_TOKS.format(c="text")
    grams = (
        f"list_transform(generate_series(1, greatest(len({toks}) - 3, 0)), "
        f"i -> array_to_string(list_slice({toks}, i, i + 3), ' '))"
    )
    return f"""
WITH c AS (
  SELECT DISTINCT doc_id, g
  FROM (SELECT doc_id, unnest({grams}) AS g FROM documents WHERE doc_id % 50 <> 0)
),
e AS (
  SELECT DISTINCT g
  FROM (SELECT unnest({grams}) AS g FROM documents WHERE doc_id % 50 = 0)
)
SELECT doc_id, count(*) AS n_collisions
FROM c JOIN e USING (g)
GROUP BY doc_id
HAVING count(*) >= 1
"""


def e7d_decontaminate_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-SERVED decontamination (e7's serving twin): the corpus
    side comes from the PERSISTED 4-gram postings store — the layout
    merge_shingle_postings maintains — and each screen shingles ONLY
    the eval slice and probes through the bounded bucket IN-list
    (pipeline.dedup.decontaminate_from_index). The 100 TB posture:
    eval sets arrive far more often than the corpus changes, so the
    per-screen cost is ∝ |eval shingles| + matched buckets, with zero
    corpus text in the serve plan. Registry form builds the store
    in-plan (the e2o bootstrap discipline so the oracle replays every
    stage); store-serve ≡ direct is pinned by the shared e7 oracle
    shape and pytest."""
    from hbase_increment_index_spark.pipeline.dedup import (
        build_shingle_postings,
        decontaminate_from_index,
    )

    docs = _t(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    store = build_shingle_postings(corpus, "doc_id", "text", n=4)
    return (
        decontaminate_from_index(
            store, eval_set, "doc_id", "text", n=4, min_collisions=1
        )
        .select(F.col("doc").alias("doc_id"), "n_collisions")
        .orderBy("doc_id")
    )


def _e7d_sql() -> str:
    toks = _SQL_TOKS.format(c="text")
    grams = (
        f"list_transform(generate_series(1, greatest(len({toks}) - 3, 0)), "
        f"i -> array_to_string(list_slice({toks}, i, i + 3), ' '))"
    )
    return f"""
WITH c AS (
  SELECT DISTINCT doc_id, g
  FROM (SELECT doc_id, unnest({grams}) AS g FROM documents WHERE doc_id % 50 <> 0)
),
e AS (
  SELECT DISTINCT g
  FROM (SELECT unnest({grams}) AS g FROM documents WHERE doc_id % 50 = 0)
)
SELECT doc_id, count(*) AS n_collisions
FROM c JOIN e USING (g)
GROUP BY doc_id
HAVING count(*) >= 1
ORDER BY doc_id
"""


def e4_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tf = term_frequencies(docs, "doc_id", "text")
    return tf.orderBy(F.col("tf").desc(), F.col("term").asc()).limit(25)


E4_TOKENS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKS.format(c='text')}) AS term FROM documents
)
SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
FROM toks
GROUP BY term
ORDER BY tf DESC, term ASC
LIMIT 25
"""


def e4b_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = quality_features(docs, "text")
    return out.select(
        "doc_id", "n_tokens", "avg_token_len", "punct_ratio", "stopword_ratio", "quality_score"
    )


_EN_STOP_SQL = "['" + "', '".join(STOPWORDS["en"]) + "']"
E4B_SQL = f"""
WITH base AS (
  SELECT doc_id, text,
         {_SQL_TOKS.format(c='text')} AS toks,
         length(text) AS n_chars
  FROM documents
),
feat AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN length(regexp_replace(text, '\\s+', '', 'g')) / len(toks)
              ELSE 0.0 END AS raw_avg_tok,
         n_chars - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
         n_chars,
         len(list_filter(toks, t -> list_contains({_EN_STOP_SQL}, t))) AS n_stop
  FROM base
)
SELECT doc_id, n_tokens,
       ROUND(raw_avg_tok, 6) AS avg_token_len,
       ROUND(CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END, 6) AS punct_ratio,
       ROUND(CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END, 6) AS stopword_ratio,
       ROUND(0.4 * least(n_tokens / 100.0, 1.0)
             + 0.3 * (CASE WHEN raw_avg_tok >= 2 AND raw_avg_tok <= 12 THEN 1.0 ELSE 0.0 END)
             + 0.3 * least((CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END) * 5, 1.0), 6)
         AS quality_score
FROM feat
"""


def e4c_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = language_id(docs, "text")
    return out.select("doc_id", "lang", "lang_pred", "lang_pred_hits")


E4C_SQL = _langid_sql()


def e4d_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp"))


E4D_SQL = f"SELECT doc_id, {_SQL_FP.format(c='text')} AS fp FROM documents"


def e5_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    joined = docs.join(emb.withColumnRenamed("vec_id", "doc_id"), "doc_id", "inner")
    return joined.select("doc_id", "lang", "n_chars", "label", F.size("embedding").alias("dim"))


E5_SQL = """
SELECT doc_id, lang, n_chars, label, len(embedding) AS dim
FROM documents JOIN embeddings ON doc_id = vec_id
"""


def e5b_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode through the REAL mapInPandas plumbing,
    value-checked end-to-end: the no-deps decoder's byte-histogram
    feature (lane k = sum of payload bytes at positions ≡ k mod 8,
    over payload length) is re-derived in SQL, so the Arrow batch
    path is hash-verified, not just row-counted. Feature lanes are
    exploded to rows — integer byte sums and one IEEE division are
    bit-exact across engines, no rounding needed. (Real-pixel decode
    stays capability-selected; see pipeline.multimodal.select_decoder.)"""
    docs = _t(spark, sf_dir, "documents")
    media = synth_media(docs)
    feats = extract_features(media)
    return feats.select(
        "media_id", "kind", "n_bytes", F.posexplode("feature").alias("lane", "feat")
    )


def e5c_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling over typed media metadata: one row per
    sampled offset (explode of a sequence — the decode itself only runs
    on sampled frames). Oracle: the same arithmetic in SQL."""
    from hbase_increment_index_spark.pipeline.multimodal import sample_frames

    docs = _t(spark, sf_dir, "documents")
    media = synth_media(docs, kind="video")
    frames = sample_frames(media, every_ms=60000)
    return frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("n_frames"))


E5C_SQL = """
SELECT doc_id AS media_id,
       CAST((n_chars * 10) // 60000 + 1 AS BIGINT) AS n_frames
FROM documents
"""

# DuckDB twin of DeterministicFakeDecoder.decode over synth_media
# payloads (utf-8 bytes of text; fixtures are pure ASCII, so
# ord(char) == byte and length == octet_length — asserted exact by the
# integer byte sums and single IEEE division per lane).
E5B_SQL = """
WITH m AS (
  SELECT doc_id AS media_id, 'image' AS kind, text,
         GREATEST(length(text), 1) AS n,
         CAST(length(text) AS BIGINT) AS n_bytes
  FROM documents
),
b AS (
  SELECT media_id, CAST(i % 8 AS INT) AS lane,
         ord(substr(text, CAST(i AS INT) + 1, 1)) AS byte
  FROM m, unnest(range(0, n)) AS t(i)
),
l AS (
  SELECT media_id, lane, CAST(SUM(byte) AS DOUBLE) AS s
  FROM b GROUP BY 1, 2
)
SELECT m.media_id, m.kind, m.n_bytes, l.lane, l.s / m.n AS feat
FROM m JOIN l USING (media_id)
"""


def e6a_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by hashed doc id (10% val,
    5% test) — per-document assignment, value-checked by the oracle."""
    from hbase_increment_index_spark.pipeline.sampling import train_val_split

    docs = _t(spark, sf_dir, "documents")
    return train_val_split(docs, "doc_id", val_frac=0.10, test_frac=0.05).select(
        "doc_id", "split"
    )


E6A_SQL = f"""
SELECT doc_id,
       CASE WHEN {_SQL_BUCKET.format(salt='split', c='doc_id')} < 100000 THEN 'val'
            WHEN {_SQL_BUCKET.format(salt='split', c='doc_id')} < 150000 THEN 'test'
            ELSE 'train' END AS split
FROM documents
"""


def e6b_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing downsample: keep 50% of English, all of Chinese,
    10% of everything else — deterministic per-stratum hash filter."""
    from hbase_increment_index_spark.pipeline.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, "doc_id", "lang", {"en": 0.5, "zh": 1.0}, default_frac=0.1
    )
    return out.select("doc_id", "lang")


E6B_SQL = f"""
SELECT doc_id, lang
FROM documents
WHERE {_SQL_BUCKET.format(salt='sample', c='doc_id')} <
      CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 1000000 ELSE 100000 END
"""


def e6c_pack_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: shard by hashed id, then batch consecutive
    docs (by id within shard) into ~2000-token groups via an
    exclusive-prefix-sum window."""
    from hbase_increment_index_spark.pipeline.sampling import pack_batches
    from hbase_increment_index_spark.pipeline.text import token_count

    docs = _t(spark, sf_dir, "documents")
    out = pack_batches(docs, "doc_id", token_count(F.col("text")), budget=2000, n_shards=8)
    return out.select("doc_id", "shard", "batch_id")


E6C_SQL = f"""
WITH t AS (
  SELECT doc_id,
         ((('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 8) AS shard,
         len({_SQL_TOKS.format(c='text')}) AS tok
  FROM documents
)
SELECT doc_id, shard,
       CAST(COALESCE(SUM(tok) OVER (
              PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000
            AS BIGINT) AS batch_id
FROM t
"""


def e4i_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking into 64-token windows with stride 48
    (text.chunk_documents): the context-window preprocessing step;
    zero-shuffle array projection + explode."""
    from hbase_increment_index_spark.pipeline.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", max_tokens=64, stride=48)


E4I_SQL = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKS.format(c='text')} AS t FROM documents
),
s AS (SELECT doc_id, t, len(t) AS n FROM t),
c AS (
  SELECT doc_id, t, n, unnest(generate_series(1, n, 48)) AS st FROM s
)
SELECT doc_id,
       CAST((st - 1) / 48 AS BIGINT) AS chunk_idx,
       CAST(least(64, n - st + 1) AS BIGINT) AS n_chunk_tokens,
       array_to_string(list_slice(t, st, least(st + 63, n)), ' ') AS chunk_text
FROM c
"""


def e6d_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis key
    on the portable content hash; sampling.weighted_sample): 100 docs
    drawn ∝ length — rerun-stable, RNG-free."""
    from hbase_increment_index_spark.pipeline.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(docs, "doc_id", "n_chars", n=100).select(
        "doc_id", "n_chars", "es_key"
    )


E6D_SQL = f"""
SELECT doc_id, n_chars,
       ROUND(ln(({_SQL_BUCKET.format(salt='wsample', c='doc_id')} + 0.5) / 1000000.0)
             / CAST(n_chars AS DOUBLE), 9) AS es_key
FROM documents
WHERE n_chars > 0
ORDER BY es_key DESC, doc_id ASC
LIMIT 100
"""


def e6e_token_budget_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic token-budget head — "take the first 10k tokens of
    the corpus" in content-addressed order: distributed prefix sum
    (per-shard windows over contiguous hash ranges + n_shards-row
    offset broadcast), never one global window. Same corpus ⇒ same
    head at any parallelism; oracle = one global SUM OVER in SQL."""
    from hbase_increment_index_spark.pipeline.sampling import token_budget_head
    from hbase_increment_index_spark.pipeline.text import token_count

    docs = _t(spark, sf_dir, "documents")
    staged = docs.withColumn("n_tokens", token_count("text"))
    out = token_budget_head(staged, "doc_id", "n_tokens", budget=10_000)
    return out.select("doc_id", "n_tokens")


E6E_SQL = f"""
WITH d AS (
  SELECT doc_id, len({_SQL_TOKS.format(c='text')}) AS n_tokens,
         (('0x' || substr(md5('head:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) AS h
  FROM documents
)
SELECT doc_id, n_tokens
FROM d
QUALIFY SUM(n_tokens) OVER (ORDER BY h ASC, doc_id ASC) <= 10000
"""


def e9_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation rollup (text.source_quality_rollup): doc and
    token volume, mean quality, low-quality share — the aggregate that
    drives source up/down-weighting in a training-data pipeline."""
    from hbase_increment_index_spark.pipeline.text import source_quality_rollup

    docs = _t(spark, sf_dir, "documents")
    return source_quality_rollup(docs)


# --------------------------------------------------------------------------
# Round-8 addition: incremental MinHash signature store.
# --------------------------------------------------------------------------


def e2r_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup CLUSTER maintenance — the maintain-don't-
    rebuild thesis applied to the CC labels themselves (r10 verdict
    #8, completing the chain: e2o keeps signatures fresh, e2f finds
    the delta's pairs, THIS folds those pairs into stored cluster
    state). Base state = CC labels over the fixture corpus's exact
    3-gram-Jaccard pairs (threshold 0.30); the delta batch is a
    degraded twin (drop every 8th token — Jaccard ≈ 0.5 vs its
    source, the e2n device) of every doc_id % 5 == 0 document,
    re-keyed +80M. The merge runs union-find over COMPONENT ids
    (pipeline.dedup.merge_cluster_labels): work ∝ |delta pairs|, the
    corpus is never re-paired; the oracle RE-CLUSTERS the full final
    corpus from scratch, so the driver hash-check proves
    merge ≡ rebuild — the equality the reference's coprocessor must
    maintain to serve correct results."""
    from hbase_increment_index_spark.pipeline.dedup import (
        connected_components,
        merge_cluster_labels,
        ngram_jaccard_pairs,
    )
    from hbase_increment_index_spark.search.tokenize import tokens

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    delta = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + F.lit(80_000_000)).alias("doc_id"),
        F.array_join(
            F.filter(tokens("text"), lambda x, i: (i + 1) % F.lit(8) != 0), " "
        ).alias("text"),
    )
    # r15 (r14 verdict #8): ONE pairing over the id-disjoint union
    # instead of three pipelines (base self-join + bipartite probe +
    # delta-internal). Per-doc shingle sets — hence per-pair Jaccard —
    # don't depend on what else is in the frame, and the df==1 prune
    # only ever DROPS non-pairing postings, so splitting the unified
    # pair list by id range reproduces the three pair sets exactly
    # (the driver hash-check against the from-scratch oracle pins
    # this). The pair list is tiny (thousands of rows) but feeds two
    # consumers, so localCheckpoint materializes the pairing once —
    # the cdc_commit_all_stores shared-frame treatment. Halved the
    # bootstrap wall (11.2s → ~4.5s at sf0.1).
    corpus = docs.unionByName(delta)
    all_pairs = ngram_jaccard_pairs(
        corpus, "doc_id", "text", n=3, threshold=0.30
    ).localCheckpoint(eager=True)
    new0 = F.lit(80_000_000)
    base_pairs = all_pairs.filter(
        (F.col("id_a") < new0) & (F.col("id_b") < new0)
    )
    delta_pairs = all_pairs.filter(
        (F.col("id_a") >= new0) | (F.col("id_b") >= new0)
    ).select("id_a", "id_b")
    stored = connected_components(base_pairs)
    merged = merge_cluster_labels(stored, delta_pairs)
    return merged.select(F.col("doc").alias("doc_id"), "component").orderBy("doc_id")


def _e2r_sql() -> str:
    toks = _SQL_TOKS.format(c="text")
    grams = (
        f"list_transform(generate_series(1, greatest(len({toks}) - 2, 0)), "
        f"i -> array_to_string(list_slice({toks}, i, i + 2), ' '))"
    )
    return f"""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 80000000 AS doc_id,
         array_to_string(list_filter({toks}, (t, i) -> i % 8 <> 0), ' ') AS text
  FROM documents WHERE doc_id % 5 = 0
),
sh AS (
  SELECT DISTINCT doc_id AS doc, unnest({grams}) AS sh FROM corpus
),
sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS common
  FROM sh a JOIN sh b USING (sh)
  WHERE a.doc < b.doc
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b
  FROM common
  JOIN sizes sa ON sa.doc = id_a
  JOIN sizes sb ON sb.doc = id_b
  WHERE ROUND(common / (sa.n_sh + sb.n_sh - common), 6) >= 0.30
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT u AS doc_id, least(u, min(v)) AS component
FROM reach GROUP BY u
ORDER BY doc_id
"""


def e2o_signature_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-signature store maintenance — the
    reference's whole job (keep a derived index current under
    mutations instead of rebuilding, HbaseSolrIndexCoprocesser.java:
    37-61) applied to the DEDUP index: the per-document MinHash
    signatures that LSH banding consumes, kept fresh under one
    CDC-style batch. Base store = signatures of the v1 corpus
    (doc_id % 7 not in {0}); the batch INSERTS doc_id%7==0, UPDATES
    doc_id%7==3 (text truncated — signatures must be REPLACED, the
    S1 upsert semantics), and DELETES doc_id%7==5. The merge touches
    only delta rows: signatures are recomputed for inserts+updates
    alone (work ∝ |delta|), stale/deleted rows leave by a broadcast
    anti-join on the (small-by-construction) touched-key set, exactly
    the batched add/delete sink pair (SolrIndexTools.java:39-144).
    Output is the merged store keyed by a portable signature digest;
    the oracle computes signatures FRESH over the final corpus, so the
    driver hash-check proves merge ≡ rebuild — the same equality the
    reference's coprocessor must maintain to serve correct queries.
    Signatures use the md5-portable lane kernel (as e2b) so every lane
    minimum is engine-reproducible.

    NOTE on the bench number: this registry form rebuilds the v1 store
    IN-PLAN because the oracle proves merge ≡ rebuild; in production
    the store is the persisted output of the previous batch, so the
    serving cost is the ∝|delta| merge alone — priced separately by
    bench.py's ``e2o_signature_store_served`` row (store parquet built
    once, merge+serve timed)."""
    from hbase_increment_index_spark.pipeline.dedup import minhash_digest_store

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 7
    signatures = minhash_digest_store

    store_v1 = signatures(docs.filter(m != 0))
    updates = docs.filter(m == 3).withColumn("text", F.substring("text", 1, 40))
    inserts = docs.filter(m == 0)
    touched = (
        docs.filter(m.isin(3, 5)).select("doc_id")
    )  # update victims + deletes
    merged = (
        store_v1.join(F.broadcast(touched), "doc_id", "left_anti")
        .unionByName(signatures(inserts.unionByName(updates)))
    )
    return merged.orderBy("doc_id")


def _e2o_sql() -> str:
    from hbase_increment_index_spark.pipeline.dedup import (
        _MERSENNE,
        _perm_params,
        PORTABLE_HASH60_SQL,
    )

    params = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(_perm_params(64))
    )
    toks = _SQL_TOKS.format(c="text")
    h = PORTABLE_HASH60_SQL.format(c="sh")
    return f"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 3 THEN substr(text, 1, 40) ELSE text END AS text
  FROM documents
  WHERE doc_id % 7 <> 5
),
base AS (
  SELECT doc_id AS doc,
         list_transform(
           generate_series(1, greatest(len({toks}) - 2, 0)),
           i -> array_to_string(list_slice({toks}, i, i + 2), ' ')
         ) AS grams
  FROM corpus
),
sh AS (SELECT DISTINCT doc, unnest(grams) AS sh FROM base WHERE len(grams) > 0),
hs AS (SELECT doc, {h} % {_MERSENNE} AS hv FROM sh),
params(lane, a, b) AS (VALUES {params}),
lanes AS (
  SELECT doc, lane, MIN((a * hv + b) % {_MERSENNE}) AS m
  FROM hs CROSS JOIN params GROUP BY doc, lane
)
SELECT doc AS doc_id,
       md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY lane)) AS sig_key
FROM lanes
GROUP BY doc
ORDER BY doc
"""


def e2p_store_served_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs SERVED from the signature store — the query-time
    half of e2o's maintain-the-index story, and the signature-index
    twin of q06c's served-BM25: candidates come from banding the
    STORED 64-lane MinHash signatures and similarity is ESTIMATED as
    the matching-lane fraction (an unbiased Jaccard estimator, MMDS
    ch.3) — the corpus text is never touched at query time. This is
    the serving mode a 100 TB dedup deployment runs between batches:
    signatures ∝ corpus are maintained incrementally (e2o, work ∝
    delta), and pair queries band + estimate over the ~24 B/doc store
    only. Exactness note: the estimate has 1/64 granularity; pairs at
    est ≥ 0.25 here, with the exact-verify form (e2b) as the
    precision-critical path. Shuffle profile identical to
    minhash_lsh_pairs' banded join; lane agreement is one zip_with
    fold per candidate, no corpus scan anywhere."""
    from hbase_increment_index_spark.pipeline.dedup import (
        _MERSENNE,
        minhash_signatures_vectorized,
        portable_hash60,
        register_cached_intermediate,
        shingle_grams,
    )

    docs = _t(spark, sf_dir, "documents")
    hs = F.transform(
        shingle_grams("text", 3),
        lambda s: F.pmod(portable_hash60(s), F.lit(_MERSENNE)),
    )
    pre = docs.withColumn("hs", hs).filter(F.size("hs") > 0).select("doc_id", "hs")
    # the store feeds three consumers (banding + both sig-join sides);
    # pinned under the library's release discipline — in production
    # this frame IS the stored table e2o maintains
    store = register_cached_intermediate(
        minhash_signatures_vectorized(pre, "doc_id", "hs", 64)
    )
    bands, r = 16, 4
    banded = store.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            F.concat_ws(",", F.slice("sig", bi * r + 1, r))
                        ).alias("bh"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("b"),
    ).select("doc", "b.band", "b.bh")
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bh"])
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(F.col("x.doc").alias("id_a"), F.col("y.doc").alias("id_b"))
        .distinct()
    )
    sa = store.select(F.col("doc").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = store.select(F.col("doc").alias("id_b"), F.col("sig").alias("sig_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda b: b,
            )
        )
        / F.lit(64.0)
    )
    out = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= 0.25)
        .select("id_a", "id_b", "est_jaccard")
        .orderBy("id_a", "id_b")
    )
    return out


def _e2p_sql() -> str:
    return f"""
WITH {_minhash_sql_ctes()},
agree AS (
  SELECT c.id_a, c.id_b,
         SUM(CASE WHEN la.m = lb.m THEN 1 ELSE 0 END) AS eq
  FROM cand c
  JOIN lanes la ON la.doc = c.id_a
  JOIN lanes lb ON lb.doc = c.id_b AND lb.lane = la.lane
  GROUP BY 1, 2
)
SELECT id_a, id_b, ROUND(eq / 64.0, 6) AS est_jaccard
FROM agree
WHERE eq / 64.0 >= 0.25
ORDER BY id_a, id_b
"""


def e2s_store_served_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-SERVED incremental near-dup pairing + shingle-store
    maintenance, one oracle (r11 verdict #1 — the last corpus-linear
    serving path, closed): the corpus side of the delta pairing comes
    from the PERSISTED shingle-postings store instead of re-shingling
    the corpus per batch, the reference's maintain-don't-rebuild
    contract (HbaseSolrIndexCoprocesser.java:37-61) applied to the
    dedup index. Fixture: store v1 is built from the STALE corpus
    (doc_id%10==0 not yet crawled, %10==1 holding a truncated text
    prefix, %10==2 later deleted); one CDC batch (updates %10==1 to
    full text, deletes %10==2) folds in via merge_shingle_postings /
    merge_shingle_sizes — broadcast anti-join on the touched-id set,
    work ∝ |delta|; then the %10==0 increment is screened against the
    MAINTAINED store with incremental_near_dups_from_index, which
    shingles ONLY the increment and probes the store through its
    bounded bucket IN-list. The oracle shingles the FINAL corpus from
    scratch and pairs directly, so one driver hash proves merge ≡
    rebuild AND store-serve ≡ direct pairing. Registry form derives
    the store in-plan (the e2o bootstrap discipline, so the oracle
    replays every stage); the persisted-parquet serve — directory-
    pruned probe, zero documents-scan — is priced by bench.py's
    ``e2s_store_served`` row and plan-proven by
    tests/test_round12_ops.py."""
    from hbase_increment_index_spark.pipeline.dedup import (
        build_shingle_postings,
        incremental_near_dups_from_index,
        merge_shingle_postings,
        merge_shingle_sizes,
        register_cached_intermediate,
        shingle_doc_sizes,
    )

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 10
    v1 = docs.filter(m != 0).withColumn(
        "text", F.when(m == 1, F.substring("text", 1, 20)).otherwise(F.col("text"))
    )
    # v1 postings feed both the store merge and the sizes merge:
    # pinned so the stale corpus is shingled once (bootstrap only)
    store_v1 = register_cached_intermediate(
        build_shingle_postings(v1, "doc_id", "text", n=3)
    )
    sizes_v1 = shingle_doc_sizes(store_v1)
    changed = docs.filter(m == 1).select("doc_id", "text")
    deleted = docs.filter(m == 2).select("doc_id")
    store = merge_shingle_postings(store_v1, changed, deleted, "doc_id", "text", n=3)
    sizes = merge_shingle_sizes(sizes_v1, changed, deleted, "doc_id", "text", n=3)
    incoming = docs.filter(m == 0).select("doc_id", "text")
    return incremental_near_dups_from_index(
        store, sizes, incoming, "doc_id", "text", n=3, threshold=0.30
    )


E2S_SQL = f"""
WITH sh AS (
  SELECT DISTINCT doc_id AS doc, doc_id % 10 = 0 AS is_new,
         unnest(list_distinct(
           list_transform(
             generate_series(1, greatest(len({_SQL_TOKS.format(c='text')}) - 2, 0)),
             i -> array_to_string(list_slice({_SQL_TOKS.format(c='text')}, i, i + 2), ' ')
           ))) AS sh
  FROM documents
  WHERE doc_id % 10 <> 2
),
sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS id_new, b.doc AS id_old, count(*) AS common
  FROM sh a JOIN sh b USING (sh)
  WHERE a.is_new AND NOT b.is_new
  GROUP BY 1, 2
)
SELECT id_new, id_old,
       ROUND(common / (sa.n_sh + sb.n_sh - common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc = id_new
JOIN sizes sb ON sb.doc = id_old
WHERE ROUND(common / (sa.n_sh + sb.n_sh - common), 6) >= 0.30
"""


def e2t_cluster_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC-label maintenance under DELETES — the one mutation verb e2r's
    union-find merge cannot express (a delete can SPLIT a component
    and can remove the component's own min-id representative),
    implemented as the scoped rebuild it has to be
    (pipeline.dedup.delete_from_clusters): only components that lost a
    member are re-paired and re-clustered, work ∝ Σ|affected
    components|; everything else passes through. Fixture: CC labels
    over the corpus's exact 3-gram-Jaccard pairs (threshold 0.30),
    then every doc_id % 17 == 0 document is deleted — a set that hits
    cluster members AND cluster minima. The oracle re-clusters the
    post-delete corpus from scratch (recursive CTE), so the driver
    hash proves scoped-rebuild ≡ full rebuild. Together with e2r
    (insert/update) the label store is now maintained under the full
    CDC verb set — closing the one store cdc_commit_all_stores
    documents as excluded."""
    from hbase_increment_index_spark.pipeline.dedup import (
        connected_components,
        delete_from_clusters,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    stored = connected_components(
        ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.30)
    )
    deleted = docs.filter(F.col("doc_id") % 17 == 0).select("doc_id")
    final = docs.filter(F.col("doc_id") % 17 != 0)
    return (
        delete_from_clusters(
            stored, deleted, final, "doc_id", "text", n=3, threshold=0.30
        )
        .select(F.col("doc").alias("doc_id"), "component")
        .orderBy("doc_id")
    )


def _e2t_sql() -> str:
    toks = _SQL_TOKS.format(c="text")
    grams = (
        f"list_transform(generate_series(1, greatest(len({toks}) - 2, 0)), "
        f"i -> array_to_string(list_slice({toks}, i, i + 2), ' '))"
    )
    return f"""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0
),
sh AS (
  SELECT DISTINCT doc_id AS doc, unnest({grams}) AS sh FROM corpus
),
sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS common
  FROM sh a JOIN sh b USING (sh)
  WHERE a.doc < b.doc
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b
  FROM common
  JOIN sizes sa ON sa.doc = id_a
  JOIN sizes sb ON sb.doc = id_b
  WHERE ROUND(common / (sa.n_sh + sb.n_sh - common), 6) >= 0.30
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
cc AS (
  SELECT u AS doc_id, least(u, min(v)) AS component
  FROM reach GROUP BY u
)
SELECT doc_id, component FROM cc ORDER BY doc_id
"""


def e1h_store_served_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-SERVED incremental EXACT dedup + fingerprint-store
    maintenance, one oracle — the E1 twin of e2s: the crawl-batch
    screen ("is this document already in the corpus, and who is its
    canonical?") answered from the persisted (doc, fp, fpb) store, no
    corpus text or hashing at serve time. Store v1 is built from the
    STALE corpus (doc_id%10==1 truncated, %10==2 later deleted,
    %10==0 never crawled); one CDC batch (updates %10==1 → full text,
    deletes %10==2) folds in via merge_fingerprint_store (∝ |delta|).
    The probe batch is copies of the corpus re-keyed out of the id
    space: exact copies of every %13==0 doc (+90M) and near-copies of
    every %13==1 doc (+95M, a novel token appended — must NOT flag).
    Flags depend on the MERGE being right: a copy of an updated doc
    matches only because its stored fingerprint was replaced; a copy
    of a deleted doc must find nothing. The oracle fingerprints the
    final corpus from scratch, so one hash proves merge ≡ rebuild AND
    store-serve ≡ direct. Output: (id_new, canonical_id)."""
    from hbase_increment_index_spark.pipeline.dedup import (
        build_fingerprint_store,
        exact_dups_from_index,
        merge_fingerprint_store,
    )

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 10
    v1 = docs.filter(m != 0).withColumn(
        "text", F.when(m == 1, F.substring("text", 1, 20)).otherwise(F.col("text"))
    )
    store = merge_fingerprint_store(
        build_fingerprint_store(v1, "doc_id", "text"),
        docs.filter(m == 1).select("doc_id", "text"),
        docs.filter(m == 2).select("doc_id"),
        "doc_id",
        "text",
    )
    m13 = F.col("doc_id") % 13
    incoming = docs.filter(m13 == 0).select(
        (F.col("doc_id") + F.lit(90_000_000)).alias("doc_id"), "text"
    ).unionByName(
        docs.filter(m13 == 1).select(
            (F.col("doc_id") + F.lit(95_000_000)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zzznovel")).alias("text"),
        )
    )
    return exact_dups_from_index(store, incoming, "doc_id", "text").orderBy("id_new")


E1H_SQL = f"""
WITH existing AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 NOT IN (0, 2)
),
inc AS (
  SELECT doc_id + 90000000 AS id_new, text FROM documents WHERE doc_id % 13 = 0
  UNION ALL
  SELECT doc_id + 95000000, text || ' zzznovel' FROM documents WHERE doc_id % 13 = 1
),
fe AS (SELECT doc_id, {_SQL_FP.format(c='text')} AS fp FROM existing),
fi AS (SELECT id_new, {_SQL_FP.format(c='text')} AS fp FROM inc)
SELECT id_new, MIN(doc_id) AS canonical_id
FROM fi JOIN fe USING (fp)
GROUP BY id_new
ORDER BY id_new
"""


def e2u_pair_store_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-STORE maintenance under one mixed CDC batch — the r14
    companion table to the CC labels: the near-dup pair list persists
    beside the labels (it is what the delete verb's survivor
    re-pairing filters instead of re-pairing), so the commit must fold
    it too. Fixture: the cdc_commit_all_stores mutation (inserts
    doc_id%10==0, text-truncating updates %10==1, deletes %10==2);
    the v1 pair list bootstraps from the shingle store, then
    pipeline.dedup.commit_cluster_state folds the batch — kept pairs =
    broadcast anti-join on touched endpoints, new pairs = the batch's
    incident pairs (the SAME materialized pairing the label merge
    reads). The oracle recomputes the exact 3-gram-Jaccard pair list
    over the FINAL corpus from scratch, so a green hash proves pair
    merge ≡ rebuild at the ROW level, not just cardinality."""
    from hbase_increment_index_spark.pipeline.dedup import (
        build_shingle_postings,
        commit_cluster_state,
        connected_components,
        ngram_jaccard_pairs_from_index,
        shingle_doc_sizes,
    )

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 10
    v1 = docs.filter(m != 0).withColumn(
        "text",
        F.when(m == 1, F.substring("text", 1, 20)).otherwise(F.col("text")),
    )
    changed = docs.filter(m.isin(0, 1)).select("doc_id", "text")
    deleted = docs.filter(m == 2).select("doc_id")
    shv1 = build_shingle_postings(v1, "doc_id", "text", n=3).localCheckpoint(
        eager=True
    )
    sizes_v1 = shingle_doc_sizes(shv1).localCheckpoint(eager=True)
    pairs_v1 = (
        ngram_jaccard_pairs_from_index(shv1, sizes_v1, threshold=0.30)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    state = commit_cluster_state(
        connected_components(pairs_v1),
        shv1,
        sizes_v1,
        changed,
        deleted,
        "doc_id",
        "text",
        n=3,
        threshold=0.30,
        store_pairs=pairs_v1,
    )
    return state["pairs"].orderBy("id_a", "id_b")


def _e2u_sql() -> str:
    toks = _SQL_TOKS.format(c="text")
    grams = (
        f"list_transform(generate_series(1, greatest(len({toks}) - 2, 0)), "
        f"i -> array_to_string(list_slice({toks}, i, i + 2), ' '))"
    )
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 2
),
sh AS (
  SELECT DISTINCT doc_id AS doc, unnest({grams}) AS sh FROM corpus
),
sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
common AS (
  SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS common
  FROM sh a JOIN sh b USING (sh)
  WHERE a.doc < b.doc
  GROUP BY 1, 2
)
SELECT id_a, id_b
FROM common
JOIN sizes sa ON sa.doc = id_a
JOIN sizes sb ON sb.doc = id_b
WHERE ROUND(common / (sa.n_sh + sb.n_sh - common), 6) >= 0.30
ORDER BY id_a, id_b
"""
