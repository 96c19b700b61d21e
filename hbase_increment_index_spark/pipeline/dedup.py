"""Deduplication — SURVEY.md §2.3 E1/E2: exact, MinHash+LSH, SimHash,
n-gram Jaccard.

Algorithms follow the public literature: MinHash resemblance sketches
(Broder, "On the resemblance and containment of documents", 1997),
banding analysis as in Mining of Massive Datasets ch. 3 (Leskovec/
Rajaraman/Ullman), SimHash (Charikar, "Similarity estimation
techniques from rounding algorithms", STOC 2002) with the Hamming
block trick from Manku et al., "Detecting near-duplicates for web
crawling", WWW 2007.

Scale design notes (the part that matters at 100 TB):

- Exact dedup is a fingerprint groupBy — one shuffle on a 128-bit key,
  perfectly balanced unless the corpus is one giant duplicate cluster.
- All-pairs similarity is never computed. Near-dup goes through
  *banding*: documents only meet if they share an LSH band bucket
  (MinHash) or a shingle (n-gram Jaccard). The self-join is on the
  bucket key; hot buckets (stop-shingles) are the skew risk — the
  n-gram path drops shingles above a document-frequency ceiling, the
  LSH path's buckets are already uniform by construction.
- Signatures are computed per row with higher-order functions
  (``transform``/``aggregate`` over the token array) — no Python, no
  shuffle, embarrassingly parallel.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hbase_increment_index_spark.functions.layout import fan_out
from hbase_increment_index_spark.pipeline.text import fingerprint
from hbase_increment_index_spark.search.tokenize import tokens


# ---------------------------------------------------------------- E1 exact

def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one representative (lowest id) per exact-content group.

    Grouping key is the md5 fingerprint of normalized text — at scale
    you groupBy the 16-byte digest, never the text payload itself.
    """
    fp = fingerprint(text_col).alias("_fp")
    w_min = F.min(id_col)
    keep = (
        df.select(fp, F.col(id_col))
        .groupBy("_fp")
        .agg(w_min.alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def duplicate_clusters(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact-duplicate clusters: fingerprint, cluster size, member ids.
    (The audit view of exact_dedup.)"""
    return (
        df.select(fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .filter(F.col("cluster_size") > 1)
    )


# ------------------------------------------------- portable string hash

# DuckDB fragment computing the same value as :func:`portable_hash60`
# (oracle SQL interpolates {c} with a VARCHAR expression).
PORTABLE_HASH60_SQL = "(('0x' || substr(md5({c}), 1, 15))::BIGINT)"


def portable_hash60(c: Column | str) -> Column:
    """60-bit integer hash both engines compute identically: the first
    15 hex chars of md5, parsed base-16. xxhash64 is the production
    default (JVM-native, ~4× faster); this variant exists so
    hash-dependent operators (MinHash banding, SimHash) can be checked
    value-for-value against the DuckDB oracle — same algorithm, only
    the string→int kernel swapped."""
    c = F.col(c) if isinstance(c, str) else c
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


# ------------------------------------------------------------- shingling

def shingle_grams(text_col: Column | str, n: int = 3) -> Column:
    """Token n-gram shingles (space-joined), WITH duplicates.

    Built from n-1 shifted-array zips (each O(T)) instead of a
    slice+concat per position (O(T·n) array copies) — ~2× faster on
    real corpora. Use this form wherever duplicates are harmless
    (MinHash: min over dups == min over distinct; Jaccard via
    array_intersect/array_union: both dedup internally)."""
    toks = tokens(text_col)
    k = F.size(toks) - (n - 1)
    grams = toks
    for off in range(2, n + 1):
        shifted = F.slice(toks, off, F.greatest(F.size(toks) - (off - 1), F.lit(0)))
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(k > 0, F.slice(grams, 1, k)).otherwise(F.array().cast("array<string>"))


def shingles(text_col: Column | str, n: int = 3) -> Column:
    """Distinct token n-gram shingles — set semantics for exact
    Jaccard. Prefer shingle_grams + row-level dedup (explode +
    distinct) in posting-list plans: array_distinct is O(S²) per row."""
    return F.array_distinct(shingle_grams(text_col, n))


# ------------------------------------------------- E2a n-gram Jaccard

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via posting self-join.

    Plan: distinct (id, shingle) postings → self-join on shingle
    (documents meet only where they share a shingle) → count common →
    jaccard = common / (|A| + |B| - common). ``max_shingle_df`` drops
    ubiquitous shingles before the join — the skew guard at scale.
    Output: (id_a, id_b, jaccard) with id_a < id_b.
    """
    # row-level dedup (map-side-combined distinct) instead of per-row
    # array_distinct: same set semantics, no O(S²) array scan;
    # fan_out spreads the interpreted-HOF shingling across cores when
    # the source scan is under-partitioned (no-op at scale)
    df = fan_out(df)
    sh = df.select(
        F.col(id_col).alias("doc"), F.explode(shingle_grams(text_col, n)).alias("sh")
    ).distinct()
    # per-shingle document frequency via count-over-window: one shuffle
    # on sh that ALSO leaves the postings hash-partitioned by sh — the
    # exact partitioning the self-join below needs, so it is reused
    from pyspark.sql import Window

    sh = sh.withColumn("sdf", F.count(F.lit(1)).over(Window.partitionBy("sh")))
    if max_shingle_df is not None:
        sh = sh.filter(F.col("sdf") <= max_shingle_df)
    # the postings feed three consumers (sizes + both self-join sides):
    # persist so shingling runs once, not three times
    sh = sh.persist()
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))

    # df==1 shingles can never contribute a pair: pruning them from the
    # join inputs (NOT from sizes) leaves the result bit-identical and
    # shrinks the self-join to the co-occurring minority of postings —
    # on real corpora most shingles are unique, so this is the
    # difference between joining the whole index and joining its tail
    shj = sh.filter(F.col("sdf") >= 2)
    a = shj.select(F.col("doc").alias("id_a"), "sh")
    b = shj.select(F.col("doc").alias("id_b"), "sh")
    common = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(sizes.withColumnsRenamed({"doc": "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"doc": "id_b", "n_sh": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def incremental_near_dups(
    existing: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Incremental near-dup detection: flag INCOMING documents that
    near-duplicate the EXISTING corpus — the shape every continuously-
    crawled training pipeline actually runs (dedup the delta against
    the index, never re-pair the whole corpus). Ids must be distinct
    across the two frames (they share one id space, like a CDC
    increment against its table).

    Plan: one postings build over the side-tagged union (the increment
    rides the same scan/shuffle as the corpus), then a BIPARTITE
    shingle join — new side × old side only, so no old×old pairing
    work ever happens; with the usual df==1 pruning and optional
    stop-shingle ceiling the join touches only postings co-occurring
    across the boundary. Output: (id_new, id_old, jaccard ≥ threshold).

    This form re-shingles BOTH sides — correct and convenient when the
    corpus side is already in memory or small. The serving path at
    100 TB is :func:`incremental_near_dups_from_index` (result-
    identical, property-tested): the existing side's postings are the
    PERSISTED bucket-partitioned shingle store kept current by
    :func:`merge_shingle_postings`, and only the increment is shingled
    fresh — bench's e2s_store_served / e2r_incremental_clusters_served
    rows price that path.
    """
    tagged = (
        existing.select(F.col(id_col), F.col(text_col))
        .withColumn("_new", F.lit(False))
        .unionByName(
            incoming.select(F.col(id_col), F.col(text_col)).withColumn(
                "_new", F.lit(True)
            )
        )
    )
    tagged = fan_out(tagged)
    sh = tagged.select(
        F.col(id_col).alias("doc"),
        "_new",
        F.explode(shingle_grams(text_col, n)).alias("sh"),
    ).distinct()
    from pyspark.sql import Window

    sh = sh.withColumn("sdf", F.count(F.lit(1)).over(Window.partitionBy("sh")))
    if max_shingle_df is not None:
        sh = sh.filter(F.col("sdf") <= max_shingle_df)
    sh = sh.persist()
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))

    shj = sh.filter(F.col("sdf") >= 2)
    new_side = shj.filter(F.col("_new")).select(F.col("doc").alias("id_new"), "sh")
    old_side = shj.filter(~F.col("_new")).select(F.col("doc").alias("id_old"), "sh")
    common = (
        new_side.join(old_side, "sh")
        .groupBy("id_new", "id_old")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(sizes.withColumnsRenamed({"doc": "id_new", "n_sh": "n_new"}), "id_new")
        .join(sizes.withColumnsRenamed({"doc": "id_old", "n_sh": "n_old"}), "id_old")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("n_new") + F.col("n_old") - F.col("common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_new", "id_old", "jaccard")
    )


# ------------------------------------------- shingle-postings store
#
# The persisted derived index behind store-served incremental near-dup
# pairing (r11 verdict #1): instead of re-shingling the EXISTING corpus
# on every delta batch (incremental_near_dups' tagged-union scan), the
# corpus side's distinct (doc, shingle) postings live in a parquet
# store partitioned by a shingle-hash bucket — the cdc_merge_postings
# discipline (search/inverted.py merge_postings) applied to the dedup
# index, exactly as the reference keeps its Solr index current instead
# of rebuilding it per batch (HbaseSolrIndexCoprocesser.java:37-61).
# Serving a delta then (1) shingles ONLY the increment, (2) collects
# its bounded bucket set (≤ SHINGLE_STORE_BUCKETS ints — the q78b
# n_probe device), (3) probes the store with an IN-list the parquet
# source turns into a DIRECTORY prune, and (4) joins postings-to-
# postings. Per-batch work ∝ |delta| + the store's matching buckets,
# never the corpus text.

SHINGLE_STORE_BUCKETS = 32


def shingle_bucket(sh: Column | str, n_buckets: int = SHINGLE_STORE_BUCKETS) -> Column:
    """Partition bucket for a shingle: pmod(xxhash64(sh), n_buckets).
    A pure function of the shingle, so every posting row of a given
    shingle lands in one directory — the probe's IN-list prune loses
    nothing."""
    sh = F.col(sh) if isinstance(sh, str) else sh
    return F.pmod(F.xxhash64(sh), F.lit(n_buckets))


def build_shingle_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_buckets: int = SHINGLE_STORE_BUCKETS,
) -> DataFrame:
    """Distinct (doc, sh, shb) shingle postings — the store's row shape.
    One explode + map-side-combined distinct; write with
    :func:`write_shingle_store` so ``shb`` becomes a partition column."""
    out = (
        fan_out(df)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(shingle_grams(text_col, n)).alias("sh"),
        )
        .distinct()
    )
    return out.withColumn("shb", shingle_bucket("sh", n_buckets))


def shingle_doc_sizes(postings: DataFrame) -> DataFrame:
    """(doc, n_sh) side table — the dedup index's doclen analogue
    (bench.py ships doclen/stats WITH the BM25 postings so serving
    never re-aggregates the store; same rule here). Built once at
    bootstrap, then maintained per batch by
    :func:`merge_shingle_sizes`."""
    return postings.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))


def merge_shingle_postings(
    postings: DataFrame,
    changed_docs: DataFrame,
    deleted_ids: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_buckets: int = SHINGLE_STORE_BUCKETS,
) -> DataFrame:
    """Fold one CDC micro-batch into the shingle store: drop the
    touched docs' old postings with a BROADCAST anti-join on the
    (small-by-construction) touched-id set, append fresh postings
    shingled from the changed docs alone — work ∝ |delta|, the big
    side never shuffles. Merge ≡ rebuild from the post-mutation corpus
    (oracle-proven by e2s_store_served_increment; pytest
    tests/test_round12_ops.py)."""
    touched = (
        changed_docs.select(F.col(id_col).alias("doc"))
        .unionByName(deleted_ids.select(F.col(id_col).alias("doc")))
        .distinct()
    )
    kept = postings.join(F.broadcast(touched), "doc", "left_anti")
    fresh = build_shingle_postings(changed_docs, id_col, text_col, n, n_buckets)
    return kept.unionByName(fresh.select(*kept.columns))


def merge_shingle_sizes(
    sizes: DataFrame,
    changed_docs: DataFrame,
    deleted_ids: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Per-batch maintenance of the (doc, n_sh) side table — same
    anti-join + fresh-rows shape as :func:`merge_shingle_postings`,
    with the fresh counts computed from the changed docs' text alone
    (one delta-sized agg, no store scan)."""
    touched = (
        changed_docs.select(F.col(id_col).alias("doc"))
        .unionByName(deleted_ids.select(F.col(id_col).alias("doc")))
        .distinct()
    )
    kept = sizes.join(F.broadcast(touched), "doc", "left_anti")
    fresh = shingle_doc_sizes(
        build_shingle_postings(changed_docs, id_col, text_col, n)
    )
    return kept.unionByName(fresh.select(*kept.columns))


def write_shingle_store(postings: DataFrame, path: str) -> None:
    """Persist the store partitioned by the shingle bucket — the
    probe's bucket IN-list becomes PartitionFilters (a directory
    prune), the same layout contract as the IVF cells/codes store
    (partitionBy('cid'), bench.py).

    One exchange on ``shb`` puts each bucket in one task, so each
    bucket directory gets exactly one file: the layout the fold's own
    commits keep. The file is sorted by (sh, doc) after ``shb`` (the
    order the partitioned writer needs anyway), so each shingle's
    postings are contiguous and the dictionary and run-length encodings
    see every shingle once; a probe opens one file per bucket. At scale
    a bucket's size bounds a file's, as in the fold; a larger bucket
    count (``n_buckets`` of the postings and of the probe) bounds it
    lower."""
    postings.repartition("shb").sortWithinPartitions("shb", "sh", "doc").write.mode(
        "overwrite"
    ).partitionBy("shb").parquet(path)


def incremental_near_dups_from_index(
    postings: DataFrame,
    sizes: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_join_shingle_df: int | None = None,
    n_buckets: int = SHINGLE_STORE_BUCKETS,
    incoming_postings: DataFrame | None = None,
) -> DataFrame:
    """Store-served incremental near-dup pairing: flag INCOMING
    documents that near-duplicate the corpus REPRESENTED BY its
    persisted shingle store — result-identical to
    :func:`incremental_near_dups` (property-tested) with the corpus
    text never scanned, tokenized, or shingled at serve time.

    Plan: shingle the delta only; collect its distinct bucket ids (a
    bounded ≤ ``n_buckets``-int scalar list, the q78b n_probe device)
    and push them as an IN filter the partitioned store turns into a
    directory prune; inner-join delta postings × pruned store postings
    on the shingle; count common; Jaccard from the delta's own counts
    + the store's maintained (doc, n_sh) side table.

    Result-identity with the direct form holds at
    ``max_join_shingle_df=None`` (the property test's claim). With a
    ceiling, this form applies it as a JOIN-SIDE skew guard only —
    high-combined-df shingles (computed over the pruned probe ∪ delta,
    exact for every shingle that could match) are dropped from the
    pairing, but Jaccard denominators keep the store's full per-doc
    counts; the direct form's ``max_shingle_df`` instead ALSO shrinks
    the denominators, which would require a store rewrite per ceiling
    value. Same recall guard, honest denominator — the parameter is
    named differently from the direct form's ON PURPOSE: under a
    ceiling the two forms return different jaccard values by contract
    (divergence pinned by tests/test_round13_ops.py;
    :func:`ngram_jaccard_pairs_from_index`'s ``max_shingle_df`` keeps
    the direct form's shrink-the-denominator semantics instead, since
    the CC delete path needs result-identity with direct re-pairing).

    CONTRACT: ``n_buckets`` must equal the value the store was built
    with (both default to SHINGLE_STORE_BUCKETS) — the bucket prune is
    a pure function of the shingle only under the same modulus, the
    same way IVF codes are only readable against their own centroids.
    ``incoming_postings`` (optional): the delta's (doc, sh, shb)
    postings, ALREADY built with this same n/n_buckets and ideally
    materialized — callers that also self-pair the delta
    (:func:`commit_cluster_state`) pass it so the delta is shingled
    once, not per pairing. Output: (id_new, id_old, jaccard ≥
    threshold)."""
    delta = incoming_postings
    if delta is None:
        delta = register_cached_intermediate(
            build_shingle_postings(incoming, id_col, text_col, n, n_buckets)
        )
    bucket_ids = [r[0] for r in delta.select("shb").distinct().collect()]
    probe = postings.filter(F.col("shb").isin(bucket_ids))
    delta_sizes = delta.groupBy("doc").agg(F.count(F.lit(1)).alias("n_new"))
    new_side = delta.select(F.col("doc").alias("id_new"), "sh")
    old_side = probe.select(F.col("doc").alias("id_old"), "sh")
    if max_join_shingle_df is not None:
        from pyspark.sql import Window

        tagged = new_side.select(
            F.col("id_new").alias("d"), "sh", F.lit(True).alias("_new")
        ).unionByName(
            old_side.select(F.col("id_old").alias("d"), "sh", F.lit(False).alias("_new"))
        )
        tagged = tagged.withColumn(
            "sdf", F.count(F.lit(1)).over(Window.partitionBy("sh"))
        ).filter(F.col("sdf") <= max_join_shingle_df)
        new_side = tagged.filter(F.col("_new")).select(F.col("d").alias("id_new"), "sh")
        old_side = tagged.filter(~F.col("_new")).select(F.col("d").alias("id_old"), "sh")
    common = (
        new_side.join(old_side, "sh")
        .groupBy("id_new", "id_old")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(delta_sizes.withColumnRenamed("doc", "id_new"), "id_new")
        .join(
            sizes.select(F.col("doc").alias("id_old"), F.col("n_sh").alias("n_old")),
            "id_old",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("n_new") + F.col("n_old") - F.col("common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_new", "id_old", "jaccard")
    )


def cross_contamination(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_collisions: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing at least
    ``min_collisions`` distinct token n-grams with an evaluation set
    (the standard pre-training hygiene check — e.g. GPT-3's 13-gram
    collision filter, Brown et al. 2020 §C, here parameterized).

    Plan: distinct corpus (id, gram) postings ⋈ the eval set's distinct
    gram vocabulary (small by definition — broadcast) → per-doc
    collision count. The corpus is scanned once and never self-joined;
    at 100 TB the eval-gram list is a few MB broadcast to every
    executor. Returns (id, n_collisions) for flagged docs only.
    """
    c_grams = (
        fan_out(corpus)
        .select(F.col(id_col), F.explode(shingle_grams(text_col, n)).alias("g"))
        .distinct()
    )
    e_grams = eval_set.select(F.explode(shingle_grams(text_col, n)).alias("g")).distinct()
    return (
        c_grams.join(F.broadcast(e_grams), "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_collisions"))
        .filter(F.col("n_collisions") >= min_collisions)
    )


# ---------------------------------------------------- E2b MinHash + LSH

_MERSENNE = (1 << 31) - 1  # 2^31-1, prime


def _perm_params(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash permutation
    family h_i(x) = (a_i·x + b_i) mod 2^31-1 — derived from a fixed
    integer recurrence (splitmix-style), no RNG state."""
    params = []
    state = 0x9E3779B97F4A7C15
    for _ in range(num_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = (state >> 16) % (_MERSENNE - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = (state >> 16) % _MERSENNE
        params.append((a, b))
    return params


def shingle_hashes(text_col: Column | str, shingle_n: int = 3) -> Column:
    """Distinct shingles hashed once to 31-bit ints (xxhash64 folded
    mod 2^31-1). This is the expensive per-row step — materialize it
    as its own column so the 64 permutation lanes reuse it instead of
    re-hashing strings."""
    sh = shingles(text_col, shingle_n)
    return F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE)))


def minhash_signature_from_hashes(hs_col: Column | str, num_perm: int = 64) -> Column:
    """MinHash signature (array<bigint>, length num_perm) from a
    pre-hashed shingle column: lane i = min over shingles of
    (a_i·h + b_i) mod 2^31-1 — integer multiply-add per lane, no
    string hashing (products < 2^62: safe under ANSI overflow checks).
    Deterministic everywhere — no RNG state (SURVEY.md §7 hard-part 2).
    Empty docs get an all-MAX signature that never collides."""
    hs = F.col(hs_col) if isinstance(hs_col, str) else hs_col

    def _lane(a: int, b: int):
        # factory closure: default-arg lambdas change the visible arity,
        # which PySpark uses to decide the HOF's argument count
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(_MERSENNE)

    return F.array(
        *[
            F.when(
                F.size(hs) > 0,
                F.array_min(F.transform(hs, _lane(a, b))),
            ).otherwise(F.lit(2**63 - 1))
            for a, b in _perm_params(num_perm)
        ]
    )


def minhash_signature(text_col: Column | str, num_perm: int = 64, shingle_n: int = 3) -> Column:
    """Convenience one-shot form; prefer the staged
    shingle_hashes → minhash_signature_from_hashes in plans that reuse
    the signature (see minhash_lsh_pairs)."""
    return minhash_signature_from_hashes(shingle_hashes(text_col, shingle_n), num_perm)


def minhash_signatures_vectorized(
    df: "DataFrame",
    id_col: str,
    hs_col: str = "hs",
    num_perm: int = 64,
) -> "DataFrame":
    """Arrow-batched numpy twin of minhash_signature_from_hashes.

    Input: (id, hs) where hs is the pre-hashed shingle array from
    :func:`shingle_hashes` (string hashing stays JVM-side — only the
    permutation lanes move to numpy). Output: (doc, sig) with
    signatures BIT-IDENTICAL to the expression version (same
    ``_perm_params``, same mod arithmetic) — asserted in tests.

    Why it exists: the 64-lane HOF runs interpreted (~0.5 ms/doc);
    numpy does the (P × S_batch) multiply-add-mod over the WHOLE Arrow
    batch's flattened shingle hashes at once — the list column is one
    contiguous values buffer plus offsets (guide §4.2), so per-doc
    minima fall out of one ``np.minimum.reduceat`` over the doc
    boundaries instead of a Python loop with one tiny numpy call per
    row (the r16 rewrite; the loop dominated the kernel's profile).
    The lane axis is chunked so the (lanes × S_batch) temporary stays
    ~128 MB regardless of batch width. Same banding/join topology
    either way — this swaps only the per-row kernel (SCALE.md "known
    costs").
    """
    import numpy as np
    import pyarrow as pa

    params = _perm_params(num_perm)
    a = np.array([p[0] for p in params], dtype=np.uint64)[:, None]
    b = np.array([p[1] for p in params], dtype=np.uint64)[:, None]
    sentinel = np.int64(2**63 - 1)
    m = np.uint64(_MERSENNE)
    out_schema = pa.schema(
        [pa.field("doc", pa.int64()), pa.field("sig", pa.list_(pa.int64()))]
    )

    def _batches(it):
        for rb in it:
            n = rb.num_rows
            lst = rb.column(rb.schema.get_field_index(hs_col))
            ids = rb.column(rb.schema.get_field_index(id_col)).cast(pa.int64())
            offs = lst.offsets.to_numpy().astype(np.int64)
            # a sliced ListArray's offsets are absolute into the full
            # values buffer — rebase to the batch's own span
            vals = lst.values.to_numpy(zero_copy_only=False)[offs[0] : offs[-1]]
            offs = offs - offs[0]
            lens = offs[1:] - offs[:-1]
            nulls = np.zeros(n, dtype=bool)
            if lst.null_count:
                nulls = lst.is_null().to_numpy(zero_copy_only=False)
                if lens[nulls].any():
                    # defensive: a null slot with a nonzero span would
                    # bleed its values into a neighbour's reduceat
                    # range — never produced by Spark, but fall back to
                    # masking those values out if it ever happens
                    keep = np.repeat(~nulls, lens)
                    vals = vals[keep]
                    lens = np.where(nulls, 0, lens)
                    offs = np.concatenate(([0], np.cumsum(lens)))
            nonempty = (lens > 0) & ~nulls
            out = np.full((n, num_perm), sentinel, dtype=np.int64)
            if vals.size and nonempty.any():
                h = vals.astype(np.uint64)[None, :]
                ne_starts = offs[:-1][nonempty]
                # empty/null docs span zero values, so consecutive
                # nonempty starts are exact doc boundaries in the flat
                # buffer — reduceat per lane chunk, no per-row Python
                chunk = max(1, int(16_000_000 // max(vals.size, 1)))
                mins = np.empty((num_perm, ne_starts.size), dtype=np.uint64)
                for lo in range(0, num_perm, chunk):
                    hi = min(lo + chunk, num_perm)
                    lanes = (a[lo:hi] * h + b[lo:hi]) % m
                    mins[lo:hi] = np.minimum.reduceat(lanes, ne_starts, axis=1)
                out[nonempty] = mins.T.astype(np.int64)
            sig = pa.ListArray.from_arrays(
                pa.array(np.arange(n + 1, dtype=np.int32) * num_perm),
                pa.array(out.reshape(-1)),
            )
            yield pa.RecordBatch.from_arrays([ids, sig], schema=out_schema)

    return df.mapInArrow(_batches, schema="doc long, sig array<long>")


def minhash_text_query(
    df: "DataFrame",
    id_col: str,
    text_col: str,
    query_text: str,
    num_perm: int = 64,
    threshold: float = 0.15,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
    sim_decimals: int = 6,
) -> "DataFrame":
    """Lucene ``{!min_hash}`` query parser (MinHashQParser, the
    similarity-search parser of the Lucene 9 the reference's solrj 9.8
    ships, pom.xml:22): given QUERY TEXT, return documents whose
    estimated Jaccard similarity to it clears ``threshold`` —
    "find documents like this one" as a query, which is the reference's
    duplicate-detection use case turned interactive.

    sim_est(doc) = |matching lanes| / num_perm, the standard unbiased
    MinHash estimator: lane i matches when the document's i-th
    permutation minimum equals the query's.

    Plan: the query's ``num_perm`` lane minima are computed by the SAME
    Spark expressions as the corpus side on a 1-row frame and collected
    (bounded scalar — no Python reimplementation of the hash, so
    xxhash64 and md5 kernels both work), then baked into a literal
    array; the corpus pass is one scan with a per-row zip_with match
    count — zero joins, zero shuffles, and at 100 TB the signature side
    is served from the e2o signature store instead of recomputed."""
    spark = df.sparkSession
    if hash_fn == "md5":
        _shash = lambda s: F.pmod(portable_hash60(s), F.lit(_MERSENNE))  # noqa: E731
    else:
        _shash = lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE))  # noqa: E731

    def _hs_col(text):
        return F.transform(shingle_grams(text, shingle_n), _shash)

    # query lanes: shingle hashing on a 1-row frame (same JVM kernel as
    # the corpus side), lane minima in numpy (same arithmetic as
    # minhash_signatures_vectorized — bit-identical, and skips the
    # interpreted 64-lane HOF entirely)
    import numpy as np

    qhs = (
        spark.range(1).select(_hs_col(F.lit(query_text)).alias("_hs")).head()["_hs"]
    )
    params = _perm_params(num_perm)
    if not qhs:
        # a query shorter than the gram width has no shingle set and
        # therefore no MinHash signature; reusing the shingle-less-doc
        # sentinel here would score sim_est=1.0 against every
        # token-sparse document (and diverge from the SQL oracle,
        # which emits no rows) — MinHashQParser likewise rejects a
        # query that analyzes to zero terms
        raise ValueError(
            f"{{!min_hash}} query text yields no {shingle_n}-gram "
            f"shingles: {query_text!r}"
        )
    h = np.asarray(qhs, dtype=np.uint64)[None, :]
    a = np.array([p[0] for p in params], dtype=np.uint64)[:, None]
    b = np.array([p[1] for p in params], dtype=np.uint64)[:, None]
    qlanes = ((a * h + b) % np.uint64(_MERSENNE)).min(axis=1).astype(np.int64)
    qlit = F.array(*[F.lit(int(v)).cast("long") for v in qlanes])
    matches = F.aggregate(
        F.zip_with(F.col("sig"), qlit, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    # corpus signatures via the Arrow-batched numpy kernel — the
    # 64-lane HOF expression runs interpreted per lane and is ~50×
    # slower here (measured 17.6 s vs numpy on the sf0.001 smoke);
    # string hashing stays JVM-side in the staged _hs projection
    pre = fan_out(df).select(
        F.col(id_col).alias("doc"), _hs_col(F.col(text_col)).alias("hs")
    )
    sigs = minhash_signatures_vectorized(pre, "doc", "hs", num_perm)
    return (
        sigs.select(
            F.col("doc").alias(id_col),
            F.round(matches / F.lit(float(num_perm)), sim_decimals).alias("sim_est"),
        )
        .filter(F.col("sim_est") >= threshold)
        .orderBy(F.col("sim_est").desc(), F.col(id_col).asc())
    )


def minhash_digest_store(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 64,
) -> "DataFrame":
    """The persisted signature-store row shape the incremental dedup
    index maintains (e2o_signature_store / its serving bench twin):
    per document, the md5 digest of its md5-portable MinHash signature
    — (doc_id, sig_key), ~50 B/doc. Shingling + shingle hashing stay
    JVM-side; the permutation lanes run in the numpy kernel. Documents
    with no shingles (shorter than the gram width) are excluded, the
    same rule the cross-engine oracle applies."""
    hs = F.transform(
        shingle_grams(text_col, shingle_n),
        lambda s: F.pmod(portable_hash60(s), F.lit(_MERSENNE)),
    )
    # fan_out: shingling + per-shingle hashing + the numpy lane kernel
    # are all map-side CPU that would otherwise run inside the scan
    # tasks — a single-row-group store scans as ONE task (r16 measured
    # 2.6s single-core vs ~0.5s fanned at sf0.1); no-op at scale
    pre = (
        fan_out(df.select(F.col(id_col), F.col(text_col)))
        .withColumn("__hs", hs)
        .filter(F.size("__hs") > 0)
        .select(F.col(id_col), "__hs")
    )
    return minhash_signatures_vectorized(pre, id_col, "__hs", num_perm).select(
        F.col("doc").alias(id_col),
        F.md5(F.concat_ws(",", F.col("sig").cast("array<string>"))).alias("sig_key"),
    )


# Intermediate frames (signatures, banded explode, hot-bucket counts)
# persisted by the most recent minhash_lsh_pairs call. DataFrame caches
# live in the CacheManager until explicitly unpersisted — they are NOT
# garbage-collected with the Python object — so without a release point
# repeated library calls in a long session accumulate cached partitions
# (bench.py masks this with clearCache(); other callers would leak).
# A call with DIFFERENT inputs releases the previous call's
# intermediates; an IDENTICAL repeat call (same params, same input
# plan, caches still live) returns the memoized pair frame instead —
# the banded signature index is "build once, query many" state exactly
# like the postings index, so serving repeated near-dup queries from
# the cached index is the intended production shape, not a leak.
# Callers who need the caches gone sooner call
# release_cached_intermediates().
_CACHED_INTERMEDIATES: list[DataFrame] = []
_MEMO: dict = {"key": None, "plan": None, "result": None}
# Guards _MEMO/_CACHED_INTERMEDIATES against interleaved release/
# memoize from concurrent threads sharing one SparkSession (e.g. a
# thread releasing frames another thread just persisted). RLock so the
# guarded build path may call release_cached_intermediates itself.
_MEMO_LOCK = threading.RLock()


def register_cached_intermediate(df: DataFrame) -> DataFrame:
    """Persist ``df`` under the library's release discipline: the next
    differing :func:`minhash_lsh_pairs` call (or an explicit
    :func:`release_cached_intermediates`) unpersists it. For LSH-family
    operators outside this module that pin a signature/banded frame
    consumed by several plan branches."""
    df = df.persist()
    with _MEMO_LOCK:
        _CACHED_INTERMEDIATES.append(df)
    return df


def release_cached_intermediates() -> None:
    """Unpersist the intermediate frames cached by the most recent
    :func:`minhash_lsh_pairs` call (and drop its memo). Safe to call at
    any time: persist is a performance hint, so a pair frame still
    being consumed is simply recomputed from lineage (correctness is
    unaffected)."""
    with _MEMO_LOCK:
        _MEMO.update(key=None, plan=None, result=None)
        while _CACHED_INTERMEDIATES:
            _CACHED_INTERMEDIATES.pop().unpersist()


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    impl: str = "pandas",
    hash_fn: str = "xxhash64",
    max_bucket_docs: int | None = 256,
) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact Jaccard verify.

    API contract: when ``max_bucket_docs`` is set (the default), merely
    CONSTRUCTING the returned DataFrame runs one eager Spark job — the
    scalar hot-bucket probe that picks the guarded vs unguarded plan —
    so even an ``explain()``/dry-run of an LSH-based query executes
    that probe (~0.2 s at sf0.1). Pass ``max_bucket_docs=None`` for a
    fully lazy (unguarded) plan. Intermediates are cached per call;
    a call with DIFFERENT inputs releases them first, while an
    identical repeat call (same params, same input plan, caches still
    live) returns the memoized pair frame — repeated queries serve
    from the cached signature index, the same build-once/query-many
    contract as the postings index. Explicit cleanup:
    :func:`release_cached_intermediates`. Holding two different LSH
    pair frames live at once is still correct, the earlier one just
    recomputes from lineage.

    Memo caveat — in-place data mutation: the memo keys on the ANALYZED
    PLAN (sameResult), not the files behind it. If the input path's
    files are rewritten in place between identical calls (e.g. by this
    library's own copy-on-write sinks), the plan still compares equal
    and the memo serves pairs computed over the OLD files. Call
    :func:`release_cached_intermediates` after mutating a source a
    live LSH memo was built from (the COW sinks' refreshByPath
    invalidates Spark's file index, not this memo).

    ``impl``: 'pandas' (default) computes signatures with the numpy
    kernel — one (num_perm × |shingles|) broadcasted modular-multiply
    + row-min per document, Arrow-batched; 'expr' computes the same
    signatures with higher-order functions (zero Python anywhere).
    Signatures are bit-identical (asserted in tests/test_pipeline.py);
    the join topology is identical. Measured at sf0.1/64 perms the
    numpy kernel is ~3× faster end-to-end (0.7 s vs 2.1 s) — the
    64-transform expression tree dominates the expr lane, so this is
    the sanctioned vectorized-Pandas-UDF case, not a row-at-a-time UDF.

    ``hash_fn``: 'xxhash64' (production default) or 'md5' — the
    portable_hash60 kernel whose lane minima the DuckDB oracle can
    reproduce exactly.

    rows_per_band = num_perm / bands; two docs become candidates iff
    some band of their signatures matches exactly (probability
    1-(1-s^r)^b for true Jaccard s). Candidates are then verified with
    exact shingle Jaccard, so the output has no false positives —
    banding only bounds recall.

    Shuffle profile: explode to (band_idx, band_hash) — self-join on
    the band bucket — verify join. Bucket keys are hashes, so UNIQUE
    texts spread skew-free; DUPLICATE texts all share every band
    bucket, which is the one adversarial skew this join has.

    ``max_bucket_docs`` is the skew guard for that case: a bucket of n
    docs would otherwise emit C(n,2) candidate pairs — a single 10M-doc
    boilerplate cluster at 100 TB turns one band bucket into 5*10^13
    pairs and strands the stage on one task. Instead, docs are ranked
    within each (band, band_hash) bucket by id; the lowest
    ``max_bucket_docs`` ids form the all-pairs CORE, and every
    overflow doc pairs only with the bucket's min-id REPRESENTATIVE
    (a star), bounding the bucket at C(cap,2) + (n - cap) pairs —
    linear in n past the cap. The exact-Jaccard verify still runs on
    every emitted pair, so precision is untouched; what the star
    trades is pair RECALL among overflow docs whose similarity to the
    representative falls below threshold while their mutual similarity
    does not — for the mass-duplicate clusters that actually create
    hot buckets, overflow↔representative similarity is ~1, so the
    cluster stays connected and downstream connected-components dedup
    is unchanged. Ranking is a row_number window partitioned by the
    same (band, band_hash) keys the join shuffles on (one in-partition
    sort, no extra exchange), and the guard is deterministic (id
    order), so results are reproducible run-to-run. Set
    ``max_bucket_docs=None`` to restore the unguarded all-pairs join.
    """
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    if max_bucket_docs is not None and max_bucket_docs < 1:
        # 0 would silently disable the guard via `if max_bucket_docs:`
        # truthiness; the explicit "no guard" spelling is None
        raise ValueError(
            f"max_bucket_docs must be >= 1 or None (got {max_bucket_docs})"
        )
    params_key = (
        id_col, text_col, num_perm, bands, shingle_n, threshold, impl,
        hash_fn, max_bucket_docs,
    )
    with _MEMO_LOCK:
        if _MEMO["key"] == params_key and _MEMO["plan"] is not None:
            try:
                same = df._jdf.queryExecution().analyzed().sameResult(_MEMO["plan"])
                live = any(
                    f.storageLevel.useMemory or f.storageLevel.useDisk
                    for f in _CACHED_INTERMEDIATES
                )
            except Exception:  # noqa: BLE001 — plan comparison is best-effort
                same = live = False
            if same and live:
                return _MEMO["result"]
        release_cached_intermediates()
    r = num_perm // bands

    # staged: shingles → hashed shingles → signature, each materialized
    # once per row; cached because banding, candidate gen and verify all
    # reuse it (at 100 TB this intermediate would be a checkpointed table)
    if hash_fn == "md5":
        _shash = lambda s: F.pmod(portable_hash60(s), F.lit(_MERSENNE))  # noqa: E731
    else:
        _shash = lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE))  # noqa: E731
    pre = (
        fan_out(df)  # shingling + lane hashing is map-side CPU
        .select(F.col(id_col).alias("doc"), shingle_grams(text_col, shingle_n).alias("sh"))
        .filter(F.size("sh") > 0)
        .withColumn("hs", F.transform("sh", _shash))
    )
    if impl == "pandas":
        import numpy as np
        import pandas as pd

        params = _perm_params(num_perm)
        a = np.array([p[0] for p in params], dtype=np.uint64)[:, None]
        b = np.array([p[1] for p in params], dtype=np.uint64)[:, None]
        m = np.uint64(_MERSENNE)

        def _sig(it):
            for pdf in it:
                sigs = [
                    ((a * np.asarray(hs, dtype=np.uint64)[None, :] + b) % m)
                    .min(axis=1)
                    .astype(np.int64)
                    for hs in pdf["hs"]
                ]
                yield pd.DataFrame({"doc": pdf["doc"], "sh": pdf["sh"], "sig": sigs})

        base = pre.mapInPandas(
            _sig, schema="doc long, sh array<string>, sig array<long>"
        ).persist()
    else:
        base = pre.withColumn("sig", minhash_signature_from_hashes("hs", num_perm)).persist()
    with _MEMO_LOCK:
        _CACHED_INTERMEDIATES.append(base)

    banded = base.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(F.concat_ws(",", F.slice("sig", bi * r + 1, r))).alias("bh"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("b"),
    ).select("doc", "b.band", "b.bh")

    # both self-join sides (and the skew probe) re-read the CPU-heavy
    # band explode — pin it once; ~24 B/row, and at 100 TB this is the
    # intermediate a deployment checkpoints to a table between the
    # signature and candidate stages
    banded = banded.persist()
    with _MEMO_LOCK:
        _CACHED_INTERMEDIATES.append(banded)

    # Size-adaptive skew guard — the same judgment-by-measurement
    # pattern as connected_components' driver_threshold: ONE tiny agg
    # over the cached banded frame asks "does any bucket exceed the
    # cap?" (a scalar probe, ~0.2 s at sf0.1), and only when the
    # answer is yes does the plan switch to the capped form. The
    # common case (every real fixture: max bucket 4 vs cap 256) keeps
    # the unguarded hash self-join byte-for-byte — always-on guard
    # formulations (groupBy routing joins, per-side count windows, a
    # persisted counted frame) all measured +0.5-0.8 s per LSH query
    # at sf0.1 for insurance that never pays out.
    hot_exists = False
    if max_bucket_docs is not None:
        hot_exists = bool(
            banded.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket_docs)
            .limit(1)
            .count()
        )
    if hot_exists:
        from pyspark.sql import Window

        # Capped form, hot buckets only. Bucket sizes come from a
        # count-over-window on the SAME (band, bh) partitioning the
        # join shuffles on; the counted frame is persisted so the
        # explode + shuffle + sort + count run exactly once. Normal
        # buckets keep the plain all-pairs join; each hot bucket is
        # bounded at C(cap,2) + (n − cap) pairs: the CORE (lowest-cap
        # ids, y.rk <= cap) does all-pairs, every overflow doc pairs
        # only with the bucket representative (x.rk == 1 — the bucket
        # min, so id_a < id_b holds by construction). Linear in n past
        # the cap, never n².
        w_n = Window.partitionBy("band", "bh")
        b2 = banded.withColumn("_n", F.count(F.lit(1)).over(w_n)).persist()
        with _MEMO_LOCK:
            _CACHED_INTERMEDIATES.append(b2)
        normal = b2.filter(F.col("_n") <= max_bucket_docs).select(
            "doc", "band", "bh"
        )
        cand_normal = (
            normal.alias("x")
            .join(normal.alias("y"), ["band", "bh"])
            .filter(F.col("x.doc") < F.col("y.doc"))
            .select(F.col("x.doc").alias("id_a"), F.col("y.doc").alias("id_b"))
        )
        w = Window.partitionBy("band", "bh").orderBy("doc")
        rb = b2.filter(F.col("_n") > max_bucket_docs).withColumn(
            "rk", F.row_number().over(w)
        )
        cand_hot = (
            rb.filter(F.col("rk") <= max_bucket_docs)
            .alias("x")
            .join(rb.alias("y"), ["band", "bh"])
            .filter(
                (F.col("x.doc") < F.col("y.doc"))
                & ((F.col("y.rk") <= max_bucket_docs) | (F.col("x.rk") == 1))
            )
            .select(F.col("x.doc").alias("id_a"), F.col("y.doc").alias("id_b"))
        )
        cand = cand_normal.union(cand_hot).distinct()
    else:
        cand = (
            banded.alias("x")
            .join(banded.alias("y"), ["band", "bh"])
            .filter(F.col("x.doc") < F.col("y.doc"))
            .select(F.col("x.doc").alias("id_a"), F.col("y.doc").alias("id_b"))
            .distinct()
        )

    sh_a = base.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = base.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    with _MEMO_LOCK:
        _MEMO.update(
            key=params_key, plan=df._jdf.queryExecution().analyzed(), result=verified
        )
    return verified


# ------------------------------------------- near-dup clusters (E2 final)

def _union_find_components(edges: DataFrame, pdf=None) -> DataFrame:
    """Driver-side union-find over a SMALL edge list → (doc, component)
    with component = min member id — identical output contract to the
    distributed loop. Only called when the edge count is under the
    broadcast-class threshold (see connected_components), where one
    collect of the edge list beats 2-3 rounds of tiny-join scheduling
    by ~10×. ``pdf``: the already-collected pandas edge frame when the
    caller's size probe fetched it (connected_components' limit+collect
    probe — no second collect)."""
    if pdf is None:
        pdf = edges.toPandas()  # Arrow-backed: 2 columns, ~16 B/edge
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        m = comp_min.get(r)
        comp_min[r] = node if m is None or node < m else m
    from pyspark.sql import types as T

    node_t = edges.schema["u"].dataType
    schema = T.StructType(
        [T.StructField("doc", node_t, False), T.StructField("component", node_t, False)]
    )
    data = [(n, comp_min[find(n)]) for n in parent]
    return edges.sparkSession.createDataFrame(data, schema)


def connected_components(
    pairs: DataFrame,
    max_iters: int = 20,
    checkpoint_interval: int = 5,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components over a near-dup pair list → (doc, component)
    where component = min doc id in the component (the canonical
    representative a dedup pass keeps).

    Iterative label propagation: every node adopts the minimum label in
    its neighborhood until fixed point. Iterations are O(diameter) —
    near-dup graphs are unions of small cliques, so 2–3 rounds in
    practice; ``max_iters`` bounds adversarial chains. Each round is
    one groupBy over the (small) edge list — the corpus is never
    touched. Labels persist per round, and every
    ``checkpoint_interval`` rounds the label frame is localCheckpointed
    to CUT LINEAGE: without it the plan unrolls one join+agg layer per
    round (hundreds of exchanges of plan text by round 20), which at
    100 TB bloats task serialization and risks stack-deep reoptimization
    even though execution reuses the cached rounds.
    """
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .union(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
        .distinct()
    )
    # Size-adaptive path choice — the same judgment call as a broadcast
    # join: an edge list under ~1M rows is driver-safe by definition,
    # and one collect + union-find beats O(diameter) rounds of
    # tiny-join job scheduling by ~10× locally. The size probe IS the
    # collect: limit(threshold+1) either returns the WHOLE list (limit
    # didn't truncate ⇒ union-find runs on the fetched frame — ONE
    # action per CC call; the previous checkpoint+count+collect triple
    # cost three scheduling rounds, most of the commit fold's serial
    # floor, r14) or proves the list is over-threshold and the
    # distributed loop below takes over. Pass driver_threshold=0 to
    # force the loop (tests do).
    # The probe runs UN-persisted: an r15 variant persisted the edges
    # across the probe so the over-threshold path wouldn't derive the
    # pairing twice, but that made the COMMON small path pay a full
    # block-store materialization of every edge partition on every CC
    # call — measured +2s per serving commit at sf0.1 (r15 verdict
    # finding 3; the A/B is in bench_samples r16 + SCALE.md). The rare
    # over-threshold path instead re-derives the pairing once for the
    # checkpoint below — the right side of the trade, since crossing
    # driver_threshold means the caller is in bulk-bootstrap territory
    # where one extra derivation is noise against the O(diameter) loop.
    if driver_threshold:
        probe = edges.limit(driver_threshold + 1).toPandas()
        if len(probe) <= driver_threshold:
            return _union_find_components(edges, pdf=probe)
    # localCheckpoint (not just persist): the edge list is consumed by
    # every propagation round, so its upstream lineage — typically the
    # whole LSH candidate-pair pipeline — would otherwise be re-embedded
    # in each round's plan and dominate the final plan size
    edges = edges.localCheckpoint(eager=True)
    labels = edges.select("u").distinct().withColumn("label", F.col("u"))

    # Convergence check: each round carries (old_label, label) through
    # the persist so ONE tiny agg counts changed nodes exactly. Valid
    # for ANY orderable id type — a numeric-cast label sum would be
    # NULL for string ids (never converges early) and non-monotone for
    # numeric-looking strings ('10' < '9' lexicographically) where
    # opposing per-node deltas can cancel (premature break). The agg
    # doubles as the action that materializes the round's
    # persist/checkpoint, so it's still 1 job per round.
    # Cache hygiene (ADVICE r5 finding 4): each round's frame is only
    # needed until the NEXT round's frame has materialized — after
    # that, keeping it cached just accumulates partitions across
    # iterations. Track the previous round's persist()-ed frame and
    # drop it once the convergence agg (the action that materializes
    # the current round) completes. localCheckpoint()-ed rounds are
    # NEVER unpersisted: a checkpoint truncates lineage, so evicting
    # its blocks would make later rounds unrecomputable — but a
    # checkpoint also cuts every earlier frame out of the lineage,
    # which is exactly when dropping the previous persist is safest.
    prev_persisted = None
    for it in range(max_iters):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
        )
        stepped = (
            labels.join(neighbor_min, "u", "left")
            .select(
                "u",
                F.col("label").alias("old_label"),
                F.least(F.col("label"), F.coalesce("nmin", F.col("label"))).alias("label"),
            )
        )
        if (it + 1) % checkpoint_interval == 0:
            # truncate lineage; eager so the cut happens before the
            # convergence action re-walks the plan
            stepped = stepped.localCheckpoint(eager=True)
            this_persisted = None
        else:
            stepped = stepped.persist()
            this_persisted = stepped
        changed = stepped.agg(
            F.sum((F.col("label") != F.col("old_label")).cast("long")).alias("c")
        ).head()["c"]
        if prev_persisted is not None:
            # current round is materialized in cache; recompute-on-
            # eviction walks intact lineage, so this is purely a
            # memory release, never a correctness risk
            prev_persisted.unpersist()
        prev_persisted = this_persisted
        labels = stepped.select("u", "label")
        if not changed:
            break
    return labels.select(F.col("u").alias("doc"), F.col("label").alias("component"))


def near_dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    **lsh_kwargs,
) -> DataFrame:
    """End-to-end near-dup dedup: MinHash-LSH candidate pairs →
    connected components → (id, component, is_canonical). Keep rows
    with is_canonical (or component is null — unique docs never enter
    the pair graph and are implicitly canonical)."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, threshold=threshold, **lsh_kwargs)
    comp = connected_components(pairs)
    return (
        df.select(F.col(id_col))
        .join(comp.withColumnRenamed("doc", id_col), id_col, "left")
        .select(
            id_col,
            "component",
            (F.col("component").isNull() | (F.col("component") == F.col(id_col))).alias(
                "is_canonical"
            ),
        )
    )


# ----------------------------------------------------------- E2c SimHash

def simhash_counts(text_col: Column | str, bits: int = 64, hash_fn: str = "xxhash64") -> Column:
    """Per-bit contribution sums (array<long>[bits]) for SimHash.

    Per token: h = hash(token); bit i contributes +1 if set else
    -1. A per-row ``aggregate`` over the token-hash array — no shuffle.
    Materialize this as its own column, then apply :func:`pack_bits`
    (referencing it 64× inline would re-run the fold per bit lane).

    ``hash_fn='md5'`` uses portable_hash60 (oracle-reproducible);
    pair it with bits <= 60.
    """
    # hash every token exactly once (string hashing dominates cost),
    # then fold cheap bit ops over the hash array; bit positions are
    # Python literals (shiftright takes an int, not a Column)
    _thash = portable_hash60 if hash_fn == "md5" else F.xxhash64
    token_hashes = F.transform(tokens(text_col), lambda t: _thash(t))
    zero = F.array_repeat(F.lit(0).cast("long"), bits)
    counts = F.aggregate(
        token_hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1)
                    .otherwise(-1)
                    .cast("long")
                    for i in range(bits)
                ]
            ),
            lambda a, c: a + c,
        ),
    )
    return counts


def pack_bits(counts_col: Column | str, bits: int = 64) -> Column:
    """Pack a counts array into one bigint signature
    (bit i = 1 iff counts[i] >= 0)."""
    counts = F.col(counts_col) if isinstance(counts_col, str) else counts_col
    bit_terms = [
        F.when(F.element_at(counts, i + 1) >= 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for i in range(min(bits, 63))
    ]
    out = F.lit(0).cast("long")
    if bits == 64:
        # bit 63 is the sign bit: set it via negative literal to stay in int64
        out = F.when(F.element_at(counts, 64) >= 0, F.lit(-(1 << 63)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    for term in bit_terms:
        out = out.bitwiseOR(term)
    return out


def simhash64(text_col: Column | str) -> Column:
    """One-shot 64-bit SimHash (bigint). For plans that reuse the
    signature, stage simhash_counts → pack_bits as separate columns
    instead (see simhash_pairs)."""
    return pack_bits(simhash_counts(text_col))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= max_hamming.

    Block trick: split the ``bits``-wide signature into
    (max_hamming + 1) equal blocks; by pigeonhole, any pair within
    distance k shares at least one exact block — candidates come from a
    self-join on (block_idx, block_value), then exact Hamming verify
    via bit_count. Docs with no tokens are excluded (their all-ones
    zero-count signature would pair every empty doc with every other).
    """
    n_blocks = max_hamming + 1
    width = bits // n_blocks
    # staged + cached: the signature feeds the block explode AND both
    # sides of the candidate self-join
    sig = (
        fan_out(df)  # 64-lane bit counting is map-side CPU
        .select(F.col(id_col).alias("doc"), F.col(text_col).alias("_txt"))
        .filter(F.size(tokens("_txt")) > 0)
        .withColumn("_cnt", simhash_counts(F.col("_txt"), bits, hash_fn))
        .withColumn("sig", pack_bits("_cnt", bits))
        .drop("_cnt", "_txt")
        .persist()
    )

    # block offsets are Python literals (shift distances must be ints)
    blocked = sig.select(
        "doc",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("blk"),
                        F.shiftrightunsigned(F.col("sig"), bi * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bv"),
                    )
                    for bi in range(n_blocks)
                ]
            )
        ).alias("b"),
    ).select("doc", "sig", "b.blk", "b.bv")

    pairs = (
        blocked.alias("x")
        .join(blocked.alias("y"), ["blk", "bv"])
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(
            F.col("x.doc").alias("id_a"),
            F.col("y.doc").alias("id_b"),
            F.col("x.sig").alias("sig_a"),
            F.col("y.sig").alias("sig_b"),
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return pairs


# ------------------------------------------- E2g exact-substring spans

def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    ratio_decimals: int = 6,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Per-document duplicated-substring coverage — the Spark-first
    shape of suffix-array exact-substring dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better": remove
    exact token substrings of length >= n repeated across documents).

    Instead of a monolithic suffix array (inherently sequential to
    build), every length-``n`` token window is shingled with its
    position; a window duplicated across >= 2 documents marks its
    token range [pos, pos+n-1] as duplicated, and overlapping or
    adjacent ranges merge into maximal spans (island detection over
    positions: a new span starts when the gap to the previous
    duplicated window exceeds ``n``).

    Plan: posexplode shingles (narrow) -> distinct (doc, gram) ->
    groupBy(gram) document frequency (map-side partial agg) -> join
    positions against the df>1 grams (shingle-keyed, same skew class
    as the e2 near-dup join; ubiquitous shingles can be capped exactly
    like max_shingle_df there) -> per-doc windows ordered by position
    for span assembly -> one hash agg per (doc, span) then per doc.
    Nothing is proportional to corpus x corpus; shuffle keys are
    shingle hashes then doc ids.

    Output (docs with >= 1 duplicated window):
      doc_id, n_grams, n_dup_grams, n_spans, dup_tokens, dup_ratio
    ordered by dup_ratio desc, doc_id asc.
    """
    from pyspark.sql import Window

    doc = F.col(id_col)
    # the positional postings feed BOTH the df aggregate and the
    # positional join — persist so the interpreted-HOF shingling runs
    # once, mirroring ngram_jaccard_pairs' postings persist; fan_out
    # spreads it across cores on under-partitioned scans (no-op at scale)
    pos_grams = (
        fan_out(df)
        .select(doc, F.posexplode(shingle_grams(text_col, n)).alias("pos0", "gram"))
        .select(doc, (F.col("pos0") + 1).alias("pos"), "gram")
        .persist()
    )

    gdf = (
        pos_grams.select(doc, "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("gdf"))
        .filter(F.col("gdf") > 1)
    )
    if max_gram_df is not None:
        # skew guard, same role as ngram_jaccard_pairs.max_shingle_df:
        # boilerplate windows shared by huge doc counts concentrate the
        # join key — cap their df before the positional join. (A capped
        # gram no longer marks spans; at 100 TB the capped set is
        # boilerplate you'd strip anyway.)
        gdf = gdf.filter(F.col("gdf") <= max_gram_df)
    dup_pos = pos_grams.join(gdf.select("gram"), "gram").select(doc, "pos")

    w = Window.partitionBy(id_col).orderBy("pos")
    flagged = dup_pos.withColumn(
        "new_span",
        F.when(
            F.coalesce(F.col("pos") - F.lag("pos").over(w), F.lit(n + 1)) > n,
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "span_id",
        F.sum("new_span").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_span = flagged.groupBy(id_col, "span_id").agg(
        F.min("pos").alias("lo"),
        F.max("pos").alias("hi"),
        F.count(F.lit(1)).alias("n_windows"),
    )
    per_doc = per_span.groupBy(id_col).agg(
        F.sum("n_windows").alias("n_dup_grams"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("hi") - F.col("lo") + F.lit(n)).alias("dup_tokens"),
    )

    sizes = df.select(
        doc,
        F.size(tokens(text_col)).alias("n_tokens"),
        F.greatest(F.size(tokens(text_col)) - (n - 1), F.lit(0)).alias("n_grams"),
    )
    return (
        per_doc.join(sizes, id_col)
        .select(
            doc,
            "n_grams",
            "n_dup_grams",
            "n_spans",
            "dup_tokens",
            F.round(F.col("dup_tokens") / F.col("n_tokens"), ratio_decimals).alias(
                "dup_ratio"
            ),
        )
        .orderBy(F.col("dup_ratio").desc(), doc.asc())
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Exact-substring REMOVAL (the ship-form of duplicated_spans,
    completing Lee et al. 2021): cut every cross-document duplicated
    token range out of each document and return the cleaned text plus
    removal accounting.

    Plan: the positional duplicated-window marks (same shingle-df join
    as duplicated_spans) explode into covered token positions
    (`sequence(pos, pos+n-1)` — span width is bounded by doc length);
    surviving tokens are the anti-join of the doc's positional tokens
    against the covered set, re-assembled in order with one
    sort-within-group aggregation per doc. Shuffle keys: shingle then
    doc — identical scale class to duplicated_spans.
    """
    from pyspark.sql import Window

    doc = F.col(id_col)
    # the positional postings feed BOTH the df aggregate and the
    # positional join — persist so the interpreted-HOF shingling runs
    # once, mirroring ngram_jaccard_pairs' postings persist; fan_out
    # spreads it across cores on under-partitioned scans (no-op at scale)
    pos_grams = (
        fan_out(df)
        .select(doc, F.posexplode(shingle_grams(text_col, n)).alias("pos0", "gram"))
        .select(doc, (F.col("pos0") + 1).alias("pos"), "gram")
        .persist()
    )
    gdf = (
        pos_grams.select(doc, "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("gdf"))
        .filter(F.col("gdf") > 1)
    )
    if max_gram_df is not None:
        gdf = gdf.filter(F.col("gdf") <= max_gram_df)
    covered = (
        pos_grams.join(gdf.select("gram"), "gram")
        .select(doc, F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias("pos"))
        .distinct()
    )

    toks = df.select(
        doc, F.posexplode(tokens(text_col)).alias("pos0", "tok")
    ).select(doc, (F.col("pos0") + 1).alias("pos"), "tok")
    kept = toks.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("kept_tokens"),
    )
    sizes = df.select(doc, F.size(tokens(text_col)).alias("n_tokens"))
    return (
        sizes.join(rebuilt, id_col, "left")
        .select(
            doc,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("kept_tokens"), F.lit(0)).cast("long").alias("kept_tokens"),
            (F.col("n_tokens") - F.coalesce(F.col("kept_tokens"), F.lit(0)))
            .cast("long")
            .alias("removed_tokens"),
        )
    )


# ----------------------------------------------------- E2j SemDeDup


def semantic_pairs(
    embeddings: DataFrame,
    threshold: float = 0.40,
    n_planes: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_fn: str = "xxhash64",
    decimals: int = 6,
) -> DataFrame:
    """SemDeDup candidate pairs (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication"): two documents are semantic duplicates when their
    embeddings' cosine exceeds ``threshold`` within the same cluster.

    The paper clusters with k-means and compares all pairs inside a
    cluster; the scale path here uses hyperplane-LSH buckets as the
    cluster structure instead — deterministic, train-free, and the
    bucket id is a pure projection, so the "clustering" costs one scan
    and zero shuffles before the bucket-keyed self-join. Same
    all-pairs-within-cluster shape as the paper; bucket count (2^n_planes)
    plays the paper's k. With ``plane_fn='md5'`` the planes are exact
    portable rationals and a SQL oracle reproduces the pairs
    bit-for-bit.

    At 100 TB: the self-join shuffles on the bucket id — uniformly
    hash-derived, so skew-free — and each bucket holds ~N/2^n_planes
    vectors; n_planes scales the per-bucket quadratic term down
    independently of corpus size (pick n_planes ≈ log2(N/5000)).
    Missed cross-bucket pairs are the usual LSH recall trade measured
    by similarity.lsh_recall."""
    from hbase_increment_index_spark.pipeline.similarity import (
        build_lsh_buckets,
        cosine,
    )

    # fan_out: the per-row hyperplane bucketing (n_planes × dim HOF
    # dot products) is map-side CPU inside the scan tasks of BOTH join
    # branches below (no-op at scale — guide §2). The LAZY lineage cut
    # computes that bucketing ONCE for the self-join (both branches
    # read the materialized frame; the join was already the
    # stats-audited SortMergeJoin, so the cut cannot flip a strategy —
    # r16, guide §2.4)
    bucketed = build_lsh_buckets(
        fan_out(embeddings, min_split_bytes=16 * 1024), n_planes=n_planes, dim=dim, id_col=id_col,
        vec_col=vec_col, plane_fn=plane_fn,
    ).select(
        F.col("bucket"),
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).localCheckpoint(eager=False)
    a = bucketed.select("bucket", F.col(id_col).alias("id_a"), F.col("_v").alias("_va"))
    b = bucketed.select("bucket", F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"))
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cosine(F.col("_va"), F.col("_vb")), decimals))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.40,
    **pair_kwargs,
) -> DataFrame:
    """SemDeDup end-to-end: semantic pairs → connected components →
    (id, component, is_canonical). The survivor set is the rows with
    ``is_canonical`` — one broadcast-size anti-join against the corpus
    ships it (duplicate components are a small minority at any scale,
    same argument as near_dup_clusters)."""
    id_col = pair_kwargs.get("id_col", "vec_id")
    pairs = semantic_pairs(embeddings, threshold=threshold, **pair_kwargs)
    comp = connected_components(pairs)
    return (
        embeddings.select(F.col(id_col))
        .join(comp.withColumnRenamed("doc", id_col), id_col, "left")
        .select(
            id_col,
            "component",
            (F.col("component").isNull() | (F.col("component") == F.col(id_col))).alias(
                "is_canonical"
            ),
        )
    )


def semantic_dedup_auto(
    embeddings: DataFrame,
    threshold: float = 0.40,
    target_bucket_size: int = 2000,
    max_planes: int = 24,
    **pair_kwargs,
) -> DataFrame:
    """semantic_dedup with the 100 TB knob applied automatically:
    n_planes = ceil(log2(N / target_bucket_size)) so expected bucket
    size stays ~constant as the corpus grows — per-bucket pair work is
    then O(target²) regardless of N. Costs one count() of the corpus
    (at scale: read it from table metadata instead)."""
    import math

    n = embeddings.count()
    planes = min(max_planes, max(1, math.ceil(math.log2(max(2, n / target_bucket_size)))))
    return semantic_dedup(embeddings, threshold=threshold, n_planes=planes, **pair_kwargs)


def incremental_semantic_dups(
    existing: DataFrame,
    incoming: DataFrame,
    threshold: float = 0.40,
    n_planes: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_fn: str = "xxhash64",
    decimals: int = 6,
) -> DataFrame:
    """Incremental SemDeDup: flag INCOMING vectors that semantically
    duplicate the EXISTING corpus — the delta-vs-index form every
    continuously-embedded pipeline runs (the vector analogue of
    incremental_near_dups). Both sides bucket with the same
    hyperplane LSH; the join is BIPARTITE (new × old within a bucket
    only), so no old×old pairing work ever happens. At 100 TB the
    existing side's (bucket, id, vector) frame is the persisted ANN
    index partitioned by bucket — the probe reads only the buckets
    the delta hashes into."""
    from hbase_increment_index_spark.pipeline.similarity import (
        build_lsh_buckets,
        cosine,
    )

    def prep(df: DataFrame, tag: str) -> DataFrame:
        return build_lsh_buckets(
            df, n_planes=n_planes, dim=dim, id_col=id_col, vec_col=vec_col,
            plane_fn=plane_fn,
        ).select(
            "bucket",
            F.col(id_col).alias(f"id_{tag}"),
            F.col(vec_col).cast("array<double>").alias(f"_v{tag}"),
        )

    new_side = prep(incoming, "new")
    old_side = prep(existing, "old")
    return (
        new_side.join(old_side, "bucket")
        # a re-embedded id present on both sides is an UPDATE, not a
        # duplicate of itself — drop self-pairs so the delta pipeline
        # never flags its own refreshes for removal
        .filter(F.col("id_new") != F.col("id_old"))
        .withColumn("cos", F.round(cosine(F.col("_vnew"), F.col("_vold")), decimals))
        .filter(F.col("cos") >= threshold)
        .select("id_new", "id_old", "cos")
    )


def merge_cluster_labels(stored: DataFrame, new_pairs: DataFrame) -> DataFrame:
    """Incremental connected-component maintenance — the reference's
    maintain-don't-rebuild thesis (HbaseSolrIndexCoprocesser.java:37-61)
    applied to CLUSTER STATE: fold a delta batch's new near-dup pairs
    into stored CC labels without re-pairing or re-clustering the
    corpus.

    ``stored``: (doc, component) labels from the previous batch
    (component = min doc id, :func:`connected_components`' contract).
    ``new_pairs``: (id_a, id_b) pairs incident to the delta (the e2f
    bipartite delta×corpus pairs plus delta-internal pairs).

    Algorithm — union-find over COMPONENT ids, never docs:

    1. Map each pair endpoint to its current label (its stored
       component, or itself when unlabeled — new docs and prior
       singletons). The lookup goes through a TOUCH-SET reduction:
       the distinct endpoint keys (∝ |delta|) broadcast against the
       stored frame ONCE, producing a small touched-labels frame that
       then broadcasts onto the pairs — the corpus-scale label table
       is streamed once and never shuffled, and every join in the
       merge is a broadcast join.
    2. Run CC on this META graph (nodes = touched component reps +
       fresh doc ids — work ∝ |delta pairs|, never corpus size).
    3. Relabel: stored labels left-join the (tiny, broadcast)
       component remap; fresh nodes take their meta component
       directly. Untouched components pass through unchanged.

    Because a stored component's representative IS its minimum doc id,
    the meta minimum equals the global minimum of the merged
    component — so merge ≡ rebuild EXACTLY (the e2o discipline: the
    oracle proves it by re-clustering the full corpus from scratch).
    """
    pe = new_pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    keys = (
        pe.select(F.col("u").alias("doc"))
        .unionByName(pe.select(F.col("v").alias("doc")))
        .distinct()
    )
    touched = stored.join(F.broadcast(keys), "doc")
    lu = touched.select(F.col("doc").alias("u"), F.col("component").alias("_lu"))
    lv = touched.select(F.col("doc").alias("v"), F.col("component").alias("_lv"))
    labeled = pe.join(F.broadcast(lu), "u", "left").join(F.broadcast(lv), "v", "left")

    # labeled is ∝ |delta pairs| — driver-small by the same contract
    # that lets connected_components run union-find on the driver. The
    # r16 form localCheckpointed it (one blocking job) and then ran the
    # meta CC's limit-probe collect over it (a second job, plus a
    # distinct shuffle), with the fresh/remap branches reading the
    # checkpoint in the consumer's job: ≥3 scheduling rounds per merge,
    # and the checkpoint pinned blocks in the block manager (guide §5).
    # ONE collect now fetches the labeled pairs (nulls pre-coalesced so
    # no int column turns float in pandas) and the meta union-find,
    # fresh-node set and component remap are all computed driver-side
    # from that single frame: 1 scheduling round, no checkpoint, no
    # distinct shuffle — result-identical (same meta graph, same
    # min-id components). Over-threshold deltas fall back to the
    # distributed form below (r17, guide §2.6/§5).
    probe = labeled.select(
        F.coalesce("_lu", F.col("u")).alias("ma"),
        F.coalesce("_lv", F.col("v")).alias("mb"),
        "u",
        "v",
        F.col("_lu").isNull().alias("fu"),
        F.col("_lv").isNull().alias("fv"),
    )
    driver_threshold = 1_000_000
    pdf = probe.limit(driver_threshold + 1).toPandas()
    if len(pdf) <= driver_threshold:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(pdf["ma"].tolist(), pdf["mb"].tolist()):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp_min: dict = {}
        for node in parent:
            r = find(node)
            m = comp_min.get(r)
            comp_min[r] = node if m is None or node < m else m
        # fresh nodes (no stored label) entered the meta graph as raw
        # doc ids: ma/mb IS the doc id wherever fu/fv says so
        fresh_docs = set(pdf.loc[pdf["fu"], "u"].tolist()) | set(
            pdf.loc[pdf["fv"], "v"].tolist()
        )
        touched_labels = set(pdf.loc[~pdf["fu"], "ma"].tolist()) | set(
            pdf.loc[~pdf["fv"], "mb"].tolist()
        )
        from pyspark.sql import types as T

        # the coalesced meta-edge type — identical to what the old
        # distributed path's edges.schema["u"] carried
        node_t = probe.schema["ma"].dataType
        spark = stored.sparkSession
        remap = spark.createDataFrame(
            [(lab, comp_min[find(lab)]) for lab in sorted(touched_labels)],
            T.StructType(
                [
                    T.StructField("component", node_t, False),
                    T.StructField("_newc", node_t, False),
                ]
            ),
        )
        fresh_rows = spark.createDataFrame(
            [(d, comp_min[find(d)]) for d in sorted(fresh_docs)],
            T.StructType(
                [
                    T.StructField("doc", node_t, False),
                    T.StructField("component", node_t, False),
                ]
            ),
        )
        relabeled = stored.join(F.broadcast(remap), "component", "left").select(
            "doc", F.coalesce("_newc", F.col("component")).alias("component")
        )
        return relabeled.unionByName(fresh_rows)

    # over-threshold fall-back: the r16 distributed form (checkpoint +
    # meta CC); crossing 1M delta pairs means bulk-bootstrap territory
    labeled = labeled.localCheckpoint(eager=True)
    meta_edges = labeled.select(
        F.coalesce("_lu", F.col("u")).alias("id_a"),
        F.coalesce("_lv", F.col("v")).alias("id_b"),
    )
    meta_cc = connected_components(meta_edges)
    # nodes that entered the meta graph as raw doc ids (no stored
    # label): new docs + prior singletons — they need their own rows
    fresh = (
        labeled.filter(F.col("_lu").isNull()).select(F.col("u").alias("doc"))
        .unionByName(
            labeled.filter(F.col("_lv").isNull()).select(F.col("v").alias("doc"))
        )
        .distinct()
    )
    remap = meta_cc.select(
        F.col("doc").alias("component"), F.col("component").alias("_newc")
    )
    relabeled = stored.join(F.broadcast(remap), "component", "left").select(
        "doc", F.coalesce("_newc", F.col("component")).alias("component")
    )
    fresh_rows = fresh.join(F.broadcast(meta_cc), "doc").select("doc", "component")
    return relabeled.unionByName(fresh_rows)


def delete_from_clusters(
    stored: DataFrame,
    deleted_ids: DataFrame,
    corpus: DataFrame | None,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    postings: DataFrame | None = None,
    sizes: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """The CC-label DELETE path — the one derived-store mutation a
    label merge cannot express (removing a doc can SPLIT its
    component, and the component id — its min doc id — may be the
    deleted doc itself), implemented as the SCOPED REBUILD it has to
    be: only the affected components are re-paired and re-clustered.

    ``stored``: (doc, component) labels; ``deleted_ids``: the batch's
    delete set; ``corpus``: the post-delete document table (at scale,
    read pruned to the affected members via the broadcast semi-join
    below — work ∝ Σ|affected components|, never corpus size).

    Plan: the (small) delete set broadcasts against the label table to
    find affected component ids; their surviving members' text is
    semi-joined out of the corpus, re-paired (exact n-gram Jaccard —
    deletion never creates pairs, so pairing survivors alone is exact:
    cross-component pairs cannot exist at the same threshold), and
    re-clustered from scratch; untouched components pass through
    unchanged (their pair sets are untouched, so their min-id labels
    are too). Survivors whose last pair left with the deleted doc drop
    out of the table, matching the from-scratch rebuild's
    only-paired-docs contract. Merge ≡ rebuild is oracle-proven
    (e2t_cluster_delete) and pytest-proven
    (tests/test_round12_ops.py). Together with
    :func:`merge_cluster_labels` (the insert path) this covers the
    CDC verbs one at a time; a mixed batch folds through
    :func:`commit_cluster_state`, which needs neither."""
    dele = deleted_ids.select(F.col(id_col).alias("doc")).distinct()
    affected = (
        stored.join(F.broadcast(dele), "doc", "left_semi")
        .select("component")
        .distinct()
    )
    untouched = stored.join(F.broadcast(affected), "component", "left_anti")
    survivors = (
        stored.join(F.broadcast(affected), "component", "left_semi")
        .join(F.broadcast(dele), "doc", "left_anti")
        .select("doc")
    )
    if pairs is not None:
        # pair-list form: ``pairs`` is the PRE-delete corpus's pair
        # list at this same threshold (e.g. the one the caller already
        # materialized to bootstrap the stored labels). A pair's
        # jaccard is a function of ITS TWO docs' shingle sets alone —
        # deleting other docs changes nothing and deletion never
        # CREATES pairs — so the survivor re-pairing is exactly the
        # stored list restricted to pairs with BOTH endpoints
        # surviving: two broadcast semi-joins instead of a fresh
        # pairing job (result-identical to the store-served and direct
        # forms, pytest-pinned).
        new_pairs = (
            pairs.join(
                F.broadcast(survivors.withColumnRenamed("doc", "id_a")),
                "id_a",
                "left_semi",
            )
            .join(
                F.broadcast(survivors.withColumnRenamed("doc", "id_b")),
                "id_b",
                "left_semi",
            )
            .select("id_a", "id_b")
        )
    elif postings is not None and sizes is not None:
        # store-served form: survivors' pairs come from the persisted
        # shingle store — the delete verb touches NO corpus text
        # (result-identical, pytest-proven); deleted docs are excluded
        # by the survivor restriction itself, so the pre-delete store
        # serves as-is
        new_pairs = ngram_jaccard_pairs_from_index(
            postings, sizes, threshold=threshold, doc_set=survivors
        ).select("id_a", "id_b")
    else:
        surv_docs = corpus.join(
            F.broadcast(survivors.withColumnRenamed("doc", id_col)),
            id_col,
            "left_semi",
        )
        new_pairs = ngram_jaccard_pairs(
            surv_docs, id_col, text_col, n=n, threshold=threshold
        ).select("id_a", "id_b")
    return untouched.unionByName(connected_components(new_pairs)).select(
        "doc", "component"
    )


def ngram_jaccard_pairs_from_index(
    postings: DataFrame,
    sizes: DataFrame,
    threshold: float = 0.5,
    doc_set: DataFrame | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs served from the PERSISTED shingle
    store — the batch-pairing twin of
    :func:`incremental_near_dups_from_index`: no corpus scan, no
    tokenization, no shingling anywhere in the plan. ``doc_set``
    (optional, one ``doc`` column, broadcast) restricts pairing to a
    subset — the shape the CC delete path uses to re-pair only an
    affected component's surviving members. Result-identical to
    :func:`ngram_jaccard_pairs` over the corresponding documents
    (pytest-proven); the ``max_shingle_df`` ceiling counts df over the
    restricted postings, matching the direct form run on the subset.
    Output: (id_a, id_b, jaccard ≥ threshold) with id_a < id_b."""
    from pyspark.sql import Window

    sh = postings.select("doc", "sh")
    sz = sizes
    if doc_set is not None:
        keys = doc_set.select("doc").distinct()
        sh = sh.join(F.broadcast(keys), "doc", "left_semi")
        sz = sz.join(F.broadcast(keys), "doc", "left_semi")
    sh = sh.withColumn("sdf", F.count(F.lit(1)).over(Window.partitionBy("sh")))
    if max_shingle_df is not None:
        sh = sh.filter(F.col("sdf") <= max_shingle_df)
        # ceiling active: denominators must shrink with it, as in the
        # direct form — recompute sizes from the filtered postings
        sz = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    shj = sh.filter(F.col("sdf") >= 2)
    a = shj.select(F.col("doc").alias("id_a"), "sh")
    b = shj.select(F.col("doc").alias("id_b"), "sh")
    common = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(
            sz.select(F.col("doc").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a"
        )
        .join(
            sz.select(F.col("doc").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b"
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def decontaminate_from_index(
    postings: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    min_collisions: int = 1,
    n_buckets: int = SHINGLE_STORE_BUCKETS,
) -> DataFrame:
    """Store-SERVED benchmark decontamination — the
    :func:`cross_contamination` screen served from the PERSISTED
    n-gram postings store instead of re-shingling the corpus per eval
    set. This is the shape the hygiene check actually runs at 100 TB:
    eval sets arrive far more often than the corpus changes, so the
    corpus side is the store :func:`merge_shingle_postings` already
    maintains (built with THIS ``n`` and ``n_buckets`` — the modulus
    contract) and each screen shingles ONLY the eval set (tiny),
    pushes its bounded bucket IN-list as a directory prune, joins on
    the shingle, and counts distinct colliding grams per corpus doc.
    Result-identical to the direct form over the same corpus
    (pytest-proven). Output: (doc, n_collisions ≥ min_collisions)."""
    ev = (
        build_shingle_postings(eval_set, id_col, text_col, n, n_buckets)
        .select("sh", "shb")
        .distinct()
    )
    ev = register_cached_intermediate(ev)
    bucket_ids = [r[0] for r in ev.select("shb").distinct().collect()]
    probe = postings.filter(F.col("shb").isin(bucket_ids))
    return (
        probe.join(ev.select("sh"), "sh")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_collisions"))
        .filter(F.col("n_collisions") >= min_collisions)
    )


def commit_cluster_labels(
    stored: DataFrame,
    store_postings: DataFrame,
    store_sizes: DataFrame,
    changed_docs: DataFrame,
    deleted_ids: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    n_buckets: int = SHINGLE_STORE_BUCKETS,
    store_pairs: DataFrame | None = None,
) -> DataFrame:
    """CC-label maintenance under one MIXED CDC batch (inserts +
    updates + deletes): the ``labels`` of :func:`commit_cluster_state`,
    for callers that persist no pair store (cdc_commit_all_stores).
    Same arguments; ``store_pairs`` is derived from the shingle store
    when absent. Commit ≡ rebuild over the final corpus, including a
    component split (tests/test_round13_ops.py)."""
    return commit_cluster_state(
        stored,
        store_postings,
        store_sizes,
        changed_docs,
        deleted_ids,
        id_col,
        text_col,
        n=n,
        threshold=threshold,
        n_buckets=n_buckets,
        store_pairs=store_pairs,
    )["labels"]


def commit_cluster_state(
    stored: DataFrame,
    store_postings: DataFrame,
    store_sizes: DataFrame,
    changed_docs: DataFrame,
    deleted_ids: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    n_buckets: int = SHINGLE_STORE_BUCKETS,
    store_pairs: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Fold one MIXED CDC batch into the near-dup cluster stores:
    returns ``{"labels": (doc, component), "pairs": (id_a, id_b)}``
    after the batch, at n-gram Jaccard ``threshold``.

    ``stored``: the (doc, component) labels (component = min doc id,
    only paired docs labeled, :func:`connected_components`' contract);
    ``store_pairs``: their (id_a, id_b) pair list, id_a < id_b — when
    absent it is derived from the shingle store
    (:func:`ngram_jaccard_pairs_from_index`); ``store_postings`` /
    ``store_sizes``: the shingle store and its (doc, n_sh) side table,
    built with this ``n`` and ``n_buckets`` (the modulus contract);
    ``changed_docs``: post-images of inserts and updates;
    ``deleted_ids``: the delete set. A pair's Jaccard depends on its two
    documents alone and touched docs are dropped from the store before
    it is probed, so the shingle store may be the pre-batch or the
    staged post-batch one.

    One verb, pairs first:

    1. T = changed ids ∪ deleted ids, collected once (batch-bounded);
       every later filter on T is a literal IN.
    2. N = the pairs incident to the batch's post-images: a bipartite
       probe of the changed docs against the store minus T plus the
       delta-internal pairs (the delta is shingled once), canonical
       id_a < id_b.
    3. pairs′ = the stored pairs with neither endpoint in T, plus N.
    4. affected = the stored components of T ∪ endpoints(N); scope =
       their members ∪ T ∪ endpoints(N); labels′ = the stored rows
       outside affected, plus the connected components of the pairs′
       whose id_a is in scope.

    Exact (≡ rebuild over the final corpus; pytest- and oracle-proven):
    a component of the new graph that holds a touched doc or a new-pair
    endpoint lies wholly inside scope, and every other one is a stored
    component none of whose pairs changed. An update needs no ordering
    rule — its old pairs leave with T, its new ones arrive in N — and
    the argument holds whether ``stored`` holds the pre-batch or the
    post-batch labels, so a replay after the labels were published but
    the pairs were not is exact too. Work ∝ |N| + Σ|affected
    components|: the corpus is never re-paired; the affected members
    are collected to the driver, where connected_components' union-find
    gathers their pairs anyway."""
    if store_pairs is None:
        store_pairs = ngram_jaccard_pairs_from_index(
            store_postings, store_sizes, threshold=threshold
        )
    touched = {
        r[0]
        for r in changed_docs.select(id_col)
        .unionByName(deleted_ids.select(id_col))
        .collect()
    } - {None}
    hit = sorted(touched)
    # the delta is shingled once for the bipartite probe and the
    # delta-internal pairing
    delta_postings = build_shingle_postings(
        changed_docs, id_col, text_col, n, n_buckets
    ).localCheckpoint(eager=False)
    bip = incremental_near_dups_from_index(
        store_postings.filter(~F.col("doc").isin(hit)),
        store_sizes.filter(~F.col("doc").isin(hit)),
        changed_docs,
        id_col,
        text_col,
        n=n,
        threshold=threshold,
        n_buckets=n_buckets,
        incoming_postings=delta_postings,
    ).select(F.col("id_new").alias("id_a"), F.col("id_old").alias("id_b"))
    internal = ngram_jaccard_pairs_from_index(
        delta_postings, shingle_doc_sizes(delta_postings), threshold=threshold
    ).select("id_a", "id_b")
    # one identity per pair: the bipartite rows arrive (new, old)
    new_pairs = (
        bip.unionByName(internal)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .localCheckpoint(eager=False)
    )
    pairs = (
        store_pairs.filter(~F.col("id_a").isin(hit) & ~F.col("id_b").isin(hit))
        .select("id_a", "id_b")
        .unionByName(new_pairs)
    )

    ends = {v for r in new_pairs.collect() for v in r}
    hit_components = (
        stored.filter(F.col("doc").isin(sorted(touched | ends)))
        .select("component")
        .distinct()
    )
    members = (
        stored.join(hit_components, "component").select("doc", "component").collect()
    )
    affected = sorted({c for _, c in members})
    scope = sorted(touched | ends | {d for d, _ in members})
    labels = (
        stored.filter(~F.col("component").isin(affected))
        .select("doc", "component")
        .unionByName(connected_components(pairs.filter(F.col("id_a").isin(scope))))
    )
    return {"labels": labels, "pairs": pairs}


# ------------------------------------------- fingerprint (exact) store

def build_fingerprint_store(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = SHINGLE_STORE_BUCKETS,
) -> DataFrame:
    """(doc, fp, fpb) content-fingerprint rows — the EXACT-dedup
    analogue of the shingle-postings store: ~50 B/doc, the membership
    index an incremental exact-dedup serve probes instead of hashing
    the corpus per batch. ``fpb`` is the fp-hash bucket (the e2s
    prune device); write partitionBy('fpb'). The FULL member list is
    stored (not just each group's min): deleting a canonical doc must
    promote the next member, which a min-only table cannot express."""
    return df.select(
        F.col(id_col).alias("doc"),
        fingerprint(text_col).alias("fp"),
    ).withColumn("fpb", F.pmod(F.xxhash64("fp"), F.lit(n_buckets)))


def merge_fingerprint_store(
    store: DataFrame,
    changed_docs: DataFrame,
    deleted_ids: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = SHINGLE_STORE_BUCKETS,
) -> DataFrame:
    """Fold one CDC micro-batch into the fingerprint store — broadcast
    anti-join on the touched-id set + re-fingerprint the changed docs
    alone; work ∝ |delta| (the merge_shingle_postings shape on a
    1-row-per-doc table)."""
    touched = (
        changed_docs.select(F.col(id_col).alias("doc"))
        .unionByName(deleted_ids.select(F.col(id_col).alias("doc")))
        .distinct()
    )
    kept = store.join(F.broadcast(touched), "doc", "left_anti")
    fresh = build_fingerprint_store(changed_docs, id_col, text_col, n_buckets)
    return kept.unionByName(fresh.select(*kept.columns))


def exact_dups_from_index(
    store: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = SHINGLE_STORE_BUCKETS,
) -> DataFrame:
    """Store-served incremental EXACT dedup: flag INCOMING documents
    whose content fingerprint already exists in the corpus store, with
    the canonical (min-id) existing member — the screen every crawl
    batch runs before insert, served without hashing or reading any
    corpus text. Plan: fingerprint the delta only, collect its bounded
    bucket list (≤ ``n_buckets`` ints), probe the fpb-partitioned
    store through the IN-list directory prune, join on the 16-byte
    digest, min per incoming doc. Output: (id_new, canonical_id).
    Same ``n_buckets`` contract as the shingle store."""
    delta = incoming.select(
        F.col(id_col).alias("id_new"), fingerprint(text_col).alias("fp")
    ).withColumn("fpb", F.pmod(F.xxhash64("fp"), F.lit(n_buckets)))
    delta = register_cached_intermediate(delta)
    bucket_ids = [r[0] for r in delta.select("fpb").distinct().collect()]
    probe = store.filter(F.col("fpb").isin(bucket_ids))
    return (
        delta.join(probe.select("fp", "doc"), "fp")
        .groupBy("id_new")
        .agg(F.min("doc").alias("canonical_id"))
        .select("id_new", "canonical_id")
    )
