"""Round-17 optimization guards.

The optimization round rewrites operator INTERNALS only — these tests
pin the contracts the rewrites must preserve: the single-collect
cluster-label merge (merge_cluster_labels), the carried-column PQ
encode (pq_encode carry_cols), and the checkpoint-block release helper
(release_checkpoints).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_merge_cluster_labels_edge_cases(spark):
    """The r17 single-collect merge must handle the edges the old
    distributed form handled: an empty delta (stored passes through),
    pairs among only-fresh docs (new components appear), and a pair
    bridging two stored components (min-id relabel)."""
    from hbase_increment_index_spark.pipeline.dedup import merge_cluster_labels

    stored = spark.createDataFrame(
        [(1, 1), (2, 1), (10, 10), (11, 10)], "doc long, component long"
    )
    # empty delta: labels unchanged
    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = {(r["doc"], r["component"]) for r in merge_cluster_labels(stored, empty).collect()}
    assert out == {(1, 1), (2, 1), (10, 10), (11, 10)}

    # fresh-only pair: both docs unlabeled -> new component = min id
    fresh = spark.createDataFrame([(21, 20)], "id_a long, id_b long")
    out = {(r["doc"], r["component"]) for r in merge_cluster_labels(stored, fresh).collect()}
    assert out == {(1, 1), (2, 1), (10, 10), (11, 10), (20, 20), (21, 20)}

    # bridge pair: doc 2 (component 1) pairs with doc 11 (component 10)
    # -> both components collapse to min id 1
    bridge = spark.createDataFrame([(2, 11)], "id_a long, id_b long")
    out = {(r["doc"], r["component"]) for r in merge_cluster_labels(stored, bridge).collect()}
    assert out == {(1, 1), (2, 1), (10, 1), (11, 1)}

    # mixed: a fresh doc attaching to a stored component takes its label
    attach = spark.createDataFrame([(99, 10)], "id_a long, id_b long")
    out = {(r["doc"], r["component"]) for r in merge_cluster_labels(stored, attach).collect()}
    assert out == {(1, 1), (2, 1), (10, 10), (11, 10), (99, 10)}


def test_pq_encode_carry_cols_identity(spark):
    """r17: build_ivf_pq carries cid/attrs THROUGH pq_encode as
    grouping columns instead of post-encode joins. The carried form
    must equal the join form row-for-row (carry cols are constant per
    id, so adding them to the groupBy cannot change the argmin)."""
    from hbase_increment_index_spark.pipeline.similarity import (
        pq_codebooks,
        pq_encode,
    )

    emb = spark.range(32).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda j: (F.pmod(F.xxhash64(F.col("id") * 64 + j), F.lit(1000)) / 500.0)
            - 1.0,
        ).alias("embedding"),
        (F.col("id") % 3).alias("cid"),
    )
    cb = pq_codebooks(emb, seed_ids=[1, 2, 3, 4, 5, 6, 7, 8])
    plain = pq_encode(emb, cb, dim=64, m=4)
    carried = pq_encode(emb, cb, dim=64, m=4, carry_cols=("cid",))
    joined = plain.join(emb.select("vec_id", "cid"), "vec_id").select(
        "vec_id", "s", "code", "cid"
    )
    assert carried.exceptAll(joined).count() == 0
    assert joined.exceptAll(carried).count() == 0
    # and a filter on the carried column prunes BELOW the encode: the
    # aggregate's input rows shrink, visible as the filter sitting on
    # the scan side of the plan rather than above the aggregate
    plan = carried.filter(F.col("cid") == 1)._jdf.queryExecution().toString()
    assert "cid" in plan


def test_release_checkpoints_frees_blocks(spark):
    """clearCache() does NOT free localCheckpoint blocks;
    release_checkpoints must (both eager and materialized-lazy), and
    must be callable twice without error."""
    from hbase_increment_index_spark.functions.layout import release_checkpoints

    jsc = spark.sparkContext._jsc
    # quiesce anything earlier tests left behind so counts are ours
    release_checkpoints(spark)
    a = spark.range(100).localCheckpoint(eager=True)
    b = spark.range(50).localCheckpoint(eager=False)
    assert b.count() == 50  # materialize the lazy one
    assert a.count() == 100
    assert jsc.getPersistentRDDs().size() >= 2
    spark.catalog.clearCache()  # must NOT free them
    assert jsc.getPersistentRDDs().size() >= 2
    n = release_checkpoints(spark)
    assert n >= 2
    assert jsc.getPersistentRDDs().size() == 0
    assert release_checkpoints(spark) == 0  # idempotent


def test_assign_expr_memo_identity_and_isolation(spark):
    """The _assign distance-expression memo is plan-side only: repeat
    calls with the SAME centroid set reuse the built expressions (and
    produce identical assignments), while a different centroid set or
    rounding width gets its own entry — no cross-talk."""
    from hbase_increment_index_spark.pipeline import similarity as S

    emb = spark.createDataFrame(
        [(i, [float(i % 4), float((i * 7) % 5)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [3.0, 4.0])], "cid long, centroid array<double>"
    )
    S._ASSIGN_EXPR_MEMO.clear()
    a1 = S.assign_cells(emb, cents).collect()
    assert len(S._ASSIGN_EXPR_MEMO) == 1
    key1, exprs1 = next(iter(S._ASSIGN_EXPR_MEMO.items()))
    a2 = S.assign_cells(emb, cents).collect()
    # the memo was HIT: same key, same Column objects, identical result
    assert next(iter(S._ASSIGN_EXPR_MEMO.items()))[1] is exprs1
    assert sorted(map(tuple, a1)) == sorted(map(tuple, a2))
    # a different rounding width is a different entry
    S.assign_cells(emb, cents, dist_decimals=2).collect()
    assert len(S._ASSIGN_EXPR_MEMO) == 2
    # a different centroid set is a different entry with different results
    cents2 = spark.createDataFrame(
        [(0, [9.0, 9.0]), (1, [0.0, 0.0])], "cid long, centroid array<double>"
    )
    a3 = S.assign_cells(emb, cents2).collect()
    assert len(S._ASSIGN_EXPR_MEMO) == 3
    assert sorted(map(tuple, a1)) != sorted(map(tuple, a3))


def test_assign_expr_memo_bounded(spark):
    """The memo is capped (FIFO) so a long-lived driver serving many
    distinct centroid sets cannot grow it without bound."""
    from pyspark.sql import functions as F
    from hbase_increment_index_spark.pipeline import similarity as S

    emb = spark.createDataFrame(
        [(0, [0.0]), (1, [5.0])], "vec_id long, embedding array<double>"
    )
    S._ASSIGN_EXPR_MEMO.clear()
    for i in range(40):
        cents = spark.createDataFrame(
            [(0, [float(i)])], "cid long, centroid array<double>"
        )
        S.assign_cells(emb, cents).collect()
    assert len(S._ASSIGN_EXPR_MEMO) <= 32


def test_plane_column_memo_bounded(spark):
    """_PLANE_COL_CACHE is capped (FIFO) like its sibling memos, so a
    driver serving many planes cannot grow it without bound."""
    from hbase_increment_index_spark.pipeline import similarity as S

    S._PLANE_COL_CACHE.clear()
    for i in range(S._PLANE_COL_CAP + 20):
        S._plane(i, 2, "md5")
        assert len(S._PLANE_COL_CACHE) <= S._PLANE_COL_CAP
    assert ("md5", 0, 2) not in S._PLANE_COL_CACHE  # oldest evicted first
    assert ("md5", S._PLANE_COL_CAP + 19, 2) in S._PLANE_COL_CACHE


def test_plane_column_memo(spark):
    """_plane returns the memoized Column for a repeat key and distinct
    Columns for distinct planes; bucketing stays deterministic."""
    from hbase_increment_index_spark.pipeline import similarity as S

    c1 = S._plane(0, 8, "md5")
    c2 = S._plane(0, 8, "md5")
    c3 = S._plane(1, 8, "md5")
    assert c1 is c2
    assert c3 is not c1
    emb = spark.createDataFrame(
        [(i, [float((i * 3) % 7 - 3)] * 8) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    b1 = S.build_lsh_buckets(emb, n_planes=4, dim=8, plane_fn="md5").collect()
    b2 = S.build_lsh_buckets(emb, n_planes=4, dim=8, plane_fn="md5").collect()
    assert sorted(map(tuple, b1)) == sorted(map(tuple, b2))
