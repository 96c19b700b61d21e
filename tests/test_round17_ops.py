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


def test_assign_cells_repeat_and_isolation(spark):
    """Nearest-centroid assignment is a pure function of its inputs:
    repeat calls with the SAME centroid set give identical
    assignments, while a different centroid set gives different ones."""
    from hbase_increment_index_spark.pipeline import similarity as S

    emb = spark.createDataFrame(
        [(i, [float(i % 4), float((i * 7) % 5)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [3.0, 4.0])], "cid long, centroid array<double>"
    )
    a1 = S.assign_cells(emb, cents).collect()
    a2 = S.assign_cells(emb, cents).collect()
    assert sorted(map(tuple, a1)) == sorted(map(tuple, a2))
    cents2 = spark.createDataFrame(
        [(0, [9.0, 9.0]), (1, [0.0, 0.0])], "cid long, centroid array<double>"
    )
    a3 = S.assign_cells(emb, cents2).collect()
    assert sorted(map(tuple, a1)) != sorted(map(tuple, a3))


def test_lsh_bucketing_deterministic(spark):
    """Hyperplane LSH bucketing is deterministic across builds."""
    from hbase_increment_index_spark.pipeline import similarity as S

    emb = spark.createDataFrame(
        [(i, [float((i * 3) % 7 - 3)] * 8) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    b1 = S.build_lsh_buckets(emb, n_planes=4, dim=8, plane_fn="md5").collect()
    b2 = S.build_lsh_buckets(emb, n_planes=4, dim=8, plane_fn="md5").collect()
    assert sorted(map(tuple, b1)) == sorted(map(tuple, b2))


def test_carry_cols_clash_with_internal_columns_raises(spark):
    """A carried column named like an internal column of the assign or
    encode path would shadow or duplicate it: both refuse it."""
    import pytest

    from hbase_increment_index_spark.pipeline import similarity as S

    emb = spark.createDataFrame(
        [(0, [0.0, 1.0], 7)], "vec_id long, embedding array<double>, cid long"
    )
    cents = spark.createDataFrame([(0, [0.0, 0.0])], "cid long, centroid array<double>")
    cb = S.pq_codebooks(emb, dim=2, m=2, seed_ids=[0])
    for name in ("id", "vec", "cid", "_d", "vec_id"):
        with pytest.raises(ValueError, match="assign_cells: carry_cols"):
            S.assign_cells(emb.withColumn(name, F.lit(1)), cents, carry_cols=(name,))
    for name in ("s", "sv", "code", "e", "b", "j", "cw", "vec_id"):
        with pytest.raises(ValueError, match="pq_encode: carry_cols"):
            S.pq_encode(emb.withColumn(name, F.lit(1)), cb, dim=2, m=2, carry_cols=(name,))
    # a name clear of both sets is still carried
    assert S.pq_encode(emb, cb, dim=2, m=2, carry_cols=("cid",)).columns == [
        "vec_id", "s", "code", "cid"
    ]
