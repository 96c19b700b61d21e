"""Physical-layout helpers: fan_out gating and Z-order keys."""

from __future__ import annotations

from pyspark.sql import functions as F

from hbase_increment_index_spark.functions.layout import fan_out, zorder_key, zorder_rank


def test_fan_out_gated(spark):
    # under-partitioned input of real size gets repartitioned up...
    few = spark.range(1_000_000).coalesce(1)  # MB-scale: above the size cap
    assert fan_out(few).rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # ...a KB-scale frame is width-capped by the size estimate (r17:
    # one task per _FANOUT_SPLIT_BYTES — tiny frames stop paying
    # full-width task waves)...
    tiny = spark.range(1000).coalesce(1)
    assert fan_out(tiny).rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    # ...min_split_bytes=0 disables the cap (and a caller can pass a
    # finer split for CPU-dense kernels)
    assert (
        fan_out(tiny, min_split_bytes=0).rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # ...well-partitioned input is untouched (same plan object)
    many = spark.range(1000).repartition(spark.sparkContext.defaultParallelism * 2)
    assert fan_out(many) is many


def test_zorder_known_values(spark):
    # u=0b011, v=0b101 -> interleaved (u even bits, v odd bits) = 0b100111 = 39
    row = (
        spark.createDataFrame([(3, 5)], "u long, v long")
        .select(zorder_key(["u", "v"], bits=3).alias("z"))
        .head()
    )
    assert row["z"] == 39
    # identity corners
    zero = spark.createDataFrame([(0, 0)], "u long, v long").select(
        zorder_key(["u", "v"], bits=16).alias("z")
    ).head()
    assert zero["z"] == 0


def test_zorder_locality_buys_skipping(spark, tmp_path):
    """The point of the layout: with the table sorted by zkey, a range
    predicate on EITHER dimension concentrates matches into few files,
    so parquet min/max stats can prune. Compare matched-file counts
    against a layout sorted by only one dimension."""
    import pyarrow.dataset as ds

    n = 1 << 12
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"),
        (F.pmod(F.hash("id"), 64)).alias("y"),
    )
    z = zorder_key([zorder_rank("x", 6), zorder_rank("y", 6)], bits=6)

    zpath, ypath = str(tmp_path / "z"), str(tmp_path / "lin")
    df.withColumn("z", z).repartitionByRange(16, "z").sortWithinPartitions(
        "z"
    ).write.parquet(zpath)
    # linear layout: sorted by x only — great for x, useless for y
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(ypath)

    def files_matching(path, col, lo, hi):
        d = ds.dataset(path, format="parquet")
        hits = 0
        for frag in d.get_fragments():
            stats = [
                (rg.statistics.get(col) or {})
                for rg in frag.row_groups
            ]
            if any(
                s and s.get("min") is not None and not (s["max"] < lo or s["min"] > hi)
                for s in stats
            ):
                hits += 1
        return hits, len(list(d.get_fragments()))

    zy, ztot = files_matching(zpath, "y", 0, 7)
    ly, ltot = files_matching(ypath, "y", 0, 7)
    # the y-range query prunes files under z-order; the x-sorted layout
    # must scan everything (y is uniform within every file)
    assert zy < ztot
    assert ly == ltot
    # and x-range queries still prune under z-order too
    zx, _ = files_matching(zpath, "x", 0, 7)
    assert zx < ztot


def test_checkpoint_all_jobs_carry_callers_job_group(spark):
    """checkpoint_all materializes its frames in pool threads; their
    jobs run in the caller's job group, not outside any group."""
    from hbase_increment_index_spark.functions.layout import checkpoint_all

    frames = [spark.range(100).withColumn("x", F.col("id") * k) for k in (2, 3)]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("checkpoint-all-group", "checkpoint_all of two frames", False)
    try:
        out = checkpoint_all(*frames)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(tracker.getJobIdsForGroup("checkpoint-all-group")) >= 2
    assert set(tracker.getJobIdsForGroup(None)) == before
    assert [f.count() for f in out] == [100, 100]
