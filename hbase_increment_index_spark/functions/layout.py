"""Physical-layout helpers: scan-parallelism alignment.

A parquet source with few (or single) row groups scans as a handful of
tasks no matter how many cores the cluster has — Spark cannot split
inside a row group. Any operator that does real per-row CPU work
downstream of such a scan (higher-order-function shingling, decimal
aggregation, per-row hashing) then runs effectively single-threaded,
because map-side work — including partial aggregation — executes inside
the scan tasks.

``fan_out`` is the gated fix: round-robin repartition to the session's
default parallelism, but ONLY when the input has fewer partitions than
that. On a real 100 TB table (thousands of splits) the condition is
false and this is a zero-cost no-op — the gate is what makes it safe to
leave in operator code. The shuffle it introduces on under-partitioned
inputs carries only the columns the downstream plan needs (Catalyst
prunes projections through Repartition) and costs far less than the
serial CPU time it buys back.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Size cap on the fan-out width (r16 verdict #6): a KB-scale frame
# gains nothing from a defaultParallelism-wide task wave — it pays
# per-task scheduling for partitions holding a handful of rows, which
# is why several sf0.1 keys ran FASTER on 8 cores than 32. The cap
# schedules at most one task per this many bytes of (optimizer-
# estimated) input. The default is deliberately small — the kernels
# behind fan_out do 10-100x more CPU per byte than a scan (tokenize,
# shingle, 64-lane hashing), and parquet estimates are compressed
# bytes — so only genuinely tiny frames are capped; a corpus-scale
# input keeps the full width, and at 100 TB the gate below (input
# already has >= target partitions) makes the whole function a no-op
# regardless. 0 disables the cap.
_FANOUT_SPLIT_BYTES = int(os.environ.get("SPARK_GRAFT_FANOUT_SPLIT_BYTES", "65536"))


def fan_out(
    df: DataFrame, multiple: int = 1, min_split_bytes: int | None = None
) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism * multiple`` iff it
    currently has fewer partitions than that (e.g. a single-row-group
    parquet fixture). No-op on well-partitioned inputs — at scale the
    scan already has more splits than cores and no shuffle is added.
    The width is additionally capped by the optimizer's size estimate
    (one task per ``min_split_bytes``, default ``_FANOUT_SPLIT_BYTES``)
    so tiny frames don't pay full-width task waves; frames with
    unknown stats keep the uncapped width. Callers whose downstream
    kernel does far more CPU per byte than the default assumes (the
    dense-vector cosine/argmin kernels) pass a smaller
    ``min_split_bytes`` — the measured sf0.1 A/B: the text kernels'
    best-of-5 IMPROVED under the 64 KB default (e2o 2.65→2.08 s, q66b
    1.29→1.06 s: fewer, larger Arrow/codegen batches) while the
    embedding kernels regressed (e3n medians 2.4→4.2 s), so those
    sites keep full width until the frame is truly KB-scale."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * multiple
    try:
        # JVM-side partition count: avoids PySpark's df.rdd path, which
        # wraps the plan in a JVM→Python row-conversion RDD just to ask
        # for a number
        n_parts = df._jdf.rdd().getNumPartitions()
    except Exception:  # noqa: BLE001 — private API; fall back to public
        n_parts = df.rdd.getNumPartitions()
    if n_parts >= target:
        return df
    split = _FANOUT_SPLIT_BYTES if min_split_bytes is None else min_split_bytes
    if split > 0:
        try:
            size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            # Spark's unknown-stats default is huge (8 EiB) — the min
            # below then leaves the width uncapped, the safe fallback
            target = min(target, max(1, -(-size // split)))
        except Exception:  # noqa: BLE001 — stats probe is best-effort
            pass
    if n_parts < target:
        return df.repartition(target)
    return df


def checkpoint_all(*frames: DataFrame) -> list[DataFrame]:
    """Eagerly localCheckpoint several INDEPENDENT frames
    concurrently: one thread per frame submits its materialization
    job, so k checkpoints cost ~max(job) wall instead of Σ(job).
    Spark's scheduler is thread-safe for concurrent job submission
    (the standard multi-tenant driver pattern); use this only for
    frames with no dependency on one another — a dependent frame must
    checkpoint AFTER its input or it re-derives the uncut lineage.
    r17: the commit folds moved to LAZY cuts (the consumer action
    materializes whole dependency chains with concurrently-scheduled
    stages), so this eager-concurrent form is kept for callers that
    need a materialization BARRIER (side-effecting flows, loops)."""
    if len(frames) == 1:
        return [frames[0].localCheckpoint(eager=True)]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    # the frames' jobs carry the caller's job group and description
    checkpoint = inheritable_thread_target(frames[0].sparkSession)(
        lambda f: f.localCheckpoint(eager=True)
    )
    with ThreadPoolExecutor(max_workers=len(frames)) as pool:
        return list(pool.map(checkpoint, frames))


def release_checkpoints(spark) -> int:
    """Unpersist every RDD the SparkContext still tracks as persistent
    and return how many were freed.

    ``spark.catalog.clearCache()`` drops SQL-cached relations but NOT
    ``localCheckpoint`` blocks: a checkpointed RDD is a plain persisted
    RDD registered only with the ContextCleaner, which frees it when
    the JVM garbage-collects the RDD object — and with a large driver
    heap (48 g here) that GC may simply never run, so every checkpoint
    a query materializes stays pinned in the block manager for the
    rest of the process (guide §5 memory hygiene). A long-running
    multi-query process (the bench, a query server) calls this between
    queries, at a point where no live DataFrame references a
    checkpointed frame: a localCheckpointed RDD CANNOT recompute after
    unpersist, so releasing mid-query would break re-execution.
    """
    sc = spark.sparkContext
    jsc = sc._jsc
    n = 0
    # unpersisting a locally-checkpointed RDD logs an expected WARN
    # ("lineage has been truncated and cannot be recomputed") per RDD —
    # harmless here by the contract above, but dozens of them would
    # drown the caller's own log tail; silence logging for the loop
    sc.setLogLevel("ERROR")
    try:
        for jrdd in jsc.getPersistentRDDs().values():
            try:
                jrdd.unpersist(False)
                n += 1
            except Exception:  # noqa: BLE001 — already-freed handle
                pass
    finally:
        sc.setLogLevel("WARN")
    return n


def zorder_key(cols: list[Column | str], bits: int = 16) -> Column:
    """Morton (Z-order) key over 2+ already-normalized integer columns.

    Each input must be a non-negative integer column < 2**bits (rank or
    bucket it first — see ``zorder_rank``). Bits are interleaved
    column-major: output bit (i*len(cols)+j) is bit i of column j. The
    result clusters rows so that a range predicate on ANY input column
    touches a contiguous-ish band of the sort order — the multi-column
    data-skipping layout (parquet min/max row-group stats + file
    pruning) that a single-column sort cannot give at 100 TB.

    Pure integer bit arithmetic (shiftleft/&/|) — codegen'd, portable,
    oracle-checkable. Sort the write with
    ``df.repartitionByRange(N, zkey).sortWithinPartitions(zkey)`` so
    every file covers a tight hyper-rectangle of the key space.
    """
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    k = len(cs)
    out = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cs):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            out = out.bitwiseOR(F.shiftleft(bit, i * k + j))
    return out


def zorder_rank(col: Column | str, bits: int = 16) -> Column:
    """Equi-width bucket of a long column into [0, 2**bits) by modulo —
    the cheap normalizer for ``zorder_key`` when the column is already
    roughly uniform (ids, hashes, epochs). For skewed value
    distributions use a percentile-rank normalization at write time
    instead; the key layout downstream is identical."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(c.cast("long"), F.lit(1 << bits))
