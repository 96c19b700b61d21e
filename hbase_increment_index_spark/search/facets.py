"""Facet surface — SURVEY.md §2.2 Q10–Q12, Q16.

Solr facets are group-by-count aggregations; Spark's hash aggregate
computes them with a map-side partial pass, so the shuffle carries one
row per (partition, group), not per input row — the property that
keeps these linear-scan cheap at 100 TB. A limit-less
``facet_field`` orders its buckets with one sort inside a single
partition, so a served facet runs no range-partitioning sample job.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def facet_field(
    df: DataFrame,
    field: str,
    count_alias: str = "n",
    prefix: str | None = None,
    mincount: int = 0,
    sort: str = "count",
    limit: int | None = None,
    offset: int = 0,
) -> DataFrame:
    """Q10 — ``facet.field=f``: value counts, with the full Solr
    parameter set. ``prefix`` is ``facet.prefix`` (the filter lands
    pre-shuffle, inside the scan, where parquet answers it from
    dictionary pages); ``mincount``/``sort``/``limit``/``offset`` are
    ``facet.mincount`` (drop buckets below the floor), ``facet.sort``
    (``'count'`` = count desc then value asc — Solr's tie order — or
    ``'index'`` = value asc), and bucket paging.

    Ordering/paging run on the AGGREGATED buckets (cardinality of the
    field, not the corpus): limit-without-offset plans as
    TakeOrderedAndProject (per-partition heaps); an offset adds a
    row_number over the bucket set, which is already small.

    Matching Solr, ``facet.sort`` ALWAYS applies — with no ``limit``
    the full bucket set still comes back ordered. It is sorted inside
    one partition (``coalesce(1).sortWithinPartitions``) rather than by
    a global ``orderBy``, whose range partitioning runs a sampling job
    per request; the trade is that the final aggregate and the sort run
    in one task, so their cost follows the field's cardinality. A
    downstream orderBy supersedes it. ``offset`` without ``limit``
    skips the first buckets of the ordered set. Unknown ``sort`` values
    raise instead of silently falling back to index order."""
    if sort not in ("count", "index"):
        raise ValueError(f"facet.sort must be 'count' or 'index', got {sort!r}")
    if prefix is not None:
        df = df.filter(F.col(field).startswith(prefix))
    out = df.groupBy(field).agg(F.count(F.lit(1)).alias(count_alias))
    if mincount > 0:
        out = out.filter(F.col(count_alias) >= mincount)
    order = (
        [F.col(count_alias).desc(), F.col(field).asc()]
        if sort == "count"
        else [F.col(field).asc()]
    )
    if offset > 0:
        from pyspark.sql import Window

        rn = F.row_number().over(Window.orderBy(*order))
        out = out.withColumn("_rn", rn).filter(F.col("_rn") > offset)
        if limit is not None:
            out = out.filter(F.col("_rn") <= offset + limit)
        return out.drop("_rn")
    if limit is not None:
        return out.orderBy(*order).limit(limit)
    return out.coalesce(1).sortWithinPartitions(*order)


def facet_by_group(
    df: DataFrame,
    group_field: str,
    facet_field: str,
    count_alias: str = "n_groups",
) -> DataFrame:
    """``group.facet=true`` — facet counts BY GROUP rather than by
    document (the standard companion to ``group.field``, Solr grouped
    faceting): the count for facet value v is the number of GROUPS
    whose matching documents include at least one doc with value v,
    not the number of docs. The reference's grouped-stats goal
    (README.md:5-6 — 统计/聚合 over the indexed table) composes this
    with Q15's grouping.

    Plan: project (group, facet) → count(DISTINCT group) per facet
    value — Catalyst plans the distinct as a two-level partial
    aggregate (Expand-free for a single distinct column): map-side
    (facet, group) dedup, then one shuffle keyed by the facet value.
    No window, no join; at 100 TB this is the same single-shuffle
    class as the plain facet. Output ordered count desc, value asc
    (Solr's facet tie order)."""
    return (
        df.groupBy(facet_field)
        .agg(F.count_distinct(F.col(group_field)).alias(count_alias))
        .orderBy(F.col(count_alias).desc(), F.col(facet_field).asc())
    )


def facet_range(
    df: DataFrame,
    field: str,
    gap: float,
    bucket_alias: str = "bucket_start",
    count_alias: str = "n",
) -> DataFrame:
    """Q11 — ``facet.range=f&facet.range.gap=g``: fixed-width buckets.

    Bucket id is ``floor(f / g) * g`` — exact for integer-like gaps.
    """
    bucket = (F.floor(F.col(field) / F.lit(gap)) * F.lit(gap)).alias(bucket_alias)
    return df.groupBy(bucket).agg(F.count(F.lit(1)).alias(count_alias))


def facet_range_other(
    df: DataFrame,
    field: str,
    start: float,
    end: float,
    gap: float,
    bucket_alias: str = "bucket",
    count_alias: str = "n",
) -> DataFrame:
    """Q11 (full form) — ``facet.range`` with ``facet.range.other=all``:
    gap buckets over [start, end) plus Solr's ``before`` (f < start),
    ``after`` (f ≥ end) and ``between`` (start ≤ f < end) counts, in
    ONE corpus scan: a CASE label feeds a single hash aggregate; the
    ``between`` row derives from the (bucket-set-sized) aggregate by a
    second tiny agg, never a second scan. Bucket labels are the bucket
    start values as strings (so the three named buckets union in):
    integer-valued start/gap label as integers; fractional gaps keep
    the double representation so distinct buckets never collapse."""
    c = F.col(field)
    bucket_start = F.floor((c - F.lit(start)) / F.lit(gap)) * F.lit(gap) + F.lit(start)
    integral = float(start).is_integer() and float(gap).is_integer()
    bucket_label = (
        bucket_start.cast("long").cast("string")
        if integral
        else bucket_start.cast("double").cast("string")
    )
    lab = (
        F.when(c < start, F.lit("before"))
        .when(c >= end, F.lit("after"))
        .otherwise(bucket_label)
    )
    counts = df.groupBy(lab.alias(bucket_alias)).agg(
        F.count(F.lit(1)).alias(count_alias)
    )
    between = (
        counts.filter(~F.col(bucket_alias).isin("before", "after"))
        .agg(F.coalesce(F.sum(count_alias), F.lit(0)).cast("long").alias(count_alias))
        .select(F.lit("between").alias(bucket_alias), count_alias)
    )
    return counts.unionByName(between)


def facet_range_include(
    df: DataFrame,
    field: str,
    start: float,
    end: float,
    gap: float,
    include: tuple[str, ...] = ("lower",),
    bucket_alias: str = "bucket",
    count_alias: str = "n",
) -> DataFrame:
    """Q11 (boundary form) — ``facet.range.include`` semantics
    (lower/upper/edge/outer/all, Solr range-facet boundary rules):

    - ``lower``: every gap bucket includes its lower bound (default);
    - ``upper``: every gap bucket includes its upper bound;
    - ``edge``: the FIRST bucket includes its lower bound and the LAST
      its upper bound, regardless of lower/upper;
    - ``outer``: ``before``/``after`` include the start/end boundary
      points even when a gap bucket also counts them;
    - ``all``: all four.

    Solr explicitly allows a boundary value to count in TWO buckets
    (e.g. lower+upper, or outer next to lower), so a single CASE label
    cannot express this. Instead each row projects the ARRAY of labels
    it contributes to (bucket, before/after, between — almost always 1
    or 2 entries), which explodes into one hash aggregate: still one
    corpus scan, label fan-out bounded by 3, map-side combine collapses
    it. Buckets are labeled by bucket start like facet_range_other.
    """
    inc = set(include)
    if "all" in inc:
        inc = {"lower", "upper", "edge", "outer"}
    bad = inc - {"lower", "upper", "edge", "outer"}
    if bad:
        raise ValueError(f"unknown facet.range.include values: {sorted(bad)}")
    nb = int(round((end - start) / gap))
    if nb <= 0 or nb > 1024:
        raise ValueError(f"bucket count {nb} out of range (1..1024)")
    c = F.col(field)
    integral = float(start).is_integer() and float(gap).is_integer()

    def _label(lb: float) -> str:
        return str(int(lb)) if integral else str(float(lb))

    conds = []
    for k in range(nb):
        lb, ub = start + k * gap, start + (k + 1) * gap
        lo_inc = "lower" in inc or ("edge" in inc and k == 0)
        up_inc = "upper" in inc or ("edge" in inc and k == nb - 1)
        cond = ((c >= lb) if lo_inc else (c > lb)) & (
            (c <= ub) if up_inc else (c < ub)
        )
        conds.append(F.when(cond, F.lit(_label(lb))))
    # before/after boundary rule: the start (end) point belongs to
    # before (after) when no gap bucket would otherwise claim it, OR
    # additionally under `outer` (Solr allows the double count)
    start_in_ranges = "lower" in inc or "edge" in inc
    end_in_ranges = "upper" in inc or "edge" in inc
    before = (c < start) | (
        (c == start) & F.lit("outer" in inc or not start_in_ranges)
    )
    after = (c > end) | ((c == end) & F.lit("outer" in inc or not end_in_ranges))
    between = ((c >= start) if start_in_ranges else (c > start)) & (
        (c <= end) if end_in_ranges else (c < end)
    )
    conds += [
        F.when(before, F.lit("before")),
        F.when(after, F.lit("after")),
        F.when(between, F.lit("between")),
    ]
    labels = F.filter(F.array(*conds), lambda x: x.isNotNull())
    return (
        df.select(F.explode(labels).alias(bucket_alias))
        .groupBy(bucket_alias)
        .agg(F.count(F.lit(1)).alias(count_alias))
    )


def facet_time(
    df: DataFrame,
    ts_field: str,
    unit: str = "day",
    bucket_alias: str = "bucket",
    count_alias: str = "n",
) -> DataFrame:
    """Q11 (time form) — date_trunc buckets over a timestamp."""
    return df.groupBy(F.date_trunc(unit, F.col(ts_field)).alias(bucket_alias)).agg(
        F.count(F.lit(1)).alias(count_alias)
    )


def facet_queries(df: DataFrame, buckets: dict[str, Column]) -> DataFrame:
    """Q12 — ``facet.query=...``: one count per arbitrary predicate,
    computed in a single scan via conditional aggregation."""
    aggs = [
        F.sum(F.when(pred, 1).otherwise(0)).cast("long").alias(name)
        for name, pred in buckets.items()
    ]
    return df.agg(*aggs)


def facet_range_missing(
    df: DataFrame,
    field: str,
    gap: float,
    missing_label: str = "(missing)",
    bucket_alias: str = "bucket",
    count_alias: str = "n",
) -> DataFrame:
    """Q11 + ``facet.missing=true``: fixed-width buckets over a numeric
    (or numeric-string) field, with docs LACKING the field counted in
    an explicit missing bucket — Solr reports that count alongside the
    ranges, and on a sparse document table (CDC view: absent qualifier
    = NULL column) it is load-bearing. Same single hash-agg scan as
    facet_range; the bucket label is a string so '(missing)' and
    numeric bucket starts share one column."""
    v = F.col(field).cast("double")
    bucket = F.when(v.isNull(), F.lit(missing_label)).otherwise(
        (F.floor(v / F.lit(gap)) * F.lit(gap)).cast("long").cast("string")
    )
    return df.groupBy(bucket.alias(bucket_alias)).agg(
        F.count(F.lit(1)).alias(count_alias)
    )


def facet_field_excluding(
    df: DataFrame,
    facet_field: str,
    applied: dict[str, Column],
    exclude: list[str],
    count_alias: str = "n",
) -> DataFrame:
    """Multi-select faceting — Solr ``fq={!tag=t}f:v`` +
    ``facet.field={!ex=t}f``: facet counts computed with the tagged
    filters EXCLUDED while every other applied filter still narrows
    the domain. This is what lets a faceted UI keep showing the other
    selectable values of a field the user has already filtered on.

    Still one filtered scan + one hash aggregate; the excluded
    predicates simply never enter the plan, so Catalyst pushes the
    remaining conjunction down to the source scan."""
    keep = [pred for name, pred in applied.items() if name not in exclude]
    out = df
    for p in keep:
        out = out.filter(p)
    return out.groupBy(facet_field).agg(F.count(F.lit(1)).alias(count_alias))


def facet_intervals(
    df: DataFrame,
    field: str,
    intervals: list[tuple[str, float | None, float | None]],
    label_alias: str = "interval",
    count_alias: str = "n",
) -> DataFrame:
    """Q-INT — Solr ``facet.interval``: counts for an explicit list of
    half-open intervals ``(label, lo, hi)`` meaning ``[lo, hi)``; a
    ``None`` bound is unbounded (Solr's ``*``). Unlike ``facet.range``
    the buckets are arbitrary and may overlap, so this is conditional
    aggregation (one scan, map-side partials), not a group-by — the
    wide single row is then unpivoted driver-free with ``stack`` to
    one row per interval, preserving the requested order via an index.
    """
    preds = []
    for label, lo, hi in intervals:
        p = F.lit(True)
        if lo is not None:
            p = p & (F.col(field) >= F.lit(lo))
        if hi is not None:
            p = p & (F.col(field) < F.lit(hi))
        preds.append((label, p))
    wide = df.agg(
        *[
            F.sum(F.when(p, 1).otherwise(0)).cast("long").alias(f"_b{i}")
            for i, (_, p) in enumerate(preds)
        ]
    )
    stack_args = ", ".join(
        f"'{label}', _b{i}" for i, (label, _) in enumerate(preds)
    )
    return wide.selectExpr(
        f"stack({len(preds)}, {stack_args}) AS ({label_alias}, {count_alias})"
    )


def group_query(
    df: DataFrame,
    groups: dict[str, Column],
    order: list[Column],
    tie_break: str,
    limit: int = 5,
    group_alias: str = "group_name",
    rank_alias: str = "rank_in_group",
) -> DataFrame:
    """Q-GRPQ — Solr ``group.query``: each named predicate defines a
    result group whose top-``limit`` docs (by ``order`` + unique
    ``tie_break``) are returned with their in-group rank.

    One scan tags each row with every group it matches (groups may
    overlap, exactly as in Solr), explodes the tag array — rows
    matching nothing are dropped pre-shuffle — then one window per
    (group) partition ranks and prunes. At 100 TB this is a single
    shuffle on group_name carrying only matching rows; with selective
    predicates that is a small fraction of the scan."""
    from pyspark.sql import Window

    tags = F.array_compact(
        F.array(
            *[
                F.when(pred, F.lit(name)).otherwise(F.lit(None))
                for name, pred in groups.items()
            ]
        )
    )
    tagged = (
        df.withColumn("_g", tags)
        .filter(F.size("_g") > 0)
        .select("*", F.explode("_g").alias(group_alias))
        .drop("_g")
    )
    w = Window.partitionBy(group_alias).orderBy(
        *order, F.col(tie_break).asc()
    )
    return (
        tagged.withColumn(rank_alias, F.row_number().over(w))
        .filter(F.col(rank_alias) <= limit)
        .withColumn(rank_alias, F.col(rank_alias).cast("long"))
    )


def merge_facet_counts(
    counts: DataFrame,
    old_rows: DataFrame,
    new_rows: DataFrame,
    facet_expr: Column,
    facet_alias: str,
    count_alias: str = "n",
) -> DataFrame:
    """Incremental facet-view maintenance: update a materialized
    ``facet_field`` result with one CDC micro-batch instead of
    re-scanning the corpus — the aggregate analogue of
    ``inverted.merge_postings`` (reference: the Solr index stays in
    sync via per-batch add+deleteById, SolrIndexTools.java:60-63,
    127-131; a facet over it reflects those increments).

    ``old_rows`` are the pre-image of every touched doc (updated or
    deleted — at scale a partition-pruned read of the old table
    version); ``new_rows`` the post-image of surviving docs (updated
    or inserted). Counts are additive, so the delta is
    ``+count(new) − count(old)`` per facet value; the merge is a
    groupBy-sum over (materialized ∪ +delta ∪ −delta) — shuffle
    carries one row per facet value per side, never the corpus.
    Values whose count reaches zero drop out, matching a fresh
    ``facet_field`` over the final corpus exactly.
    """
    plus = new_rows.groupBy(facet_expr.alias(facet_alias)).agg(
        F.count(F.lit(1)).alias(count_alias)
    )
    minus = old_rows.groupBy(facet_expr.alias(facet_alias)).agg(
        (-F.count(F.lit(1))).alias(count_alias)
    )
    return (
        counts.select(facet_alias, count_alias)
        .unionByName(plus)
        .unionByName(minus)
        .groupBy(facet_alias)
        .agg(F.sum(count_alias).alias(count_alias))
        .filter(F.col(count_alias) > 0)
    )


def facet_pivot(df: DataFrame, fields: list[str], count_alias: str = "n") -> DataFrame:
    """Q16 — ``facet.pivot=a,b``: nested value counts (leaf level)."""
    return df.groupBy(*fields).agg(F.count(F.lit(1)).alias(count_alias))


def facet_pivot_rollup(
    df: DataFrame, fields: list[str], count_alias: str = "n"
) -> DataFrame:
    """Q16 (subtotal form) — pivot with all prefix subtotal levels,
    i.e. SQL ROLLUP. Spark expands this to grouping sets in one pass."""
    return df.rollup(*fields).agg(F.count(F.lit(1)).alias(count_alias))


def facet_pivot_limited(
    df: DataFrame, a: str, b: str, limit: int = 5, count_alias: str = "n"
) -> DataFrame:
    """``facet.pivot=a,b`` with Solr's per-level ``facet.limit``: the
    top-``limit`` outer buckets by total count (ties broken by value,
    Solr's count-sort order), and within each, the top-``limit`` inner
    buckets. One corpus aggregation on (a, b); the outer totals derive
    from the leaf counts via a window sum, so the corpus is scanned
    once. The ranking windows run on the BUCKET set (|A|·|B| rows —
    facet cardinality, never corpus rows); the outer rank is a global
    window, fine at facet cardinality and never applied to data rows.
    """
    from pyspark.sql import Window

    ab = df.groupBy(a, b).agg(F.count(F.lit(1)).alias(count_alias))
    ab = ab.withColumn("_atot", F.sum(count_alias).over(Window.partitionBy(a)))
    outer_rank = F.dense_rank().over(
        Window.orderBy(F.col("_atot").desc(), F.col(a).asc())
    )
    inner_rank = F.row_number().over(
        Window.partitionBy(a).orderBy(F.col(count_alias).desc(), F.col(b).asc())
    )
    return (
        ab.withColumn("_ar", outer_rank)
        .filter(F.col("_ar") <= limit)
        .withColumn("_br", inner_rank)
        .filter(F.col("_br") <= limit)
        .select(a, b, count_alias)
    )


def merge_rollup_sums(
    rollup: DataFrame,
    old_rows: DataFrame,
    new_rows: DataFrame,
    key_expr: Column,
    key_alias: str,
    value_col: str,
    n_alias: str = "n",
    sum_alias: str = "sum_value",
    scale: int = 6,
) -> DataFrame:
    """Incremental maintenance of a (count, sum) rollup view — the
    general additive-aggregate form of ``merge_facet_counts``: a
    materialized ``GROUP BY key → (n, Σvalue)`` stays current under a
    CDC micro-batch of inserts/updates/deletes without re-scanning the
    corpus.

    ``old_rows``/``new_rows`` are the touched docs' pre/post images
    (delete: old only; insert: new only; update: both). Counts and
    sums are additive, so the merge is one groupBy-sum over
    (view ∪ +delta ∪ −delta); shuffle rows ∝ distinct keys touched,
    never corpus size. Sums ride EXACT decimals end-to-end — merging
    in any order, any number of batches, reproduces the from-scratch
    rollup bit-for-bit (no float drift across view generations); cast
    to double only when serving. Keys whose count reaches zero drop
    out, so the view equals a fresh rollup over the final corpus
    exactly. AVG and derived metrics come from (n, Σ) at read time —
    the standard trick for making non-additive aggregates maintainable.
    """
    from hbase_increment_index_spark.numeric import dec

    def side(df: DataFrame, sign: int) -> DataFrame:
        return df.groupBy(key_expr.alias(key_alias)).agg(
            (F.lit(sign) * F.count(F.lit(1))).alias(n_alias),
            F.sum(dec(F.col(value_col) * sign, scale)).alias(sum_alias),
        )

    return (
        rollup.select(key_alias, n_alias, sum_alias)
        .unionByName(side(new_rows, 1))
        .unionByName(side(old_rows, -1))
        .groupBy(key_alias)
        .agg(
            F.sum(n_alias).alias(n_alias),
            F.sum(sum_alias).cast(f"decimal(30,{scale})").alias(sum_alias),
        )
        .filter(F.col(n_alias) > 0)
    )
