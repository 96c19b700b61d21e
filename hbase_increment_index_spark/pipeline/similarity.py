"""Similarity search over embedding columns — SURVEY.md §2.3 E3.

Index designs follow the public literature: random-hyperplane LSH
(Charikar, STOC 2002), IVF coarse quantization (Jégou/Douze/Schmid,
"Product quantization for nearest neighbor search", TPAMI 2011 — the
IVF-Flat special case).

Three tiers, trading recall for scan cost:

1. ``knn_brute_force`` — exact top-k. One narrow pass over the corpus
   computing a codegen'd dot product + TakeOrderedAndProject; the
   correct baseline and the oracle for the approximate tiers.
2. ``build_lsh_buckets``/``knn_lsh`` — random-hyperplane LSH: probe
   only the query's bucket (and optionally neighbors). Hyperplanes are
   derived deterministically from xxhash64(plane, dim) — no RNG state,
   rebuildable anywhere.
3. ``build_ivf``/``knn_ivf`` — IVF-Flat: k-means-ish coarse centroids,
   probe the ``n_probe`` nearest inverted lists. The 100 TB path: the
   index is partitioned by centroid id on disk, so a query reads
   n_probe/n_centroids of the data (partition pruning does the rest).

All vector math is expression-level (``zip_with`` + ``aggregate``),
running inside codegen — no Python UDFs in any scan path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hbase_increment_index_spark.functions.layout import fan_out


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<float/double> columns (left-fold —
    deterministic accumulation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


#: memoized literal-vector Columns, keyed by the value tuple — one
#: dim-wide literal array costs `dim` py4j round-trips to build, and
#: query vectors / codeword slices repeat across a query's 5 bench
#: runs (and across a serving driver's lifetime). Plan-side only
#: (Columns are immutable expression trees); bounded FIFO.
_LIT_VEC_MEMO: dict = {}


def lit_vector(vec: list[float]) -> Column:
    """A query vector as a literal array column (broadcast by value
    into the codegen'd expression — no join at all)."""
    key = tuple(float(x) for x in vec)
    col = _LIT_VEC_MEMO.get(key)
    if col is None:
        col = F.array(*[F.lit(x) for x in key])
        if len(_LIT_VEC_MEMO) >= 128:
            _LIT_VEC_MEMO.pop(next(iter(_LIT_VEC_MEMO)))
        _LIT_VEC_MEMO[key] = col
    return col


def knn_brute_force(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.

    Plan: scan → per-row expression → TakeOrderedAndProject(k). Scales
    linearly and parallelizes perfectly; this is what "brute force" is
    supposed to look like on Spark (no collect, no crossJoin).
    """
    q = lit_vector(query_vec)
    scored = embeddings.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), score_decimals).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def knn_query(
    embeddings: DataFrame,
    query_text: str,
    k_default: int = 10,
    id_col: str = "vec_id",
    pre_filter: Column | None = None,
    score_decimals: int = 6,
) -> DataFrame:
    """Solr 9.x ``{!knn}`` dense-vector query parser (the reference's
    pom bumps solrj to 9.8.0, reference pom.xml:22, where
    DenseVectorField + the knn parser are the headline retrieval
    feature): parses the literal query text

        {!knn f=embedding topK=10}[0.1, -0.2, ...]

    into the exact cosine top-k plan (knn_brute_force: scan →
    codegen'd expression → TakeOrderedAndProject; the query vector is
    baked into the expression, no join). ``pre_filter`` is Solr's
    fq-as-pre-filter semantics (9.1+): the predicate restricts the
    candidate set BEFORE ranking, pushed into the scan — not a
    post-filter over the k results. Solr ranks by similarity only;
    ties here break toward the lower id so the result is total-ordered
    and oracle-checkable.

    Local params follow Solr's grammar: ``key=value`` pairs in ANY
    order, unknown keys tolerated (Solr passes extras through), so
    ``{!knn topK=10 f=embedding}`` is as valid as the f-first form."""
    import re

    m = re.match(r"^\{!knn\s+(?P<params>[^}]*)\}\s*\[(?P<vec>[^\]]*)\]\s*$",
                 query_text.strip())
    if not m:
        raise ValueError(f"not a {{!knn}} query: {query_text!r}")
    params: dict[str, str] = {}
    for part in m.group("params").split():
        if "=" not in part:
            raise ValueError(f"bad {{!knn}} local param {part!r}")
        key, val = part.split("=", 1)
        params[key] = val
    if "f" not in params:
        raise ValueError("{!knn} requires f=<vector field>")
    if not re.fullmatch(r"\w+", params["f"]):
        raise ValueError(f"bad {{!knn}} field name {params['f']!r}")
    try:
        k = int(params["topK"]) if "topK" in params else k_default
    except ValueError:
        raise ValueError(f"bad {{!knn}} topK {params['topK']!r}") from None
    vec = [float(x) for x in m.group("vec").split(",") if x.strip()]
    if not vec:
        raise ValueError("empty query vector")
    src = embeddings if pre_filter is None else embeddings.filter(pre_filter)
    return knn_brute_force(
        src, vec, k=k, id_col=id_col, vec_col=params["f"],
        score_decimals=score_decimals,
    )


def knn_join_brute_force(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    score_decimals: int = 6,
) -> DataFrame:
    """Batch kNN: top-k corpus items per query row.

    Broadcast the (small) query set against the (huge) corpus —
    the corpus is scanned once, never shuffled; ranking is a window
    per query id."""
    from pyspark.sql import Window

    joined = embeddings.crossJoin(F.broadcast(queries)).select(
        F.col(q_id_col),
        F.col(id_col),
        F.round(
            cosine(F.col(vec_col).cast("array<double>"), F.col(q_vec_col).cast("array<double>")),
            score_decimals,
        ).alias("score"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


# ----------------------------------------------------- LSH (hyperplane)

#: memoized plane component values, keyed by (plane_fn, plane_idx, dim)
_PLANE_CACHE: dict = {}

#: memoized _assign distance/cid-lookup expression pairs, keyed by
#: (centroid values, dist_decimals) — see _assign for the rationale
_ASSIGN_EXPR_MEMO: dict = {}

#: memoized plane literal COLUMNS, same key — a Column is an immutable
#: expression tree, so one build serves every call site; rebuilding it
#: per call paid `dim` py4j round-trips per plane per query (plan-side
#: only, same class as the catalog's DataFrame memo — every action
#: still recomputes from the inputs); bounded FIFO
_PLANE_COL_CACHE: dict = {}
_PLANE_COL_CAP = 128


def _plane_values(plane_idx: int, dim: int, plane_fn: str = "xxhash64") -> list[float]:
    """Component values of deterministic pseudo-random hyperplane i:
    hash(i, j) scaled to [-1, 1] — computed ONCE and embedded in the
    plan as literals, so the per-row expression is just the dot
    product, never dim×n_planes hash subtrees (the same fix as
    e3l_random_projection's literal planes; measured ~6× on the
    bucketing scan).

    ``plane_fn='md5'``: hashlib md5 is bit-identical to the engines'
    md5, and the (h % 2000001 - 1000000) / 1e6 arithmetic is exact
    integer math + one exact division in both, so the DuckDB oracle
    rebuilds the identical planes and the left-to-right :func:`dot`
    fold stays bit-reproducible. ``plane_fn='xxhash64'`` (production):
    evaluated once via a 1-row Spark job (xxhash64 lives in the JVM),
    then memoized for the session."""
    key = (plane_fn, plane_idx, dim)
    if key in _PLANE_CACHE:
        return _PLANE_CACHE[key]
    if plane_fn == "md5":
        import hashlib

        vals = []
        for j in range(dim):
            h = int(hashlib.md5(f"{plane_idx},{j}".encode()).hexdigest()[:15], 16)
            vals.append((h % 2000001 - 1000000) / 1000000.0)
    else:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            # Expression construction normally happens inside a session;
            # building an xxhash64 plane without one (or from a thread
            # with no active session) would otherwise die with an
            # AttributeError on None deep in the range() call.
            raise RuntimeError(
                "plane_fn='xxhash64' needs an active SparkSession to evaluate "
                "the plane literals (xxhash64 lives in the JVM); start a "
                "session first or use plane_fn='md5' for a session-free build"
            )
        row = (
            spark.range(1)
            .select(
                F.transform(
                    F.sequence(F.lit(0), F.lit(dim - 1)),
                    lambda j: (F.xxhash64(F.lit(plane_idx), j) / F.lit(float(2**63))),
                ).alias("p")
            )
            .head()
        )
        vals = [float(v) for v in row["p"]]
    _PLANE_CACHE[key] = vals
    return vals


def _plane(plane_idx: int, dim: int, plane_fn: str = "xxhash64") -> Column:
    """The hyperplane as a literal array column (see _plane_values)."""
    key = (plane_fn, plane_idx, dim)
    col = _PLANE_COL_CACHE.get(key)
    if col is None:
        col = F.array(*[F.lit(v) for v in _plane_values(plane_idx, dim, plane_fn)])
        if len(_PLANE_COL_CACHE) >= _PLANE_COL_CAP:
            _PLANE_COL_CACHE.pop(next(iter(_PLANE_COL_CACHE)))
        _PLANE_COL_CACHE[key] = col
    return col


def lsh_bucket(vec_col: Column, n_planes: int, dim: int, plane_fn: str = "xxhash64") -> Column:
    """Sign-of-dot-product bucket id (0 .. 2^n_planes - 1) as bigint."""
    bucket = F.lit(0).cast("long")
    for i in range(n_planes):
        bit = F.when(dot(vec_col, _plane(i, dim, plane_fn)) >= 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket + (bit.cast("long") * F.lit(1 << i))
    return bucket


def build_lsh_buckets(
    embeddings: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_fn: str = "xxhash64",
) -> DataFrame:
    """Assign every vector its LSH bucket. At scale this frame is
    written ``partitionBy('bucket')`` so a probe reads one directory."""
    return embeddings.withColumn(
        "bucket", lsh_bucket(F.col(vec_col).cast("array<double>"), n_planes, dim, plane_fn)
    )


def knn_lsh(
    bucketed: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
) -> DataFrame:
    """Approximate top-k: score only the query's bucket (1/2^n_planes
    of the corpus in expectation). Recall is tunable via n_planes and
    multi-probe; exactness is knn_brute_force's job."""
    dim = len(query_vec)
    q = lit_vector(query_vec)
    # derive the query's bucket with the same hash-derived planes (one
    # 1-row job — O(1) driver data, the planes live in the expression)
    q_bucket = (
        bucketed.sparkSession.range(1)
        .select(lsh_bucket(q, n_planes, dim).alias("b"))
        .collect()[0]["b"]
    )
    probe = bucketed.filter(F.col("bucket") == q_bucket)
    scored = probe.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), score_decimals).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def lsh_recall(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 10,
    n_planes: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_fn: str = "xxhash64",
    score_decimals: int = 6,
) -> DataFrame:
    """Recall@k of single-probe hyperplane-LSH kNN against the exact
    brute-force ranking — the ANN quality evaluator a pipeline runs
    before trusting an approximate index at scale.

    Rows matching ``query_pred`` are the query set (self-matches are
    excluded from both rankings). Both paths share one bucketed scan:
    exact top-k is a broadcast crossJoin + per-query window; the LSH
    path restricts candidates to the query's own bucket before the
    same ranking. Recall = |approx ∩ exact| / k per query — the
    denominator stays k even when the probe bucket holds fewer than k
    candidates (the honest single-probe number).

    With ``plane_fn='md5'`` the planes are exact rationals derived from
    portable_hash60, so the DuckDB oracle rebuilds bit-identical
    buckets and the whole evaluator is value-checked, not just
    row-counted.
    """
    from pyspark.sql import Window

    # fan_out: the per-row LSH bucketing and the corpus×panel cosine
    # matrix below are map-side CPU that would otherwise run inside an
    # under-partitioned scan's tasks (no-op at scale — guide §2)
    bucketed = build_lsh_buckets(
        fan_out(embeddings, min_split_bytes=16 * 1024), n_planes=n_planes, dim=dim,
        id_col=id_col, vec_col=vec_col, plane_fn=plane_fn,
    )
    # the panel is query_pred-bounded (tiny); materialize it once so
    # its three consumers (scored's broadcast, the final join, recall
    # denominators) don't each re-run the corpus bucketing projection
    queries = bucketed.filter(query_pred).select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("bucket").alias("q_bucket"),
    ).localCheckpoint(eager=False)  # LAZY (r17): final action materializes

    scored = (
        bucketed.crossJoin(F.broadcast(queries))
        .filter(F.col(id_col) != F.col("q_id"))
        .select(
            "q_id",
            "q_bucket",
            "bucket",
            F.col(id_col),
            F.round(
                cosine(
                    F.col(vec_col).cast("array<double>"),
                    F.col("q_vec").cast("array<double>"),
                ),
                score_decimals,
            ).alias("score"),
        )
    )
    # ONE window pass computes both rankings (the corpus×panel cosine
    # matrix is the dominant cost and previously evaluated twice —
    # once per ranking): over the total order (score desc, id asc),
    # exact rank = row_number, approx rank = running count of
    # same-bucket rows, so "in approx top-k" = flagged ∧ running ≤ k.
    # Identical sets to the two-window form by construction.
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col(id_col).asc())
    flag = (F.col("bucket") == F.col("q_bucket")).cast("int")
    ranked = scored.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_br",
        F.sum(flag).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    hits = (
        ranked.filter(
            (F.col("_rn") <= k)
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col("_br") <= k)
        )
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        queries.select("q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(F.coalesce("n_hits", F.lit(0)) / F.lit(float(k)), 6).alias(
                "recall_at_k"
            ),
        )
    )


def dim_truncation_recall(
    embeddings: DataFrame,
    query_pred: Column,
    dims: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
) -> DataFrame:
    """Recall@k of PREFIX-truncated-dimension cosine ranking vs the
    full-dimension exact ranking — the Matryoshka-representation
    question (Kusupati et al., 2022): how many leading dimensions can
    an ANN tier drop before retrieval quality falls off. A pipeline
    runs this before storing a short-prefix index tier next to the
    full vectors.

    One broadcast crossJoin of the corpus against the (small) query
    set computes the full-dim score plus one truncated score per
    requested prefix length in a single projection — the corpus is
    scanned once regardless of len(dims). All rankings are row_number
    windows over the SAME per-query partitioning, so the plan is one
    exchange on q_id followed by stacked Sort+Window stages; since
    every ranking ranks the same (q_id, id) rows, top-k intersection
    is a per-row predicate (rn_full ≤ k AND rn_d ≤ k) folded by one
    final aggregate — no joins at all. Recall denominator is always k;
    the mean is one division of exact integer totals (an AVG of
    per-query double ratios would be summation-order dependent across
    engines). Output: one row per prefix length
    (dims, n_queries, total_hits, mean_recall)."""
    from pyspark.sql import Window

    queries = embeddings.filter(query_pred).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    ranked = (
        embeddings.select(id_col, vec_col)
        .crossJoin(F.broadcast(queries))
        .filter(F.col(id_col) != F.col("q_id"))
        .select(
            "q_id",
            F.col(id_col),
            F.round(
                cosine(
                    F.col(vec_col).cast("array<double>"),
                    F.col("q_vec").cast("array<double>"),
                ),
                score_decimals,
            ).alias("s_full"),
            *[
                F.round(
                    cosine(
                        F.slice(F.col(vec_col).cast("array<double>"), 1, d),
                        F.slice(F.col("q_vec").cast("array<double>"), 1, d),
                    ),
                    score_decimals,
                ).alias(f"s_{d}")
                for d in dims
            ],
        )
    )

    def rn(score_col: str) -> Column:
        w = Window.partitionBy("q_id").orderBy(
            F.col(score_col).desc(), F.col(id_col).asc()
        )
        return F.row_number().over(w)

    ranked = ranked.withColumn("rn_full", rn("s_full"))
    for d in dims:
        ranked = ranked.withColumn(f"rn_{d}", rn(f"s_{d}"))
    # n_queries comes from the QUERY PANEL, not from the scored rows —
    # a query with zero candidates (filtered self-only panel, empty
    # corpus slice) must still count in the denominator and contribute
    # 0 hits, exactly like the oracle's LEFT JOIN + COALESCE (ADVICE
    # r5 finding 3: countDistinct over candidates dropped such queries
    # and NULLed total_hits). Both frames are single-row aggregates,
    # so the join is a broadcast of one row.
    hit_totals = ranked.agg(
        *[
            F.sum(
                ((F.col("rn_full") <= k) & (F.col(f"rn_{d}") <= k)).cast("long")
            ).alias(f"hits_{d}")
            for d in dims
        ],
    )
    totals = queries.agg(F.countDistinct("q_id").alias("n_queries")).crossJoin(
        F.broadcast(hit_totals)
    )
    # one row per prefix length, exploded from the single totals row —
    # a union of per-dim selects would re-plan the scorer once per
    # branch (3x the exchanges for the same numbers)
    return (
        totals.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).cast("long").alias("dims"),
                            F.col("n_queries").cast("long").alias("n_queries"),
                            F.coalesce(F.col(f"hits_{d}"), F.lit(0))
                            .cast("long")
                            .alias("total_hits"),
                            F.round(
                                F.coalesce(F.col(f"hits_{d}"), F.lit(0)).cast("double")
                                / (F.col("n_queries") * F.lit(k)).cast("double"),
                                6,
                            ).alias("mean_recall"),
                        )
                        for d in dims
                    ]
                )
            ).alias("r")
        )
        .select("r.dims", "r.n_queries", "r.total_hits", "r.mean_recall")
        .orderBy(F.col("dims").asc())
    )


# ------------------------------------------------------------- IVF-Flat

def build_ivf(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """IVF index: coarse centroids + per-vector assignment.

    Deterministic k-means: seeds are the ``n_centroids`` vectors with
    the lowest ids (deterministic, no RNG), refined with ``iters``
    Lloyd steps computed as groupBy-mean (element-wise via posexplode —
    partial aggregation keeps the shuffle small: n_centroids × dim
    rows). Returns (centroids(cid, centroid), assignments(id, cid)).
    """
    v = F.col(vec_col).cast("array<double>")
    vecs = embeddings.select(F.col(id_col).alias("id"), v.alias("vec"))

    from pyspark.sql import Window

    centroids = (
        vecs.orderBy("id").limit(n_centroids)
        .select(F.row_number().over(Window.orderBy("id")).alias("cid"), "vec")
        .select((F.col("cid") - 1).alias("cid"), F.col("vec").alias("centroid"))
    )

    for _ in range(iters):
        assigned = _assign(vecs, centroids)
        centroids = (
            assigned.select("cid", F.posexplode("vec").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cid", F.transform("pm", lambda s: s["m"]).alias("centroid"))
        )

    assignments = _assign(vecs, centroids).select(F.col("id").alias(id_col), "cid")
    return centroids, assignments


def _assign(
    vecs: DataFrame,
    centroids: DataFrame,
    dist_decimals: int | None = None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Nearest-centroid assignment as a pure per-row expression.

    Centroids are collected to the driver (k × dim doubles — tiny by
    definition, that's what makes them 'coarse') and inlined as
    literals, so assignment is ZERO-shuffle: one scan computing an
    argmin over k codegen'd distance expressions. This replaces the
    crossJoin + per-id window (which shuffled the whole corpus on id).

    ``dist_decimals`` rounds each squared distance before the argmin;
    with rounded, engine-portable centroids that makes the assignment
    itself reproducible across engines (ties break to the lowest cid —
    first index of the array minimum).

    ``extra_cols`` names input columns to pass through unchanged
    (metadata the caller denormalizes onto the assignment, e.g.
    build_ivf_pq's attr_cols) — they ride the projection, never touch
    the argmin.
    """
    cents = sorted(
        ((r["cid"], list(r["centroid"])) for r in centroids.collect()), key=lambda c: c[0]
    )

    # The k-way distance array is a k×dim-literal expression tree
    # (~1000 nodes at k=16, dim=64) whose construction costs ~0.5 s of
    # driver time in py4j round-trips ALONE — per _assign call, before
    # any analysis. The tree is a pure function of (centroid values,
    # dist_decimals) and Columns are immutable expression trees, so it
    # is memoized per that key and rebuilt only for a new centroid set
    # (plan-side memo, the catalog-DataFrame-memo class: every action
    # still recomputes from the inputs; measured repeat construction
    # 0.72 s → 0.12 s at sf0.1 with identical plans and results).
    memo_key = (
        tuple((cid, tuple(map(float, c))) for cid, c in cents),
        dist_decimals,
    )
    cached = _ASSIGN_EXPR_MEMO.get(memo_key)
    if cached is None:

        def dist_to(c: list[float]) -> Column:
            d = F.aggregate(
                F.zip_with("vec", lit_vector(c), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            return F.round(d, dist_decimals) if dist_decimals is not None else d

        cached = (
            F.array(*[dist_to(c) for _, c in cents]),
            F.array(*[F.lit(cid) for cid, _ in cents]),
        )
        if len(_ASSIGN_EXPR_MEMO) >= 32:
            _ASSIGN_EXPR_MEMO.pop(next(iter(_ASSIGN_EXPR_MEMO)))
        _ASSIGN_EXPR_MEMO[memo_key] = cached
    darr, cid_lookup = cached

    scored = vecs.withColumn("_d", darr)
    # argmin with deterministic low-cid tie-break: array_position of the min
    best = F.array_position("_d", F.array_min("_d")) - 1
    return scored.select(
        "id",
        "vec",
        F.element_at(cid_lookup, (best + 1).cast("int")).alias("cid"),
        *extra_cols,
    )


def label_cell_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    mean_decimals: int = 6,
) -> DataFrame:
    """Deterministic IVF coarse index ``(cid, centroid)``: one inverted
    list per existing label, centroid = the label's exact-decimal
    per-dimension mean rounded once (:func:`label_centroids`).

    Unlike k-means seeds, this is bit-identical under any partitioning
    AND reproducible in another engine — which is what lets the whole
    IVF probe path (assignment → probe selection → in-cell ranking) be
    value-checked against a SQL oracle instead of rows-only. At scale
    the labels are any coarse pre-existing grouping (class, shard,
    cluster id from a prior run)."""
    long = label_centroids(
        embeddings, label_col=label_col, vec_col=vec_col, mean_decimals=mean_decimals
    )
    return (
        long.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mean_v"))).alias("pm"))
        .select(
            F.col("label").cast("long").alias("cid"),
            F.transform("pm", lambda s: s["mean_v"]).alias("centroid"),
        )
    )


def assign_cells(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_decimals: int | None = 6,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Public nearest-cell assignment: (id_col, cid), zero-shuffle
    (centroids inlined as literals — see :func:`_assign`).

    ``carry_cols`` names input columns to pass through verbatim (the
    original column, not the double-cast distance operand), so a
    caller that needs the assignment AND the payload — e.g. to feed
    :func:`pq_encode` with ``carry_cols=('cid',)`` — gets both from
    the one zero-shuffle projection instead of an id-keyed join back
    against its input (guide §2.4)."""
    vecs = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        *[F.col(c) for c in carry_cols],
    )
    return _assign(
        vecs, centroids, dist_decimals=dist_decimals, extra_cols=carry_cols
    ).select(F.col("id").alias(id_col), "cid", *carry_cols)


def knn_ivf(
    embeddings: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
    dist_decimals: int | None = None,
) -> DataFrame:
    """Probe the n_probe nearest inverted lists, exact-rank inside them.

    At 100 TB the assignment join is a partition-pruned read (data
    written partitionBy('cid')); here it is a broadcast semi-join.
    """
    q = lit_vector(query_vec)
    probe_dist = F.aggregate(
        F.zip_with("centroid", q, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    if dist_decimals is not None:
        probe_dist = F.round(probe_dist, dist_decimals)
    probe_cids = (
        centroids.select("cid", probe_dist.alias("dist"))
        .orderBy(F.col("dist").asc(), F.col("cid").asc())
        .limit(n_probe)
        .select("cid")
    )
    shard = assignments.join(F.broadcast(probe_cids), "cid").select(id_col)
    scored = embeddings.join(shard, id_col, "left_semi").select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), score_decimals).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def quantize_int8(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale_decimals: int = 9,
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard storage/
    bandwidth reducer for embedding corpora (4× smaller than float32,
    8× than float64) ahead of ANN indexing or shipping to a trainer.

    q_i = floor(x_i / s + 0.5), s = max|x| / 127 — every step is a
    per-row sequential array expression, so the result is bit-portable
    across engines and partitionings (no parallel float accumulation
    anywhere). floor(+0.5) is used instead of round() because SQL
    engines disagree on round-half ties; floor does not.

    Returns (id, scale, q_csv, q_sum): the quantized vector serialized
    as a CSV string (engine-portable for the oracle hash) plus its
    exact integer checksum. Zero shuffles — a pure projection.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    s = F.array_max(F.transform(v, F.abs)) / F.lit(127.0)
    q = F.transform(v, lambda x: F.floor(x / s + F.lit(0.5)).cast("long"))
    return embeddings.select(
        F.col(id_col),
        F.round(s, scale_decimals).alias("scale"),
        F.array_join(F.transform(q, lambda x: x.cast("string")), ",").alias("q_csv"),
        F.aggregate(q, F.lit(0).cast("long"), lambda acc, x: acc + x).alias("q_sum"),
    )


def label_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    mean_decimals: int = 6,
) -> DataFrame:
    """Per-label mean embedding (class centroids) — the building block
    for centroid classifiers, cluster summaries, and IVF re-seeding.

    Returns one row per (label, dimension): (label, pos, mean_v, n)
    with pos 1-based. Each element is rounded once to decimal(27,10)
    (both engines round the float's value identically at that scale)
    and the per-dimension sum is then EXACT decimal arithmetic, so the
    centroid is identical under any partitioning/retry — the same
    determinism-by-construction used by the OLAP decimal aggregates
    (numeric.py). The mean converts to double only at the end.

    Plan: posexplode → one shuffle on (label, pos) with map-side
    partial sums — shuffle rows ≤ n_labels × dim per task, never
    corpus-sized.
    """
    exploded = embeddings.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos0", "v"),
    ).select("label", (F.col("pos0") + 1).alias("pos"), F.col("v"))
    return (
        exploded.groupBy("label", "pos")
        .agg(
            F.sum(F.col("v").cast("decimal(27,10)")).alias("_s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "label",
            "pos",
            F.round(F.col("_s").cast("double") / F.col("n"), mean_decimals).alias("mean_v"),
            "n",
        )
    )


# -------------------------------------------------- product quantization

def pq_codebooks(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    seed_ids: list[int] | None = None,
) -> DataFrame:
    """Product-quantization codebooks (Jégou et al. 2011, "Product
    quantization for nearest neighbor search"): the vector space is
    split into ``m`` subspaces of width dim/m; each subspace gets k
    codewords. Codewords here are SAMPLED from the corpus (the
    sub-vectors of ``seed_ids``'s rows) — the deterministic,
    train-free initialization; swapping in k-means-refined codebooks
    changes this frame only, never the encode/ADC plans.

    Returns (s, j, cw): subspace index (0-based), codeword id
    (1-based, ordered by seed id), codeword sub-vector as double[].
    Size = m × k rows — always broadcastable.
    """
    if dim % m:
        raise ValueError(f"dim={dim} must be divisible by m={m} subspaces")
    w = dim // m
    ids = seed_ids if seed_ids is not None else list(range(8))
    seeds = embeddings.filter(F.col(id_col).isin(ids)).select(
        F.col(id_col).alias("sid"), F.col(vec_col).cast("array<double>").alias("v")
    )
    subs = seeds.select(
        "sid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice("v", s * w + 1, w).alias("cw"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("e"),
    ).select("sid", F.col("e.s").alias("s"), F.col("e.cw").alias("cw"))
    from pyspark.sql import Window

    wnd = Window.partitionBy("s").orderBy("sid")
    return subs.withColumn("j", F.row_number().over(wnd)).select("s", "j", "cw")


def _sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 between two double[] columns — sequential left-fold,
    deterministic accumulation order in both engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    dist_decimals: int = 9,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """PQ encoding: per (vector, subspace), the nearest codeword id —
    the 1-byte-per-subspace compressed representation that makes
    billion-vector search RAM-resident (64 floats → m bytes here).

    Plan: subspace explode (m rows per vector) ⋈ broadcast codebooks
    (m×k rows) → argmin per (id, s) via one min(struct) aggregate with
    map-side partials. Output (id, s, code) — the flat form; pivot to
    an array with collect_list at write time. Distances are rounded
    at ``dist_decimals`` before the argmin so ties break on codeword
    id identically in any engine.

    ``carry_cols`` names input columns that are functionally dependent
    on ``id_col`` (a cell id, denormalized attributes) to pass through
    onto the output rows. They join the groupBy keys — result-identical
    since they are constant per id — and, critically, a downstream
    filter on a carried column (the serving path's ``cid IN probes``)
    then pushes below the aggregate AND the subspace explode, so only
    matching rows are ever encoded (guide §2.4; the r16 form attached
    cid with a post-encode join, which forced a full-corpus encode at
    serve time and an extra join in every plan).
    """
    if dim % m:
        raise ValueError(f"dim={dim} must be divisible by m={m} subspaces")
    w = dim // m
    v = F.col(vec_col).cast("array<double>")
    subs = embeddings.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(s).alias("s"), F.slice(v, s * w + 1, w).alias("sv"))
                    for s in range(m)
                ]
            )
        ).alias("e"),
    ).select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.col("e.s").alias("s"),
        F.col("e.sv").alias("sv"),
    )
    joined = subs.join(F.broadcast(codebooks), "s")
    d = F.round(_sq_l2(F.col("sv"), F.col("cw")), dist_decimals)
    return (
        joined.groupBy(id_col, *carry_cols, "s")
        .agg(F.min(F.struct(d.alias("d"), F.col("j").alias("j"))).alias("b"))
        .select(F.col(id_col), "s", F.col("b.j").alias("code"), *carry_cols)
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    m: int = 4,
    dist_decimals: int = 6,
) -> DataFrame:
    """Asymmetric distance computation (ADC) top-k: approximate
    ||q - x||² = Σ_s ||q_s - codeword[s, code_s]||², looked up from a
    per-query table of m×k partial distances.

    Plan: the LUT derives from the broadcast codebook frame (m×k
    rows, query sub-vectors enter as literals — no corpus access);
    codes ⋈ broadcast LUT on (s, code) then one groupBy(id) sum.
    Per-query work is proportional to the CODES table (m rows per
    vector of 1-byte codes), never the raw vectors — the PQ promise.
    """
    lut = _adc_lut(codebooks, query_vec, m)
    return (
        codes.join(F.broadcast(lut), ["s", "code"])
        .groupBy(id_col)
        .agg(F.round(F.sum("qd"), dist_decimals).alias("approx_d"))
        .orderBy(F.col("approx_d").asc(), F.col(id_col).asc())
        .limit(k)
    )


def _adc_lut(codebooks: DataFrame, query_vec: list[float], m: int) -> DataFrame:
    """Per-query ADC lookup table: (s, code, qd) — squared L2 between
    each codeword and the query's matching sub-vector (entered as
    literals; m×k rows, always broadcastable). Factored out of
    pq_adc_topk so the IVF-pruned serving path shares it."""
    dim = len(query_vec)
    if dim % m:
        raise ValueError(f"query dim={dim} must be divisible by m={m} subspaces")
    w = dim // m
    parts = []
    for s in range(m):
        qs = F.array(*[F.lit(float(x)) for x in query_vec[s * w : (s + 1) * w]])
        parts.append(
            codebooks.filter(F.col("s") == s).select(
                "s",
                F.col("j").alias("code"),
                F.round(_sq_l2(qs, F.col("cw")), 9).alias("qd"),
            )
        )
    lut = parts[0]
    for p in parts[1:]:
        lut = lut.unionByName(p)
    return lut


def build_ivf_pq(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = 64,
    m: int = 4,
    seed_ids: list[int] | None = None,
    dist_decimals: int = 6,
    attr_cols: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The composed ANN index the serving path reads — the engine's
    twin of Solr 9's DenseVectorField HNSW index (the solrj 9.8 surface
    the reference builds against, reference pom.xml:22): Solr serves
    kNN from a graph index instead of scanning the corpus; on Spark the
    equivalent never-scan-everything layout is IVF cells + PQ codes
    (Jégou et al. 2011), both stored partitioned by cell id.

    Returns (centroids, codebooks, cells, codes):

    - ``centroids`` (cid, centroid) — deterministic per-label
      exact-decimal means (:func:`label_cell_centroids`), k×dim rows.
    - ``codebooks`` (s, j, cw) — PQ codewords (:func:`pq_codebooks`).
    - ``cells`` (cid, id_col, vec_col) — the raw vectors co-located
      with their cell assignment. At scale this is written
      ``partitionBy('cid')`` so the exact re-rank reads only probed
      directories.
    - ``codes`` (cid, id_col, s, code) — PQ codes co-located the same
      way; the ADC pass over a query reads n_probe/k of this table.

    ``attr_cols`` names metadata columns to denormalize onto BOTH
    index frames, so a Solr-9.1-style fq PRE-filter over them pushes
    into the (cid-pruned) index scans at query time — candidates are
    restricted BEFORE ranking without touching any other table
    (:func:`knn_ivf_pq_serve`'s ``pre_filter``).

    Build cost: one zero-shuffle assignment projection (centroids are
    literals) + the pq_encode (id, s) aggregate reading the shared
    assignment — all one-time index-build work; serving never touches
    unprobed cells.
    """
    # fan_out: centroid aggregation, assignment distances and the
    # pq_encode subspace argmin are map-side CPU downstream of the
    # scan (no-op at scale — guide §2). centroids and assigned carry a
    # LAZY lineage cut: _assign's collect (build time) materializes
    # centroids once and the serve-side probe ranking reuses it, and
    # the corpus argmin in `assigned` computes once even though both
    # index frames (cells, codes) read it — lazy so no extra blocking
    # driver jobs are added, the first consumer pays and the rest
    # reuse.
    embeddings = fan_out(embeddings, min_split_bytes=16 * 1024)
    centroids = label_cell_centroids(
        embeddings, label_col=label_col, vec_col=vec_col
    ).localCheckpoint(eager=False)
    vecs = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        *[F.col(c) for c in attr_cols],
    )
    assigned = _assign(
        vecs, centroids, dist_decimals=dist_decimals, extra_cols=attr_cols
    ).localCheckpoint(eager=False)
    cells = assigned.select(
        "cid", F.col("id").alias(id_col), F.col("vec").alias(vec_col), *attr_cols
    )
    codebooks = pq_codebooks(
        embeddings, id_col=id_col, vec_col=vec_col, dim=dim, m=m, seed_ids=seed_ids
    )
    # codes derive from the (checkpointed) assignment with cid and the
    # attrs CARRIED THROUGH the encode instead of attached by
    # post-encode id-keyed joins (r17): result-identical — cid/attrs
    # are constant per id and the encode depends only on the vector +
    # codebooks — with one join fewer in every plan, and a serve-time
    # ``cid IN probes`` (or attr pre_filter) predicate now pushes below
    # the subspace explode + argmin aggregate, so the in-plan serving
    # form encodes only the probed cells' vectors instead of the whole
    # corpus (guide §2.4/§3).
    codes = pq_encode(
        assigned.select(
            F.col("id").alias(id_col), F.col("vec").alias(vec_col), "cid", *attr_cols
        ),
        codebooks,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        m=m,
        carry_cols=("cid", *attr_cols),
    )
    return centroids, codebooks, cells, codes


def knn_ivf_pq_serve(
    centroids: DataFrame,
    codebooks: DataFrame,
    cells: DataFrame,
    codes: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    shortlist: int = 40,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
    dist_decimals: int = 6,
    pre_filter: Column | None = None,
) -> DataFrame:
    """Served approximate {!knn}: the IVF-pruned, PQ-ranked,
    exact-re-ranked top-k — the standard IVF-PQ + refine pipeline
    (Jégou et al. 2011 §V) composed from the index frames
    :func:`build_ivf_pq` maintains. This closes the one corpus-linear
    serving path left in the engine (r10 verdict #1): q78's exact
    {!knn} scans every vector per query; this path touches
    n_probe/n_cells of the CODES (m bytes/vector) plus ``shortlist``
    raw vectors, whatever the corpus size.

    Stages, all deterministic and oracle-replayable:

    1. **Probe**: the n_probe cells nearest the query (rounded squared
       L2, ties to the lower cid) — a k-row frame, collected as a
       bounded scalar list and pushed into the scans as literals, so a
       cid-partitioned store prunes to n_probe directories.
    2. **ADC**: codes in probed cells ⋈ broadcast m×k LUT → per-id
       approximate distance (one map-side-combinable sum), shortlist =
       ``shortlist`` best (TakeOrderedAndProject).
    3. **Refine**: exact cosine over the shortlist's raw vectors only
       (broadcast semi-join against the probed cells), final top-k by
       (score desc, id asc) — the same total order as the exact q78.

    Recall is measured, not assumed: :func:`ivf_recall` reports
    recall@k of the pruned path per query panel (e3n registry entry).

    ``pre_filter`` is Solr 9.1+ fq-as-PRE-filter semantics for kNN:
    the predicate restricts candidates BEFORE ranking (never a
    post-filter over the k results, which would under-fill). It
    evaluates over attribute columns denormalized onto the index
    frames (build_ivf_pq's ``attr_cols``), so it pushes into the SAME
    cid-pruned scans — an attribute filter plus vector search costs
    one pruned read, no extra join.
    """
    q = lit_vector(query_vec)
    probe_d = F.round(_sq_l2(F.col("centroid"), q), dist_decimals)
    probes = [
        r["cid"]
        for r in centroids.select("cid", probe_d.alias("d"))
        .orderBy(F.col("d").asc(), F.col("cid").asc())
        .limit(n_probe)
        .collect()
    ]
    if pre_filter is not None:
        codes = codes.filter(pre_filter)
        cells = cells.filter(pre_filter)
    lut = _adc_lut(codebooks, query_vec, m)
    short = (
        codes.filter(F.col("cid").isin(probes))
        .join(F.broadcast(lut), ["s", "code"])
        .groupBy(id_col)
        .agg(F.round(F.sum("qd"), dist_decimals).alias("approx_d"))
        .orderBy(F.col("approx_d").asc(), F.col(id_col).asc())
        .limit(shortlist)
    )
    return (
        cells.filter(F.col("cid").isin(probes))
        .join(F.broadcast(short.select(id_col)), id_col)
        .select(
            F.col(id_col),
            F.round(
                cosine(F.col(vec_col).cast("array<double>"), q), score_decimals
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_recall(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 10,
    n_probe: int = 4,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
    dist_decimals: int = 6,
) -> DataFrame:
    """Recall@k of the IVF-pruned kNN path (probe the n_probe nearest
    cells, exact-rank inside them) against the exact full-corpus
    ranking — the evaluator that justifies trusting the served
    approximate path (:func:`knn_ivf_pq_serve`) at scale, the same
    role :func:`lsh_recall` plays for the hyperplane tier.

    Deterministic end to end: label-mean centroids (exact-decimal),
    rounded distances with low-cid tie-breaks, rounded cosines with
    low-id tie-breaks — the SQL oracle replays every stage. Plan: one
    zero-shuffle assignment projection, one broadcast crossJoin of the
    (small) query panel, stacked windows over the same q_id
    partitioning. Recall denominator stays k even when the probed
    cells hold fewer than k candidates (the honest number)."""
    from pyspark.sql import Window

    # fan_out: centroid aggregation, per-row cell assignment and the
    # corpus×panel cosine matrix are all map-side CPU downstream of the
    # scan (no-op at scale — guide §2). centroids and cells are
    # checkpointed once (dependent, so serially): without the cut,
    # scored and the panel each re-derive the scan→fan_out→argmin
    # subtree and probes re-runs the centroid aggregation the _assign
    # collect already executed — one assignment pass now feeds all of
    # them (at 100 TB the materialized frame spills to local disk and
    # still beats recomputing the k-way argmin per consumer).
    embeddings = fan_out(embeddings, min_split_bytes=16 * 1024)
    centroids = label_cell_centroids(
        embeddings, label_col=label_col, vec_col=vec_col
    ).localCheckpoint(eager=False)
    vecs = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vec")
    )
    cells = _assign(vecs, centroids, dist_decimals=dist_decimals).select(
        F.col("id").alias(id_col), "vec", "cid"
    ).localCheckpoint(eager=False)
    # the panel is query_pred-bounded (tiny); materialize it once so
    # its consumers (probe ranking, scored's broadcast, the final
    # panel join) don't each re-run even the cheap post-checkpoint
    # filter over the materialized corpus
    # LAZY (r17): all consumers execute inside the final action, which
    # materializes the panel once — eager paid a blocking job up front
    queries = cells.filter(query_pred).select(
        F.col(id_col).alias("q_id"), F.col("vec").alias("q_vec")
    ).localCheckpoint(eager=False)
    qw = Window.partitionBy("q_id").orderBy(F.col("d").asc(), F.col("cid").asc())
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .select(
            "q_id",
            "cid",
            F.round(_sq_l2(F.col("centroid"), F.col("q_vec")), dist_decimals).alias("d"),
        )
        .withColumn("_rn", F.row_number().over(qw))
        .filter(F.col("_rn") <= n_probe)
        .select("q_id", "cid")
    )
    scored = (
        cells.crossJoin(F.broadcast(queries))
        .filter(F.col(id_col) != F.col("q_id"))
        .select(
            "q_id",
            "cid",
            F.col(id_col),
            F.round(cosine(F.col("vec"), F.col("q_vec")), score_decimals).alias("score"),
        )
    )
    # ONE window pass computes both rankings (the corpus×panel cosine
    # matrix is the dominant cost and previously evaluated twice —
    # once per ranking): a left broadcast join against the probe set
    # flags probed-cell rows; over the total order (score desc, id
    # asc) exact rank = row_number and approx rank = running count of
    # flagged rows, so "in approx top-k" = flagged ∧ running ≤ k.
    # Identical sets to the two-window form by construction.
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col(id_col).asc())
    flagged = scored.join(
        F.broadcast(probes.withColumn("_pin", F.lit(1))), ["q_id", "cid"], "left"
    )
    ranked = flagged.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_br",
        F.sum(F.coalesce(F.col("_pin"), F.lit(0))).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    hits = (
        ranked.filter(
            (F.col("_rn") <= k) & F.col("_pin").isNotNull() & (F.col("_br") <= k)
        )
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        queries.select("q_id")
        .join(F.broadcast(hits), "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(F.coalesce("n_hits", F.lit(0)) / F.lit(float(k)), 6).alias(
                "recall_at_k"
            ),
        )
    )


def centroid_assign(
    delta: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Incremental vector-index maintenance: assign DELTA vectors to
    their nearest centroid (cosine) from a long-form centroid frame
    (label, pos, mean_v) — the vector-side analogue of the postings
    merge (`inverted.merge_postings`): the reference's whole job is
    keeping a secondary index current under inserts; for an
    IVF/centroid ANN index that job is exactly this assignment, and
    only the delta is ever touched.

    Plan: posexplode the delta (rows = |delta|·dim), join the
    BROADCAST centroid table on pos, one (id, label) hash agg with
    exact-decimal dot/norm sums (order-independent under any
    partitioning), then an argmax struct-max per id — no window, no
    corpus scan, work ∝ |delta|·dim·n_labels with n_labels bounded by
    the broadcast. Ties break toward the smaller label
    deterministically.
    """
    x = delta.select(
        F.col(id_col), F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos0", "v")
    ).select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), "v")
    j = x.join(F.broadcast(centroids.select("label", "pos", "mean_v")), "pos")
    per = (
        j.groupBy(id_col, "label")
        .agg(
            F.sum((F.col("v") * F.col("mean_v")).cast("decimal(30,12)")).cast("double").alias("dot"),
            F.sum((F.col("v") * F.col("v")).cast("decimal(30,12)")).cast("double").alias("v2"),
            F.sum((F.col("mean_v") * F.col("mean_v")).cast("decimal(30,12)")).cast("double").alias("c2"),
        )
        .withColumn(
            "cos", F.round(F.col("dot") / (F.sqrt("v2") * F.sqrt("c2")), decimals)
        )
    )
    best = per.groupBy(id_col).agg(
        F.max(F.struct(F.col("cos"), (-F.col("label")).alias("_nl"))).alias("_b")
    )
    return best.select(
        F.col(id_col),
        (-F.col("_b._nl")).cast("int").alias("label"),
        F.col("_b.cos").alias("cos"),
    )


def mmr_select(
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
    rel_col: str = "rel",
    k: int = 10,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998) greedy
    selection over a BOUNDED candidate pool: pick the most relevant
    item first, then repeatedly the item maximizing
    ``lam·rel − (1−lam)·max_sim_to_selected`` (cosine), ties toward
    the lower id. The diversity-aware top-k a retrieval or
    training-data sampler runs AFTER candidate generation — the pool
    is k-bounded (a TakeOrdered head upstream), so the inherently
    sequential greedy runs as ONE vectorized Arrow batch
    (applyInPandas on a single group), never a driver loop over jobs.

    Determinism/portability: pairwise dot products accumulate
    per-dimension in index order (a strict left fold in float64 —
    bit-identical to the engine-side ``F.aggregate`` fold and DuckDB's
    ``list_dot_product``), sims and scores round to 6 before argmax,
    so a SQL oracle reproduces every pick exactly.
    """
    import numpy as np
    import pandas as pd

    # hoisted so every pick uses the SAME double as an oracle that
    # interpolates repr(1.0 - lam) into its SQL (1.0 - 0.7 is
    # 0.30000000000000004, not the 0.3 literal) — bit-identical scores
    mu = 1.0 - lam
    out_cols = ["rank", id_col, rel_col, "score"]

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:  # empty candidate pool: np.stack would raise
            return pd.DataFrame(columns=out_cols)
        pdf = pdf.sort_values([rel_col, id_col], ascending=[False, True]).reset_index(
            drop=True
        )
        v = np.stack([np.asarray(x, dtype="float64") for x in pdf[vec_col]])
        n, dim = v.shape
        dots = np.zeros((n, n))
        for d in range(dim):  # strict left-fold accumulation per pair
            dots += np.outer(v[:, d], v[:, d])
        norms = np.sqrt(np.diag(dots))
        # zero-norm vectors would yield NaN sims that poison every
        # argmax after them; define sim-to-zero-vector as 0 instead
        safe = np.where(norms == 0.0, 1.0, norms)
        sims = np.round(dots / np.outer(safe, safe), 6)
        rel = pdf[rel_col].to_numpy()
        ids = pdf[id_col].to_numpy()
        chosen = [0]  # row 0 is max rel, tie already broken by the sort
        out = [(1, ids[0], rel[0], rel[0])]
        remaining = list(range(1, n))
        while remaining and len(out) < k:
            best_i, best_key = None, None
            for i in remaining:
                max_sim = sims[i, chosen].max()
                score = round(lam * rel[i] - mu * max_sim, 6)
                key = (-score, ids[i])
                if best_key is None or key < best_key:
                    best_i, best_key = i, key
            chosen.append(best_i)
            out.append((len(out) + 1, ids[best_i], rel[best_i], -best_key[0]))
            remaining.remove(best_i)
        return pd.DataFrame(out, columns=out_cols)

    return (
        candidates.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(
            _greedy,
            schema=f"rank long, {id_col} long, {rel_col} double, score double",
        )
    )


def ivf_probe_sweep(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 10,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 6,
    dist_decimals: int = 6,
) -> DataFrame:
    """The ANN OPERATING CURVE (r11 verdict #3): recall and read-cost
    per probe depth, one row per n_probe ∈ {1..n_cells}, so the served
    {!knn} dial (:func:`knn_ivf_pq_serve`'s ``n_probe``) is chosen
    from data — the e4l/e19 sweep device applied to the vector index,
    generalizing :func:`ivf_recall`'s single-point measurement.

    Key identity that makes the sweep cost ONE ranking instead of
    n_cells rankings: inside IVF pruning, an exact top-k member that
    sits in a probed cell is ALWAYS in the pruned top-k (at most k
    candidates outrank it anywhere, all in the probed set), so
    recall@k at probe depth p = |{exact top-k members whose cell has
    probe rank ≤ p}| / k. The expensive exact ranking therefore runs
    once; the per-depth numbers are cumulative counts over the probe
    rank, and every aggregate is integer-derived (sums of hit counts /
    cell sizes, divided once at the end) — deterministic across
    engines and partitionings.

    Output per n_probe: mean/min recall@k over the panel, the fraction
    of panel queries at full recall, and probed_code_frac — the mean
    fraction of stored code rows a query at that depth reads (the
    serve-cost axis of the curve). Plan: the panel and the (≤ n_cells)
    probe/size frames ride broadcast joins; the corpus is scanned once
    for assignment and once for scoring, both shuffle-free
    projections."""
    from pyspark.sql import Window

    # fan_out + panel checkpoint: the ivf_recall treatment (see there).
    # centroids and cells are ALSO checkpointed once (dependent, so
    # serially): without the cut, every downstream consumer (scored,
    # cell_sizes, n_corpus, the panel) re-derives the whole
    # scan→fan_out→argmin subtree — 4 corpus passes and 4 copies of
    # its exchanges in the plan — and probe_rank re-runs the centroid
    # aggregation the _assign collect already executed. One assignment
    # pass now feeds everything; at 100 TB the materialized (id, vec,
    # cid) frame spills to local disk and still beats three extra
    # corpus recomputes of the k-way argmin.
    embeddings = fan_out(embeddings, min_split_bytes=16 * 1024)
    centroids = label_cell_centroids(
        embeddings, label_col=label_col, vec_col=vec_col
    ).localCheckpoint(eager=False)
    vecs = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vec")
    )
    cells = _assign(vecs, centroids, dist_decimals=dist_decimals).select(
        F.col("id").alias(id_col), "vec", "cid"
    ).localCheckpoint(eager=False)
    # LAZY (r17): all consumers execute inside the final action, which
    # materializes the panel once — eager paid a blocking job up front
    queries = cells.filter(query_pred).select(
        F.col(id_col).alias("q_id"), F.col("vec").alias("q_vec")
    ).localCheckpoint(eager=False)
    qw = Window.partitionBy("q_id").orderBy(F.col("d").asc(), F.col("cid").asc())
    probe_rank = (
        queries.crossJoin(F.broadcast(centroids))
        .select(
            "q_id",
            "cid",
            F.round(_sq_l2(F.col("centroid"), F.col("q_vec")), dist_decimals).alias("d"),
        )
        .withColumn("pr", F.row_number().over(qw))
        .select("q_id", "cid", "pr")
    )
    scored = (
        cells.crossJoin(F.broadcast(queries))
        .filter(F.col(id_col) != F.col("q_id"))
        .select(
            "q_id",
            "cid",
            F.col(id_col),
            F.round(cosine(F.col("vec"), F.col("q_vec")), score_decimals).alias("score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col(id_col).asc())
    exact = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("q_id", "cid")
    )
    # probe rank of each exact-top-k member's cell (panel×k rows)
    epr = exact.join(F.broadcast(probe_rank), ["q_id", "cid"]).select("q_id", "pr")
    grid = probe_rank.select(F.col("pr").alias("p")).distinct()
    cell_sizes = cells.groupBy("cid").agg(F.count(F.lit(1)).alias("sz"))
    n_corpus = cells.agg(F.count(F.lit(1)).alias("n_corpus"))
    qp = queries.select("q_id").crossJoin(F.broadcast(grid))
    epr_r = epr.select(F.col("q_id").alias("eq"), F.col("pr").alias("epr"))
    hits = (
        qp.join(
            F.broadcast(epr_r),
            (F.col("q_id") == F.col("eq")) & (F.col("epr") <= F.col("p")),
            "left",
        )
        .groupBy("q_id", "p")
        .agg(F.count("epr").alias("h"))
    )
    pr_r = probe_rank.select(
        F.col("q_id").alias("pq"), F.col("cid"), F.col("pr").alias("ppr")
    )
    probed = (
        qp.join(
            F.broadcast(pr_r),
            (F.col("q_id") == F.col("pq")) & (F.col("ppr") <= F.col("p")),
        )
        .join(F.broadcast(cell_sizes), "cid")
        .groupBy("q_id", "p")
        .agg(F.sum("sz").alias("s"))
    )
    return (
        # both sides are panel × n_cells bounded by construction — the
        # stats-less static planner would SMJ them without the hint
        hits.join(F.broadcast(probed), ["q_id", "p"])
        .groupBy("p")
        .agg(
            F.sum("h").alias("_sh"),
            F.min("h").alias("_mh"),
            F.sum((F.col("h") == k).cast("long")).alias("_fh"),
            F.count(F.lit(1)).alias("_nq"),
            F.sum("s").alias("_ss"),
        )
        .crossJoin(F.broadcast(n_corpus))
        .select(
            F.col("p").alias("n_probe"),
            F.round(F.col("_sh") / (F.lit(float(k)) * F.col("_nq")), 6).alias(
                "mean_recall_at_k"
            ),
            F.round(F.col("_mh") / F.lit(float(k)), 6).alias("min_recall_at_k"),
            F.round(F.col("_fh") / F.col("_nq").cast("double"), 6).alias(
                "full_recall_frac"
            ),
            F.round(
                F.col("_ss") / (F.col("n_corpus").cast("double") * F.col("_nq")), 6
            ).alias("probed_code_frac"),
        )
        .orderBy("n_probe")
    )
