"""Physical-plan shape regression tests.

The scale story (SCALE.md) rests on specific plan properties — filters
pushed into scans, dimension joins broadcast, top-k via per-partition
heaps, projections shuffle-free. These assertions pin them so a future
refactor that silently trades one away fails CI instead of only
showing up as a 100 TB regression.
"""

from __future__ import annotations

import pytest

from hbase_increment_index_spark.queries import QUERIES


def _plan(spark, sf_dir, name: str) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return QUERIES[name](spark, sf_dir)._jdf.queryExecution().explainString(mode)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q01_filter_eq")
    assert "EqualTo(o_orderstatus,F)" in plan  # in PushedFilters
    assert "Exchange" not in plan  # pure scan+filter, no shuffle


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(spark, sf_dir, "olap_revenue_by_region")
    # four dimension joins (orders side joins lineitem by key)
    assert plan.count("BroadcastHashJoin") >= 4
    # the fact table is never sort-merged against a dimension
    assert plan.count("SortMergeJoin") <= 1


def test_topk_uses_partial_heaps(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q07_sort_topk")
    assert "TakeOrderedAndProject" in plan
    # no global Sort materialization for a limit query
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


@pytest.mark.parametrize("name", ["q33_fuzzy", "e8_zorder", "e3f_quantize"])
def test_projection_ops_are_shuffle_free(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "Exchange" not in plan, f"{name} grew a shuffle"
    assert "SortMergeJoin" not in plan


def test_ranking_filters_before_aggregation(spark, sf_dir):
    # the literal query-term filter (term IN (...)) must sit BELOW the
    # first aggregate: postings are filtered before any groupBy. The
    # formatted plan numbers operators children-first, so "below" is a
    # smaller operator id
    import re

    plan = _plan(spark, sf_dir, "q06_tfidf_topk")
    term_filters = [
        int(n)
        for n in re.findall(
            r"\((\d+)\) Filter[^\n]*\nInput[^\n]*\nCondition : term#\d+ IN \(", plan
        )
    ]
    aggs = [int(n) for n in re.findall(r"\((\d+)\) HashAggregate", plan)]
    assert term_filters and aggs
    assert min(term_filters) < min(aggs)
    assert "SortMergeJoin" not in plan


def test_interval_join_is_hash_not_nested_loop(spark, sf_dir):
    # the bin decomposition must keep the range join an equi hash join;
    # a BroadcastNestedLoopJoin here means the quadratic plan came back
    plan = _plan(spark, sf_dir, "q25b_interval_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_cdc_compaction_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "cdc_latest_per_key")
    # one exchange on row_key feeds the window; AQE may add a read stage
    assert plan.count("Exchange") <= 2
    assert "WindowGroupLimit" in plan or "Window" in plan


# Queries where a pre-AQE SortMergeJoin is expected. Two reviewed
# classes only:
#   fact-fact  — both join inputs are large base tables (TPC-H
#                q4/q21 shapes): SMJ is the CORRECT strategy at scale,
#                a forced broadcast would OOM.
#   stats-less — one input is an aggregate/window/iteration output
#                with no plan-time size estimate, so the static
#                planner conservatively picks SMJ and AQE demotes it
#                to broadcast at runtime once the real (tiny) size is
#                known; forcing a static broadcast would bake in an
#                assumption that breaks when the intermediate grows
#                (e.g. a common query term's posting list).
# A NEW name failing the sweep means a base-table join lost its
# broadcast — fix the query, don't extend this list lightly.
_EXPECTED_SMJ: set[str] = {
    "olap_priority_check",      # fact-fact: orders ⋈ lineitem semi
    "olap_waiting_suppliers",   # fact-fact: lineitem self-joins (q21)
    "q04c_inverted_index",      # stats-less: matched-id set → semi-join back
    "q45b_spellcheck_collate",  # stats-less: vocab agg ⋈ candidate agg
    "q46_hybrid_rrf",           # stats-less: two k-row retrieval heads fused
    "q59_rerank",               # stats-less: k-row rerank head ⋈ corpus
    "q66_result_clustering",    # stats-less: cluster agg ⋈ members
    "cdc_check_and_put",        # stats-less: compacted state ⋈ derived batch
    "cdc_check_and_delete",     # same shape as cdc_check_and_put: the CAS
                                # decision join (compacted state ⋈ derived
                                # batch) is stats-less; the application-side
                                # removed-count join IS broadcast-hinted
    "cdc_delete_by_query",      # fact-fact: cell-latest ⋈ row-latest inside the
                                # post-tombstone serving view — both sides are
                                # corpus-sized derivations co-partitioned on
                                # row_key; SMJ is the correct strategy (the
                                # tombstone DELTA itself is broadcast-hinted in
                                # merge_state, which is the side that matters)
    "e1d_snapshot_diff",        # stats-less: two hash-agg snapshots
    "e1e_dup_rate_by_source",   # stats-less: dup-cluster agg ⋈ docs
    "e2h_near_dup_removal",     # stats-less: CC labels ⋈ corpus
    "e2j_semdedup",             # stats-less: CC labels over embedding pairs
    "e2n_lsh_calibration",      # stats-less: exact-Jaccard pair agg ⋈ LSH pair
                                # agg (LeftOuter) — both sides are pair frames
                                # over the 4x degraded-twin corpus with no
                                # plan-time size estimate; audited 1 SMJ, all
                                # 6 upstream joins broadcast. AQE demotes when
                                # the pair frames are small; a static broadcast
                                # would bake in a small-pair assumption that
                                # breaks exactly when calibration matters (a
                                # corpus dense in near-dups)
    "e2q_simhash_pairs",        # stats-less: exact-Jaccard pair agg ⋈ SimHash
                                # pair agg (LeftOuter) over the degraded-twin
                                # corpus — the same shape and rationale as
                                # e2n_lsh_calibration above; AQE demotes when
                                # the pair frames are small
    "e3h_lsh_recall",           # stats-less: ground-truth agg ⋈ LSH agg
    "e6h_leakage_safe_split",   # stats-less: CC labels ⋈ split assignment
    "e12d_source_similarity",   # stats-less: checkpointed LM grid self-join (AQE demotes)
}


# Exchange-count ceilings for the heaviest multi-leg plans. A leg-count
# regression (e.g. a 5th accidental per-collection scan in the alias
# fan-out, or a new shuffle in an LSH stage) should fail CI rather than
# surface as bench noise. Ceilings are the audited round-5 counts plus
# small headroom for planner-version drift — a breach means a structural
# plan change that must be re-reviewed, not tuned around.
_EXCHANGE_CEILING: dict[str, int] = {
    "q77_collection_alias": 44,       # audited 40: 4 BM25 legs × local-IDF stats
    "e2f_incremental_near_dups": 30,  # audited 27: delta×corpus bipartite LSH
    "e2_ngram_jaccard": 30,           # audited 27: shingle-df join + verify
    "e1f_cross_source_dup_matrix": 33,  # audited 30 (r7): LSH pairs ⋈ source dim ×2; the r7 persisted banded frame embeds its cached lineage per consumer in the plan text
    "q46_hybrid_rrf": 23,             # audited 20: two retrieval legs + fusion
    "e2g_dup_spans": 18,              # audited 15: positional shingle islands
    "e2b_minhash_lsh": 24,            # audited 22 (r7): band buckets + verify; over the r5 audit by the skew-guard probe agg + the persisted banded frame's cached lineage appearing per consumer — reviewed structural changes, not drift
    "e6h_leakage_safe_split": 12,     # audited 10: CC labels ⋈ split
    "e2j_semdedup": 10,               # audited 8: embedding pairs + CC
    "q69_span_near": 10,              # audited 8: two term-posting slices
    "cdc_merge_idf": 21,              # audited 18: 4 df-count legs + scalar N + topk
    "e2m_jaccard_histogram": 28,      # audited 17-26 (varies with session partitions; +2 r7 skew-guard windows): LSH pipeline + band agg
    "cdc_merge_percentiles": 12,      # audited 10: 3 merge legs + percentile windows
    "e15_curation_funnel": 62,        # audited 56: 6 stage reports over a 5-gate pipeline
    "e2r_incremental_clusters": 12,   # audited 8 (r11): broadcast merge over checkpointed delta pairs
    "e2s_store_served_increment": 54,  # audited 48 (r12): in-plan store bootstrap + merge + bucket-pruned serve
    "cdc_commit_all_stores": 135,     # audited 126 (r13): twelve store merges in one composed plan (full fleet incl. CC delete-then-merge, positional, fingerprints, sketch); 0 SMJ
    "e3p_probe_sweep": 75,            # audited 68 (r12): one exact ranking + per-depth cumulative aggs
    "q61p_stream_shortest_path": 28,  # audited 24 (r12): 4 BFS levels + parent walk-back
    "e2t_cluster_delete": 14,         # audited 10 (r12): in-plan base CC + scoped re-pair
}


def test_heavy_plan_exchange_ceilings(registry_sweep):
    failures = []
    for name, ceiling in sorted(_EXCHANGE_CEILING.items()):
        plan = registry_sweep[name]["plan"]
        if isinstance(plan, Exception):
            failures.append(f"{name}: plan build failed: {plan}")
            continue
        n = plan.count("Exchange")
        if n > ceiling:
            failures.append(f"{name}: {n} exchanges > ceiling {ceiling}")
    assert not failures, "\n".join(failures)


def test_registry_wide_plan_invariants(registry_sweep):
    """Every registry query must (a) compile a physical plan, (b) never
    contain a CartesianProduct (non-broadcast cartesian — always a bug;
    scalar 1-row joins plan as BroadcastNestedLoopJoin instead), and
    (c) only use SortMergeJoin where reviewed (_EXPECTED_SMJ).

    r17: the 359 plans come from the shared concurrent registry_sweep
    (conftest) — this sweep, the exchange ceilings and the DuckDB
    parity sweep previously each rebuilt every query serially."""
    failures = []
    for name in sorted(QUERIES):
        plan = registry_sweep[name]["plan"]
        if isinstance(plan, Exception):
            failures.append(f"{name}: plan build failed: {plan}")
            continue
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct in plan")
        if "SortMergeJoin" in plan and name not in _EXPECTED_SMJ:
            failures.append(f"{name}: unexpected SortMergeJoin")
    assert not failures, "\n".join(failures)


def test_plans_md_covers_registry():
    """r15 guard (r14 verdict finding #1): PLANS.md must carry one
    audit entry per registry query, so a late registry addition can't
    ship without a regenerated plan audit. Regenerate with
    `python tools/explain_audit.py > PLANS.md` after the round's last
    registry change."""
    import pathlib

    plans = pathlib.Path(__file__).resolve().parent.parent / "PLANS.md"
    have = {
        line[3:].strip()
        for line in plans.read_text().splitlines()
        if line.startswith("== ")
    }
    missing = [n for n in QUERIES if n not in have]
    assert not missing, (
        f"PLANS.md is missing {len(missing)} registry entries "
        f"(e.g. {missing[:8]}) — regenerate with tools/explain_audit.py"
    )
