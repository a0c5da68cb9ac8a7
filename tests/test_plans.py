"""Physical-plan assertions — the 100 TB posture is checked, not hoped.

Each test materializes the optimized/physical plan of a catalog query
and asserts the scale-critical property: filters and projections reach
the parquet scan, small dimensions broadcast instead of shuffling the
fact side, and top-k plans as TakeOrderedAndProject rather than a
global sort.
"""

from __future__ import annotations

import re

import pytest

from csv_to_parquet_spark.plans.inspect import formatted as _plan
from csv_to_parquet_spark.plans.inspect import n_ops as _n_ops_helper


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as entry_mod

    return entry_mod.queries()


def test_filter_and_projection_pushed_to_scan(spark, sf_smoke, queries):
    plan = _plan(queries["filter_project_pushdown"](spark, sf_smoke))
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_quantity,45" in plan
    # column pruning: the scan must not read l_discount/l_tax etc.
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_discount" not in read_schema
    assert "l_quantity" in read_schema


def test_q5_broadcasts_dimensions(spark, sf_smoke, queries):
    plan = _plan(queries["q5_regional_revenue"](spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    # the two fact-fact joins shuffle; dims must NOT add exchanges
    assert plan.count("BroadcastHashJoin") >= 3


def test_topk_plans_take_ordered(spark, sf_smoke, queries):
    plan = _plan(queries["topk_orders"](spark, sf_smoke))
    assert "TakeOrderedAndProject" in plan


_n_ops = _n_ops_helper


def test_q1_two_shuffles_with_partial_agg(spark, sf_smoke, queries):
    plan = _plan(queries["q1_pricing_summary"](spark, sf_smoke))
    # scan → partial HashAggregate → ONE agg exchange → final agg →
    # range exchange for the output sort; nothing else.
    assert _n_ops(plan, "Exchange") <= 2, plan
    assert _n_ops(plan, "HashAggregate") == 2, plan  # partial + final


def test_bucketed_join_has_no_shuffle(spark, sf_smoke, queries):
    df = queries["bucketed_join_order_revenue"](spark, sf_smoke)
    plan = _plan(df)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # the join itself must not exchange: both sides are bucketed on the
    # key. (The only permissible exchange would be for the final agg,
    # but that groups on the same key, so none at all.)
    assert _n_ops(plan, "Exchange") == 0, plan


def test_partition_pruning_reaches_scan(spark, sf_smoke, queries):
    df = queries["partition_pruned_year_revenue"](spark, sf_smoke)
    plan = _plan(df)
    assert "PartitionFilters: [" in plan
    assert "o_year" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]


def test_whole_stage_codegen_in_scalar_suites(spark, sf_smoke, queries):
    for name in ("string_funcs_part", "math_funcs_lineitem", "date_funcs_orders"):
        plan = _plan(queries[name](spark, sf_smoke))
        assert "codegen id" in plan, name  # inside a WholeStageCodegen span
        assert "EvalPython" not in plan, f"{name} fell back to Python UDFs"
    # text_quality_scores starts with a spread() exchange, so the AQE
    # pre-execution plan hides codegen ids — still must be Python-free
    plan = _plan(queries["text_quality_scores"](spark, sf_smoke))
    assert "EvalPython" not in plan, "text_quality_scores fell back to Python UDFs"


def test_q8_broadcasts_all_dimensions(spark, sf_smoke, queries):
    """Q8's five dimension joins must all be broadcast: the only
    exchanges allowed are the two fact-fact join shuffles and the
    final year agg/sort."""
    plan = _plan(queries["q8_market_share"](spark, sf_smoke))
    assert plan.count("BroadcastHashJoin") >= 5, plan


def test_q22_anti_join_shape(spark, sf_smoke, queries):
    """The NOT EXISTS must plan as an anti-join (never a cross/outer
    emulation), and the scalar average must broadcast."""
    plan = _plan(queries["q22_idle_customers"](spark, sf_smoke))
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_q20_aggregates_before_semi_join(spark, sf_smoke, queries):
    """The grouped-HAVING subquery must aggregate below the semi-join,
    so the join's build side is one row per qualifying supplier."""
    plan = _plan(queries["q20_heavy_shippers"](spark, sf_smoke))
    assert "LeftSemi" in plan, plan
    assert "HashAggregate" in plan, plan


def test_tfidf_is_python_free(spark, sf_smoke, queries):
    plan = _plan(queries["text_tfidf_top_terms"](spark, sf_smoke))
    assert "EvalPython" not in plan, "tfidf fell back to Python UDFs"


def test_pii_scan_single_narrow_map(spark, sf_smoke, queries):
    """PII scanning is a pure projection: no shuffle beyond the one
    deliberate spread() repartition, no Python."""
    plan = _plan(queries["text_pii_scan"](spark, sf_smoke))
    assert "EvalPython" not in plan
    assert _n_ops(plan, "Exchange") <= 1, plan  # only the spread()


def test_q21_semi_and_anti_self_joins(spark, sf_smoke, queries):
    """Q21's EXISTS must plan as a left-semi and the NOT EXISTS as a
    left-anti join; the nation-filtered supplier dimension must
    broadcast rather than shuffle the fact side."""
    plan = _plan(queries["q21_waiting_suppliers"](spark, sf_smoke))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_tpch_queries_leave_no_cached_partitions(spark, sf_smoke, queries):
    """Persist contract: after each of q1–q22 is collected and
    release_caches() runs, no RDD the query created still holds cached
    partitions (a localCheckpoint or an untracked persist would)."""
    from csv_to_parquet_spark.operators.cache import release_caches

    def cached_ids():
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {i.id() for i in infos if i.numCachedPartitions() > 0}

    release_caches()
    before = cached_ids()
    names = [n for n in queries if re.match(r"q([1-9]|1[0-9]|2[0-2])_", n)]
    assert len(names) == 22, names
    for name in names:
        queries[name](spark, sf_smoke).collect()
        release_caches()
        assert cached_ids() <= before, name


def test_q2_broadcasts_dims_and_takes_ordered(spark, sf_smoke, queries):
    """Q2's part and region-supplier dimensions broadcast into the
    offer aggregate; the final top-100 plans as TakeOrderedAndProject,
    not a global sort."""
    plan = _plan(queries["q2_min_cost_supplier"](spark, sf_smoke))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_q11_single_fact_shuffle(spark, sf_smoke, queries):
    """Q11 reads and shuffles lineitem exactly once: the supplier
    semi-filter broadcasts, the scalar total is a broadcast one-row
    join back onto the persisted grouped frame."""
    plan = _plan(queries["q11_important_parts"](spark, sf_smoke))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    # one agg exchange (partkey groupBy); the total reuses the cached
    # aggregate, so no second scan-side exchange appears
    assert "InMemoryTableScan" in plan, plan


def test_chunk_overlap_narrow_single_map(spark, sf_smoke, queries):
    """Overlapping chunking must stay a narrow codegen'd map: no
    Python eval, and the only exchange is the spread() repartition."""
    plan = _plan(queries["text_chunk_overlap"](spark, sf_smoke))
    assert "EvalPython" not in plan
    assert _n_ops(plan, "Exchange") <= 1, plan


def test_pack_token_budget_bounded_exchanges(spark, sf_smoke, queries):
    """Two-phase prefix sum: the per-bucket offset table must join back
    via broadcast (no fact-side shuffle for the join), and the global
    single-task window must only ever see the tiny offset table."""
    plan = _plan(queries["pack_token_budget"](spark, sf_smoke))
    assert "BroadcastHashJoin" in plan, plan
    # exchanges: spread, bucket-window hash partitioning, offset agg +
    # its single-partition window, final bin groupBy — but never a
    # SortMergeJoin shuffle of the document side
    assert "SortMergeJoin" not in plan, plan


def test_merge_upsert_no_base_shuffle(spark, sf_smoke, queries):
    """MERGE upsert must broadcast the updates batch into a left-anti
    join — the base snapshot is never hash-partitioned on the key."""
    plan = _plan(queries["merge_upsert_orders"](spark, sf_smoke))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert _n_ops(plan, "Exchange") == 0, plan  # union+broadcast only


def test_embedding_cosine_block_join_never_broadcasts_corpus(
    spark, sf_smoke, queries
):
    """r6 VERDICT #4 'done' criterion, pinned mechanically: the exact
    cosine pair baseline must never broadcast the corpus and never
    fall back to a nested loop. Since r12 the block pairing is a
    single grouped-kernel shuffle (FlatMapGroupsInPandas over the
    (bi, bj) block keys) instead of a ShuffledHashJoin of exploded
    row pairs — still one exchange of block-keyed vector rows, with
    the O(n²) scoring vectorized inside the kernel."""
    plan = _plan(queries["dedup_embedding_cosine"](spark, sf_smoke))
    assert "BroadcastExchange" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "hashpartitioning(bi" in plan, plan


def test_embedding_lsh_pairs_candidate_join_ships_ids_only(spark, sf_smoke, queries):
    """The band self-join and candidate distinct must exchange id/band
    longs, never the 64-float embedding arrays (vectors re-join only
    for the exact-cosine verification of surviving candidates)."""
    plan = _plan(queries["dedup_embedding_lsh_pairs"](spark, sf_smoke))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "embedding" not in line and "va" not in line and "vb" not in line, line


# Queries allowed to plan a BroadcastNestedLoopJoin. Everything here is
# either a documented brute-force baseline (the ground truth the ANN /
# LSH paths are measured against) or a 1-row scalar broadcast (a
# cross-join against a single aggregate row — constant-size build side).
_BNLJ_ALLOW = {
    # dedup_embedding_cosine left this list in r7: its block-partitioned
    # pair generation plans a ShuffledHashJoin (pinned below)
    "knn_bruteforce_cosine",  # exact top-k ground truth, broadcast NLJ by design
    "text_tfidf_top_terms",  # 1-row corpus doc-count broadcast for IDF
    "q22_idle_customers",  # 1-row scalar average threshold broadcast
    "q11_important_parts",  # 1-row grouped-sum total broadcast
    "sample_balanced_mix",  # 1-row global-min keep-rate broadcast
    "events_user_rfm",  # 1-row recency-anchor (max ts) broadcast
    "text_bigram_colloc",  # 1-row corpus token-totals broadcast
    "events_gapfill_locf",  # |days|-row spine broadcast (bounded calendar)
    "graph_triangle_count",  # 1-row count aggregates broadcast-combined
    "profile_key_skew",  # 1-row summary × 1-row top-key broadcast
    "events_rolling_wau",  # 1-row date-bounds broadcast clamp
    "text_heavy_hitters_mg",  # 1-row corpus token-total broadcast
    "events_dau_mau_stickiness",  # 1-row date-bounds broadcast clamp
    "dq_constraint_report",  # 1-row rule counts × 1-row totals broadcasts
    "basket_association_rules",  # 1-row basket-total broadcast for lift
    "lineitem_pareto_abc",  # 1-row revenue-total broadcast for shares
    "events_distribution_drift",  # 1-row bounds + 1-row totals broadcasts
    "contingency_brand_type",  # 1-row grand-total broadcast
    "feat_target_encoding",  # 1-row global-prior broadcast
    "text_unigram_logprob",  # 1-row corpus-token-total broadcast
    "embedding_prefix_rank_audit",  # tiny broadcast query set, != join
    "mine_hard_negatives",  # tiny broadcast query set, != join
    "stats_benford_digits",  # 1-row digit-total broadcast for shares
    "events_ab_cuped",  # 1-row theta/moments broadcast attach
    "text_js_divergence",  # |S|×|S| source-pair grid (tiny, bounded)
    "stats_bootstrap_ci_poisson",  # 1-row point × 1-row CI attach
    "orders_theilsen_trend",  # |months|² pair grid (bounded domain)
    "text_bm25_scores",  # 1-row corpus N/Σdl broadcast attach
    "events_copresence_topk",  # bounded top-K anchor broadcast, theta overlap
    "orders_ewma_monthly",  # |months|² dyadic-weight grid (bounded domain)
    "events_markov_stationary",  # 1-row state-count broadcast for uniform start
    "orders_kaplan_meier",  # 1-row horizon + 1-row subject-total attaches
    "sample_dsir_importance",  # 1-row target/raw token-total broadcasts
    "mix_source_weights",  # 1-row effective-total broadcast normalizer
    "mix_token_allocation",  # 1-row total + 1-row leftover broadcasts
    "mix_select_documents",  # same 1-row totals inside the alloc core
    "mix_pack_sequences",  # same 1-row totals inside the alloc core
    "mix_training_order",  # same 1-row totals inside the alloc core
    "text_stupid_backoff_lm",  # 1-row (N, V) model-total broadcast
}

# Key columns of the always-broadcastable dimensions (nation/region are
# fixed-size; supplier/part must broadcast into fact joins). A
# hash-partitioning exchange carrying one of these names means a
# dimension got shuffled for a join — the q20/q2 regression class.
# Fact-side agg keys (l_suppkey, l_partkey, c_custkey, ...) are
# distinct names, so legitimate groupBy exchanges never trip this.
_DIM_KEY_EXCHANGE = ("n_nationkey", "n_regionkey", "r_regionkey",
                     "s_suppkey", "p_partkey", "sn_key", "cn_key")


def test_catalog_wide_plan_tripwire(spark, sf_smoke, queries):
    """Build EVERY catalog query's physical plan and fail on the
    plan-shape regressions that are silent at smoke scale but fatal at
    100 TB: a CartesianProduct anywhere, a BroadcastNestedLoopJoin
    outside the explicit allowlist, or a broadcast-dimension key being
    hash-exchanged for a join.

    Honesty note: "build the plan" is not free for the whole catalog —
    streaming entries drain their availableNow stream, maintenance/
    layout entries write warehouse artifacts, and the k-means/IVF/
    gated-containment queries run their driver-side training/probe
    jobs as part of DataFrame construction. The sweep costs a minute+
    at smoke scale; it pays for itself by pinning every query's
    executed join strategy, not a synthetic subset's."""
    from csv_to_parquet_spark.operators.cache import release_caches

    problems = []
    for name, fn in queries.items():
        try:
            plan = _plan(fn(spark, sf_smoke))
        finally:
            release_caches()
        if "CartesianProduct" in plan:
            problems.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_ALLOW:
            problems.append(f"{name}: unexpected BroadcastNestedLoopJoin")
        for ln in plan.splitlines():
            if "Exchange hashpartitioning" in ln:
                hit = [k for k in _DIM_KEY_EXCHANGE if k + "#" in ln]
                if hit:
                    problems.append(
                        f"{name}: dimension key shuffled: {','.join(hit)}"
                    )
    assert not problems, "\n".join(problems)


def test_spread_is_conditional(spark, sf_smoke, tmp_path):
    """spread() must NOT insert an exchange when the input is already
    at least as wide as the session parallelism — at 100 TB the scan
    has thousands of splits and an unconditional round-robin
    repartition would full-shuffle the raw corpus. Only the degenerate
    narrow case (the local single-file fixture) pays the exchange."""
    from csv_to_parquet_spark.sources.tables import spread

    dp = spark.sparkContext.defaultParallelism
    # already-wide input → identity, no Exchange in the plan
    # (width chosen relative to the host's parallelism, not hardcoded)
    wide = spark.range(100_000).repartition(2 * dp)
    assert spread(wide) is wide
    # on-disk multi-file parquet wide enough for every core → pass-through
    path = str(tmp_path / "wide_parquet")
    spark.range(1_000_000).repartition(2 * dp).write.parquet(path)
    scan = spark.read.parquet(path)
    if scan.rdd.getNumPartitions() >= dp:
        assert "Exchange" not in _plan(spread(scan)), "spread() shuffled a wide scan"
    # narrow single-file scan → exactly one round-robin exchange
    # (guarded: on a 1-core host the single-file scan is already "wide")
    narrow = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    if narrow.rdd.getNumPartitions() < dp:
        plan = _plan(spread(narrow))
        assert "RoundRobinPartitioning" in plan or "REPARTITION_BY_NUM" in plan, plan


def test_kmeans_assignment_is_narrow(spark, sf_smoke):
    """The final k-means assignment (after training collects the 16-row
    model) must be a pure map over the scan: its only exchange is the
    local spread() repartition, never a hash/range exchange."""
    from csv_to_parquet_spark.operators.clustering import cluster_kmeans_assign

    plan = _plan(cluster_kmeans_assign(spark, sf_smoke))
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan, plan


def test_runtime_bloom_filter_injection_eligible(spark, sf_smoke):
    """100 TB posture pin: when a dimension is too big to broadcast
    (autoBroadcastJoinThreshold disabled here to force the shuffle-join
    plan), Spark's runtime bloom-filter rule must inject a
    ``might_contain`` semi-filter from the selective build side into
    the fact scan — the engine's own Bloom-prefilter join pruning. The
    application-side size gate is lowered because the rule's default
    (10 GB scanned) can never be met at test scale; what this test
    pins is that OUR join/filter shape stays *eligible* for the rule —
    equality predicate on the creation side, plain equi-join key, no
    expression wrapper on the fact column that would defeat the
    injected filter."""
    from csv_to_parquet_spark.plans.inspect import formatted as _fmt
    from csv_to_parquet_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        o = load_table(spark, sf_smoke, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_smoke, "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_survey_counts_match_catalog():
    """SURVEY.md's headline catalog counts must equal the live catalog
    (VERDICT r5 #8: the header drifted twice; now it can't). The FIRST
    'N queries, M with exact DuckDB oracles' match in the file is the
    current-round status block."""
    import os
    import re

    import __spark_entry__ as entry_mod

    survey = os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")
    text = open(survey).read()
    m = re.search(r"(\d+) queries, (\d+) with exact DuckDB oracles", text)
    assert m, "SURVEY.md lost its machine-checkable catalog-count line"
    assert int(m.group(1)) == len(entry_mod.queries())
    assert int(m.group(2)) == len(entry_mod.oracle_sql())


def test_bench_headline_names_exist_in_catalog():
    """Every bench HEADLINE entry must resolve to a catalog query — a
    renamed operator must fail here, not silently vanish from the
    driver's BENCH artifact (bench skips unknown names by design)."""
    import bench
    import __spark_entry__ as entry_mod

    q = entry_mod.queries()
    missing = [n for n in bench.HEADLINE if n not in q]
    assert not missing, f"bench HEADLINE names not in catalog: {missing}"


def test_no_untracked_persists_in_operators():
    """Every cache must go through the tracked registry
    (operators/cache.py) so sweep harnesses can release it between
    queries — a raw .persist() leaks past release_caches() and stays
    memory-resident for the rest of a 297-query session (caught live:
    an early stats_spearman_rank draft). Static lint: zero raw
    .persist( calls outside cache.py."""
    import os

    pkg = os.path.join(
        os.path.dirname(__file__), "..", "csv_to_parquet_spark"
    )
    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py") or f == "cache.py":
                continue
            path = os.path.join(root, f)
            for i, line in enumerate(open(path), 1):
                if ".persist(" in line and "persist_tracked" not in line:
                    offenders.append(f"{path}:{i}: {line.strip()}")
    assert not offenders, "\n".join(offenders)


def test_two_phase_cumsum_matches_single_window(spark):
    """The two-phase prefix sum equals one plain window over a planted
    frame: two groups, several buckets per group (one of them a single
    row), a negative value, a rank column (constant 1), per-group
    totals, and every input column kept. The offsets reach the rows
    through a broadcast join."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from csv_to_parquet_spark.functions import two_phase_cumsum

    rows = [("x", k, (k * 7) % 5 - 1) for k in (0, 1, 2, 3, 4, 5, 6, 7, 8, 12)]
    rows += [("y", k, k + 3) for k in (1, 2, 6, 9, 10)]
    df = spark.createDataFrame(rows, "g STRING, k BIGINT, v BIGINT")
    df = df.withColumn("b", F.expr("k div 3")).withColumn("one", F.lit(1))

    out = two_phase_cumsum(df, ["v", "one"], ["k"], ["b"], ["g"], totals=True)
    assert out.columns == df.columns + ["cum_v", "cum_one", "n_v", "n_one"]
    assert "BroadcastHashJoin" in _plan(out)
    w = Window.partitionBy("g").orderBy("k")
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)
    ref = df.select(
        "*",
        F.sum("v").over(w_run).alias("cum_v"),
        F.row_number().over(w).cast("bigint").alias("cum_one"),
        F.sum("v").over(Window.partitionBy("g")).alias("n_v"),
        F.count(F.lit(1)).over(Window.partitionBy("g")).alias("n_one"),
    )
    got = sorted(map(tuple, out.collect()))
    assert got == sorted(map(tuple, ref.collect()))
    assert len(got) == len(rows)
    # one global order over (g, k): groups become the leading bucket
    # key, and totals are off
    out = two_phase_cumsum(df, ["v"], ["k"], ["g", "b"])
    assert out.columns == df.columns + ["cum_v"]
    w = Window.orderBy("g", "k").rowsBetween(Window.unboundedPreceding, 0)
    ref = df.select("*", F.sum("v").over(w).alias("cum_v"))
    got = sorted(map(tuple, out.collect()))
    assert got == sorted(map(tuple, ref.collect()))


#: Entries whose exclusive running window is not a global prefix sum
#: (see the ``two_phase_cumsum`` docstring for why each stays apart).
_OWN_EXCLUSIVE_WINDOW = {
    "skyline_parts",
    "events_interval_coverage",
    "orders_kaplan_meier",
}


def test_exclusive_running_windows_go_through_the_helper():
    """Outside ``functions/``, no operator builds a
    ``rowsBetween(Window.unboundedPreceding, -1)`` window except the
    allowlisted entries: every two-phase prefix sum calls
    ``functions.two_phase_cumsum`` instead of copying its scaffold."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "csv_to_parquet_spark"

    def exclusive_frame(node):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "rowsBetween"
            and len(node.args) == 2
        ):
            return False
        lo, hi = node.args
        return (
            isinstance(lo, ast.Attribute)
            and lo.attr == "unboundedPreceding"
            and isinstance(hi, ast.UnaryOp)
            and isinstance(hi.op, ast.USub)
            and getattr(hi.operand, "value", None) == 1
        )

    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if "functions" in path.relative_to(pkg).parts:
            continue
        tree = ast.parse(path.read_text())
        for top in tree.body:
            for node in ast.walk(top):
                if exclusive_frame(node):
                    owner = getattr(top, "name", "<module>")
                    if owner not in _OWN_EXCLUSIVE_WINDOW:
                        offenders.append(f"{path.name}:{node.lineno} {owner}")
    assert not offenders, offenders
