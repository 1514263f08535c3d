"""Physical-plan audits: the properties that decide 100 TB viability,
asserted as regressions — column pruning reaches the scan, predicates
push into parquet, dimension joins broadcast, top-k avoids full sorts,
and the relational core never launches Python workers.

A green result here means `.explain("formatted")` shows the plan we'd
want on a 1000-executor cluster, not just a plan that passes at sf0.01.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from newsmaper_etl_spark.registry import QUERIES, _ensure_loaded

_ensure_loaded()


def _plan(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_scan_project_prunes_columns(spark, sf_dir):
    plan = _plan(QUERIES["q_scan_project"].fn(spark, sf_dir))
    # only the two projected columns may reach the parquet reader
    assert "o_orderkey" in plan and "o_orderstatus" in plan
    assert "o_totalprice" not in plan and "o_comment" not in plan


def test_filter_pushes_into_parquet(spark, sf_dir):
    plan = _plan(QUERIES["q_filter"].fn(spark, sf_dir))
    assert "PushedFilters:" in plan
    assert "GreaterThan(l_quantity" in plan
    assert "EqualTo(l_returnflag,R)" in plan


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(QUERIES["q_star_join"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_order_limit_uses_topk_not_full_sort(spark, sf_dir):
    plan = _plan(QUERIES["q_order_limit"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_relational_core_never_launches_python(spark, sf_dir):
    """Every reference-surface query must stay JVM-side: no Python eval
    nodes anywhere in the relational/window/timeops corpus (the sanctioned
    Python paths are the extension kernels: pandas-udf parity, multimodal
    decode, the cogrouped as-of strategy)."""
    python_free = [
        "q_scan_project", "q_filter", "q_join_multi_key", "q_star_join",
        "q_anti_join", "q_semi_join", "q_theta_join", "q_cross_join",
        "q_token_dict_join", "q_union_all", "q_intersect", "q_except",
        "q_group_agg", "q_count_distinct", "q_having", "q_rollup", "q_cube",
        "q_grouping_sets", "q_mode_per_group", "q_distinct",
        "q_dedup_keep_first", "q_window_rank", "q_window_lag_lead",
        "q_window_frame_sum", "q_order_limit", "q_topk_per_group",
        "q_string_funcs", "q_string_split", "q_ts_parse", "q_date_parts",
        "q_coalesce", "q_case_when", "q_array_contains", "q_math_round",
        "q_json_extract", "q_map_funcs", "q_tumbling_window", "q_sliding_window",
        "q_session_window", "q_asof_join", "q_newsmaper_e2e",
        "q_dedup_exact", "q_ngram_jaccard", "q_knn_cosine",
        "q_embedding_cosine_pairs", "q_doc_token_stats", "q_lang_id",
        "q_doc_fingerprint", "q_token_count_bpe", "q_quality_score",
        "q_simhash_pairs", "q_minhash_candidates", "q_ann_lsh", "q_ann_ivf",
        "q_ann_lsh_selfhit", "q_ann_ivf_selfhit", "q_approx_distinct",
        "q_percentile_approx",
        "q_repetition_stats", "q_pii_redact", "q_contamination",
        "q_stratified_sample", "q_token_pack", "q_chunk_docs",
        "q_sample_per_group", "q_tpch_q1", "q_tpch_q3", "q_tpch_q5",
        "q_tpch_q10", "q_tpch_q18", "q_tpch_q6", "q_tpch_q4", "q_tpch_q7",
        "q_tpch_q8", "q_tpch_q12", "q_tpch_q13", "q_tpch_q14", "q_tpch_q15",
        "q_tpch_q17", "q_tpch_q19", "q_tpch_q22", "q_tpch_q2", "q_tpch_q9",
        "q_tpch_q11", "q_tpch_q16", "q_tpch_q20", "q_tpch_q21",
    ]
    offenders = []
    for name in python_free:
        plan = _plan(QUERIES[name].fn(spark, sf_dir), "simple")
        if "EvalPython" in plan or "PythonUDF" in plan:
            offenders.append(name)
    assert not offenders, f"Python eval nodes in: {offenders}"


def test_q18_aggregates_below_joins(spark, sf_dir):
    """Q18's lineitem aggregate (and its HAVING gate) must sit BELOW both
    joins — the only fact-scale shuffle is the group-by exchange; the
    orders/customer joins see just the >300-sum survivors."""
    plan = _plan(QUERIES["q_tpch_q18"].fn(spark, sf_dir), "simple")
    agg_pos = plan.find("partial_sum")
    join_pos = plan.find("Join")
    assert agg_pos != -1 and join_pos != -1
    # top-down print: every Join line precedes the partial agg feeding it
    assert join_pos < agg_pos
    assert plan.count("Exchange") <= 4  # one lineitem agg + join/bcast exchanges


def test_q15_argmax_is_topk_not_sort(spark, sf_dir):
    plan = _plan(QUERIES["q_tpch_q15"].fn(spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in plan


def test_q4_preagg_below_hash_join(spark, sf_dir):
    """Q4's EXISTS is rewritten to a monotone-aggregate form: lineitem
    pre-aggregates to (orderkey, max shipdate) BELOW the join — a
    map-side partial_max collapses the fact before any data moves — and
    the join itself is an equi hash join, never a nested loop."""
    plan = _plan(QUERIES["q_tpch_q4"].fn(spark, sf_dir), "simple")
    assert "partial_max" in plan
    join_pos = plan.find("Join")
    agg_pos = plan.find("partial_max")
    assert join_pos != -1 and join_pos < agg_pos  # agg feeds the join
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_q19_envelope_predicates_reach_scans(spark, sf_dir):
    """Each side's projection of the cross-table disjunction must push
    into its scan: part sees the brand/size branch OR, lineitem the
    quantity-range branch OR (Catalyst splits the condition per side)."""
    plan = _plan(QUERIES["q_tpch_q19"].fn(spark, sf_dir))
    assert "PushedFilters:" in plan
    assert "EqualTo(p_brand,Brand#4)" in plan
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan


def test_q21_single_scan_monotone_aggregate(spark, sf_dir):
    """Q21's EXISTS / NOT EXISTS pair is rewritten Q4-style into
    per-order aggregates: lineitem must be scanned exactly ONCE (the
    r06 semi+anti shape scanned it twice and shuffled every line), the
    per-(order, supplier) aggregate must partial-aggregate below its
    exchange (map-side combine — bytes per pair move, not per line),
    and no nested loop anywhere."""
    plan = _plan(QUERIES["q_tpch_q21"].fn(spark, sf_dir), "simple")
    assert plan.count("lineitem.parquet") == 1, f"fact scanned twice:\n{plan}"
    assert "partial_" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_q2_min_cost_is_window_over_single_fact_scan(spark, sf_dir):
    """Q2's correlated MIN decorrelates to a per-part MIN WINDOW over
    the offers — not a self-join on a min aggregate, which planned the
    whole offers subtree twice (two lineitem scans: ReuseExchange did
    not fire across the two instances; VERDICT r04 "what's wrong" #4).
    Assert the fix structurally: exactly ONE lineitem scan, exactly one
    Window, no nested loop, and the (partkey, suppkey) cost aggregate
    still partial-aggregates before its exchange."""
    plan = _plan(QUERIES["q_tpch_q2"].fn(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "partial_min" in plan
    assert plan.count("lineitem.parquet") == 1, f"fact scanned twice:\n{plan}"
    assert plan.count("Window") >= 1


def test_tpch_corpus_has_no_nested_loop_joins(spark, sf_dir):
    """Sweep: every TPC-H query must plan equi/hash joins only — a
    nested loop appearing anywhere in the 22-query corpus is a planning
    regression (all adaptations were designed to keep joins keyed).

    Exemption: Q11/Q22 cross-join a ONE-ROW broadcast scalar cutoff —
    a BroadcastNestedLoopJoin against a single-row build side IS the
    scalar-subquery execution shape (each probe row meets exactly one
    build row; nothing quadratic exists to avoid). CartesianProduct is
    never acceptable."""
    scalar_cutoff = {"q_tpch_q11", "q_tpch_q22"}
    offenders = []
    tpch = [n for n in QUERIES if n.startswith("q_tpch_")]
    assert len(tpch) == 22
    for name in tpch:
        plan = _plan(QUERIES[name].fn(spark, sf_dir), "simple")
        if "CartesianProduct" in plan:
            offenders.append(name)
        elif "BroadcastNestedLoopJoin" in plan and name not in scalar_cutoff:
            offenders.append(name)
    assert not offenders, f"nested-loop joins in: {offenders}"


def test_group_agg_combines_map_side(spark, sf_dir):
    """The aggregate must partial-aggregate BEFORE its exchange (map-side
    combine): the shuffle carries one row per group per task, not one per
    input row — the property that keeps a 100 TB groupBy shuffle small.
    (WholeStageCodegen spans only materialize in the post-AQE final plan,
    so partial aggregation is the assertable pre-execution signal.)"""
    plan = _plan(QUERIES["q_group_agg"].fn(spark, sf_dir), "simple")
    partial_pos = plan.find("partial_sum")
    exchange_pos = plan.find("Exchange")
    assert partial_pos != -1 and exchange_pos != -1
    # physical plans print top-down: the Exchange line precedes its child
    # partial HashAggregate
    assert exchange_pos < partial_pos


def test_anti_join_is_hash_not_nested_loop(spark, sf_dir):
    plan = _plan(QUERIES["q_anti_join"].fn(spark, sf_dir), "simple")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_range_join_is_hash_not_nested_loop(spark, sf_dir):
    """The bucketized range join must plan as a hash equi-join on the
    bucket — never the BroadcastNestedLoopJoin Spark picks for a raw
    range predicate."""
    plan = _plan(QUERIES["q_range_join"].fn(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "Join" in plan


def test_range_join_matches_naive(spark):
    """Bucketized result == naive cross-filter on controlled data,
    including boundary points sitting exactly on lo/hi and on bucket
    edges."""
    from newsmaper_etl_spark.fixtures import values_df
    from newsmaper_etl_spark.operators.rangejoin import range_join

    points = values_df(
        spark, [(1, 0.0), (2, 9.99), (3, 10.0), (4, 25.0), (5, 30.0), (6, 31.0)],
        ["pid", "v"],
    )
    intervals = values_df(
        spark, [(100, 0.0, 10.0), (200, 10.0, 30.0), (300, 29.5, 29.6)],
        ["iid", "lo", "hi"],
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join(points, intervals, "v", "lo", "hi", 7.0).collect()
    )
    naive = sorted(
        (r["pid"], r["iid"])
        for r in points.crossJoin(intervals)
        .filter((points.v >= intervals.lo) & (points.v <= intervals.hi))
        .collect()
    )
    assert got == naive
    assert (3, 100) in got and (3, 200) in got  # boundary point in both


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must
    join with ZERO Exchange — the write-time shuffle amortizes over every
    later join (SURVEY §4.3's co-located join posture)."""
    from newsmaper_etl_spark.sinks import write_bucketed

    db = "bucketdemo"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{tmp_path}/wh'")
    try:
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        customer = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
            "c_custkey", "c_mktsegment"
        )
        write_bucketed(orders, f"{db}.orders_b", 4, ("o_custkey",))
        write_bucketed(customer, f"{db}.customer_b", 4, ("c_custkey",))
        joined = spark.table(f"{db}.orders_b").join(
            spark.table(f"{db}.customer_b"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        # pin a shuffle join (at test scale the planner would broadcast,
        # which proves nothing about bucketing — at fact×fact scale it
        # can't); bucketed scans must then satisfy the distribution with
        # no shuffle Exchange
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = _plan(joined, "simple")
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Bucketed: true" in plan
        # sanity: it still computes the right thing
        assert joined.count() == orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_embedding_pairs_filter_evaluates_cosine_once(spark, sf_dir):
    """The near-dup pair filter must reference the bound similarity column,
    not re-expand the dot product: no vector arithmetic (HOF or unrolled)
    may appear inside a Filter node line."""
    df = QUERIES["q_embedding_cosine_pairs"].fn(spark, sf_dir)
    plan = _plan(df, "simple")
    for line in plan.splitlines():
        if "Filter" in line and ("zip_with" in line or "as double" in line.lower()):
            raise AssertionError("cosine re-evaluated inside Filter:\n" + line)


def test_embedding_pairs_norms_computed_once_per_side(spark, sf_dir):
    """VERDICT r03 #1 regression guard: each side projects its L2 norm
    exactly once BEFORE the pair join — the whole plan contains exactly
    two SQRT chains (one per side), and neither sits in the pair-level
    Project/Filter (which only divide by the two bound norm columns)."""
    df = QUERIES["q_embedding_cosine_pairs"].fn(spark, sf_dir)
    plan = _plan(df, "simple")
    assert plan.count("SQRT") == 2, f"expected 2 pre-join norms:\n{plan}"
    for line in plan.splitlines():
        if "Filter" in line:
            assert "SQRT" not in line, "norm evaluated inside Filter:\n" + line


def test_topk_per_group_is_salted_two_phase(spark, sf_dir):
    """VERDICT r03 #2 regression guard: per-group top-k over a 3-value
    key must rank in two phases (salted pre-rank + final re-rank over the
    ≤ k·SALT survivors) — exactly two Window nodes, and the first ranks
    over a salt component so parallelism is not bounded by |groups|."""
    plan = _plan(QUERIES["q_topk_per_group"].fn(spark, sf_dir), "simple")
    # count Window OPERATORS ("Window ["), not WindowGroupLimit nodes —
    # Spark 4 inserts partial/final group-limit pushdown around each rank
    assert plan.count("Window [") == 2, f"expected salted two-phase rank:\n{plan}"
    assert "__salt" in plan
    # the rank-limit pushdown must survive the salting: each map task
    # keeps ≤ k rows per (group, salt) BEFORE the exchange
    assert "WindowGroupLimit" in plan


def test_table_cache_value_parity(spark, sf_dir):
    """The toy table cache (load_table's repartition+persist path,
    disabled suite-wide by conftest so plan assertions see the raw scan)
    must be value-transparent: same rows through a representative
    aggregate and a projection, cached vs uncached. Uses a fresh memo
    bucket so the suite's uncached frames are not disturbed."""
    import os

    from newsmaper_etl_spark import io as io_mod
    from pyspark.sql import functions as F

    def run(df):
        agg = sorted(
            (r.l_returnflag, r.n, float(r.s))
            for r in df.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("s"))
            .collect()
        )
        proj = sorted(
            (r.l_orderkey, r.l_linenumber)
            for r in df.select("l_orderkey", "l_linenumber")
            .orderBy("l_orderkey", "l_linenumber")
            .limit(50)
            .collect()
        )
        return agg, proj

    uncached = io_mod.load_table(spark, sf_dir, "lineitem")
    base = run(uncached)

    os.environ["SPARK_GRAFT_TABLE_CACHE"] = "1"
    saved = dict(spark._newsmaper_table_cache)
    try:
        spark._newsmaper_table_cache = {}
        cached = io_mod.load_table(spark, sf_dir, "lineitem")
        # the cached frame really is the persisted, fanned layout
        assert cached.rdd.getNumPartitions() == io_mod.TOY_PARTS
        assert run(cached) == base
        cached.unpersist()
    finally:
        os.environ["SPARK_GRAFT_TABLE_CACHE"] = "0"
        spark._newsmaper_table_cache = saved


def test_multimodal_queries_are_map_only(spark, sf_dir):
    """The media family's scale contract: blob synthesis + header parse /
    frame extraction are pure 1→1 / 1→N projections over the scan — no
    Exchange anywhere (binaries never shuffle; at 100 TB a shuffle of a
    binary column would dominate the job)."""
    for name in (
        "q_media_features", "q_media_webp", "q_audio_features",
        "q_audio_flac", "q_audio_mp3", "q_video_features", "q_video_avi",
        "q_video_keyframes", "q_media_dispatch", "q_media_tiff",
    ):
        plan = _plan(QUERIES[name].fn(spark, sf_dir))
        assert "Exchange" not in plan, f"{name} shuffles:\n{plan}"
        assert "ArrowEvalPython" in plan or "MapInPandas" in plan, name


def test_tpch_no_forced_broadcast_of_data_scaled_sides(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The 100×-scale broadcast contract (VERDICT r06 #1): supplier/part
    (and anything derived from them) scale with data, and ``F.broadcast``
    is a directive AQE cannot override — so the explicit hints those
    sides carry on a small corpus must VANISH at real scale, leaving only
    the fixed-cardinality hints (nation = 25 rows, region = 5, one-row
    scalar cutoffs). The large posture is reached by lowering
    ``io.SMALL_TABLE_BYTES`` below every table's size; a symlinked copy
    of the corpus under an unrelated name gets the same hints as the
    original in both postures, since the posture reads bytes, not names."""
    import os

    from newsmaper_etl_spark import io as io_mod

    prod = tmp_path / "production"
    prod.mkdir()
    for f in os.listdir(sf_dir):
        os.symlink(os.path.join(sf_dir, f), prod / f)

    def hint_count(name, d):
        plan = _plan(QUERIES[name].fn(spark, str(d)), "extended")
        analyzed = plan.split("== Analyzed Logical Plan ==")[1].split(
            "== Optimized Logical Plan =="
        )[0]
        return analyzed.count("ResolvedHint")

    # (query, fixed-cardinality hints that legitimately survive at scale)
    expected = {
        "q_tpch_q2": 2,   # nation + region inside the eu dim subtree
        "q_tpch_q9": 1,   # nation
        "q_tpch_q11": 1,  # the one-row scalar cutoff cross-join
        "q_tpch_q16": 0,
        "q_tpch_q20": 0,
        "q_tpch_q21": 0,
    }
    small = {name: hint_count(name, sf_dir) for name in expected}
    for name, fixed in expected.items():
        # the small posture really does add hints on top of the fixed set
        assert small[name] > fixed or fixed == 0 and small[name] >= 1, name
        assert hint_count(name, prod) == small[name], name
    monkeypatch.setattr(io_mod, "SMALL_TABLE_BYTES", 0)
    for name, fixed in expected.items():
        at_scale = hint_count(name, sf_dir)
        assert at_scale == fixed, f"{name}: {at_scale} hints at scale, want {fixed}"
        assert hint_count(name, prod) == at_scale, name


#: Every registered query whose plan still branches on the scale posture
#: (``io.is_toy``) or on the top-k unroll cutover (``knn_unroll``).
POSTURE_FORKS = (
    "q_tfidf_topterms",       # tf histogram checkpoint at scale
    "q_shuffle_rank",         # two-level rank at scale
    "q_decontaminate_spans",  # broadcast_cov
    "q_paragraph_dedup",      # broadcast_cov
    "q_media_features",       # kernel_narrow
    "q_tpch_q4",              # orders broadcast hint
    "q_tpch_q2",              # _bc hints
    "q_knn_cosine",           # unrolled vs compact dot
)


@pytest.mark.parametrize("name", POSTURE_FORKS)
def test_posture_forks_agree(spark, sf_dir, monkeypatch, name):
    """Both sides of each posture fork, on the same corpus: forced small
    (every table under ``io.SMALL_TABLE_BYTES``, compact dots) and forced
    large (no table under it, unrolled dots). The two plans differ, and
    each side matches the query's DuckDB oracle."""
    from newsmaper_etl_spark import io as io_mod
    from newsmaper_etl_spark.oracle import compare
    from newsmaper_etl_spark.plans import extensions as X
    from newsmaper_etl_spark.plans import fixture_cache

    spec = QUERIES[name]
    assert spec.oracle, name
    plans = {}
    for posture, limit in (("small", 2**62), ("large", 0)):
        monkeypatch.setattr(io_mod, "SMALL_TABLE_BYTES", limit)
        monkeypatch.setattr(X, "UNROLL_PAIRS", limit)
        assert io_mod.is_toy(sf_dir) == (posture == "small")
        fixture_cache.clear()  # frames and plans built under the other side
        df = spec.fn(spark, sf_dir)
        plans[posture] = _plan(df, "simple")
        res = compare(name, df, spec.oracle, sf_dir)
        assert res.ok, f"{posture}: {res.detail}"
    fixture_cache.clear()
    assert plans["small"] != plans["large"], name


def test_semantic_dedup_plans_hash_joins_only(spark, sf_dir):
    """SemDeDup's pair stage must plan as a hash equi-join on (cell,
    table, bucket) — never a nested-loop/cartesian pair surface — and
    the whole pipeline stays JVM-side (no Python eval nodes; the only
    driver materializations are the bounded centroid sample and the
    <=100k-edge union-find)."""
    from newsmaper_etl_spark.io import load_table
    from newsmaper_etl_spark.operators.similarity import semantic_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = semantic_dup_pairs(emb, dim=64, n_centroids=8, sample_n=512)
    plan = _plan(pairs, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # and the end-to-end op stays Python-free too (its final anti-join
    # may be optimized away when no duplicate groups exist)
    full = _plan(QUERIES["q_semantic_dedup"].fn(spark, sf_dir), "simple")
    assert "BatchEvalPython" not in full and "ArrowEvalPython" not in full
