"""Physical-plan regression tests (SURVEY.md §4): the optimizations we
rely on at 100 TB must actually appear in the plans — predicate
pushdown into parquet, column pruning, broadcast joins for dims,
TakeOrderedAndProject for top-k, no cartesian products where a
broadcast nested loop was intended.
"""

import re

import pytest

from fcs_etl_reactor_spark.queries import QUERIES
from tests.conftest import SF_SMALL


def plan_of(spark, name: str) -> str:
    return QUERIES[name](spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()


def explain_str(spark, name: str) -> str:
    import contextlib
    import io

    df = QUERIES[name](spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet(spark):
    s = explain_str(spark, "q2_filter_predicates")
    assert "PushedFilters: [" in s
    # the range predicate reaches the scan (In() contains ']', so match
    # the concrete filter rather than bounding the bracket span)
    assert "GreaterThanOrEqual(o_totalprice,50000.0)" in s, s


def test_column_pruning(spark):
    s = explain_str(spark, "q5_derived_columns")
    m = re.search(r"ReadSchema: struct<([^>]*)>", s)
    assert m, s
    cols = m.group(1)
    # only the 5 referenced columns are read, not all 11
    assert "l_returnflag" not in cols and "l_shipdate" not in cols


def test_star_join_broadcasts_dims(spark):
    from fcs_etl_reactor_spark.io import table_bytes
    from fcs_etl_reactor_spark.queries.joins import BROADCAST_GATE_BYTES

    s = plan_of(spark, "q10_star_join_revenue")
    assert "BroadcastHashJoin" in s
    assert "CartesianProduct" not in s
    # persist of the collapsed dim map is allowed ONLY below the same
    # size gate as its broadcast (round-2 verdict's size-gated re-add);
    # an ungated pin would OOM at scale (round-1 lesson)
    gated_small = table_bytes(SF_SMALL, "orders") < BROADCAST_GATE_BYTES
    has_persist = "InMemoryRelation" in s or "InMemoryTableScan" in s
    assert has_persist == gated_small


def test_star_join_hint_is_size_gated(spark):
    # the bounded dims (nation ⋈ region) always carry a broadcast hint;
    # the |orders|-sized collapsed map's hint is size-gated — present at
    # fixture scale (orders ≪ 256 MB), absent when the table is big, so
    # the hint can never OOM at 100× (round-1 verdict). table_bytes
    # reports unknown sizes as huge: the gate fails toward NOT
    # broadcasting.
    from fcs_etl_reactor_spark.io import table_bytes

    df = QUERIES["q10_star_join_revenue"](spark, SF_SMALL)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 2, analyzed
    assert table_bytes(SF_SMALL, "orders") < 256 << 20
    assert table_bytes("/nonexistent", "orders") >= 1 << 60


def test_topk_plans_take_ordered(spark):
    s = plan_of(spark, "q4_top_orders")
    assert "TakeOrderedAndProject" in s


def test_theta_join_is_broadcast_nested_loop(spark):
    s = plan_of(spark, "q15_theta_join_bands")
    assert "BroadcastNestedLoopJoin" in s
    assert "CartesianProduct" not in s


def test_cosine_topk_no_shuffle_before_window(spark):
    s = plan_of(spark, "q91_cosine_topk")
    # scoring is an Arrow-batched mapInPandas over the corpus scan —
    # no join materializes the pair table; the only shuffle feeds the
    # per-query top-k window
    assert "CartesianProduct" not in s
    assert "MapInPandas" in s
    assert s.count("Exchange") <= 2  # window hash + its AQE read


def test_cosine_topk_exact_plan_shape(spark):
    from fcs_etl_reactor_spark.io import load
    from fcs_etl_reactor_spark.operators.similarity import cosine_topk_exact
    from tests.conftest import SF_SMALL

    e = load(spark, SF_SMALL, "embeddings")
    df = cosine_topk_exact(e.filter("label = 0"), e.filter("label = 1"), k=3)
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" in s  # crossJoin of broadcast queries


def test_aggregates_are_partial_final(spark):
    s = plan_of(spark, "q1_pricing_summary")
    assert "partial_sum" in s or "partial" in s.lower()


def test_whole_stage_codegen_covers_compensation(spark):
    s = plan_of(spark, "q70_compensation")
    # '*(n)' marks WholeStageCodegen stages in executedPlan strings
    assert "*(1)" in s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s


def test_correlated_subquery_is_decorrelated(spark):
    s = plan_of(spark, "q6_correlated_subquery")
    # RewriteCorrelatedScalarSubquery: the per-row subquery becomes an
    # aggregate joined back - the executed plan has joins, and no
    # re-executed per-row subquery node
    assert "Join" in s or "SortMergeJoin" in s or "BroadcastHashJoin" in s
    assert "InSubqueryExec" not in s


def test_neardup_pipeline_never_cartesian(spark):
    # candidate generation must stay an equality join (band buckets /
    # shared shingles) — an O(n²) cross product anywhere in the LSH,
    # SimHash, or clustering plans is a 100 TB failure
    for name in ("q56_minhash_lsh", "q57_simhash_candidates", "q5b_dedup_clusters"):
        s = plan_of(spark, name)
        assert "CartesianProduct" not in s, name


def test_salted_join_spreads_key(spark):
    s = plan_of(spark, "q35_salted_join")
    # the join key must include the salt column so hot keys spread
    assert "_salt" in s


def test_span_dedup_keeper_is_aggregate_not_window(spark):
    # q5c's canonical-occurrence rule is a MIN aggregate on the digest
    # (map-side combinable), never a per-digest window sort
    s = plan_of(spark, "q5c_span_dedup")
    assert "Window" not in s
    assert "CartesianProduct" not in s


def test_cross_corpus_lsh_never_cartesian(spark):
    # q6h joins train×holdout band rows on (band, band_hash) equality;
    # a cross product would defeat the whole decontamination design
    s = plan_of(spark, "q6h_lsh_decontamination")
    assert "CartesianProduct" not in s


def test_random_projection_matrix_is_broadcast(spark):
    # q8d's 16×64 sign matrix joins the exploded components via
    # broadcast — the fact side never shuffles for the join
    s = plan_of(spark, "q8d_random_projection")
    assert "BroadcastHashJoin" in s
    assert "CartesianProduct" not in s


def test_vocab_topk_is_take_ordered(spark):
    # q8g's vocabulary cut must be per-partition heads + k-row merge,
    # never a single-partition global window sort
    s = plan_of(spark, "q8g_vocab_oov")
    assert "TakeOrderedAndProject" in s
    assert "CartesianProduct" not in s


def test_bucketed_join_has_no_exchange(spark):
    # q2a's whole point: matching bucket specs on both sides make the
    # sort-merge join exchange-free. Broadcast is forced off so the
    # small sf0.001 fixture can't sidestep the assertion.
    from fcs_etl_reactor_spark.queries.storage import bucketed_table

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        l = bucketed_table(spark, SF_SMALL, "lineitem", "l_orderkey")
        o = bucketed_table(spark, SF_SMALL, "orders", "o_orderkey")
        j = l.join(o, l.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        s = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in s, s
        # no shuffle below the join: the only allowed exchange is the
        # one ABOVE it for the groupBy
        join_part = s[s.index("SortMergeJoin"):]
        assert "Exchange hashpartitioning" not in join_part, join_part
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_partition_pruned_scan_prunes(spark):
    import contextlib
    import io

    df = QUERIES["q2b_partition_pruned_scan"](spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    s = buf.getvalue()
    # the date-range predicate must land in PartitionFilters (dir-level
    # pruning), not just PushedFilters (row-group-level)
    m = re.search(r"PartitionFilters: \[([^\]]*)", s)
    assert m and "event_date" in m.group(1), s


def test_recursive_spine_runs_distributed(spark):
    # the recursion is a plan node (UnionLoop/CTE), not a driver loop:
    # assert the month spine produced the full closed range
    df = QUERIES["q2c_recursive_month_spine"](spark, SF_SMALL)
    rows = df.collect()
    yms = sorted(r.ym for r in rows)
    assert yms == list(range(yms[0], yms[-1] + 1))
    assert all(r.month >= 1 and r.month <= 12 for r in rows)


def test_trigram_lm_topk_is_take_ordered(spark):
    # q8k's context cutoff must be per-partition heads + k-row merge
    # with a broadcast join back — never a single-partition window
    s = plan_of(spark, "q8k_trigram_lm")
    assert "TakeOrderedAndProject" in s
    assert "BroadcastHashJoin" in s
    assert "Window" not in s
    assert "CartesianProduct" not in s


def test_bucketed_window_has_no_exchange(spark):
    # q2e: the bucketed-by-user_id layout satisfies the window's
    # clustering requirement — no shuffle before the Window node
    s = plan_of(spark, "q2e_bucketed_window")
    assert "Window" in s
    assert "Exchange" not in s, s


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join evidence: a sort-merge join with one hot key must
    be re-planned at runtime with the skewed partition SPLIT
    (OptimizeSkewedJoin) — the mechanism that keeps one 100 GB key
    from pinning a single reducer at 100 TB. Thresholds are shrunk so
    local fixture sizes trigger it; broadcast is disabled to force the
    shuffle join AQE rewrites."""
    from pyspark.sql import functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB"
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "50KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

        left = spark.range(0, 300_000).select(
            F.when(F.col("id") < 280_000, 0).otherwise(F.col("id") % 64).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 64).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w")
        )
        # no aggregation downstream: a grouped consumer would require
        # hash distribution on k, and AQE (correctly) skips the skew
        # split rather than add a recovery shuffle — the split applies
        # when the join output flows to a sink/map stage
        joined = left.join(right, "k").select("v", "w")
        # collect, not noop-write: a write runs its OWN QueryExecution,
        # so the skew-annotated final plan would not be visible here
        assert len(joined.collect()) == 300_000
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_zone_map_prunes_files(spark):
    """q2h's skipping must actually engage: the value-band predicate
    selects a strict subset of the range-sorted layout's files (the
    query falls back to a full filtered scan on any layout failure,
    which would still pass the oracle — this pins the fast path)."""
    from pyspark.sql import functions as F

    from fcs_etl_reactor_spark.queries.storage import (
        _ZONE_HI,
        _ZONE_LO,
        _zone_sorted_events,
    )

    path = _zone_sorted_events(spark, "/root/testdata/sf0.001")
    stats = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    )
    keep = [r for r in stats if r["lo"] <= _ZONE_HI and r["hi"] >= _ZONE_LO]
    assert len(stats) > 4  # the layout really is multi-file
    # a ~8% value band over a range-sorted layout must skip most files
    assert 0 < len(keep) <= len(stats) // 2, (len(keep), len(stats))
    # range partitioning ⇒ files are value-disjoint (ties co-located),
    # the invariant that makes min/max skipping sound
    spans = sorted((r["lo"], r["hi"]) for r in stats)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, (hi1, lo2)


def test_join_hints_override_broadcast(spark):
    """q2p's hints must actually steer the physical strategy: both
    dims are far below the broadcast threshold, so without hints both
    joins would be BroadcastHashJoin — the hinted plan must show a
    SortMergeJoin (SHUFFLE_MERGE on customer) and a ShuffledHashJoin
    (SHUFFLE_HASH on nation) instead."""
    plan = explain_str(spark, "q2p_join_hints")
    assert "SortMergeJoin" in plan, plan
    assert "ShuffledHashJoin" in plan, plan


def test_lateral_join_decorrelates_to_window(spark):
    """q2n's LATERAL + LIMIT must decorrelate into one windowed join,
    not a per-outer-row nested loop: the plan carries a Window node
    and no CartesianProduct."""
    plan = explain_str(spark, "q2n_lateral_join")
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_global_window_detector(spark):
    """The plan-lint global-window detector (scripts/plan_lint.py)
    must distinguish all four Window argument shapes: global+ordered,
    partitioned+ordered, partitioned+unordered, and must ignore
    WindowGroupLimit nodes. Guard the detector itself — a silent
    false-negative would let a corpus-sized global window through the
    lint."""
    import importlib.util

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spec = importlib.util.spec_from_file_location(
        "plan_lint", "scripts/plan_lint.py"
    )
    pl = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pl)

    import contextlib
    import io

    def fmt(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    df = spark.range(10).select("id", (F.col("id") % 3).alias("k"))
    w_global = df.select(F.row_number().over(Window.orderBy("id")).alias("r"))
    assert pl._global_window_count(fmt(w_global)) == 1
    w_part = df.select(
        F.row_number().over(Window.partitionBy("k").orderBy("id")).alias("r")
    )
    assert pl._global_window_count(fmt(w_part)) == 0
    # partitioned, NO order clause: Arguments has only 2 groups but is
    # NOT global (the shape that fooled the first detector draft)
    w_unordered = df.select(
        F.sum("id").over(Window.partitionBy("k")).alias("s")
    )
    assert pl._global_window_count(fmt(w_unordered)) == 0
    # rank-filter plans add a WindowGroupLimit node above the Window;
    # it must not be double-counted
    w_limit = (
        df.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("k").orderBy("id")),
        ).filter(F.col("rn") <= 1)
    )
    assert pl._global_window_count(fmt(w_limit)) == 0
    # partition expressions that EMBED a direction token (an alias or
    # function argument containing " DESC"/" ASC") must still read as
    # partition lists — the check anchors to item END, not substring
    # presence (ADVICE r7)
    partitioned_with_embedded_token = (
        "(3) Window\n"
        "Arguments: [row_number() AS r#9], "
        "[sort_array(xs#1, DESC_flag#2)], [id#0L ASC NULLS FIRST]\n"
    )
    assert pl._global_window_count(partitioned_with_embedded_token) == 0
    assert not pl._is_order_list("sort_array(xs#1, DESC_flag#2)")
    assert not pl._is_order_list("a DESC b#3")
    assert pl._is_order_list("id#0L ASC NULLS FIRST, v#1 DESC NULLS LAST")
    assert pl._is_order_list("nested(f(a#1, b#2)) DESC")
    # an order list whose expression nests commas must not be split
    # mid-expression into direction-less fragments
    assert pl._split_top_level("f(a#1, b#2) ASC NULLS FIRST, c#3 DESC") == [
        "f(a#1, b#2) ASC NULLS FIRST",
        "c#3 DESC",
    ]


def test_sql_udf_inlines_without_python(spark):
    """SQL UDFs (qa1) must be Catalyst-inlined: the executed plan may
    contain no Python eval node of any kind — the whole point of the
    surface vs a Python UDF — and the TVF's segment/balance predicates
    must still reach the parquet scan through the call site."""
    plan = plan_of(spark, "qa1_sql_udf")
    assert "EvalPython" not in plan and "Python" not in plan
    ex = explain_str(spark, "qa1_sql_udf")
    assert "PushedFilters" in ex and "c_acctbal" in ex


def test_reactor_point_cloud_is_one_narrow_pipeline(spark, tmp_path):
    # the reactor parses straight to wide rows: the point cloud's plan
    # through compensate, calibrate and gate has no shuffle at all
    from fcs_etl_reactor_spark.operators.gates import range_gate
    from fcs_etl_reactor_spark.reactor import handle_message
    from fcs_etl_reactor_spark.sources.fcs import make_fcs_bytes

    channels = ["FSC-A", "SSC-A"]
    for name in ("a.fcs", "b.fcs"):
        (tmp_path / name).write_bytes(make_fcs_bytes(channels, [[1.0, 2.0], [30.0, 4.0]]))
    res = handle_message(spark, {
        "fcs_dir": str(tmp_path),
        "channels": channels,
        "spillover_inverse": [[1.0, 0.0], [0.1, 1.0]],
        "calibration": {"SSC-A": [2.0, 0.0]},
        "gates": {"fsc": range_gate("FSC-A", 10.0, 100.0)},
    })
    pc = res["outputs"]["point_cloud"]
    assert pc.count() == 2
    s = pc._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in s, s
    assert "Exchange" not in s, s
