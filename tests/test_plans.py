"""Physical-plan shape assertions: the 100 TB design claims each operator
makes (pushdown, broadcast, partial agg, top-k heap) must be visible in
the plan, not just hoped for (SURVEY task brief: '.explain the plan and
iterate until it's the plan you'd want')."""

from __future__ import annotations

from nosql_triple_store_spark.registry import all_specs

from .conftest import SF_DIR

SPECS = all_specs()


def _plan(spark, name: str) -> str:
    df = SPECS[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_point_lookup_pushes_filter_to_scan(spark):
    p = _plan(spark, "q_point_lookup")
    assert "PushedFilters: [" in p and "user_id" in p.split("PushedFilters")[1][:120]


def test_range_prune_pushes_range_and_prunes_columns(spark):
    p = _plan(spark, "q_range_prune")
    pushed = p.split("PushedFilters")[1][:200]
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "LessThan(l_shipdate" in pushed
    # column pruning: ReadSchema must not include unused columns
    read = p.split("ReadSchema")[1][:400]
    assert "l_extendedprice" in read and "l_tax" not in read


def test_broadcast_join_is_broadcast(spark):
    p = _plan(spark, "q_join_broadcast")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_multiway_broadcasts_dims(spark):
    p = _plan(spark, "q_join_multiway")
    assert p.count("BroadcastHashJoin") >= 2  # nation & region at minimum


def test_topk_uses_heap_not_global_sort(spark):
    p = _plan(spark, "q_topk")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_lww_latest_is_partial_aggregate_not_window(spark):
    p = _plan(spark, "q_lww_latest")
    assert "Window" not in p  # max_by agg formulation, not row_number
    # map-side combine before the shuffle (partial_max_by), final after
    assert "partial_max_by" in p
    assert p.index("partial_max_by") > p.index("Exchange")  # partial below


def test_agg_pricing_partial_final_codegen(spark):
    df = SPECS["q_agg_pricing"].fn(spark, SF_DIR)
    pre = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in pre
    # codegen markers only materialize in the AQE final plan
    df.collect()
    post = df._jdf.queryExecution().executedPlan().toString()
    assert "WholeStageCodegen" in post or "*(" in post


def test_semi_anti_are_join_strategies(spark):
    for q in ("q_join_semi", "q_join_anti"):
        p = _plan(spark, q)
        assert "LeftSemi" in p or "LeftAnti" in p


def test_no_python_udf_in_relational_core(spark):
    """Python execution nodes (BatchEvalPython/ArrowEvalPython) must not
    appear anywhere in the relational/LWW/window/text core — only the two
    explicitly-Python operators (simhash, multimodal) may use them."""
    for q in (
        "q_lww_latest",
        "q_agg_pricing",
        "q_window_running",
        "q_text_quality",
        "q_vector_knn",
        "q_dedup_near",
    ):
        p = _plan(spark, q)
        assert "EvalPython" not in p, f"{q} fell off the JVM fast path"


def test_tpch_q6_q19_predicates_push_to_scan(spark):
    """Q6's conjunctive and Q19's disjunctive predicates must reach the
    parquet scans (PushedFilters non-empty on lineitem), keeping both
    queries scan+agg-only — no predicate evaluated post-join that a scan
    could have dropped."""
    for q in ("q_tpch_q6", "q_tpch_q19"):
        p = _plan(spark, q)
        assert "PushedFilters: [" in p, q
        assert "PushedFilters: []" not in p.split("Scan parquet")[1], q


def test_pack_and_twa_reuse_window_partitioning(spark):
    """The batch-28 single-shuffle claims: the post-window aggregate's
    grouping keys are a superset of the window partition key, so
    hashpartitioning(partition key) already clusters the groups and the
    plan must contain exactly ONE hash exchange."""
    for q in ("q_pack_sequences", "q_time_weighted_avg"):
        p = _plan(spark, q)
        assert p.count("Exchange hashpartitioning") == 1, q
        assert "partial_" in p, q  # map-side combine still present


def test_lww_asof_broadcast_cutoff_and_group_limit(spark):
    """Time travel must broadcast the 1-row cutoff (no driver
    round-trip) and push the rank-1 filter below the shuffle
    (WindowGroupLimit) like every other LWW window."""
    p = _plan(spark, "q_lww_asof")
    assert "BroadcastExchange" in p
    assert "WindowGroupLimit" in p


def test_mixture_weights_broadcasts_totals(spark):
    p = _plan(spark, "q_mixture_weights")
    assert "BroadcastExchange" in p
    assert p.count("Exchange hashpartitioning") <= 2


def test_range_join_bucketed_is_equi_join(spark):
    """The point-in-interval join must compile to an equi-join on the
    bucket key with a residual filter — never a nested-loop/cartesian
    over the inequality predicate."""
    p = _plan(spark, "q_join_range_bucketed")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "Join" in p  # the equi-join on (event_type, bucket) exists


def test_grouped_topk_is_two_stage_salted(spark):
    """The grouped top-k tournament must show TWO window stages with
    the salt present in the first partitioning — a regression to a
    single per-group window would re-create the giant-partition plan
    at scale (functions/topk.py rationale)."""
    p = _plan(spark, "q_sample_group_quota")
    assert p.count("Window") >= 2
    first_window = p.split("Window")[1]
    assert "__salt" in first_window or "__salt" in p


def test_spatial_grid_join_is_equi_join_on_cells(spark):
    """The proximity join must hash-join on integer cell keys, never a
    cartesian/nested-loop over points."""
    p = _plan(spark, "q_join_spatial_grid")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_knn_batch_broadcasts_probes(spark):
    p = _plan(spark, "q_vector_knn_batch")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert p.count("Window") >= 2


def test_random_walk_id_stage_has_no_global_data_window(spark):
    """q_graph_random_walk's vertex-id assignment must use the two-pass
    range-partitioned scheme (sources/dictionary.assign_dense_ids):
    every Window over data rows is partitioned (__pid for the id
    stage, a for the adjacency rank). A regression to
    row_number().over(Window.orderBy(v)) would show an UNPARTITIONED
    windowspecdefinition starting with the sort column v — the
    single-partition global sort the judge flagged (VERDICT r4 #1)."""
    import re

    from pyspark.sql import functions as F

    from nosql_triple_store_spark.operators.graph_ext7 import _digraph
    from nosql_triple_store_spark.sources.dictionary import assign_dense_ids

    ed = _digraph(spark, SF_DIR)
    vs = ed.select(F.col("a").alias("v")).union(ed.select("b")).distinct()
    nid = assign_dense_ids(vs, "v", id_col="id", start=0)
    p = nid._jdf.queryExecution().executedPlan().toString()
    # the two-pass path is actually in use: vertex rows range-partition
    assert "rangepartitioning(v" in p
    # no window spec whose FIRST element is a bare sort on v
    # (partitioned specs lead with the partition column __pid instead)
    for m in re.finditer(r"windowspecdefinition\((\w+)#\d+ ASC", p):
        assert m.group(1) != "v", "global window over vertex set"
    # the only SinglePartition exchange feeds the P-row offset window,
    # downstream of the per-partition count aggregate — never raw rows
    single = p.count("Exchange SinglePartition")
    assert single <= 1
    if single:
        after = p.split("Exchange SinglePartition")[1]
        assert "HashAggregate" in after  # the P-row count frame below it
    # the full walk query stays free of global data windows too
    wp = _plan(spark, "q_graph_random_walk")
    for m in re.finditer(r"windowspecdefinition\((\w+)#\d+ ASC", wp):
        assert m.group(1) != "v", "global window over vertex set in walk"


def test_classifier_score_is_single_shuffle_jvm_only(spark):
    """Model inference must stay whole-stage-codegen'd: no Python eval
    nodes, partial+final aggregate around exactly one data exchange
    (PLANS.md round-5 audit)."""
    p = _plan(spark, "q_text_classifier_score")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "partial_count" in p or "partial_sum" in p  # map-side combine
    assert p.count("Exchange hashpartitioning") == 1


def test_bgp_encoded_reads_materialized_store(spark):
    """q_bgp_star_encoded must read the scratch-parquet encoded store
    (load-time ETL), not rebuild the dictionary per call: the plan
    scans long-typed parquet and contains NO string-space triples
    union or xxhash64 dictionary aggregation (PLANS.md r5 audit)."""
    from nosql_triple_store_spark.operators.relational_ext3 import (
        encoded_store,
    )

    encoded_store(spark, SF_DIR)  # ensure built (bench layout phase)
    p = _plan(spark, "q_bgp_star_encoded")
    assert "xxhash64" not in p  # no in-plan dictionary build
    # encoded triples come off a columnar scan, joins run on longs
    assert "Scan parquet" in p

    # the readers trust the declared schemas instead of inferring the
    # footers, so the files the writers leave must carry exactly them
    from pyspark.sql.types import StructType

    from nosql_triple_store_spark.operators.relational_ext3 import (
        _ENC_STORE_DIRS,
    )
    from nosql_triple_store_spark.plans.quads import (
        _QUAD_DIRS,
        QUADS_SCHEMA,
        quad_layout,
    )
    from nosql_triple_store_spark.sources.dictionary import (
        DICTIONARY_SCHEMA,
        ENCODED_TRIPLES_SCHEMA,
    )

    quad_layout(spark, SF_DIR)
    out_d, out_e = _ENC_STORE_DIRS[SF_DIR]
    for ddl, path in (
        (DICTIONARY_SCHEMA, out_d),
        (ENCODED_TRIPLES_SCHEMA, out_e),
        (QUADS_SCHEMA, _QUAD_DIRS[SF_DIR]),
    ):
        assert spark.read.parquet(path).schema == StructType.fromDDL(ddl), (
            path
        )

    # a schema read would widen int ids and null a renamed column, so
    # the writers refuse a frame that drifts from its declaration
    import pytest

    from nosql_triple_store_spark.scratch import check_declared

    for drifted in ("cast(id as int) term_id", "id AS tid"):
        with pytest.raises(ValueError, match="drifted"):
            check_declared(
                spark.range(1).selectExpr(drifted, "'x' AS term"),
                DICTIONARY_SCHEMA,
            )
