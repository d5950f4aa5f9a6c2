"""Fleet-wide physical-plan audit: walk EVERY registered query's plan and
flag the shapes that don't survive a 100× scale-up, before any of them
ships. Complements tests/test_plans.py (which pins plan properties for
individual flagship queries) with a blanket check over the whole surface.

Flags:
- CartesianProduct / non-broadcast nested-loop joins — O(N·M) at scale.
- Window with an empty PARTITION BY (global window) — serializes the
  whole input through one task. (w1's banded variants exist for a reason.)
- Exchange SinglePartition feeding non-trivial compute — same failure
  dressed as a shuffle. A SinglePartition exchange under a final
  short-output agg/limit is fine and excluded.
- rdd-based scans (ExistingRDD) outside the declared streaming shims —
  the DataFrame-first rule.

Some queries legitimately trip a rule (a documented broadcast
nested-loop KNN; the deliberately-naive w1/w3 baselines kept as A/B
references). Those are whitelisted EXPLICITLY per (query, flag) so any
new offender fails loudly.

Usage: python tools/audit_plans.py          # audit, exit 1 on violations
       python tools/audit_plans.py -v      # also print per-query flags
Prints ONE JSON summary line last. Its ``stale_whitelist`` lists the
whitelisted ``query:flag`` pairs of audited queries whose plan no longer
trips that flag — entries to delete.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from prometheus_remote_kinesis_spark.plans.explain import formatted_plan  # noqa: E402
from prometheus_remote_kinesis_spark.registry import all_queries  # noqa: E402
from prometheus_remote_kinesis_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")

# (query, flag) pairs that are deliberate and documented in their docstrings.
WHITELIST: set[tuple[str, str]] = {
    # Exact KNN broadcasts the (small) query side through a nested-loop
    # join by design; the scale paths are l4b (LSH) and l4c (IVF).
    ("l4_knn_join", "nested_loop_join"),
    # j7 is the reference cross join (region x region, 25 rows); Spark
    # plans the broadcasted cross as BroadcastNestedLoopJoin.
    ("j7_nation_region_cross", "nested_loop_join"),
    # One-row broadcast scalar (corpus totals / rebase epoch) folded into
    # the projection — nested-loop in name only.
    ("d8_mixture_weights", "nested_loop_join"),
    ("d12_vocab_coverage", "nested_loop_join"),  # broadcast 1-row token total
    ("l5j_bm25", "nested_loop_join"),  # broadcast 1-row (n_docs, avgdl) scalar
    ("t14c_deriv_predict", "nested_loop_join"),
    ("t22_downsample_retention", "nested_loop_join"),  # broadcast max(ms) cutoff
    ("t23_instant_vector", "nested_loop_join"),  # broadcast eval-time scalar
    # same 1-row eval-time broadcast, applied post-drain over the
    # per-series lasts (≤ |series| rows, not the stream)
    ("t23s_instant_vector_stream", "nested_loop_join"),
    ("t25_rate_extrapolated", "nested_loop_join"),  # broadcast eval-time scalar
    # PromQL: the eval time T is an inlined literal, so no pq/pqr plan
    # carries a 1-row anchor join. The one BNLJ left is the empty-key
    # vector match — ``on() group_left`` crosses the 1-row aggregated
    # rhs (the share-of-total shape) into every lhs series.
    ("pq17_promql_group_left_ratio", "nested_loop_join"),
    ("pq44_promql_share_of_total", "nested_loop_join"),
    # same 1-row eval-time broadcast via extrapolated_rate_1d, applied
    # post-drain over the trailing-buffer residue (~1d of samples/series)
    ("t25s_rate_extrapolated_stream", "nested_loop_join"),
    # same 1-row cutoff broadcast, post-drain over buffer+rollup rows
    ("t22s_downsample_retention_stream", "nested_loop_join"),
    ("t28_slo_burn_alert", "nested_loop_join"),  # broadcast eval-time scalar
    ("t31_predict_linear", "nested_loop_join"),  # broadcast eval-time scalar (tmax, 1 row)
    ("dq1_referential_audit", "nested_loop_join"),  # 1-row agg × 1-row agg assembly crosses
    # a3d's type-PAIR construction: |types| × |types| inequality self-
    # join of the distinct-type list (5 rows at any SF — the fact-table
    # work all flows through the broadcast equi-join on mtype).
    ("a3d_kmv_set_ops", "nested_loop_join"),
    ("a3ds_kmv_set_ops_stream", "nested_loop_join"),  # same pair construction post-drain
    # l4m's per-iteration normalize divides by the 1-row broadcast
    # max|u| scalar (the t31/t22 eval-time-scalar pattern, twice).
    ("l4m_power_iteration_quantized", "nested_loop_join"),
    ("t34_offset_compare", "nested_loop_join"),  # broadcast eval-time scalar (tmax, 1 row)
    # same 1-row eval-time broadcast, applied post-drain over the
    # (user, ms, is_err) count partials (t23s's flip, r7)
    ("t28s_slo_burn_alert_stream", "nested_loop_join"),
    # All-pairs cosine on the small embeddings table; documented baseline,
    # scale paths are l2's LSH banding and l4b/l4c.
    ("l2d_embedding_neardup", "nested_loop_join"),
    # PQ-ADC scan: broadcast Qx(M*K) tables, M adds per pair instead of d
    # multiplies; composes with l4c IVF lists for candidate pruning. The
    # rdd_scan is createDataFrame over the ≤100-row driver-computed ADC
    # parameter table, not corpus data.
    ("l4f_pq_ann", "nested_loop_join"),
    ("l4f_pq_ann", "rdd_scan"),
    # Eager localCheckpoint (lineage truncation for the iterative CC
    # loops) surfaces as Scan ExistingRDD — that IS the design.
    ("l2e_neardup_clusters", "rdd_scan"),
    # l2j/l2k checkpoint sh_sets + prefixes: the shingle→rank pipeline
    # feeds 3-4 references and re-inlines without truncation (measured
    # at the r10 64× re-probe — SCALE.md)
    ("l2j_prefix_jaccard_join", "rdd_scan"),
    ("l2k_containment_join", "rdd_scan"),
    ("l2f_neardup_clusters_star", "rdd_scan"),
    # g2 checkpoints its edge set (referenced ~6×) and oriented edges
    # (3×): without it Catalyst inlines the scan→window→distinct edge
    # pipeline at every reference (measured 91 Exchanges → 7).
    ("g2_triangle_count", "rdd_scan"),
    # g3's per-superstep frontier/visited checkpoints (the l2e loop
    # discipline: plan depth and analysis time O(1) per superstep).
    ("g3_bfs_hops", "rdd_scan"),
    # g4 checkpoints its edge set (referenced by both LP supersteps —
    # the g2/g3 edge-reuse discipline).
    ("g4_label_propagation", "rdd_scan"),
    # l4n's query-side projection is ONE broadcast row cross-joined into
    # the scan (the l3/l4 literal-query shape, in-engine instead of a
    # driver-side Python round whose banker's rounding differs).
    ("l4n_random_projection", "nested_loop_join"),
    # Banded two-phase global ranks: the only global window runs over the
    # ~100-256-row band-count aggregate, never the fact table.
    ("w1c_global_rank_scalable", "global_window"),
    ("d7_deterministic_shuffle", "global_window"),
    # Banded since r4 (w1c's shape): the only global window runs over the
    # tiny band-count aggregate, never the fact table.
    ("w1b_rank_family", "global_window"),
    # dq2's gap-to-previous-day lag runs over the per-DAY aggregate —
    # |days| rows (~36 k/century), never fact rows (the w1c argument).
    ("dq2_freshness_volume_audit", "global_window"),
    # w9's cumulative sum runs over the per-DAY new-user aggregate —
    # same |days|-row envelope as dq2.
    ("w9_cumulative_distinct_users", "global_window"),
    ("dq2s_freshness_audit_stream", "global_window"),  # same |days|-row lag, post-drain
    # o5's cross-band prefix minimum runs over the ~112-row band
    # aggregate (the w1c argument); fact rows only see banded windows.
    ("o5_skyline_pareto", "global_window"),
    # d16's dedup window partitions full rows by content digest — the ONE
    # text-carrying key shuffle in the fleet, pinned to exactly one by
    # test_corpus_build_shuffles_text_once (the decontam branch was
    # restructured in r7 to avoid a second).
    ("d16_corpus_build_e2e", "text_key_exchange"),
}


def parse_nodes(plan: str) -> dict[int, tuple[str, str]]:
    """Detail sections of a formatted plan → {id: (node name, args)}."""
    nodes: dict[int, tuple[str, str]] = {}
    cur = None
    for line in plan.splitlines():
        m = re.match(r"\((\d+)\) (\w+)", line.strip())
        if m:
            cur = int(m.group(1))
            nodes[cur] = (m.group(2), "")
        elif cur is not None and line.strip().startswith("Arguments:"):
            nodes[cur] = (nodes[cur][0], line.strip())
    return nodes


def audit_one(name: str, plan: str) -> list[str]:
    flags = []
    if "CartesianProduct" in plan:
        flags.append("cartesian")
    if "BroadcastNestedLoopJoin" in plan:
        flags.append("nested_loop_join")
    # Global window = the detail-section signature
    #   (i) Exchange SinglePartition -> (i+1) Sort -> (i+2) Window:
    # the whole input serialized through one task's sort+window. A
    # SinglePartition exchange under a final ungrouped agg is NOT flagged
    # (it only moves pre-aggregated partials).
    nodes = parse_nodes(plan)
    for i, (kind, args) in nodes.items():
        if (
            kind == "Window"
            and nodes.get(i - 1, ("",))[0] == "Sort"
            and nodes.get(i - 2, ("", ""))[0] == "Exchange"
            and "SinglePartition" in nodes.get(i - 2, ("", ""))[1]
        ):
            flags.append("global_window")
            break
    if "Scan ExistingRDD" in plan:
        flags.append("rdd_scan")
    # Key-partitioned exchange carrying raw document text: at 100 TB a
    # hash/range shuffle whose payload includes `text` moves the corpus
    # over the network. Round-robin repartitions are NOT flagged — those
    # are deliberate parallelism-creators for per-row heavy compute over
    # the single-file driver testdata (l2*/d9/d14/d3b), with no key.
    for b in plan.split("\n\n"):
        s = b.strip()
        if not s:
            continue
        if (
            re.match(r"\(\d+\) Exchange", s.splitlines()[0])
            and re.search(r"\b(?:text|embedding|media)#\d+", s)
            and re.search(r"hashpartitioning|rangepartitioning", s)
        ):
            flags.append("text_key_exchange")
            break
    return flags


def main() -> None:
    verbose = "-v" in sys.argv
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    spark = get_spark("audit_plans")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    queries = all_queries()
    if names:
        queries = {n: queries[n] for n in names}
    results: dict[str, list[str]] = {}
    errors: dict[str, str] = {}
    for name, q in sorted(queries.items()):
        try:
            plan = formatted_plan(q.fn(spark, SF_DIR))
        except Exception as e:  # streaming-only entries can't batch-plan
            errors[name] = str(e).splitlines()[0][:120]
            continue
        flags = audit_one(name, plan)
        if flags and verbose:
            print(name, flags)
        if flags:
            results[name] = flags
    violations = {
        n: [f for f in fl if (n, f) not in WHITELIST] for n, fl in results.items()
    }
    violations = {n: fl for n, fl in violations.items() if fl}
    # whitelist entries of audited queries that matched no flag
    stale = sorted(
        f"{n}:{f}" for n, f in WHITELIST
        if n in queries and n not in errors and f not in results.get(n, [])
    )
    print(
        json.dumps(
            {
                "audited": len(queries) - len(errors),
                "skipped_unplannable": len(errors),
                "flagged": results,
                "violations": violations,
                "stale_whitelist": stale,
            }
        )
    )
    sys.exit(1 if violations else 0)


if __name__ == "__main__":
    main()
