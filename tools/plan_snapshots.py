"""Golden physical-plan snapshots for the plan-sensitive catalog queries.

The reference pins 163 optimized-plan XMLs
(flink-table/flink-table-planner-blink/src/test/resources/.../plan/) so
any planner change that flips a join strategy or drops a pushdown fails
loudly even when values still match. This is the Spark-side analog: the
`explain(formatted)` physical plan of each query in SNAPSHOT_QUERIES,
normalized (expression ids, plan ids, absolute paths, partition counts —
everything machine- or session-dependent stripped), is checked into
tests/plan_snapshots/<name>.txt. `tests/test_plan_snapshots.py` diffs the
current plan against the snapshot; a Spark upgrade or operator edit that
silently changes a plan (broadcast -> SMJ, lost PushedFilters, new
shuffle) shows up as a readable plan diff.

Regenerate after an INTENDED plan change:

    python tools/plan_snapshots.py            # rewrite all snapshots
    python tools/plan_snapshots.py tpch_q3    # rewrite one

Snapshots are taken at sf0.01 (the driver's correctness scale — big
enough that size-based join planning behaves like a real run).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
SNAP_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "plan_snapshots",
)

# Batch, deterministic-plan catalog queries whose physical shape is the
# contract: joins (broadcast vs shuffle, semi/anti), agg splits, window
# paths, rollup Expand, the datapipe inverted-index/celled-ANN plans.
# Streaming entries are excluded (building them executes the replay).
SNAPSHOT_QUERIES = [
    "tpch_q1", "tpch_q2", "tpch_q3", "tpch_q4", "tpch_q5", "tpch_q6",
    "tpch_q7", "tpch_q8", "tpch_q9", "tpch_q10", "tpch_q11", "tpch_q12",
    "tpch_q13", "tpch_q14", "tpch_q15", "tpch_q17", "tpch_q18", "tpch_q19",
    "tpch_q20", "tpch_q21", "tpch_q22",
    # tpch_q16 excluded: count(DISTINCT) -> RewriteDistinctAggregates,
    # same session-dependent Expand column order as agg_distinct_mixed
    # ALL 103 real TPC-DS texts: a round-7 stability probe built every
    # plan twice (fresh expression ids) and found each normalized plan
    # byte-identical — the whole battery is snapshot-safe, so the full
    # reference validation set is pinned (vs the 163 reference XMLs)
    *[f"tpcds_q{i}" for i in range(1, 100)],
    "tpcds_q14b", "tpcds_q23b", "tpcds_q24b", "tpcds_q39b",
    "tpcds_channel_union_rollup",
    "tpcds_returns_anti_join",
    "topn_orders_per_customer", "over_rank_functions", "over_running_agg",
    "semi_join_customers_with_orders", "anti_join_customers_without_orders",
    "grouping_sets_lineitem", "setop_union_distinct",
    "window_session_dynamic_gap",
    # multi-DISTINCT aggregates (agg_distinct_mixed,
    # tpcds_multi_distinct_year) are excluded: Catalyst's
    # RewriteDistinctAggregates orders the Expand projections by
    # expression id, which depends on what ran earlier in the session —
    # the plan SHAPE is stable (asserted in test_plans.py) but its column
    # order is not snapshot-pinnable
    "dedup_exact_digest", "dedup_minhash_lsh_pairs", "dedup_simhash",
    "ann_cosine_topk_ivf_kmeans", "ann_ivf_pq_topk",
    "embedding_neardup_pairs", "text_repetition_stats",
    "text_quality_scores", "text_pii_redaction", "text_dsir_scores",
    "text_dsir_resample", "multimodal_frame_sample",
    "udf_scalar_pandas",
    # round-7 block-4 additions (ml_naive_bayes_langid excluded: fit
    # computes two driver scalars, so building the frame executes counts)
    "dedup_line_level", "dedup_bloom_incremental", "text_vocab_topk",
    # graph queries excluded: their result is a checkpointed RDD scan
    # (the supersteps already ran), so the "plan" carries no shape
]


_PARTITIONING = re.compile(r"(?:hash|range)partitioning\(")


def _mask_partition_counts(s: str) -> str:
    """Replace the trailing count of every hash/range partitioning call
    with N. Walks balanced parentheses, so nested calls such as
    coalesce(x, 0) keep their arguments; a call that does not close on its
    line is left alone."""
    out, pos = [], 0
    for m in _PARTITIONING.finditer(s):
        depth = 1
        for i in range(m.end(), len(s)):
            depth += {"(": 1, ")": -1}.get(s[i], 0)
            if depth == 0 or s[i] == "\n":
                break
        if depth == 0:
            out.append(s[pos:m.end()] + re.sub(r", \d+$", ", N", s[m.end():i]))
            pos = i
    return "".join(out) + s[pos:]


def normalize_plan(s: str) -> str:
    """Strip everything session- or machine-dependent from a formatted
    physical plan so snapshots compare across runs and hosts."""
    # expression ids: c_custkey#5L -> c_custkey#L ; subquery#123 etc.
    s = re.sub(r"#\d+", "#", s)
    # higher-order-function lambda variables carry a session-global
    # counter in the NAME itself: lambda x_187# -> lambda x_#
    s = re.sub(r"\b(lambda [A-Za-z]+)_\d+", r"\1_", s)
    # exchange/broadcast plan ids
    s = re.sub(r"\[plan_id=\d+\]", "[plan_id=]", s)
    # absolute dataset locations: keep only the last path component
    s = re.sub(
        r"(file:)?/[^\s\],]*/([^/\s\],]+)", r"<path>/\2", s
    )
    # partition counts follow the session's shuffle setting or the host's
    # cores (the round-robin spread), not the plan shape
    s = _mask_partition_counts(s)
    s = re.sub(r"RoundRobinPartitioning\(\d+\)", "RoundRobinPartitioning(N)", s)
    s = re.sub(r"REPARTITION(_BY_NUM)?\(\d+\)", r"REPARTITION(N)", s)
    # InMemoryFileIndex may enumerate a machine-dependent number of files
    s = re.sub(r"InMemoryFileIndex \[([^\]]*)\.{3}[^\]]*\]",
               r"InMemoryFileIndex [\1...]", s)
    return s.strip() + "\n"


def plan_for(spark, name: str, sf_dir: str = SF_DIR) -> str:
    from flink_parent_spark.queries.catalog import all_queries  # noqa: PLC0415

    df = all_queries()[name](spark, sf_dir)
    jvm = spark._sc._jvm
    raw = df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    return normalize_plan(raw)


def main() -> None:
    from flink_parent_spark.session import get_spark  # noqa: PLC0415

    names = sys.argv[1:] or SNAPSHOT_QUERIES
    os.makedirs(SNAP_DIR, exist_ok=True)
    spark = get_spark("plan_snapshots")
    for name in names:
        p = plan_for(spark, name)
        with open(os.path.join(SNAP_DIR, f"{name}.txt"), "w") as f:
            f.write(p)
        print(f"[snap] {name}: {len(p.splitlines())} lines")


if __name__ == "__main__":
    main()
