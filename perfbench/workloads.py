"""The benchmark's workloads: which operations each one runs.

Every workload is a closed loop with one client. The seed sets the order of
operations within each pass; see `schedule`.
"""
import random

# All 50 queries of ops.Relational, ops.Reshape, ops.Joins and ops.ScalarFuncs:
# small and fast, so time goes to per-job scheduling, small shuffles and
# codegen. More distinct plans than the default 100-entry codegen cache holds.
OPS_LIGHT = [
    # ops.Relational
    "q_scan_parquet", "q_literal_df", "q_project", "q_derive", "q_filter_count",
    "q_filter_range", "q_sum_filtered", "q_case_when", "q_cast_parse",
    "q_distinct", "q_dup_flags", "q_null_handling", "q_cdc_apply",
    # ops.Reshape
    "q_sort_multi", "q_topk", "q_shuffle_det", "q_union", "q_union_diag",
    "q_hstack", "q_row_count", "q_transpose", "q_intersect", "q_except",
    "q_melt", "q_pivot", "q_explode", "q_dummies",
    # ops.Joins
    "q_join_inner", "q_join_left", "q_join_full", "q_join_semi", "q_join_anti",
    "q_join_cross", "q_join_range", "q_join_band", "q_join_skew_salted",
    "q_join_asof", "q_join_asof_fwd", "q_join_asof_nearest", "q_join_asof_tol",
    "q_join_overlap",
    # ops.ScalarFuncs
    "q_str_funcs", "q_date_funcs", "q_time_funcs", "q_math_funcs",
    "q_list_funcs", "q_array_numeric", "q_struct_funcs", "q_nan_handling",
    "q_json_funcs",
]

# Shuffle-bound queries from ops.Graph, ops.Dedup and ops.Analytics.
# q_pagerank and q_basket_lift (12 s and 19 s each on 4 cores under the
# default session) are left out so a traced run, which runs every query
# twice, ends well inside its time limit.
OPS_HEAVY = [
    "q_triangles", "q_copurchase_sim",
    "q_dedup_clusters", "q_dedup_report", "q_dedup_simhash64_pairs",
    "q_rfm",
]

# The ops.Layout queries and the write/read-back sources: most of the time
# is files written and read back during query construction.
OPS_WRITE = [
    "q_bucket_join", "q_sink_partitioned", "q_layout_prune", "q_layout_zorder",
    "q_compact_files", "q_observe",
    "q_shard_write", "q_sink_parquet", "q_sink_zstd", "q_scan_csv",
    "q_scan_json", "q_scan_avro", "q_scan_orc",
]

OPS = {"ops_light": OPS_LIGHT, "ops_heavy": OPS_HEAVY, "ops_write": OPS_WRITE}

ASK_TABLES = ["lineitem", "orders", "customer"]

# The scripted ask session. `first` is the SQL the scripted model answers
# first; `fix` is its answer to the engine's correction prompt; `retries` is
# how many failed attempts a first asking makes. Expected answer texts are in
# expected.json.
ASK = {
    "orders_total": {
        "text": "How many orders are there in total?",
        "first": "SELECT count(*) AS n FROM orders",
    },
    "returned_items": {
        "text": "How many line items were returned, with return flag R?",
        "first": "SELECT count(*) AS n FROM lineitem WHERE l_returnflag = 'R'",
    },
    "building_orders": {
        "text": "How many orders were placed by customers in the BUILDING segment?",
        "first": "SELECT count(*) AS n FROM orders o JOIN customer c "
                 "ON o.o_custkey = c.c_custkey WHERE c.c_mktsegment = 'BUILDING'",
    },
    "items_by_status": {
        "text": "How many line items belong to orders of each order status?",
        "first": "SELECT o.o_orderstatus, count(*) AS n FROM lineitem l "
                 "JOIN orders o ON l.l_orderkey = o.o_orderkey "
                 "GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus",
    },
    # the first SQL names a column that does not exist: analysis fails once
    "max_orderkey": {
        "text": "What is the largest order key?",
        "first": "SELECT max(o_order_key) AS m FROM orders",
        "fix": "SELECT max(o_orderkey) AS m FROM orders",
        "retries": 1,
    },
    # the first SQL reads a table that is not bound: SqlGuard rejects it once
    "segments_with_orders": {
        "text": "How many market segments have customers who placed orders?",
        "first": "SELECT count(DISTINCT c.c_mktsegment) AS n FROM customer c "
                 "JOIN supplier s ON c.c_nationkey = s.s_nationkey",
        "fix": "SELECT count(DISTINCT c.c_mktsegment) AS n FROM customer c "
               "JOIN orders o ON o.o_custkey = c.c_custkey",
        "retries": 1,
    },
}

WORKLOADS = ["ops_light", "ops_heavy", "ops_write", "ask"]

# Whole passes a run makes before its measured window. In a new JVM the
# first ask pass takes about twice as long as later ones, and how much
# longer depends on which question the seed puts first; timing it made the
# ask figures spread by a sixth across seeds. Its outputs are still checked.
# An ops_light pass is long enough that its cold start evens out.
WARMUP_PASSES = {"ask": 1}

# Fewest whole passes a run measures after the warm-up, whatever its length.
MIN_PASSES = {"ask": 2}

PASSES = 50


def schedule(workload, seed, passes=PASSES):
    """The seeded order of operations: one list per pass.

    An ops pass runs every query of the workload once. An ask pass asks
    every question twice; a question's second asking (a cache hit) always
    comes after its first (a miss), since the two are interchangeable.
    """
    rng = random.Random(seed)
    if workload == "ask":
        ids = sorted(ASK) * 2
        return [rng.sample(ids, len(ids)) for _ in range(passes)]
    ops = OPS[workload]
    return [rng.sample(ops, len(ops)) for _ in range(passes)]
