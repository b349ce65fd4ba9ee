"""The benchmark's workloads: which queries a round runs, the size of the
customer table, the number of rounds a run measures at least, and how many
customers the booster's margin check samples. README.md says why each
workload exists.

Every workload runs q_score_exact, because rows_per_s (customers it scores
per second) is an end-to-end metric every run reports. The fewest rounds
times the query count fixes the sample count from which query_tail_s's
percentile is chosen (metrics.tail_rule).
"""

WORKLOADS = {
    "app_analytics": {
        "queries": [
            "q_filter_eq", "q_groupby_avg", "q_topk", "q_join_multiway", "q_impute_median",
            "q_onehot", "q_score_exact", "q_tpch_q1", "q_tpch_q3",
        ],
        "customer_rows": 20000, "min_rounds": 3, "margin_sample": 64,
    },
    "loops_floor": {
        "queries": ["q_kcore", "q_hybrid_lifecycle", "q_stream_compact", "q_score_exact"],
        "customer_rows": 20000, "min_rounds": 2,
    },
}
