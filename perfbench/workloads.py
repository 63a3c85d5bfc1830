"""The benchmark's workloads: which registered plans a pass runs, on
what data, and why each was chosen (see README.md)."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    plans: tuple[str, ...]
    sf: float
    # a fresh dataset (own derived seed) for every pass, so memoized
    # artifacts never hide the build work
    fresh_data: bool
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="ingest",
            plans=(
                "x2_reorg_recompute",
                "s14_warehouse_overwrite",
                "s19_time_travel_diff",
                "x14_stream_exactly_once_sink",
                "x15_ivm_rollup_merge",
                "sim_ivf_index_append",
            ),
            sf=0.01,
            fresh_data=True,
            why="write path on fresh data each pass: warehouse and "
            "versioned commits, stream drains, index appends",
        ),
        Workload(
            name="serve",
            plans=(
                "serve_address_portfolio",
                "sim_ivf_index_query",
                "s20_stats_skipping_scan",
                "t1_top_orders",
                "p2_order_range_filter",
                "j6_broadcast_lookup",
                "a5b_daily_stats_pruned",
                "j9b_trailing_24h_pruned",
            ),
            sf=0.01,
            fresh_data=False,
            why="read path of a long-lived service: artifacts built in "
            "setup, plan construction, memos and per-job scheduling",
        ),
        Workload(
            name="analytics",
            plans=(
                "graph_pagerank",
                "a15_address_stats",
                "d7c_freeze_pipeline",
                "sql_q9_product_profit",
                "sql_q18_large_orders",
                "sql_q21_sole_blame_supplier",
            ),
            sf=0.01,
            fresh_data=False,
            why="compute-heavy batch plans: shuffle, aggregation, "
            "windows and the Arrow/Python boundary",
        ),
    )
}


def derived_seed(seed: int, k: int) -> int:
    """Seed of the ``k``-th dataset a run generates from ``seed``."""
    return (seed * 1_000_003 + k) % 2**31
