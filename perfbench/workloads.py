"""The benchmark's workloads: named registry queries, run once each, cold.

Queries are always named here, never taken from ``queries()`` (which
reorders itself from the correctness ledger). A run's ``--seed`` permutes
the order within the workload, because cross-query memos (scan plans,
fitted models) make order part of the input.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    why: str


WORKLOADS = {
    "relational": Workload(
        queries=(
            "profile_agg", "trend_compare", "pricing_summary",
            "shipping_priority_sql", "market_share", "join_agg",
            "rollup_agg", "salted_join", "adaptive_join", "bloom_join",
        ),
        why=("lazy Customer-360 and TPC-H-style joins, aggregates and "
             "windows: JVM shuffle and codegen and per-query fixed costs, "
             "with no eager build, Python worker or stream"),
    ),
    "training_data": Workload(
        queries=(
            "triangle_count", "gbt_train", "ann_cosine_ivfpq", "agg_stream",
            "dedup_incremental_bucketed", "incremental_overwrite",
        ),
        why=("graph and model fits that fire jobs while building, Arrow "
             "Python-worker ANN search, a watermarked stream drain and "
             "bucketed-lake and partition-overwrite folds"),
    ),
}


def query_order(workload: str, seed: int) -> list[str]:
    """The workload's queries in the order ``seed`` picks."""
    order = list(WORKLOADS[workload].queries)
    random.Random(seed).shuffle(order)
    return order
