"""Benchmark workloads: which registry entries run, over which inputs.

Each workload is one closed-loop client running its entries back to
back. Sizes are the generator's row counts; ``input_table`` names the
table whose rows count towards ``input_rows_per_cpu_s`` for each entry.
"""

from __future__ import annotations

from dataclasses import dataclass

__all__ = ["Workload", "WORKLOADS", "ALL_QUERIES"]


@dataclass(frozen=True)
class Workload:
    why: str
    queries: tuple[str, ...]
    sizes: dict
    input_table: dict


_EVENTS_BATCH = (
    "hot_items_topn",
    "hot_urls_topn",
    "page_views",
    "unique_visitors",
    "channel_stats",
    "province_ad_clicks",
    "blacklist_kept",
    "blacklist_warnings",
    "login_fail_consecutive",
    "login_fail_times3",
    "order_timeout",
    "pay_receipt_interval_join",
    "pay_receipt_reconcile",
    "user_sessions",
)

_REPLAY_INDEX = (
    "page_views_streaming",
    "docs_lsh_index_compact_incremental",
)

WORKLOADS: dict[str, Workload] = {
    "events_batch": Workload(
        why="the 14 reference analytics as batch queries over 100k events: per-row operator work, shuffle and result transfer dominate",
        queries=_EVENTS_BATCH,
        sizes={"events": 100_000},
        input_table={q: "events" for q in _EVENTS_BATCH},
    ),
    "replay_index": Workload(
        why="a Structured Streaming replay and an LSH index maintenance cycle: per-micro-batch and per-job floors, commits and renames dominate",
        queries=_REPLAY_INDEX,
        sizes={"events": 20_000, "documents": 1_500},
        input_table={
            "page_views_streaming": "events",
            "docs_lsh_index_compact_incremental": "documents",
        },
    ),
}

ALL_QUERIES = tuple(q for w in WORKLOADS.values() for q in w.queries)
