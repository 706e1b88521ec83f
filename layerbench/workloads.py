"""Workload membership, fixed by query name.

Membership is written down here and never derived at run time: a rule
such as "queries with eager jobs" would silently drop a query from
``llm_iterative`` the moment a later change removed its jobs, and the
workload would stop measuring what it was chosen for.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    reason: str
    queries: tuple[str, ...]
    # BENCH_FIXTURES (by function name) the queries read; built in set-up
    fixtures: tuple[str, ...] = ()


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="steam_core",
            sf=0.01,
            reason=(
                "the paper's own pipeline: streaming ingest with a micro-batch "
                "upsert, sinks, daily counts, top-N, windows, joins, ROI, a "
                "pandas UDF and a partition-pruned read of a pre-built layout; "
                "eager jobs only in stream set-up and partition discovery"
            ),
            queries=(
                "stream_tumbling_daily",
                "stream_microbatch_upsert",
                "sink_upsert_metadata",
                "agg_daily_counts",
                "src_top_selling",
                "win_sessionize_gap",
                "join_dim_fact",
                "agg_roi_discount",
                "udf_potential_score",
                "src_partition_pruned",
            ),
            fixtures=("_prepare_day_partitioned",),
        ),
        Workload(
            name="llm_iterative",
            sf=0.01,
            reason=(
                "iterative graph operators (BFS hops, PageRank) whose time is in "
                "eager jobs launched while the query is built, and a contingency "
                "table whose cached spine is released after it; no stream, no UDF"
            ),
            queries=(
                "llm_graph_bfs_hops",
                "llm_graph_pagerank",
                "qa_chisq_categorical",
            ),
        ),
    )
}
