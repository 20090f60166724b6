"""The benchmark's workloads: which registry queries run, at which scale.

Each workload is a fixed mix of ``queries.QUERIES`` entries run against one
of the repo's read-only fixture scales.  The mixes are cut down from the
full lists the benchmark was designed around, so that one run (JVM launch,
set-up, cold pass, three warm passes, the threaded phase) stays within
about a minute on a 4-core box; the README lists what was left out and why.
"""

from __future__ import annotations

from dataclasses import dataclass

# bench.py's B1-B8 ids, so a traced breakdown reads against BENCH_r*.json.
BENCH_IDS = {
    "agg_q1": "b1",
    "filter_q6": "b2",
    "join_q3_topk": "b3",
    "join_star_q5": "b4",
    "window_running_sum": "b5",
    "window_topk_per_group": "b5",
    "agg_rollup": "b6",
    "func_array_explode_tf": "b7",
    "dedup_exact": "b8",
    "dedup_near_minhash": "b8",
}


@dataclass(frozen=True)
class Workload:
    name: str
    scale: str  # fixture directory name, e.g. "sf0.1"
    queries: tuple[str, ...]
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "olap_sf0.1",
            "sf0.1",
            (
                "agg_q1",
                "filter_q6",
                "join_q3_topk",
                "join_star_q5",
                "window_topk_per_group",
                "agg_rollup",
                "func_array_explode_tf",
                "dedup_exact",
                "join_q7_nation_trade",
                "dsl_sequence_q1",
            ),
            "TPC-H-style queries bound by the Spark action (jobs, shuffles, "
            "broadcasts); B1-B8 subset plus a broadcast-gate site and a DSL "
            "front door",
        ),
        Workload(
            "llm_ingest_sf0.01",
            "sf0.01",
            (
                "graph_kcore",
                "dsl_curation_graph_bridge",
                "stream_tumbling_counts",
                "stream_dedup",
                "stream_foreach_batch_sink",
                "sink_partitioned_parquet",
            ),
            "iterative operators and streaming triggers run their jobs inside "
            "the registry call, beside sinks and partitioned writes, so build "
            "time dominates the action",
        ),
    )
}
