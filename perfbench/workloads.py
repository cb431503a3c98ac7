"""The benchmark's workloads: which registry queries run, on which input size.

Each workload is a fixed, ordered list of ``ironbeam_spark.suite.QUERIES``
names run as one *pass* by a single closed-loop client, on inputs from
``gen.ensure_inputs(seed, sf)``.  ``tables`` are the tables the queries
read; their generated bytes are the workload's stated input size.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]
    tables: tuple[str, ...]
    why: str


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="warehouse",
            sf=0.02,
            queries=(
                "q1_pricing_summary",
                "q21_suppliers_kept_waiting",
                "q_multi_join_revenue",
                "q_compaction",
            ),
            tables=(
                "lineitem",
                "orders",
                "supplier",
                "nation",
                "region",
                "events",
            ),
            why=(
                "TPC-H style joins, shuffles and a parquet compaction write on "
                "small inputs: traced, cores sit ~75% idle inside its jobs, so "
                "per-job and per-task fixed cost dominates; no Python workers"
            ),
        ),
        # the streaming query rides here instead of in a workload of its own:
        # a third workload's fixed cost (JVM bring-up and a cold pass, ~22 s
        # a run) does not fit the benchmark's run budget on a 4-core box
        Workload(
            name="llm_stream",
            sf=0.01,
            queries=(
                "q_audio_decode",
                "q_leakage_safe_split",
                "q_stream_dedup",
            ),
            tables=("documents", "events"),
            why=(
                "LLM-data and streaming pipelines on small inputs: driver plan "
                "building, eager jobs, the Arrow boundary to Python workers and "
                "state-store micro-batches dominate"
            ),
        ),
    )
}
