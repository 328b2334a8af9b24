"""The benchmark's workloads: a fixed list of registered query names and
the input scale each one runs at. Why each exists is in BENCHMARK.json
and README.md.

Each workload names its queries, so a query registered later does not
change what a workload measures. The lists are subsets of the 131
registered queries because one run must fit in a few tens of seconds of
wall time on a 4-core host (see README.md, "Why subsets").
"""

from __future__ import annotations

import os
from dataclasses import dataclass

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@dataclass(frozen=True)
class Workload:
    name: str
    scale: str  # directory under perfbench/data
    queries: tuple[str, ...]
    # wall time of one warm pass on an unloaded 4-core host: turns a run's
    # --seconds into a fixed number of warm passes
    pass_s: float

    def warm_passes(self, seconds: float) -> int:
        """Warm passes in a run of ``seconds``: as many as fit on an
        unloaded 4-core host, and at least two."""
        return max(2, round(seconds / self.pass_s))

    @property
    def sf_dir(self) -> str:
        return os.path.join(DATA_DIR, self.scale)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "verbs",
            "sf0.01",
            (
                "q1_groupby_agg",
                "q_stats_agg",
                "q_rank_ties",
                "q_grouped_sort_positions",
                "q_pivot_wider",
                "q_join_asof_backward",
                "q_ewm_mean",
                "q_cut_breaks",
            ),
            4.2,
        ),
        Workload(
            "kernels",
            "sf0.01",
            (
                "q_dedup_ngram_jaccard",
                "q_dedup_embedding_cosine",
                "q_ann_ivf_topk",
                "q_multimodal_features",
                "q_dedup_incremental_stream",
            ),
            4.8,
        ),
        # self-test only: one verb, one kernel and one streaming query
        Workload(
            "smoke",
            "sf0.001",
            ("q1_groupby_agg", "q_text_langid", "q_dedup_incremental_stream"),
            1.0,
        ),
    )
}
