"""The benchmark's workloads: which registered queries run, over what
generated input, and why."""

from __future__ import annotations

import math
from dataclasses import dataclass

from stats import tail_above_median, tail_inside_cluster

MIN_TIMED_PASSES = 3
# Two untimed passes before timing: the cold pass and one more
# (records/WARMUP.md shows the per-pass wall and CPU curve).
WARM_PASSES = 2
EXACT_DUP_RATE = 0.03


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    n_docs: int
    near_dup_rate: float
    # seconds one warm pass takes on a 4-core host; sets the timed pass
    # count for a given --seconds (``timed_passes``)
    pass_s_estimate: float
    # a new shard, at a new path, for every pass (warm passes included)
    fresh_shard_per_pass: bool = False
    # planted structure of each input (``inputs.documents_table``):
    # 3-member duplicate families and copies of benchmark documents
    families: int = 0
    contaminated: int = 0

    def timed_passes(self, seconds: float) -> int:
        """The timed pass count for a run of ``seconds``: enough passes
        to fill it, at least ``MIN_TIMED_PASSES``, raised until the tail
        rank sits inside one query's cluster and at or above the median.
        Fixed for a given ``seconds``, so every run pools the same
        samples."""
        n = max(MIN_TIMED_PASSES, math.ceil(seconds / self.pass_s_estimate))
        while not (tail_inside_cluster(n) and tail_above_median(n * len(self.queries))):
            n += 1
        return n


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="floor",
            why=(
                "short documents queries and the reference word count re-reading "
                "one small corpus: driver build, table(), Catalyst, job launch"
            ),
            queries=(
                "word_count",
                "top_words",
                "compat_word_count",
                "dedup_exact",
                "hash_split_counts",
                "weighted_sample_docs",
                "quota_sample_lang",
            ),
            n_docs=5_000,
            near_dup_rate=0.05,
            pass_s_estimate=3.6,
        ),
        Workload(
            name="curate",
            why=(
                "curation/dedup over a fresh shard each pass: shared builds "
                "written once per pass and read by several consumers"
            ),
            queries=(
                "benchmark_decontaminate",
                "llm_prep_pipeline",
                "dedup_groups",
                "neardup_triangles",
            ),
            n_docs=500,
            near_dup_rate=0.08,
            pass_s_estimate=4.5,
            fresh_shard_per_pass=True,
            families=4,
            contaminated=2,
        ),
    )
}
