"""The benchmark's workloads: fixed query lists, tier, session posture and
pass counts. Runs are sized by pass count, never by a time budget, so two
commits measured with the same workload do identical work."""

from __future__ import annotations

from dataclasses import dataclass, field

# bench.py's bench-tier posture: shuffle/broadcast/rdd compression off at
# MB scale (core confs, fixed at JVM launch), AQE off and 4 shuffle
# partitions (runtime confs), base tables cached in 16 partitions.
BENCH_CORE_CONF = {
    "spark.shuffle.compress": "false",
    "spark.shuffle.spill.compress": "false",
    "spark.broadcast.compress": "false",
    "spark.rdd.compress": "false",
    "spark.locality.wait": "0",
}
BENCH_RUNTIME_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "4",
}
BENCH_CACHE_PARTITIONS = 16


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    sf: float
    warm_passes: int  # untimed passes after the cold pass; the first checks the rows
    timed_passes: int
    cached: bool = False
    core_conf: dict[str, str] = field(default_factory=dict)
    runtime_conf: dict[str, str] = field(default_factory=dict)

    @property
    def cache_partitions(self) -> int | None:
        return BENCH_CACHE_PARTITIONS if self.cached else None


WORKLOADS = {w.name: w for w in (
    Workload(
        name="panel",
        why="bench.py headline queries on cached tables in the bench posture: "
            "stage execution dominates, build and materialization do not",
        queries=(
            "q_pricing_summary", "q_join5_region", "q_filter_agg", "q_window_rank",
            "q_events_tumbling", "q_wordcount", "q_sessionize",
        ),
        sf=0.01,
        warm_passes=6,
        timed_passes=6,
        cached=True,
        core_conf=BENCH_CORE_CONF,
        runtime_conf=BENCH_RUNTIME_CONF,
    ),
    Workload(
        name="engine",
        why="a BFS loop and one query each from three operator modules on the "
            "engine-default session: eager build jobs, checkpoints, Catalyst and stage launch dominate",
        queries=("q_bfs_levels", "q_customer_segments", "q_gopher_rules", "q_hmm_score"),
        sf=0.001,
        warm_passes=10,
        timed_passes=6,
    ),
)}
