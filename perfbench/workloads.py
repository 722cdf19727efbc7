"""The benchmark's workloads: feed shape, replay size and pipeline options.

Every feed comes from ``sources.feed.synth_change_feed`` with the run's
seed, so the same seed gives the same events. Why each workload exists
is recorded in ``BENCHMARK.json``. Both feeds are cut into two epochs:
set-up replays the first, and the second, measured one merges into (and
the views re-read) an existing target. On a 4-core host the measured
``hot_resolve`` epoch takes about 5 s and the ``views_all`` one 25-45 s,
almost all of it per-job overhead: with the views on an epoch runs ~250
Spark jobs whatever the batch size.
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass

from pyspark.sql import functions as F


@dataclass(frozen=True)
class Workload:
    name: str
    n_events: int
    n_repos: int
    paths_per_repo: int
    skew: float
    content_words: int
    epochs: int
    views: bool = False

    def scaled(self, factor: float) -> "Workload":
        """The same shape with ``factor`` times the events (self-test)."""
        return dataclasses.replace(self, n_events=max(200, int(self.n_events * factor)))

    def synth(self, spark, seed: int):
        from data_ingestion_resolution_platform_spark.sources.feed import synth_change_feed

        return synth_change_feed(
            spark,
            self.n_events,
            n_repos=self.n_repos,
            paths_per_repo=self.paths_per_repo,
            skew=self.skew,
            seed=seed,
            content_words=self.content_words,
        )

    def dim(self, spark, seed: int):
        """Deterministic repo dimension for the join view: every seventh
        repo has no dim row, so the inner join drops some target rows."""
        i = F.col("id")
        return (
            spark.range(0, self.n_repos, 1, 1)
            .filter(F.pmod(i, F.lit(7)) != 3)
            .select(
                F.concat(F.lit("repo_"), F.lpad(i.cast("string"), 4, "0")).alias("repo"),
                F.concat(
                    F.lit("own_"), F.pmod(F.xxhash64(i, F.lit(seed)), F.lit(50)).cast("string")
                ).alias("owner"),
                F.pmod(i, F.lit(3)).cast("long").alias("tier"),
            )
        )

    def pipeline(self, spark, feed_dir: str, warehouse: str):
        from data_ingestion_resolution_platform_spark.streaming.pipeline import CDCPipeline

        return CDCPipeline(
            spark,
            feed_dir=feed_dir,
            warehouse=warehouse,
            maintain_stats=self.views,
            maintain_freq=self.views,
            maintain_leaderboard=self.views,
            maintain_quantiles=self.views,
            maintain_view=self.views,
        )


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "hot_resolve",
            n_events=200_000,
            n_repos=100,
            paths_per_repo=150,
            skew=2.0,
            content_words=30,
            epochs=2,
        ),
        Workload(
            "views_all",
            n_events=20_000,
            n_repos=100,
            paths_per_repo=150,
            skew=2.0,
            content_words=30,
            epochs=2,
            views=True,
        ),
    )
}
