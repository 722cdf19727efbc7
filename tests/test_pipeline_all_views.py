"""CDCPipeline with every maintained view on at once (stats, freq,
leaderboard, quantiles and the dim join): all five advance from ONE
shared epoch delta, and each must still equal its recompute from the
final target after every epoch of an I/U/D replay, after a crash
between two views' MERGEs and the redelivery that follows, and without
leaving persisted or checkpointed blocks behind."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import test_pipeline_freq as freq
import test_pipeline_leaderboard as leaderboard
import test_pipeline_quantiles as quantiles
import test_pipeline_view as join_view
from data_ingestion_resolution_platform_spark.streaming.pipeline import CDCPipeline


def _pipe(spark, tmp_path, dim):
    pipe = CDCPipeline(
        spark,
        feed_dir="unused",
        warehouse=str(tmp_path / "wh"),
        maintain_stats=True,
        maintain_freq=True,
        freq_width=freq.DW["width"],
        maintain_leaderboard=True,
        maintain_quantiles=True,
        quantile_k=quantiles.K,
        maintain_view=True,
    )
    pipe.seed_dim(dim)
    return pipe


def _stats_recompute(pipe):
    rows = (
        pipe.target.read()
        .groupBy("repo")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("content")).alias("b"))
        .collect()
    )
    return {(r.repo, r.n, r.b) for r in rows}


def _assert_views_match_target(pipe, dim):
    stats = {(r.repo, r.n_paths, r.total_bytes) for r in pipe.stats.read().collect()}
    assert stats == _stats_recompute(pipe)
    assert freq._as_set(pipe.freq.read()) == freq._as_set(freq._rebuild(pipe))
    assert leaderboard._as_set(pipe.leaderboard.read()) == leaderboard._as_set(
        leaderboard._recompute(pipe)
    )
    assert quantiles._as_set(pipe.qsample.read()) == quantiles._as_set(
        quantiles._recompute(pipe)
    )
    assert join_view._as_dict(pipe.view.read()) == join_view._as_dict(
        join_view._recompute(pipe, dim)
    )


def _epochs(feed, n=3):
    """The feed cut into ``n`` LSN-ranged epochs (every epoch after the
    first updates and deletes keys the earlier ones wrote)."""
    lo, hi = feed.agg(F.min("lsn"), F.max("lsn")).first()
    cuts = [lo + (hi - lo + 1) * i // n for i in range(n)] + [hi + 1]
    return [feed.filter((F.col("lsn") >= a) & (F.col("lsn") < b)) for a, b in zip(cuts, cuts[1:])]


def test_all_views_track_recompute_across_epochs(spark, tmp_path):
    feed, dim, _ = join_view._feed_and_dims(spark)
    pipe = _pipe(spark, tmp_path, dim)
    chunks = _epochs(feed)
    for i, chunk in enumerate(chunks):
        out = pipe.replay_bounded(chunk, 1, epoch_offset=i)
        assert not out[0].get("skipped")
        _assert_views_match_target(pipe, dim)
    # redelivering every committed epoch is a no-op on all five views
    for i, chunk in enumerate(chunks):
        assert pipe.replay_bounded(chunk, 1, epoch_offset=i)[0]["skipped"]
    _assert_views_match_target(pipe, dim)


def test_all_views_converge_after_crash_between_view_merges(spark, tmp_path):
    """Crash right after the second view's (the join view's) MERGE
    commits: the stats and join views hold epoch 2, the other three and
    the target do not. Redelivery rebuilds the same delta from the
    still-uncommitted target, skips the two committed views by their
    ledgers and lands the rest."""
    feed, dim, _ = join_view._feed_and_dims(spark)
    pipe = _pipe(spark, tmp_path, dim)
    chunks = _epochs(feed)
    for i, chunk in enumerate(chunks[:2]):
        pipe.replay_bounded(chunk, 1, epoch_offset=i)

    real_merge = pipe.view.merge

    def merge_then_crash(*a, **k):
        real_merge(*a, **k)
        raise RuntimeError("injected crash after the join view's MERGE")

    pipe.view.merge = merge_then_crash
    with pytest.raises(RuntimeError, match="injected"):
        pipe.replay_bounded(chunks[2], 1, epoch_offset=2)
    pipe.view.merge = real_merge
    assert pipe.stats.epoch_committed("m2") and pipe.view.epoch_committed("v2")
    assert not pipe.leaderboard.epoch_committed("t2")
    assert not pipe.target.epoch_committed(2)

    out = pipe.replay_bounded(chunks[2], 1, epoch_offset=2)
    assert not out[0].get("skipped")
    assert pipe.target.epoch_committed(2) and pipe.qsample.epoch_committed("q2")
    _assert_views_match_target(pipe, dim)


def test_epoch_releases_its_persisted_and_checkpointed_rdds(spark, tmp_path):
    """The shared delta and maintain_topk's lineage-cut frames are
    released when the epoch ends — also when it raises — instead of
    waiting for the context cleaner."""
    feed, dim, _ = join_view._feed_and_dims(spark)
    pipe = _pipe(spark, tmp_path, dim)
    chunks = _epochs(feed)
    jsc = spark.sparkContext._jsc.sc()
    n0 = jsc.getPersistentRDDs().size()
    for i, chunk in enumerate(chunks[:2]):
        pipe.replay_bounded(chunk, 1, epoch_offset=i)
    assert jsc.getPersistentRDDs().size() == n0

    # fail inside maintain_topk, after its own checkpoints exist
    real_merge = pipe.leaderboard.merge

    def crash(*a, **k):
        raise RuntimeError("injected leaderboard crash")

    pipe.leaderboard.merge = crash
    with pytest.raises(RuntimeError, match="injected"):
        pipe.replay_bounded(chunks[2], 1, epoch_offset=2)
    pipe.leaderboard.merge = real_merge
    assert jsc.getPersistentRDDs().size() == n0
