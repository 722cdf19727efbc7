"""Correctness checks, run outside the timed window.

The target is checked against DuckDB: last writer by LSN per
``(repo, path)`` over the materialised feed, deletes dropped, compared
row by row on ``sha256(content)``. DuckDB also counts the conflicted
keys of every epoch (keys whose events disagree on ``(lang,
sha256(content))``), cut the way ``CDCPipeline.replay_bounded`` cuts
the LSN range. The maintained views are checked against a recompute
from the final target.
"""

from __future__ import annotations

import os
from collections import Counter

import duckdb
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


class FeedOracle:
    def __init__(self, feed_dir: str, epochs: int, work: str):
        self.work = work
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute("SET memory_limit = '1GB'")
        glob = os.path.join(feed_dir, "*.parquet")
        self.con.execute(
            f"""
            CREATE TABLE feed AS
            WITH b AS (SELECT min(lsn) AS lo, max(lsn) AS hi FROM read_parquet('{glob}'))
            SELECT f.repo, f.path, f.lsn, f.op, f.lang, sha256(f.content) AS sha,
                   least((f.lsn - b.lo) // greatest((b.hi - b.lo + 1) // {epochs}, 1),
                         {epochs - 1}) AS epoch
            FROM read_parquet('{glob}') f, b
            """
        )
        self.con.execute(
            """
            CREATE TABLE expected AS
            SELECT repo, path, sha FROM (
                SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
                FROM feed)
            WHERE rn = 1 AND op <> 'D'
            """
        )
        rows = self.con.execute(
            """
            SELECT epoch, sum(n) AS events, count(*) AS keys,
                   count(*) FILTER (WHERE sigs > 1) AS conflict_keys
            FROM (SELECT epoch, repo, path, count(*) AS n,
                         count(DISTINCT lang || ':' || sha) AS sigs
                  FROM feed GROUP BY ALL)
            GROUP BY epoch ORDER BY epoch
            """
        ).fetchall()
        self.facts = {
            int(e): {"events": int(n), "keys": int(k), "conflict_keys": int(c)}
            for e, n, k, c in rows
        }

    def close(self) -> None:
        self.con.close()

    def check_conflicts(self, results: list[dict], first_epoch: int) -> list[str]:
        """Reported conflict-key counts of consecutive epochs from
        ``first_epoch`` against DuckDB's."""
        bad = []
        for i, r in enumerate(results, first_epoch):
            want = self.facts[i]["conflict_keys"]
            if r.get("conflicts") != want:
                bad.append(f"epoch {i}: {r.get('conflicts')} conflict keys, oracle {want}")
        return bad

    def check_target(self, target: DataFrame, name: str = "target") -> list[str]:
        """``target`` (repo, path, content, ...) against last-writer-wins."""
        out = os.path.join(self.work, f"export_{name}")
        target.select("repo", "path", F.sha2("content", 256).alias("sha")).write.mode(
            "overwrite"
        ).parquet(out)
        got = f"read_parquet('{os.path.join(out, '*.parquet')}')"
        n_rows, n_keys = self.con.execute(
            f"SELECT count(*), count(DISTINCT (repo, path)) FROM {got}"
        ).fetchone()
        (n_want,) = self.con.execute("SELECT count(*) FROM expected").fetchone()
        (n_bad,) = self.con.execute(
            f"""
            SELECT count(*) FROM expected e FULL OUTER JOIN {got} g
              ON e.repo = g.repo AND e.path = g.path
            WHERE e.sha IS DISTINCT FROM g.sha
            """
        ).fetchone()
        bad = []
        if n_rows != n_keys:
            bad.append(f"{name}: {n_rows - n_keys} duplicate keys")
        if n_rows != n_want:
            bad.append(f"{name}: {n_rows} rows, oracle {n_want}")
        if n_bad:
            bad.append(f"{name}: {n_bad} keys differ from last-writer-wins")
        return bad


def _differs(a: DataFrame, b: DataFrame) -> int:
    """Rows in one and not the other, as multisets (views are small)."""
    cols = sorted(b.columns)
    ca = Counter(tuple(r) for r in a.select(*cols).collect())
    cb = Counter(tuple(r) for r in b.select(*cols).collect())
    return sum(((ca - cb) + (cb - ca)).values())


def check_views(pipe, dim: DataFrame) -> list[str]:
    """Every maintained view against its recompute from the final target."""
    from data_ingestion_resolution_platform_spark.operators.sketch import cms_cells, kmv_hash

    t = pipe.target.read()
    keys = list(pipe.keys)

    def top(df: DataFrame, group: str, order, k: int) -> DataFrame:
        w = Window.partitionBy(group).orderBy(order, *[F.col(c) for c in keys if c != group])
        return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")

    lb_val = F.expr(pipe.leaderboard_order).cast("long").alias("lb_val")
    qs_h = kmv_hash(F.concat_ws("\x1f", *[F.col(k) for k in keys])).alias("qs_h")
    qs_val = F.expr(pipe.quantile_value).cast("long").alias("qs_val")
    expect = {
        "stats": t.groupBy(*pipe.stats_keys).agg(
            F.count(F.lit(1)).cast("long").alias("n_paths"),
            F.sum(F.length("content")).cast("long").alias("total_bytes"),
        ),
        "freq": cms_cells(
            t, F.expr(pipe.freq_item), depth=pipe.freq_depth, width=pipe.freq_width
        ),
        "leaderboard": top(
            t.select(*keys, lb_val), pipe.leaderboard_keys[0], F.col("lb_val").desc(),
            pipe.leaderboard_k,
        ),
        "quantiles": top(
            t.select(*keys, qs_h, qs_val), pipe.quantile_keys[0], F.col("qs_h").asc(),
            pipe.quantile_k,
        ),
        "join": t.select(*keys, *pipe.view_attrs).join(dim, on=pipe.view_join_key),
    }
    tables = {
        "stats": pipe.stats,
        "freq": pipe.freq,
        "leaderboard": pipe.leaderboard,
        "quantiles": pipe.qsample,
        "join": pipe.view,
    }
    bad = []
    for name, want in expect.items():
        got = tables[name].read()
        missing = [c for c in want.columns if c not in got.columns]
        if missing:
            bad.append(f"view {name}: missing columns {missing}")
            continue
        n = _differs(got.select(*[F.col(c).cast(dt) for c, dt in want.dtypes]), want)
        if n:
            bad.append(f"view {name}: {n} rows differ from the recompute")
    return bad
