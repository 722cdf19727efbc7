"""Self-test of the benchmark at a tiny size (a few minutes).

    python3 perfbench/selftest.py

Run it from the root of a checkout. It checks that:

- every workload, untraced and traced, emits every metric that
  ``BENCHMARK.json`` names, and passes its correctness checks;
- the oracle rejects a corrupted copy of a correct target (one row
  dropped; one row's content altered) and a wrong conflict count;
- ``run.py`` exits non-zero, printing nothing, when the engine package
  is missing (a directory holding only the benchmark's own files).

Exits 0 when every check passes.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile

import run
from workloads import WORKLOADS

SEED = 7
SCALE = 0.02


def check_metrics(spark, contract: dict, work: str) -> list[str]:
    from data_ingestion_resolution_platform_spark.session import get_spark

    errors = []
    for name, wl in WORKLOADS.items():
        for trace in (False, True):
            sub = os.path.join(work, f"{name}-{int(trace)}")
            os.makedirs(sub)
            metrics, attempted, problems, notes = run.measure(
                spark, wl.scaled(SCALE), SEED, 0, trace, sub, 0.0
            )
            if trace:  # the traced phase stops its own context
                spark = get_spark("perfbench-selftest")
            try:
                res = run.result(contract, trace, metrics, attempted, problems)
            except KeyError as e:
                errors.append(f"{name} trace={int(trace)}: metric {e} not emitted")
                continue
            if not res["correct"]:
                errors.append(f"{name} trace={int(trace)}: checks failed: {problems}")
            print(f"selftest: {name} trace={int(trace)} ok={res['correct']} {notes}", flush=True)
    return errors


def check_oracle(spark, work: str) -> list[str]:
    from pyspark.sql import functions as F

    from oracle import FeedOracle
    from spans import Tracer

    wl = WORKLOADS["hot_resolve"].scaled(SCALE)
    feed, base_wh, base_results, _ = run.set_up(spark, wl, SEED, work, 0.0)
    rep = run.replay(spark, wl, feed, base_wh, Tracer(spark, "o", jobs=False), work)
    results = base_results + rep.results
    oracle = FeedOracle(feed.path, wl.epochs, work)
    try:
        target = rep.pipe.target.read()
        first = target.orderBy("repo", "path").limit(1).select("repo", "path")
        hit = first.withColumn("_hit", F.lit(True))
        altered = (
            target.join(hit, on=["repo", "path"], how="left")
            .withColumn(
                "content",
                F.when(F.col("_hit"), F.concat("content", F.lit("!"))).otherwise(F.col("content")),
            )
            .drop("_hit")
        )
        dropped = target.join(first, on=["repo", "path"], how="left_anti")
        errors = [f"clean target rejected: {p}" for p in oracle.check_target(target, "clean")]
        for label, df in (("dropped", dropped), ("altered", altered)):
            if not oracle.check_target(df, label):
                errors.append(f"oracle accepted the {label} target")
        wrong = [{**r, "conflicts": r["conflicts"] + 1} for r in results]
        if oracle.check_conflicts(results, 0) or not oracle.check_conflicts(wrong, 0):
            errors.append("conflict-count check does not separate right from wrong")
        return errors
    finally:
        oracle.close()


def check_bare_dir() -> list[str]:
    """run.py without the engine package exits non-zero and prints nothing."""
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(run.ROOT, ".perfbench_work"))
    try:
        shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(run.HERE, os.path.join(bare, "perfbench"))
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "hot_resolve", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        return [f"bare directory: exit {p.returncode}, stdout {p.stdout.strip()[:200]!r}"]
    return []


def main() -> int:
    work = os.path.join(run.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    errors = check_bare_dir()
    os.environ.update(run.host_fit_env(work))
    sys.path.insert(0, run.ROOT)
    try:
        from data_ingestion_resolution_platform_spark.session import get_spark

        spark = get_spark("perfbench-selftest")
        errors += check_oracle(spark, work)
        errors += check_metrics(spark, run.load_contract(), work)
    finally:
        run.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        print(f"selftest: FAIL {e}")
    print("selftest: " + ("FAILED" if errors else "all checks passed"))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
