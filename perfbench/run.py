"""CDC engine benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload hot_resolve --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It drives the engine only through
``CDCPipeline.replay_bounded`` in one process at ``local[nproc]``. The
feed is cut into the workload's epochs the way ``replay_bounded`` cuts
it; the last epoch is the one measured, so every measured epoch merges
into (and the views re-read) an existing target.

1. Set-up: start the JVM, synthesize the feed from the seed and
   materialise it to parquet three times, then build the base warehouse
   by replaying every epoch but the last and read every resolved table
   ten times (this also warms the JVM up).
   ``setup_s`` = JVM start + median materialisation + base build.
2. Measure: copy the base warehouse (untimed) and time the replay of the
   last epoch into the copy, again and again until ``--seconds`` have
   passed (at least once). After each replay read the resolved tables
   back five times. Metrics are medians over replays or reads.
3. Check, untimed: the final target against a DuckDB last-writer-wins
   oracle, every epoch's conflict count, and on ``views_all`` every view
   against its recompute from the final target.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` measures half
the window untraced, restarts the Spark context with the event log on,
measures the other half with spans around every layer call, and prints
the per-layer metrics, tracing overhead included. The metric names and
units come from ``BENCHMARK.json``; the last stdout line is the result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_ingestion_resolution_platform_spark"
SETUP_REPS = 3
MIN_REPS = 1
READS = 5
WARM_READS = 10
# share of the timed replay wall that the epoch spans may leave unexplained
ACCOUNT_TOLERANCE = 0.10


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))


def host_fit_env(work: str) -> dict[str, str]:
    """Launch settings for this host: heap from MemTotal, every CPU,
    Spark scratch and temp files inside the run's work dir."""
    heap_mb = max(1024, min(2048, mem_total_kb() // 1024 // 4))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    }


def engine_fingerprint() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for d, _, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(d, name)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_sha() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    out = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, check=False
    )
    return out.stdout.strip() or "unknown"


def host_block(spark, env: dict[str, str]) -> dict:
    import duckdb

    return {
        "nproc": int(env["SPARK_GRAFT_CPUS"]),
        "mem_total_kb": mem_total_kb(),
        "heap": env["SPARK_DRIVER_MEMORY"],
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "git_sha": git_sha(),
        "engine_sha256": engine_fingerprint(),
    }


def fs_bytes_written(spark) -> int:
    """Bytes written through Hadoop's local file system since JVM start."""
    fs = spark.sparkContext._jvm.org.apache.hadoop.fs.FileSystem
    st = fs.getGlobalStorageStatistics().get("file")
    return int(st.getLong("bytesWritten") or 0) if st is not None else 0


def jvm_cpu_s(spark) -> float:
    """User + system CPU seconds the JVM has used so far."""
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, files in os.walk(path)
        for n in files
        if n.endswith(".parquet")
    )


def scan(table) -> float:
    """Seconds for one full read of a lake table."""
    t0 = time.perf_counter()
    table.read().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def time_reads(pipe) -> tuple[float, float]:
    """(target, target + views) seconds for one full read of every
    resolved table a consumer would query."""
    target = scan(pipe.target)
    views = [pipe.stats, pipe.freq, pipe.leaderboard, pipe.qsample, pipe.view]
    return target, target + sum(scan(v) for v in views if v is not None)


class Rep:
    """One timed replay of the measured epoch."""

    def __init__(self, pipe, wall: float, cpu: float, results: list[dict], written: int):
        self.pipe = pipe
        self.wall = wall
        self.cpu = cpu
        self.results = results
        self.written = written
        self.reads: list[tuple[float, float]] = []


class Feed:
    """The materialised feed, cut the way ``replay_bounded`` cuts it:
    every epoch but the last (``base``) is replayed once in set-up, the
    last (``tail``) is the measured epoch."""

    def __init__(self, spark, wl, path: str):
        from pyspark.sql import functions as F

        self.path = path
        df = spark.read.parquet(path)
        cut = (wl.n_events // wl.epochs) * (wl.epochs - 1)
        self.base = df.filter(F.col("lsn") < cut)
        self.tail = df.filter(F.col("lsn") >= cut)
        self.bytes = dir_bytes(path)


def replay(spark, wl, feed: Feed, base_wh: str, tracer, work: str) -> Rep:
    """Copy the set-up warehouse (untimed), then time ``replay_bounded``
    of the measured epoch into the copy."""
    wh = os.path.join(work, f"wh_{tracer.run_id}_{tracer.rep}")
    shutil.copytree(base_wh, wh)
    pipe = wl.pipeline(spark, feed.path, wh)
    tracer.instrument(pipe)
    b0 = fs_bytes_written(spark)
    c0 = jvm_cpu_s(spark)
    t0 = time.perf_counter()
    results = pipe.replay_bounded(feed.tail, 1, epoch_offset=wl.epochs - 1)
    wall = time.perf_counter() - t0
    cpu = jvm_cpu_s(spark) - c0
    written = fs_bytes_written(spark) - b0
    tracer.rep += 1
    return Rep(pipe, wall, cpu, results, written)


def run_reps(spark, wl, feed: Feed, base_wh: str, tracer, budget: float, work: str) -> list[Rep]:
    """Replay the measured epoch until ``budget`` seconds have passed (at
    least ``MIN_REPS`` times), reading the tables back after each replay.
    Only the last warehouse is kept."""
    reps: list[Rep] = []
    deadline = time.perf_counter() + budget
    while len(reps) < MIN_REPS or time.perf_counter() < deadline:
        rep = replay(spark, wl, feed, base_wh, tracer, work)
        rep.reads = [time_reads(rep.pipe) for _ in range(READS)]
        if reps:
            shutil.rmtree(reps[-1].pipe.warehouse, ignore_errors=True)
        reps.append(rep)
    return reps


def set_up(spark, wl, seed: int, work: str, jvm_s: float):
    """Materialise the feed ``SETUP_REPS`` times, then build the base
    warehouse by replaying every epoch but the last and read every
    resolved table ``WARM_READS`` times (which warms the JVM up). ``setup_s`` = JVM
    start + median materialisation + base build.
    Returns (feed, base warehouse, base epochs' results, set-up metrics)."""
    feed_s = []
    for k in range(SETUP_REPS):
        path = os.path.join(work, f"feed{k}")
        t0 = time.perf_counter()
        wl.synth(spark, seed).write.mode("overwrite").parquet(path)
        feed = Feed(spark, wl, path)
        feed_s.append(time.perf_counter() - t0)
        if k:
            shutil.rmtree(os.path.join(work, f"feed{k - 1}"), ignore_errors=True)
    base_wh = os.path.join(work, "base")
    t0 = time.perf_counter()
    pipe = wl.pipeline(spark, feed.path, base_wh)
    if wl.views:
        pipe.seed_dim(wl.dim(spark, seed))
    base_results = pipe.replay_bounded(feed.base, wl.epochs - 1)
    # each table's read path warms up over its first ~10 reads; the
    # views' too, so they are read here as well as the target
    for _ in range(WARM_READS):
        time_reads(pipe)
    warm_s = time.perf_counter() - t0
    setup = {
        "setup.jvm_s": jvm_s,
        "setup.feed_s": statistics.median(feed_s),
        "setup.warm_s": warm_s,
        "setup_s": jvm_s + statistics.median(feed_s) + warm_s,
    }
    return feed, base_wh, base_results, setup


def check(wl, oracle, base_results, reps: list[Rep], dim) -> tuple[int, list[str]]:
    """(checks made, failed checks): each epoch's conflict count, the last
    replay's target and, with views on, each view."""
    from oracle import check_views

    last = wl.epochs - 1
    failed = oracle.check_conflicts(base_results, 0)
    failed += [p for r in reps for p in oracle.check_conflicts(r.results, last)]
    target = oracle.check_target(reps[-1].pipe.target.read())
    if target:
        failed.append("; ".join(target))
    checks = last + len(reps) + 1
    if wl.views:
        failed += check_views(reps[-1].pipe, dim)
        checks += 5
    return checks, failed


def end_to_end(wl, reps: list[Rep], clock, feed: Feed, events: int) -> dict[str, float]:
    """``events``: the measured epoch's input events."""
    epochs = [s.dur for s in clock.spans if s.name == "pipeline.epoch"]
    epoch_bytes = feed.bytes * events / wl.n_events
    return {
        "events_per_s": statistics.median(events / r.wall for r in reps),
        "epoch_p50_s": statistics.median(epochs),
        "epoch_max_s": max(epochs),
        "read_s": statistics.median(total for r in reps for _, total in r.reads),
        "write_amp": statistics.median(r.written / epoch_bytes for r in reps),
    }


def per_layer(reps, untraced, tracer, groups, facts, setup, events) -> tuple[dict, dict]:
    from spans import LAYER_SPANS, epoch_layer_metrics, medians

    traced_eps = statistics.median(events / r.wall for r in reps)
    untraced_eps = statistics.median(events / r.wall for r in untraced)
    epoch = {s.rep: s.dur for s in tracer.spans if s.name == "pipeline.epoch"}
    accounted = statistics.median(epoch[i] / r.wall for i, r in enumerate(reps))
    metrics = {
        **medians(epoch_layer_metrics(tracer.spans, groups, tracer, facts)),
        **{k: v for k, v in setup.items() if k.startswith("setup.")},
        "lake.read_s": statistics.median(t for r in reps for t, _ in r.reads),
        "pipeline.cpu_s": statistics.median(r.cpu for r in reps),
        "trace.events_per_s": traced_eps,
        "trace.overhead_events_per_s": traced_eps - untraced_eps,
        "trace.accounted_ratio": accounted,
    }
    spans = {n: metrics[n + "_s"] for n in LAYER_SPANS if not n.startswith("view.")}
    spans["view.*"] = sum(metrics[n + "_s"] for n in LAYER_SPANS if n.startswith("view."))
    notes = {
        "largest_span": max(spans, key=spans.get),
        "accounted_ok": abs(1 - accounted) <= ACCOUNT_TOLERANCE,
        "self_share": metrics["pipeline.self_s"] / metrics["pipeline.epoch_s"],
        "untraced_events_per_s": untraced_eps,
    }
    return metrics, notes


class PhaseLog:
    """Prints each phase's wall time to stderr."""

    def __init__(self):
        self.t = time.perf_counter()

    def __call__(self, phase: str) -> None:
        now = time.perf_counter()
        print(f"perfbench: {phase} {now - self.t:.1f} s", file=sys.stderr, flush=True)
        self.t = now


def measure(spark, wl, seed: int, seconds: float, trace: bool, work: str, jvm_s: float):
    """Set up, measure and check one workload.
    Returns (metrics, attempted, problems, notes)."""
    from oracle import FeedOracle
    from spans import Tracer, read_event_log

    log = PhaseLog()
    feed, base_wh, base_results, setup = set_up(spark, wl, seed, work, jvm_s)
    log("set-up")
    oracle = FeedOracle(feed.path, wl.epochs, work)
    events = oracle.facts[wl.epochs - 1]["events"]
    try:
        clock = Tracer(spark, "u", jobs=False)
        budget = seconds / 2 if trace else seconds
        reps = run_reps(spark, wl, feed, base_wh, clock, budget, work)
        log(f"{len(reps)} replays, walls {' '.join(f'{r.wall:.2f}' for r in reps)}")
        if not trace:
            checks, problems = check(wl, oracle, base_results, reps, wl.dim(spark, seed))
            log("checks")
            metrics = {**end_to_end(wl, reps, clock, feed, events), "setup_s": setup["setup_s"]}
            notes = {}
        else:
            untraced = reps
            shutil.rmtree(untraced[-1].pipe.warehouse, ignore_errors=True)
            spark = restart_with_event_log(spark, work)
            feed = Feed(spark, wl, feed.path)
            tracer = Tracer(spark, "t", jobs=True)
            with tracer.views():
                reps = run_reps(spark, wl, feed, base_wh, tracer, budget, work)
            log(f"{len(reps)} traced replays")
            checks, problems = check(wl, oracle, base_results, reps, wl.dim(spark, seed))
            problems += [p for r in untraced for p in oracle.check_conflicts(r.results, wl.epochs - 1)]
            checks += len(untraced)
            log("checks")
            spark.stop()  # flushes the event log
            groups = read_event_log(event_log_file(work))
            metrics, notes = per_layer(reps, untraced, tracer, groups, oracle.facts, setup, events)
            log("event log")
            reps = untraced + reps
    finally:
        oracle.close()
    return metrics, wl.epochs - 1 + len(reps) + checks, problems, notes


def event_log_dir(work: str) -> str:
    return os.path.join(work, "eventlog")


def event_log_file(work: str) -> str:
    d = event_log_dir(work)
    (name,) = [n for n in os.listdir(d) if not n.startswith(".")]
    return os.path.join(d, name)


def restart_with_event_log(spark, work: str):
    """Stop the context and start a new one in the same JVM with an
    uncompressed, unrolled event log under the work dir."""
    from data_ingestion_resolution_platform_spark.session import get_spark

    d = event_log_dir(work)
    os.makedirs(d, exist_ok=True)
    spark.stop()
    before = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(
        [
            before,
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{d}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    )
    try:
        return get_spark("perfbench-traced")
    finally:
        os.environ["SPARK_GRAFT_EXTRA_CONF"] = before


def stop_jvm() -> None:
    """Stop Spark and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway, sc = SparkContext._gateway, SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result(contract: dict, trace: bool, metrics: dict, attempted: int, problems: list) -> dict:
    """The result line: every metric the contract lists for this mode."""
    wanted = contract["per_layer" if trace else "end_to_end"]
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": len(problems),
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    contract = load_contract()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = host_fit_env(work)
    os.environ.update(env)
    sys.path.insert(0, ROOT)
    try:
        t0 = time.perf_counter()
        from data_ingestion_resolution_platform_spark.session import get_spark

        spark = get_spark("perfbench")
        jvm_s = time.perf_counter() - t0
        host = host_block(spark, env)
        wl = WORKLOADS[args.workload]
        metrics, attempted, problems, notes = measure(
            spark, wl, args.seed, args.seconds, bool(args.trace), work, jvm_s
        )
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"perfbench: CHECK FAILED {p}", file=sys.stderr)
    print("host " + json.dumps(host))
    if notes:
        print("trace " + json.dumps(notes))
    print(json.dumps(result(contract, bool(args.trace), metrics, attempted, problems)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
