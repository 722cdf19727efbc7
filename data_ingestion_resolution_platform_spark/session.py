"""SparkSession factory tuned for this engine.

Local mode here, but every knob is chosen for cluster behavior: AQE for
runtime re-planning (skew joins, partition coalescing), Arrow for any
pandas-UDF path, shuffle partitions sized to the parallelism level rather
than the 200 default.

Object-store deployment (reference S3 source/sink,
`/root/reference/backend/services/storage.py:13-21`): every reader/
writer in ``sources/`` is path-agnostic, so pointing feeds and lake
roots at ``s3a://bucket/prefix`` is a config-only change. This sandbox
has no object store or network for the hadoop-aws jar, so the standard
public configuration is documented here rather than exercised::

    spark-submit --packages org.apache.hadoop:hadoop-aws:<hadoop-ver> ...
    spark.hadoop.fs.s3a.aws.credentials.provider=
        org.apache.hadoop.fs.s3a.auth.IAMInstanceCredentialsProvider
    spark.hadoop.fs.s3a.committer.name=magic   # S3-safe task commit
    spark.sql.sources.commitProtocolClass uses the S3A committer factory

The epoch-ledger / versioned-pointer commit protocol in
``sources/lake.py`` assumes only atomic single-object PUT (rename-free
on the data path; the ``_DIR``/``_LATEST`` pointer swap maps to an
S3 conditional PUT or a DynamoDB-style pointer on a real deployment).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _env_conf_pairs(env_conf: str) -> list[tuple[str, str]]:
    """Parse ``SPARK_GRAFT_EXTRA_CONF``-style "k=v;k=v" into conf pairs.

    Empty segments are skipped; values may contain ``=`` (only the
    first splits); whitespace around keys/values is stripped."""
    out = []
    for pair in filter(None, (p.strip() for p in env_conf.split(";"))):
        k, sep, v = pair.partition("=")
        if sep and k.strip():
            out.append((k.strip(), v.strip()))
    return out


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Default driver heap: min(16g, half of MemTotal), in MiB.

    The heap is pre-sized and pre-touched (``-Xms`` = ``-Xmx``, see
    below), so a default larger than the host's memory cannot start a
    JVM at all. ``16g`` where MemTotal is unreadable."""
    try:
        with open(meminfo) as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "16g"
    return f"{min(16 << 10, kb // 1024 // 2)}m"


def get_spark(
    app_name: str = "dirp_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``parallelism`` sets ``local[N]``; defaults to ``$SPARK_GRAFT_CPUS``
    or all cores. ``master`` overrides entirely (e.g.
    ``local-cluster[4,6,8192]`` for multi-executor-JVM scaling probes,
    or a real cluster URL). Shuffle partitions default to the
    parallelism level: on a real cluster this would instead be ~2-3x
    total executor cores, and AQE coalesces small post-shuffle
    partitions either way.
    """
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    memory = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", memory)
        # Pre-size and pre-touch the heap: without this the JVM grows the
        # heap DURING the workload and the kernel zeroes pages on first
        # touch — measured 60-70% system time with 24 executor threads
        # faulting concurrently (zone-lock contention), which inverted
        # the high-parallelism benchmarks. Pre-touch moves page zeroing
        # to JVM startup, outside any measured window. Xms is capped
        # below Xmx so small sessions stay cheap.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                f"-Xms{memory} -XX:+AlwaysPreTouch",
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # write timestamps as TIMESTAMP_MICROS, not the legacy INT96:
        # INT96 columns carry NO parquet min/max statistics, which
        # blinds both row-group pushdown and the manifest-style file
        # pruning in sources/skipping.py (and Iceberg forbids INT96)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    # env-driven conf overrides (e.g. codec experiments through bench
    # subprocesses): SPARK_GRAFT_EXTRA_CONF="k=v;k=v". Explicit
    # ``extra_conf`` arguments win over the environment.
    for k, v in _env_conf_pairs(os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")):
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
