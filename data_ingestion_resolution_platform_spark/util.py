"""Small plan-shaping utilities shared by operators."""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# DDL / Spark type → SQL cast target for local_df literals
_SQL_TYPES = {
    "int": "INT",
    "integer": "INT",
    "long": "BIGINT",
    "bigint": "BIGINT",
    "short": "SMALLINT",
    "smallint": "SMALLINT",
    "double": "DOUBLE",
    "float": "FLOAT",
    "string": "STRING",
    "boolean": "BOOLEAN",
}

_SPARK_TYPES = {
    T.IntegerType: "INT",
    T.LongType: "BIGINT",
    T.ShortType: "SMALLINT",
    T.DoubleType: "DOUBLE",
    T.FloatType: "FLOAT",
    T.StringType: "STRING",
    T.BooleanType: "BOOLEAN",
}


def _schema_fields(schema: str | T.StructType) -> list[tuple[str, str]]:
    """(name, SQL type) pairs from a flat DDL string or StructType."""
    if isinstance(schema, str):
        out = []
        for part in schema.split(","):
            name, typ = part.strip().rsplit(" ", 1)
            out.append((name.strip(), _SQL_TYPES[typ.strip().lower()]))
        return out
    return [(f.name, _SPARK_TYPES[type(f.dataType)]) for f in schema.fields]


def _sql_literal(v, sql_type: str) -> str:
    if v is None:
        return f"CAST(NULL AS {sql_type})"
    if isinstance(v, bool):
        lit = "true" if v else "false"
    elif isinstance(v, str):
        lit = "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    elif isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
        # repr() renders nan/inf, which the SQL parser rejects; the
        # string forms cast cleanly to DOUBLE/FLOAT
        lit = "'NaN'" if v != v else ("'Infinity'" if v > 0 else "'-Infinity'")
    elif isinstance(v, (int, float)):
        lit = repr(v)
    else:
        raise TypeError(f"local_df: unsupported literal {type(v).__name__}")
    return f"CAST({lit} AS {sql_type})"


def empty_df(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """Zero-row DataFrame of ``schema`` as a pure JVM plan.

    ``spark.createDataFrame([], schema)`` routes through a pickled
    Python RDD whose first action forks the Python worker pool (~7 s
    cold at parallelism=32, ~1 s warm); ``range(0)`` + NULL casts never
    leaves the JVM.
    """
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def local_df(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: str | T.StructType,
) -> DataFrame:
    """Small driver-side row set as a JVM ``VALUES`` local relation.

    Drop-in for ``spark.createDataFrame(rows, schema)`` on the
    metadata-sized frames operators build (band dimensions, partition
    offsets, query terms, status rows). The difference is the physical
    path: createDataFrame pickles rows into a Python RDD, and the first
    action on it forks the entire Python worker pool — measured 7-11 s
    cold at parallelism=32 and ~1 s per use warm, which dominated
    sub-second queries. A VALUES relation is parsed and planned
    entirely JVM-side (LocalRelation → broadcast-able), costing ~0.
    Supports flat schemas of int/long/short/float/double/string/boolean
    — exactly the shapes a bounded driver-side list should carry.

    Field names and types match createDataFrame exactly; nullability
    may be TIGHTER (an all-non-null column plans as non-nullable),
    which unions/writes coerce safely.
    """
    fields = _schema_fields(schema)
    rows = list(rows)
    if not rows:
        if isinstance(schema, str):
            schema = T._parse_datatype_string(schema)
        return empty_df(spark, schema)
    rendered = ", ".join(
        "(" + ", ".join(_sql_literal(v, t) for v, (_, t) in zip(r, fields)) + ")"
        for r in rows
    )
    names = ", ".join(f"`{n}`" for n, _ in fields)
    return spark.sql(f"SELECT * FROM VALUES {rendered} AS t({names})")


def ensure_parallelism(df: DataFrame, min_ratio: float = 0.5) -> DataFrame:
    """Repartition a DataFrame whose source has too few partitions.

    A single small parquet file scans as ONE partition, serializing
    every downstream expression (shingling, hashing, UDFs) onto one
    core. When the input has fewer than ``min_ratio * defaultParallelism``
    partitions, shuffle it out to the session's parallelism — the cost
    of shuffling a small input is microscopic next to running heavy
    per-row compute single-threaded. At production scale inputs arrive
    with many partitions and this is a no-op.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, int(target * min_ratio)):
        return df.repartition(target)
    return df


def reuse_for_self_join(df: DataFrame) -> DataFrame:
    """Materialize a small DataFrame once so a self-join doesn't
    recompute its (possibly expensive) lineage for each side.

    ``localCheckpoint(eager=False)`` truncates lineage and stores
    partitions on executors; both sides of the join then read the
    stored blocks. Use only for frames that are small relative to their
    compute cost (LSH band tables, signature tables). On a production
    cluster prefer reliable checkpointing if executor loss must be
    survivable mid-query.
    """
    return df.localCheckpoint(eager=False)


def release_checkpoint(df: DataFrame | None) -> None:
    """Drop the stored blocks behind a ``localCheckpoint``'ed frame now.

    ``DataFrame.unpersist`` does not reach them: a local checkpoint is a
    persisted RDD under a ``LogicalRDD`` plan, not a cache entry, so
    without this its blocks wait for ``ContextCleaner``'s periodic GC
    (30 min by default) — in a long-running stream that is every
    epoch's checkpoints piling up in executor storage. ``df`` must be
    the frame ``localCheckpoint`` returned, not a projection of it.
    Safe to call twice; ``None`` is a no-op.
    """
    if df is not None:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
