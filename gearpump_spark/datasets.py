"""Dataset access for the driver-generated parquet tables (TESTDATA.md).

Plain ``spark.read.parquet`` so Catalyst gets predicate pushdown, column
pruning and partition pruning for free — the scan is the first place a
100 TB plan wins or loses.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimension tables small enough to broadcast at ANY scale factor (TPC-H
# region/nation are constant-size; supplier/part/customer grow with SF but
# region/nation never do).
ALWAYS_BROADCAST = frozenset({"region", "nation"})


def table(
    spark: SparkSession, sf_dir: str, name: str, parallelize: bool | None = None
) -> DataFrame:
    """Load one of the driver's parquet tables (`events.ts` as µs, see
    _micros_ts).

    parallelize (default: yes for fact tables): when the scan yields far
    fewer splits than cores — the test fixtures are single-row-group files,
    so parquet can't split them and every scan-side stage (filter, partial
    aggregate, shuffle write) runs on ONE core — insert a round-robin
    repartition to core count. Catalyst still pushes filters/pruning below
    the repartition, so the shuffle carries only filtered, pruned rows.
    At real scale this is a NO-OP by construction: a 100 TB table has
    thousands of splits, the partition-count guard never fires, and no
    extra exchange enters the plan.
    """
    path = _table_path(spark, sf_dir, name)
    df = _micros_ts(name, spark.read.parquet(path))
    if parallelize is None:
        parallelize = name not in ALWAYS_BROADCAST
    if parallelize:
        target = spark.sparkContext.defaultParallelism
        if _few_splits(path, target):
            df = df.repartition(target)
    return df


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The streaming twin of table(): one of the driver's parquet tables
    as a file-source stream, with the same `events.ts` rule. The schema
    comes from the batch reader, since a file stream does not infer it."""
    path = _table_path(spark, sf_dir, name)
    schema = spark.read.parquet(path).schema
    return _micros_ts(
        name, spark.readStream.schema(schema).parquet(stream_source_path(path))
    )


def _table_path(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Apply the runtime confs the readers rely on (nanosAsLong, UTC) and
    resolve a known table name to its parquet path."""
    from gearpump_spark.session import ensure_runtime_conf

    ensure_runtime_conf(spark)
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    return f"{sf_dir}/{name}.parquet"


def _micros_ts(name: str, df: DataFrame) -> DataFrame:
    """`events.ts` is TIMESTAMP(NANOS), which Spark reads as an epoch-nano
    long (legacy.parquet.nanosAsLong); convert to a µs TimestampType with
    truncating division — the same ns→µs semantics as DuckDB's
    CAST(ts AS TIMESTAMP)."""
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def stream_source_path(path: str) -> str:
    """Normalize a fixture path for FileStreamSource, which needs a
    DIRECTORY to derive its basePath: Spark-written fixtures are
    directories (taken directly); driver fixtures are single FILES,
    where a one-char glob on the last character makes the source resolve
    the parent directory while still matching exactly that one file
    (ADVICE r9 #2)."""
    if os.path.isdir(path):
        return path
    return f"{path[:-1]}[{path[-1]}]"


def _few_splits(path: str, target: int) -> bool:
    """True when a LOCAL parquet path cannot yield ~target scan splits
    (fixture files are one row group — unsplittable). Non-local paths
    (any scheme://) return False: a real warehouse has enough files/row
    groups, and forcing a repartition there would shuffle the whole table."""
    if "://" in path:
        return False
    try:
        if os.path.isdir(path):
            # count recursively: hive-partitioned layouts keep their
            # parquet files in subdirectories, not at the top level
            n_files = sum(
                1
                for _root, _dirs, files in os.walk(path)
                for f in files
                if f.endswith(".parquet")
            )
        elif os.path.exists(path):
            n_files = 1
        else:
            return False  # unreadable/unknown: trust the source's splits
        # under one file per core: fixture files are single-row-group
        # (unsplittable), so anything short of `target` files leaves cores
        # idle in scan-side stages — CPU-bound Arrow UDF stages feel this
        # hardest. Real warehouses have thousands of splits and never hit
        # this branch (and any scheme:// path returns False above).
        return n_files < max(2, target)
    except OSError:
        return False


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL entry point)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
