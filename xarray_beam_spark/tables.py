"""Parquet table catalog for the driver's synthetic star schema.

Tables (see /root/repo/TESTDATA.md): region nation customer supplier part
orders lineitem events documents embeddings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLE_NAMES = (
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

# Dimension tables small enough to broadcast at any scale factor: they grow
# sub-linearly (or not at all) with SF while fact tables grow linearly.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    # Timestamp semantics must match DuckDB's (naive/UTC) for the oracle
    # comparison — pin the session timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # Some generator versions write events.ts as parquet TIMESTAMP(NANOS),
        # which Spark's vectorized reader rejects; read those as long and
        # truncate to microseconds. Newer data is plain TIMESTAMP(MICROS) and
        # needs no conversion — detect from the loaded schema.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        return normalize_ts(df)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Generator-version-proof ``ts`` normalization, shared by the batch
    reader above and the streaming reader (``streaming.events_stream``)
    so the two views of the column can never desynchronize."""
    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        # nanosAsLong epoch-ns: exact integer division — double division
        # loses precision at ns-epoch magnitude (~1.8e18 > 2^53)
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(dt, TimestampNTZType):
        # TIMESTAMP(MICROS, isAdjustedToUTC=false) loads as NTZ, which
        # watermarks / unix_micros reject; with the session tz pinned to
        # UTC this cast is a pure metadata relabel to LTZ, matching
        # DuckDB's naive-timestamp view of the same column.
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def fan_out_narrow_scan(df: DataFrame) -> DataFrame:
    """Rebalance ``df`` across the cluster when its scan parallelism is
    below ``defaultParallelism``.

    Operators that fan each input row out into many derived rows
    (shingle/window explodes, per-segment key generation) must not
    inherit a narrow scan's partitioning: one small parquet file is ONE
    split under ``files.maxPartitionBytes``, which serializes the whole
    pre-shuffle leg on a single core (measured 6.5 s -> 1.7 s on the
    sf0.1 char-span gate). A real many-file corpus already scans wider
    than the cluster, so this is a no-op at scale — no shuffle is ever
    added where the scan is already parallel."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # Only probe SCAN-BACKED frames: under AQE, df.rdd finalizes the
    # adaptive plan, which MATERIALIZES every exchange below it — for a
    # composed input (joins/aggregates upstream) the probe itself would
    # eagerly run those stages, doubling the pipeline's work. A plan
    # with no input files either has exchanges above it (already
    # cluster-partitioned) or is a local relation (nothing to fan out).
    if not df.inputFiles():
        return df
    # inputFiles() alone is not a safe gate: a composed plan (join or
    # aggregate OVER file scans) still reports input files, and probing
    # df.rdd would eagerly run its upstream shuffle stages at
    # plan-construction time (ADVICE r14). Walk the analyzed logical
    # plan driver-side — pure metadata, no jobs — and bail out on any
    # node class that implies an exchange above the scan.
    try:
        tree = df._jdf.queryExecution().analyzed().toString()
        # node names lead each tree line after the +-/:- branch art
        nodes = {
            line.lstrip(" :+-").split(" ", 1)[0] for line in tree.splitlines()
        }
    except Exception:  # noqa: BLE001 — Connect plans: keep prior behavior
        nodes = set()
    if nodes & {
        "Join", "Aggregate", "Window", "Distinct", "Deduplicate",
        "Repartition", "RepartitionByExpression", "Sort", "GlobalLimit",
        "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "MapInPandas",
        "PythonMapInArrow",
        # analyzed-plan spelling in Spark 4 (PythonMapInArrow is the
        # execution-side name; the logical node prints as MapInArrow)
        "MapInArrow",
    }:
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
